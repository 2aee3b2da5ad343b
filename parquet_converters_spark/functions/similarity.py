"""Similarity search over embedding columns (``array<float>``).

Two paths, per SURVEY's extended-operator mandate:

- **brute-force cosine top-k** — the exactness baseline.  Queries are a
  small set of rows: they broadcast, the corpus side never shuffles, and
  the per-row dot product is a JVM-side ``aggregate``/``zip_with``
  expression (no Python).  Scale: O(|corpus| * |queries| * dim) FLOPs
  spread across executors; the only shuffle is the final per-query top-k
  (tiny after partial ``Window``/sort pruning).
- **LSH-bucketed ANN** — random-hyperplane signs bucket the corpus; a
  query probes only its bucket.  Hyperplanes are deterministic constants
  derived from a seeded hash (frozen here), so the bucketing is
  reproducible across engines — the DuckDB oracle computes identical
  buckets.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5, engine-independent."""
    h = int(hashlib.md5(f"plane-{plane}-{dim}".encode()).hexdigest()[:8], 16)
    return (h % 2000 - 1000) / 1000.0


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    return [
        [_plane_component(p, d) for d in range(dim)] for p in range(num_planes)
    ]


def vec_norm(a: Column) -> Column:
    """L2 norm of a float-array column (double math, left-to-right fold
    — the same IEEE op order every engine's naive loop produces)."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(
    a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None
) -> Column:
    """JVM-side cosine over two float-array columns (double math).

    Pass precomputed ``norm_a``/``norm_b`` columns on join inputs so the
    O(dim) norm folds run once per *row* instead of once per *pair* —
    bit-identical result (``dot / (na * nb)`` either way), 3x less
    arithmetic in an all-pairs or bucket join."""
    na = norm_a if norm_a is not None else vec_norm(a)
    nb = norm_b if norm_b is not None else vec_norm(b)
    return dot_product(a, b) / (na * nb)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query row over the corpus
    (self-matches excluded).  ``queries`` must be small — it is
    broadcast; the corpus scan stays pristine (no shuffle before the
    top-k)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        vec_norm(F.col(vec_col)).alias("_qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        vec_norm(F.col(vec_col)).alias("_cnorm"),
    )
    sim = cosine_similarity(
        F.col("_qvec"), F.col("_cvec"), F.col("_qnorm"), F.col("_cnorm")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p set iff dot(vec, plane_p)
    >= 0."""
    out = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in plane]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(0)
    return out


# --- r17: SQL-text builders for the literal expression forms ---------------
# Building a planes x dim (or cells x dim) literal expression through the
# py4j Column API costs one driver round trip per node — ~0.5-0.7 s per
# call site at 8x64 (measured; the dominant cost of the sim_* query
# BUILD phase).  These helpers emit the IDENTICAL expressions as ONE
# SQL string parsed in a single round trip: same folds, same lambda
# bodies, same literal bits (doubles cross as CAST('<repr>' AS DOUBLE),
# which parses to the same IEEE double as F.lit).  Bit-equality of
# every SQL-text form against its Column twin is pytest-asserted
# (tests/test_hybrid_retrieval.py::test_sql_text_forms_bitwise).


def _dlit(x: float) -> str:
    """A double literal that parses to exactly ``float(x)``."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _arr_sql(xs: list[float]) -> str:
    return "array(" + ", ".join(_dlit(x) for x in xs) + ")"


def _norm_sql(vec: str) -> str:
    """SQL twin of :func:`vec_norm` — same left-to-right fold."""
    return (
        f"sqrt(aggregate({vec}, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of :func:`dot_product`."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _lsh_bucket_sql(vec: str, planes: list[list[float]]) -> str:
    """SQL twin of :func:`lsh_bucket` (same long sum of 2^p terms)."""
    terms = ["CAST(0 AS BIGINT)"]
    for p, plane in enumerate(planes):
        dot = (
            f"aggregate(zip_with({vec}, {_arr_sql(plane)}, "
            "(v, w) -> CAST(v AS DOUBLE) * w), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        )
        terms.append(
            f"(CASE WHEN {dot} >= 0 THEN CAST({1 << p} AS BIGINT) "
            "ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _cell_sims_sql(vec: str, centroids: list[list[float]]) -> str:
    """SQL twin of :func:`_cell_sims` (norm bound once via the
    transform-over-1-element-array trick, exactly like ``bind``)."""
    sims = ", ".join(
        f"{_dot_sql(vec, _arr_sql(cen))} / (nv * {_dlit(_py_norm(cen))})"
        for cen in centroids
    )
    return (
        f"element_at(transform(array({_norm_sql(vec)}), "
        f"nv -> array({sims})), 1)"
    )


def _probe_sql(s: str, n: int, nprobe: int) -> str:
    """SQL twin of :func:`_probe_from_sims` over a bound sims var."""
    cells = []
    masked = s
    for _ in range(nprobe):
        cell = f"array_position({masked}, array_max({masked}))"
        cells.append(cell)
        masked = (
            f"transform(sequence(1, {n}), i -> CASE WHEN i = ({cell}) "
            f"THEN {_dlit(-2.0)} ELSE element_at({masked}, "
            "CAST(i AS INT)) END)"
        )
    return "array(" + ", ".join(f"CAST(({c}) AS INT)" for c in cells) + ")"


def ivf_assign_sql(vec: str, centroids: list[list[float]]) -> Column:
    """SQL-text twin of :func:`ivf_assign` — one F.expr round trip."""
    return F.expr(
        f"CAST(element_at(transform(array({_cell_sims_sql(vec, centroids)}), "
        "s -> array_position(s, array_max(s))), 1) AS INT)"
    )


def ivf_probe_cells_sql(
    vec: str, centroids: list[list[float]], nprobe: int = 2
) -> Column:
    """SQL-text twin of :func:`ivf_probe_cells`."""
    n = len(centroids)
    return F.expr(
        f"element_at(transform(array({_cell_sims_sql(vec, centroids)}), "
        f"s -> {_probe_sql('s', n, nprobe)}), 1)"
    )


def lsh_bucket_sql(vec: str, planes: list[list[float]]) -> Column:
    """SQL-text twin of :func:`lsh_bucket`."""
    return F.expr(_lsh_bucket_sql(vec, planes))


def lsh_bucket_col(vec: Column, mat: Column, num_planes: int) -> Column:
    """:func:`lsh_bucket` against a hyperplane matrix *column*
    (broadcast data instead of cells*dim plan literals — the
    real-dimensionality form; identical arithmetic, pytest-asserted)."""
    sims = F.transform(mat, lambda plane: dot_product(vec, plane))
    bits = F.zip_with(
        sims,
        F.array(*[F.lit(1 << p).cast("long") for p in range(num_planes)]),
        lambda d, w: F.when(d >= 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_bucket_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_mode: str = "literal",
) -> DataFrame:
    """Approximate top-k: both sides bucketed by hyperplane signs, join
    on bucket equality, exact cosine + rank within the bucket.

    Scale path: the bucket join replaces the all-pairs product with
    ~n/2^planes-sized partitions; multiplying probes (nearby buckets)
    is a straightforward extension.  ``plane_mode="broadcast"`` ships
    the hyperplane matrix as a 1-row broadcast DataFrame instead of
    plan literals (O(1) plan size at real dimensionality)."""
    planes = hyperplanes(num_planes, dim)
    if plane_mode == "broadcast":
        pdf = centroids_df(corpus.sparkSession, planes)

        def bucket(df: DataFrame) -> DataFrame:
            return df.join(F.broadcast(pdf)).withColumn(
                "_b", lsh_bucket_col(F.col(vec_col), F.col("_centroids"), num_planes)
            )
    elif plane_mode == "literal":

        def bucket(df: DataFrame) -> DataFrame:
            # r17: SQL-text twin — one expr round trip, same bits
            return df.withColumn("_b", lsh_bucket_sql(f"`{vec_col}`", planes))
    else:
        raise ValueError(f"plane_mode must be literal|broadcast, got {plane_mode!r}")

    q = bucket(queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        vec_norm(F.col(vec_col)).alias("_qnorm"),
        F.col("_b").alias("_bucket"),
    )
    c = bucket(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        vec_norm(F.col(vec_col)).alias("_cnorm"),
        F.col("_b").alias("_bucket"),
    )
    sim = cosine_similarity(
        F.col("_qvec"), F.col("_cvec"), F.col("_qnorm"), F.col("_cnorm")
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def ivf_centroids(num_cells: int, dim: int) -> list[list[float]]:
    """Deterministic IVF cell centroids (md5-derived, engine-independent
    — the stand-in for a k-means pass, which at 100 TB would run as a
    sampled ``ml.clustering.KMeans`` fit on the driver and broadcast)."""
    return [
        [_plane_component(1000 + c, d) for d in range(dim)]
        for c in range(num_cells)
    ]


def _py_norm(cen: list[float]) -> float:
    """Driver-side L2 norm with the same left-to-right double fold as
    :func:`vec_norm` — bit-identical to evaluating it in the engine."""
    import math

    acc = 0.0
    for x in cen:
        acc += x * x
    return math.sqrt(acc)


def _cell_sims(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of cosine similarities of ``vec`` against each centroid.

    Centroid norms are Python constants and the vector norm is bound
    once (not per centroid); double literals (not float) throughout so
    the DuckDB oracle's arithmetic is bit-identical."""
    from parquet_converters_spark.functions.text import bind

    def sims(nv: Column) -> Column:
        return F.array(
            *[
                dot_product(vec, F.array(*[F.lit(x) for x in cen]))
                / (nv * F.lit(_py_norm(cen)))
                for cen in centroids
            ]
        )

    return bind(vec_norm(vec), sims)


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based nearest-centroid cell id (first index on ties)."""
    from parquet_converters_spark.functions.text import bind

    return bind(
        _cell_sims(vec, centroids),
        lambda sims: F.array_position(sims, F.array_max(sims)),
    ).cast("int")


def _probe_from_sims(sims: Column, n: int, nprobe: int) -> Column:
    """Best-first ``nprobe`` cell ids (1-based) from a similarity array;
    ties resolve to the lower index, matching :func:`ivf_assign`."""

    def _mask(m: Column, c: Column):
        # factory, not default-arg capture: PySpark derives HOF lambda
        # arity from the Python signature *including* defaults
        return lambda i: F.when(i == c, F.lit(-2.0)).otherwise(
            F.element_at(m, i.cast("int"))
        )

    cells = []
    masked = sims
    for _ in range(nprobe):
        cell = F.array_position(masked, F.array_max(masked))
        cells.append(cell)
        # knock out the chosen cell for the next round
        masked = F.transform(F.sequence(F.lit(1), F.lit(n)), _mask(masked, cell))
    return F.array(*[c.cast("int") for c in cells])


def ivf_probe_cells(vec: Column, centroids: list[list[float]], nprobe: int = 2) -> Column:
    """The ``nprobe`` nearest cell ids for a query vector (1-based),
    best-first."""
    from parquet_converters_spark.functions.text import bind

    n = len(centroids)
    return bind(_cell_sims(vec, centroids), lambda s: _probe_from_sims(s, n, nprobe))


def centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    """The centroid matrix as a 1-row DataFrame (``array<array<double>>``)
    — attached to scan rows with a broadcast cross join, so the plan
    size is O(1) in cells x dim instead of carrying cells*dim literal
    nodes.  This is the form that scales to real dimensionality
    (e.g. 1024 cells x 1536 dims); the literal form stays the default
    at small sketch sizes where it avoids the extra join."""
    return spark.createDataFrame(
        [([list(map(float, c)) for c in centroids],)],
        "_centroids array<array<double>>",
    )


def _cell_sims_col(vec: Column, mat: Column) -> Column:
    """Same arithmetic as :func:`_cell_sims`, against a matrix *column*:
    norms computed engine-side by the identical left-to-right fold as
    ``_py_norm`` — bit-identical results, data instead of literals."""
    from parquet_converters_spark.functions.text import bind

    def sims(nv: Column) -> Column:
        return F.transform(
            mat, lambda cen: dot_product(vec, cen) / (nv * vec_norm(cen))
        )

    return bind(vec_norm(vec), sims)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mode: str = "literal",
) -> DataFrame:
    """IVF approximate top-k: the corpus is partitioned into
    ``num_cells`` inverted lists by nearest centroid; each query scans
    only its ``nprobe`` closest cells.

    Scale path: cell assignment is a narrow map over the corpus (write
    it out partitioned by ``_cell`` once, reuse for every query batch);
    queries broadcast; the exact-cosine rescan touches
    ``nprobe/num_cells`` of the data instead of all of it.

    ``centroid_mode``: ``"literal"`` inlines the centroid matrix as
    plan literals (no join, fine at sketch sizes); ``"broadcast"``
    ships it as a 1-row broadcast DataFrame (plan size O(1) — the form
    for real num_cells x dim).  Identical results either way
    (pytest-asserted)."""
    centroids = ivf_centroids(num_cells, dim)
    if centroid_mode == "broadcast":
        from parquet_converters_spark.functions.text import bind

        cdf = centroids_df(corpus.sparkSession, centroids)
        mat = F.col("_centroids")

        def assign_col(vec: Column) -> Column:
            return bind(
                _cell_sims_col(vec, mat),
                lambda s: F.array_position(s, F.array_max(s)),
            ).cast("int")

        def probe_col(vec: Column) -> Column:
            return bind(
                _cell_sims_col(vec, mat),
                lambda s: _probe_from_sims(s, num_cells, nprobe),
            )

        c = corpus.join(F.broadcast(cdf)).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cvec"),
            vec_norm(F.col(vec_col)).alias("_cnorm"),
            assign_col(F.col(vec_col)).alias("_cell"),
        )
        q = queries.join(F.broadcast(cdf)).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            vec_norm(F.col(vec_col)).alias("_qnorm"),
            F.explode(probe_col(F.col(vec_col))).alias("_cell"),
        )
    elif centroid_mode == "literal":
        # r17: SQL-text twins — one expr round trip each, same bits
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cvec"),
            vec_norm(F.col(vec_col)).alias("_cnorm"),
            ivf_assign_sql(f"`{vec_col}`", centroids).alias("_cell"),
        )
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            vec_norm(F.col(vec_col)).alias("_qnorm"),
            F.explode(
                ivf_probe_cells_sql(f"`{vec_col}`", centroids, nprobe)
            ).alias("_cell"),
        )
    else:
        raise ValueError(f"centroid_mode must be literal|broadcast, got {centroid_mode!r}")
    sim = cosine_similarity(
        F.col("_qvec"), F.col("_cvec"), F.col("_qnorm"), F.col("_cnorm")
    )
    scored = (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_floor: float = 1e-12,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of a float-array column.

    ``q_i = floor(x_i / scale + 0.5)`` with ``scale = max|x| / 127`` —
    round-half-up via ``floor`` so every engine computes the identical
    integer (SQL ``round`` tie rules differ across engines; ``floor``
    does not).  Adds ``q_scale`` (double) and ``q_vec``
    (array<int>, values in [-127, 127]).

    Scale shape: one narrow projection, no shuffle — at 100 TB this is
    a map-only pass that cuts embedding bytes 4x before any
    similarity-search stage; the dequantized form is
    ``transform(q_vec, q -> q * q_scale)``.
    """
    vec = F.col(vec_col)
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.greatest(absmax, F.lit(scale_floor)) / F.lit(127.0)
    return df.withColumn("q_scale", scale).withColumn(
        "q_vec",
        F.transform(
            vec,
            lambda x: F.floor(x.cast("double") / F.col("q_scale") + F.lit(0.5)).cast(
                "int"
            ),
        ),
    )




# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN (the memory-bound scale path)
# ---------------------------------------------------------------------------


def pq_sample_codebooks(
    corpus: DataFrame,
    n_sub: int,
    n_codes: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks SAMPLED FROM THE DATA: codeword
    ``c`` of subspace ``s`` is subvector ``s`` of the corpus row with
    the ``c``-th smallest ``(h32(id), id)`` — the same deterministic
    bounded-sample pattern as the exact-kmeans init.  One O(n_codes)
    driver collect, engine-independent, and trivially replayable in
    SQL (a rank-and-slice, no iterative fit to unroll).

    Measured at sf0.01 (SCALE.md): md5-uniform codewords gave recall@5
    = 0.0 on the embedding corpus — random points in [-1,1)^d are
    nowhere near the data, so every ADC distance was pure noise.
    Data-sampled codewords at n_sub=32, n_codes=256 reach mean
    recall@5 ~0.64 under a 4-of-8-cell probe (and ~0.84 unprobed) —
    codebook FIT, not codebook existence, is what makes PQ work.  At
    100 TB the sample would feed per-subspace k-means refinements
    driver-side; the sampling stays one bounded pass either way."""
    from parquet_converters_spark.functions.dedup import h32

    rows = (
        corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
        .withColumn("_h", h32(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_codes)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"pq_sample_codebooks: need >= {n_codes} corpus rows, got {len(rows)}"
        )
    return [
        [
            [float(x) for x in r["_v"][s * sub_dim : (s + 1) * sub_dim]]
            for r in rows
        ]
        for s in range(n_sub)
    ]


def pq_codebook_matrix(spark, codebooks: list[list[list[float]]]):
    """The codebooks as a 1-row broadcast DataFrame column ``_pqcb``
    (``array<array<array<double>>>``, n_sub x n_codes x sub_dim).

    DATA, not literals, on purpose: inlining the distance chains as
    plan literals built an expression tree big enough that whole-stage
    codegen GAVE UP on the entire plan (measured: 33.5 s vs 1.8 s for
    the full query at sf0.1 — SCALE.md).  As a broadcast matrix the
    per-row work is nested higher-order folds over an attribute: tiny
    generated code, plan size O(1) in codebook size — the same lesson
    as ``_centroid_matrix``."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    t = ArrayType(ArrayType(ArrayType(DoubleType())))
    mat = spark.createDataFrame(
        [([[list(map(float, cw)) for cw in cb] for cb in codebooks],)],
        StructType([StructField("_pqcb", t, False)]),
    )
    return F.broadcast(mat)


def _pq_sub_dists(vec: Column, cb: Column, s: Column, sub_dim: int) -> Column:
    """Array of squared-L2 distances of subvector ``s`` (0-based
    Column) of ``vec`` to every codeword of that subspace — a
    left-to-right ``aggregate`` fold seeded at 0.0, bit-identical to
    the oracle's left-assoc ``+`` chain (squared terms are
    non-negative, so the 0.0 seed is IEEE-exact)."""
    sub = F.slice(vec, s * sub_dim + 1, sub_dim)
    return F.transform(
        cb,
        lambda cw: F.aggregate(
            F.zip_with(sub, cw, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_codes_col(vec: Column, mat: Column, sub_dim: int) -> Column:
    """1-BASED code per subspace as one ``array<int>``:
    ``array_position(dists, array_min(dists))`` — first minimum, ties
    to the lowest code in every engine.  1-based to match both
    ``element_at`` and DuckDB list indexing."""
    from parquet_converters_spark.functions.text import bind

    return F.transform(
        mat,
        lambda cb, s: bind(
            _pq_sub_dists(vec, cb, s, sub_dim),
            lambda d: F.array_position(d, F.array_min(d)).cast("int"),
        ),
    )


def pq_luts_col(vec: Column, mat: Column, sub_dim: int) -> Column:
    """Per-subspace ADC lookup tables for a QUERY vector as one
    ``array<array<double>>``: the same squared-distance arrays the
    encoder minimizes — ``lut[s][c]`` is the exact contribution of any
    corpus vector whose subspace ``s`` quantized to code ``c``.
    Computed ONCE per query row, before the cell join fans it out."""
    return F.transform(
        mat, lambda cb, s: _pq_sub_dists(vec, cb, s, sub_dim)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 4,
    n_sub: int = 32,
    n_codes: int = 256,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    encode: str = "arrow",
) -> DataFrame:
    """IVF-PQ approximate top-k by asymmetric distance computation
    (ADC): the corpus rides the cell join as ``n_sub`` small-int codes
    instead of ``dim`` floats, and each candidate costs ``n_sub`` LUT
    lookups instead of a ``dim``-term dot product.

    This is THE memory-bound ANN path at 100 TB: a billion 64-dim
    float vectors is 256 GB of payload through the probe join, while
    their 32 codes are ~32 GB — the index fits where the vectors do
    not, and the scan is table-lookup-bound, not FLOP-bound (Jegou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI
    2011).  Shapes: codebook sampling = one bounded driver collect
    (``pq_sample_codebooks``); encode = one narrow map over the
    corpus (write once, reuse per query batch); LUT build = one
    narrow map over the (tiny, broadcast) query side; scoring =
    broadcast-hash cell join + a ``zip_with``/``aggregate`` fold of
    ``n_sub`` lookups per candidate.

    Ranking is by ADC squared-L2 ascending, ``round(.,6)`` with
    neighbor-id tie-break (the engine/oracle hash convention).
    Per-subspace distance arithmetic is a bit-identical left-assoc
    chain in both engines, so code assignment needs no rounding;
    only the final ``n_sub``-term ADC sum crosses engines through
    the round-6 convention (same class as every cosine query)."""
    if dim % n_sub != 0:
        raise ValueError(
            f"dim ({dim}) must be divisible by n_sub ({n_sub}); a "
            "remainder would silently drop the trailing dimensions "
            "from both encoding and ADC scoring"
        )
    sub_dim = dim // n_sub
    if codebooks is None:
        codebooks = pq_sample_codebooks(
            corpus, n_sub, n_codes, sub_dim, id_col, vec_col
        )
    centroids = ivf_centroids(num_cells, dim)
    cvec = F.col(vec_col).cast("array<double>")
    cb = pq_codebook_matrix(corpus.sparkSession, codebooks)
    mat = F.col("_pqcb")
    if encode == "arrow":
        # Arrow-vectorized encode (default): same left-assoc doubles,
        # ~75x faster than interpreting the HOF lambdas (SCALE.md)
        code_expr = pq_codes_arrow_udf(codebooks)(cvec)
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            ivf_assign_sql(f"`{vec_col}`", centroids).alias("_cell"),
            code_expr.alias("_pqcodes"),
        )
    elif encode == "expr":
        c = corpus.join(cb).select(
            F.col(id_col).alias("neighbor_id"),
            ivf_assign(F.col(vec_col), centroids).alias("_cell"),
            pq_codes_col(cvec, mat, sub_dim).alias("_pqcodes"),
        )
    else:
        raise ValueError(f"encode must be arrow|expr, got {encode!r}")
    q = queries.join(cb).select(
        F.col(id_col).alias("query_id"),
        F.explode(
            ivf_probe_cells_sql(f"`{vec_col}`", centroids, nprobe)
        ).alias("_cell"),
        pq_luts_col(cvec, mat, sub_dim).alias("_luts"),
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("_luts"), F.col("_pqcodes"), lambda l, cc: F.element_at(l, cc)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(adc, 6).alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_d2")
    )


def pq_codes_arrow_udf(codebooks: list[list[list[float]]]):
    """Arrow-vectorized PQ encoder: a ``pandas_udf`` computing the SAME
    left-assoc accumulation as :func:`pq_codes_col` with numpy —
    ``d = 0; for j: d = d + t_j*t_j`` column-wise, so every double is
    bit-identical to the expression fold and to the oracle's ``+``
    chain (numpy elementwise ops are the same IEEE instructions;
    ``argmin`` takes the first minimum = lowest code, like
    ``array_position``).

    Exists because the pure-expression encoder interprets
    n_sub*n_codes*sub_dim lambda evals per row — higher-order
    functions never enter whole-stage codegen, and at 32x256x2 that
    measured 30.4 s for a 2k-row sf0.1 encode vs 0.4 s through Arrow
    (SCALE.md).  Equality of the two paths is pytest-asserted
    bitwise."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cbs = [np.array(cb, dtype=np.float64) for cb in codebooks]
    sub_dim = cbs[0].shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def enc(col: pd.Series) -> pd.Series:
        X = np.array(col.tolist(), dtype=np.float64)
        out = np.empty((len(X), len(cbs)), dtype=np.int32)
        for s, cb in enumerate(cbs):
            sub = X[:, s * sub_dim : (s + 1) * sub_dim]
            d = np.zeros((len(X), cb.shape[0]))
            for j in range(sub_dim):
                t = sub[:, j][:, None] - cb[None, :, j]
                d = d + t * t
            out[:, s] = d.argmin(axis=1) + 1  # 1-based; ties -> first
        return pd.Series(list(out))

    return enc
