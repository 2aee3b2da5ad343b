"""End-to-end pipelines — the Spark equivalents of the reference's two
binaries (SURVEY §3).

``touch2parquet``: the reference's per-rank read -> convert -> write
loop over disjoint record ranges (``touch2parquet.cpp:110-132``) as one
Spark job: each task decodes its range, checks and projects it with an
Arrow kernel and writes its part file, in one Python runner.

``parquet_to_sonata``: ordered multi-file parquet scan -> column drops +
metadata passthrough -> SONATA bundle + adjacency index
(``parquet2hdf5.cpp:171-251``); each table-pass task reads its own slice
of row groups and writes it, as each rank of the reference does.
"""

from __future__ import annotations

from pyspark.errors import PythonException
from pyspark.sql import SparkSession

from parquet_converters_spark.operators.touch_transform import (
    SECTION_ERROR,
    canonical_batch,
    canonical_schema,
)
from parquet_converters_spark.sinks.parquet_sink import (
    FOOTER_SCHEMA,
    kv_arrow_schema,
    write_kv_parts,
)
from parquet_converters_spark.sinks.sonata import (
    collect_kv_metadata,
    write_sonata_bundle,
)
from parquet_converters_spark.sources.ordering import plan_parquet_ordered
from parquet_converters_spark.sources.touch_binary import (
    decode_ranges,
    plan_touch_ranges,
)


def touch2parquet(
    spark: SparkSession,
    touch_path: str,
    out_path: str,
    limit: int | None = None,
    strict: bool = True,
    touchdetector_version: str | None = None,
) -> int:
    """Convert touch binary file(s) to the canonical parquet edge table
    and return the number of rows written.

    One Spark job with one task per planned record range: the task
    decodes its range, applies the section check (raise when
    ``strict``, else drop the row) and the canonical projection, and
    writes its part file.
    ``limit`` converts, and checks, only the first ``limit`` records.
    A failed check raises ``ValueError`` and leaves ``out_path`` as it
    was."""
    header, parts = plan_touch_ranges(touch_path, limit=limit)
    version = header.version
    kv = {"touch2parquet_version": "parquet_converters_spark"}
    if touchdetector_version or header.version_string:
        kv["touchdetector_version"] = touchdetector_version or header.version_string
    schema = kv_arrow_schema(canonical_schema(version), spark.version, kv)

    def frame(write):
        def convert_touch_binary(ids):
            return write(
                canonical_batch(b, version, strict)
                for b in decode_ranges(ids, parts)
            )

        return spark.range(len(parts), numPartitions=max(len(parts), 1)).mapInArrow(
            convert_touch_binary, FOOTER_SCHEMA
        )

    try:
        return write_kv_parts(out_path, schema, frame)
    except PythonException as e:
        msg = str(e)
        if SECTION_ERROR not in msg:
            raise
        raise ValueError(msg[msg.index(SECTION_ERROR):].splitlines()[0]) from None


def parquet_to_sonata(
    spark: SparkSession,
    parquet_path: str,
    out_dir: str,
    population: str = "default",
    with_index: bool = True,
    h5_path: str | None = None,
) -> None:
    """Convert a directory of parquet edge files into a SONATA bundle
    (+ adjacency indices), preserving the reference's global row order
    (sorted file names x in-file order) and KV metadata.

    ``h5_path`` additionally exports the real SONATA ``.h5`` — the
    one-call parquet -> ``.h5`` shape of the reference's ``parquet2hdf5``
    binary (``src/parquet2hdf5.cpp``), written by
    :func:`~parquet_converters_spark.sinks.sonata.export_hdf5_parallel`
    (per-file offset writes, the MPI-IO analogue).

    The bundle writer gets the ordered scan's footer plan
    (:func:`~parquet_converters_spark.sources.ordering.plan_parquet_ordered`),
    not a frame: each task of its table pass reads its slice of row
    groups, projects it, writes it and run-length encodes both index
    keys.  With the index and the ``.h5``, the call runs 3 Spark jobs
    when the index ranges fit one numbering partition, as at the default
    size (table pass, index tables, ``.h5`` fill), and 4 more for the
    sampled numbering exchange and its summaries otherwise."""
    scan = plan_parquet_ordered(spark, parquet_path)
    kv = collect_kv_metadata(parquet_path)
    write_sonata_bundle(
        scan,
        out_dir,
        population=population,
        kv_metadata=kv,
        with_index=with_index,
    )
    if h5_path is not None:
        from parquet_converters_spark.sinks.sonata import export_hdf5_parallel

        export_hdf5_parallel(spark, out_dir, population, h5_path)


def scrub_ids(
    spark,
    table_dir: str,
    ids,
    id_col: str = "doc_id",
    out_dir: str | None = None,
) -> dict:
    """Deletion propagation (right-to-be-forgotten): rewrite a parquet
    table without the rows whose ``id_col`` is in ``ids``.

    ``ids`` may be a Python sequence (small ad-hoc requests — becomes a
    broadcast anti-join) or a DataFrame with ``id_col`` (large deletion
    manifests — Spark picks broadcast vs shuffle by size).  The rewrite
    lands in ``out_dir`` (default ``<table_dir>__scrubbed``); pointing
    readers at the new directory is the caller's atomic-swap step —
    plain parquet has no transaction log, so the swap must be a
    metadata operation (rename / view repoint), never an in-place
    overwrite a concurrent reader could catch half-written.

    Returns accounting computed from the written output: rows before,
    rows after, rows removed.
    """
    from pyspark.sql import DataFrame, functions as F

    src = spark.read.parquet(table_dir)
    n_before = src.count()
    if isinstance(ids, DataFrame):
        # large manifests: no broadcast hint — Spark picks broadcast vs
        # shuffle anti-join from the manifest's size stats (forcing
        # broadcast here would ship an arbitrarily large manifest to
        # every executor)
        dele = ids.select(F.col(id_col))
    else:
        # small ad-hoc Python sequence: always broadcast-able
        dele = F.broadcast(
            spark.createDataFrame(
                [(i,) for i in ids], schema=src.select(id_col).schema
            )
        )
    dest = out_dir or table_dir.rstrip("/") + "__scrubbed"
    kept = src.join(dele, id_col, "left_anti")
    kept.write.mode("overwrite").parquet(dest)
    n_after = spark.read.parquet(dest).count()
    return {
        "rows_before": n_before,
        "rows_after": n_after,
        "rows_removed": n_before - n_after,
        "output": dest,
    }


def scrub_tables(
    spark, tables: dict[str, str], ids, out_suffix: str = "__scrubbed"
) -> dict:
    """Propagate one deletion manifest across every derived table that
    carries the id (documents + chunks + signatures + ...): one
    ``scrub_ids`` per table, same broadcast manifest.  Returns per-table
    accounting keyed by directory."""
    return {
        d: scrub_ids(spark, d, ids, id_col=c, out_dir=d + out_suffix)
        for d, c in tables.items()
    }


def snapshot_diff(
    a,
    b,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
):
    """Table-snapshot reconciliation: classify every key as
    ``unchanged`` / ``updated`` / ``added`` / ``removed`` between two
    snapshots of the same logical table — the audit a pipeline runs
    after a backfill or a migration before swapping readers over.

    Row content is compared by a single md5 over the JSON encoding of a
    struct of ``compare_cols`` (default: all non-key columns shared by
    both sides), so the full-outer join carries one hash per side
    instead of every column twice.  ``to_json(struct(...))`` is
    NULL-safe and delimiter-free: a bare ``concat_ws`` would silently
    skip NULL columns, making ``(x, NULL, y)`` and ``(x, y, NULL)``
    hash identically, and values containing the separator byte could
    collide.  Plan: one shuffle per side on the key —
    the join is the honest cost; at 100 TB pre-bucket both snapshots
    on the key and the exchange disappears (`tests/test_bucketing.py`
    pattern).

    Returns (key_cols..., change_type) — one row per key.
    """
    from pyspark.sql import functions as F

    if compare_cols is None:
        shared = [c for c in a.columns if c in set(b.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]

    def hashed(df, name):
        return df.select(
            *key_cols,
            F.md5(
                F.to_json(
                    F.struct(*[F.col(c).alias(c) for c in compare_cols]),
                    {"ignoreNullFields": "false"},
                )
            ).alias(name),
        )

    ha, hb = hashed(a, "_ha"), hashed(b, "_hb")
    joined = ha.join(hb, key_cols, "full_outer")
    change = (
        F.when(F.col("_ha").isNull(), F.lit("added"))
        .when(F.col("_hb").isNull(), F.lit("removed"))
        .when(F.col("_ha") == F.col("_hb"), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return joined.select(*key_cols, change.alias("change_type"))


def _input_partitions(df) -> int | None:
    """``df``'s partition count, found without running a job; None when
    the plan (or a cached plan under it) holds an exchange, a broadcast
    or a subquery, whose preparation would run one."""
    plan = df._jdf.queryExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if (
            name == "AdaptiveSparkPlanExec"
            or "Exchange" in name
            or not node.subqueries().isEmpty()
        ):
            return None
        if name == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return plan.execute().getNumPartitions()


def prepare_corpus(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    max_len: int = 10_000,
    min_quality: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    eval_df=None,
    decontaminate_min_hits: int = 2,
):
    """End-to-end training-corpus preparation: the composed funnel a
    data pipeline runs before tokenization, built from the engine's
    individually-oracled stages —

    1. quality gate (length band + `functions.text.quality_score`);
    2. exact dedup and MinHash-LSH near dedup as the bands of one
       exchange, connected components, one survivor per cluster
       (`functions.dedup.near_dedup_survivors`);
    3. (optional, when ``eval_df`` is given) benchmark decontamination:
       drop survivors sharing >= ``decontaminate_min_hits`` word
       shingles with any eval document
       (`functions.dedup.contamination_flags` — eval shingles collapse
       to a broadcast set, the 100 TB side never shuffles against it).

    Returns ``(clean, report)``: the surviving subset of ``docs`` (all
    original columns, in at most as many partitions as ``docs``) and the
    funnel report ``(stage_order, stage, n_docs)`` — raw / quality /
    exact_unique / near_unique (/ decontaminated).

    The call runs 3 Spark jobs while the star edges stay under
    ``operators.graph._CC_DRIVER_MAX_EDGES`` (SCALE.md, Dedup):

    - an input with fewer partitions than ``defaultParallelism`` (one
      file, one row group) is first spread round-robin to that many; a
      corpus-scale input is never reshuffled;
    - one job gates the documents on all cores and caches the gated
      rows, gives each its MinHash bands and its exact band
      (``functions.dedup.near_dedup_pipeline``, ``pair_distinct=False``),
      and checkpoints the star edges of one ``groupBy(band, bucket)``
      exchange, counting ``raw`` and the exact copies through
      ``observe()`` on the way;
    - ``operators.graph.connected_components`` union-finds the edges on
      the driver from one bounded collect;
    - one job reads the cached rows and checkpoints those that are their
      component's minimum, counting ``quality`` and ``near_unique``;
      ``exact_unique`` is ``quality`` minus the exact copies.

    The report is a local relation of those counts: it runs no job.
    Only the returned frame stays pinned; the gated rows are
    unpersisted, not freed, so frames derived from them (the edges'
    plan) stay computable.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from parquet_converters_spark.functions.dedup import (
        _near_dedup_survivors,
    )
    from parquet_converters_spark.functions.text import quality_score
    from parquet_converters_spark.session import (
        free_local_checkpoints,
        values_df,
        without_adaptive,
    )

    spark = docs.sparkSession
    n_in = _input_partitions(docs)
    spread = spark.sparkContext.defaultParallelism
    if n_in is not None and n_in < spread:
        docs = docs.repartition(spread)
    q = quality_score(text_col)
    len_ok = (F.length(text_col) >= min_len) & (F.length(text_col) <= max_len)
    n_raw = Observation()
    # cached with adaptive execution off: the edges job builds the cache
    # as it gates (no job of its own), and the survivors job reads it
    # instead of scanning and gating again
    with without_adaptive(spark):
        # the observe() between exchange and gate also keeps Catalyst from
        # pushing the gate below the repartition, onto the one-task scan
        quality = (
            docs.observe(n_raw, F.count(F.lit(1)).alias("n"))
            .filter(len_ok & (q >= min_quality))
            .persist()
        )
    try:
        clean, n_quality, n_unique, n_near = _near_dedup_survivors(
            quality, text_col, id_col, num_hashes, bands, "hash_to_min"
        )
    finally:
        quality.unpersist()
    counts = [
        ("raw", n_raw.get["n"] or 0),
        ("quality", n_quality),
        ("exact_unique", n_unique),
        ("near_unique", n_near),
    ]
    if eval_df is not None:
        from parquet_converters_spark.functions.dedup import (
            contamination_flags,
        )

        flags = contamination_flags(
            clean, eval_df, text_col, id_col,
            min_hits=decontaminate_min_hits,
        )
        dirty = flags.filter(F.col("contaminated")).select(id_col)
        n_kept = Observation()
        kept = (
            clean.join(dirty, id_col, "left_anti")
            .observe(n_kept, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        free_local_checkpoints(clean)
        clean = kept
        counts.append(("decontaminated", n_kept.get["n"] or 0))
    if n_in is not None and n_in < spread:
        # as many output files as input files: a narrow merge of the
        # checkpoint's partitions
        clean = clean.coalesce(max(n_in, 1))
    report = values_df(
        spark,
        [(i, stage, n) for i, (stage, n) in enumerate(counts)],
        "stage_order int, stage string, n_docs long",
    )
    return clean, report


def compare_parquet_h5(
    spark,
    parquet_path: str,
    h5_path: str,
    population: str = "default",
    columns: list[str] | None = None,
    rtol: float = 1e-5,
    atol: float = 1e-8,
):
    """Column-wise comparison of a parquet edge table against an
    exported SONATA ``.h5`` — the engine's analogue of the reference's
    CI tool ``tests/compare_columns.py``, upgraded from its
    first-10-rows spot check to the FULL table, distributed: both sides
    stream through their scale readers (ordered parquet scan, and the
    row-slice ``.h5`` reader — nothing edge-scale touches the driver) and meet in one join on the global row position.

    Compares the columns present on BOTH sides (the reference likewise
    skips columns the parquet lacks), excluding ``row_index``; floats
    match within ``atol + rtol*|expected|`` (numpy ``isclose``
    semantics, like the reference), everything else exactly.

    Returns one row per compared column:
    ``(column, n_rows, n_mismatch, max_abs_err)`` — ``n_mismatch == 0``
    everywhere means the files agree.
    """
    from pyspark.sql import functions as F

    from parquet_converters_spark.sources.ordering import (
        read_parquet_ordered,
    )
    from parquet_converters_spark.sources.sonata_h5 import read_sonata_edges

    pq_df = read_parquet_ordered(spark, parquet_path)
    h5_df = read_sonata_edges(spark, h5_path, population)
    shared = [
        c for c in h5_df.columns
        if c != "row_index" and c in pq_df.columns
    ]
    if columns is not None:
        missing = sorted(set(columns) - set(shared))
        if missing:
            raise KeyError(
                f"columns {missing} not present on both sides "
                f"(shared: {sorted(shared)})"
            )
        shared = [c for c in shared if c in set(columns)]
    if not shared:
        raise ValueError(
            "no shared columns to compare between "
            f"{parquet_path!r} and {h5_path!r}"
        )

    a = pq_df.select(
        "row_index", *[F.col(c).alias(f"_a_{c}") for c in shared]
    )
    b = h5_df.select(
        "row_index", *[F.col(c).alias(f"_b_{c}") for c in shared]
    )
    floats = {
        c for c, t in pq_df.select(*shared).dtypes
        if t in ("float", "double")
    }
    j = a.join(b, "row_index", "full_outer")
    aggs = []
    for c in shared:
        x, y = F.col(f"_a_{c}"), F.col(f"_b_{c}")
        if c in floats:
            err = F.abs(x - y)
            inf = F.lit(float("inf"))
            # numpy-isclose semantics, non-finite-safe BOTH ways: the
            # tolerance test only applies when both sides are finite —
            # with a non-finite y the threshold atol + rtol*|y| itself
            # becomes NaN/inf and `err > threshold` is FALSE, which
            # would wave through exactly the flipped-exponent
            # corruptions (finite vs NaN/inf) this tool must catch.
            # Spark's == is true for NaN = NaN and inf = inf, so exact
            # equality covers the faithfully-round-tripped cases.
            finite = (
                ~F.isnan(x) & ~F.isnan(y)
                & (F.abs(x) != inf) & (F.abs(y) != inf)
            )
            same = (x == y) | (
                finite & (err <= F.lit(atol) + F.lit(rtol) * F.abs(y))
            )
            bad = x.isNull() | y.isNull() | ~same
            aggs.append(
                F.max(F.when(finite & (x != y), err)).alias(f"_e_{c}")
            )
        else:
            bad = x.isNull() | y.isNull() | (x != y)
            aggs.append(F.lit(None).cast("double").alias(f"_e_{c}"))
        # coalesce: over an empty join the sums aggregate to NULL, and a
        # 0-edge population must report 0 mismatches, not None
        aggs.append(
            F.coalesce(F.sum(bad.cast("long")), F.lit(0)).alias(f"_m_{c}")
        )
        aggs.append(F.count(F.lit(1)).alias(f"_n_{c}"))
    row = j.agg(*aggs).collect()[0]
    return spark.createDataFrame(
        [
            (c, row[f"_n_{c}"], row[f"_m_{c}"], row[f"_e_{c}"])
            for c in shared
        ],
        "column string, n_rows long, n_mismatch long, max_abs_err double",
    )


def compare_indices_h5(
    spark,
    bundle_dir: str,
    h5_path: str,
    population: str = "default",
):
    """Compare the four SONATA adjacency-index datasets of an exported
    ``.h5`` against the bundle's parquet form — the companion of
    :func:`compare_parquet_h5`, closing the gap with the reference's
    whole-file ``h5diff`` CI (``.ci/test_circuit1k_output.sh``; the
    index datasets are ``index.cpp:27-31``): edge columns alone cannot
    catch a corrupted ``node_id_to_ranges``/``range_to_edge_id``.

    Both sides stream through their scale paths — the bundle parquet
    via a plain Spark scan, the ``.h5`` via the row-slice
    :func:`read_sonata_index` — and meet in one join on
    the index key.  Integer datasets, so matching is exact.

    Returns one row per dataset:
    ``(dataset, n_rows, n_mismatch)`` — ``n_mismatch`` counts rows
    where any bound differs OR the key exists on only one side.
    """
    import os

    from pyspark.sql import functions as F

    from parquet_converters_spark.sources.sonata_h5 import (
        _INDEX_SCHEMAS,
        read_sonata_index,
    )

    report = []
    for direction in ("source_to_target", "target_to_source"):
        for dataset, (key, vals) in sorted(_INDEX_SCHEMAS.items()):
            pq_path = os.path.join(
                bundle_dir, "edges", population, "indices", direction,
                f"{dataset}.parquet",
            )
            a = spark.read.parquet(pq_path).select(
                key, *[F.col(c).alias(f"_a_{c}") for c in vals]
            )
            b = read_sonata_index(
                spark, h5_path, population, direction, dataset
            ).select(key, *[F.col(c).alias(f"_b_{c}") for c in vals])
            j = a.join(b, key, "full_outer")
            bad = F.lit(False)
            for c in vals:
                x, y = F.col(f"_a_{c}"), F.col(f"_b_{c}")
                bad = bad | x.isNull() | y.isNull() | (x != y)
            row = j.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(bad.cast("long")), F.lit(0)).alias("m"),
            ).collect()[0]
            report.append(
                (f"{direction}/{dataset}", row["n"], row["m"])
            )
    return spark.createDataFrame(
        report, "dataset string, n_rows long, n_mismatch long"
    )
