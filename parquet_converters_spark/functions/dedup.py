"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-disciplined for 100 TB inputs:

- **exact**: content-hash groupBy — one shuffle on a 64-bit hash key,
  map-side partial aggregation, no full-text comparison.
- **MinHash + LSH**: shingle -> 32-bit hash -> k permuted mins ->
  bands.  The band keys come from one Arrow pass per partition, each
  document hashed once; candidates from one ``groupBy(band, bucket)``
  exchange.  Verified or reported pairs expand each bucket to its
  clique of ``a < b`` pairs; the survivors path takes star edges
  instead, each bucket's minimum id to its other ids, so a bucket of n
  ids costs n - 1 rows and exact dedup rides the same exchange as one
  more band keyed by the content hash.  Documents without shingles
  have no LSH bands.  Survivors union-find small edge sets on the
  driver.
- **SimHash**: 32-bit majority-vote fingerprint; near-dups share a
  fingerprint (or a nibble-banded variant of it).
- **n-gram Jaccard**: exact verification on candidate pairs only.

Hashing is ``int(md5(s)[:8], 16)`` + linear permutations
``(a*h + b) mod p`` with fixed constants — bit-for-bit reproducible in
the DuckDB oracle (and any other engine), which matters for auditing a
dedup run on 100 TB: no engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from parquet_converters_spark.functions.text import shingles, tokens

#: 2^31-1.  The permutation domain must be comparable to the hash range:
#: with a much larger prime (say 2^61-1) a*h+b barely wraps, every
#: "permutation" is near-monotone in h, all minima pick the same
#: shingle, and MinHash degenerates (sketch similarity collapses to an
#: equality test on the globally-minimal shingle).
MERSENNE_PRIME = (1 << 31) - 1

#: fixed linear-permutation constants (a, b) for MinHash, frozen so every
#: engine agrees.  All < 2^31: with hashes reduced mod the prime,
#: a*h + b stays under 2^62 — no int64 overflow in Spark, DuckDB, or
#: anything else.
_MINHASH_COEFFS = [
    (433494437, 268435399), (479001599, 1046527), (87178291, 16769023),
    (268435459, 40503), (179424673, 104395301), (122949823, 15485863),
    (32452843, 49979687), (67867967, 86028121), (198491317, 217645177),
    (15485867, 32452867), (49979693, 67867979), (86028157, 2038074),
    (141650939, 160481183), (217645199, 122949829), (104395303, 179424691),
    (160481219, 433494449),
]


def h32(s: Column) -> Column:
    """Shared 32-bit content hash: first 8 hex chars of md5 as bigint.
    DuckDB equivalent: ``CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def content_hash(text: Column | str) -> Column:
    """64-bit exact-dedup key: first 15 hex chars of md5 (fits signed
    int64; collision odds at 100 TB doc counts ~ n^2 / 2^60)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct content hash, keeping the lowest
    id (deterministic winner) and the group size."""
    return (
        df.select(content_hash(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
) -> DataFrame:
    """(id, signature) MinHash signatures, computed the scale-friendly
    way: explode shingle hashes (md5 once per shingle), then one
    hash-aggregate with ``num_hashes`` ``min`` accumulators — a single
    narrow map + one shuffle on the id, regardless of ``num_hashes``."""
    assert num_hashes <= len(_MINHASH_COEFFS)
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.transform(shingles(text_col, shingle_size), h32)).alias("_h"),
    )
    aggs = [
        F.coalesce(
            F.min(((F.col("_h") % MERSENNE_PRIME) * a + b) % MERSENNE_PRIME),
            F.lit(MERSENNE_PRIME),
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(_MINHASH_COEFFS[:num_hashes])
    ]
    return ex.groupBy("_id").agg(*aggs).select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("signature"),
    )


def _band_batches(batches, num_hashes: int, bands: int, shingle_size: int, exact: bool):
    """``mapInArrow`` kernel: ``(id, text)`` batches -> ``(id, band,
    bucket)`` rows, the same values the Spark expressions give.

    Per document: lowercase, ``[a-z0-9]+`` tokens, word
    ``shingle_size``-shingles, each hashed as ``int(md5[:8], 16)``
    (:func:`h32`), then the frozen ``_MINHASH_COEFFS`` permutations in
    numpy int64 and one minimum per permutation; a band's bucket is its
    minima joined with ``-``.  A document without shingles (NULL text or
    fewer than ``shingle_size`` tokens) emits no LSH rows: its signature
    would be all sentinels, shared by every such document.

    ``exact``: every document also emits one row in band ``bands`` whose
    bucket is its :func:`content_hash` key as a decimal string (NULL for
    NULL text, so NULL texts share a bucket as they share a group in
    :func:`exact_dedup`)."""
    import hashlib
    import re

    import numpy as np
    import pyarrow as pa

    from parquet_converters_spark.functions.text import TOKEN_PATTERN

    # the pattern is ASCII, so it splits the UTF-8 bytes of the lowercased
    # text where it splits the text: each shingle is md5-ed as it is
    token = re.compile(TOKEN_PATTERN.encode())
    md5 = hashlib.md5
    coeffs = np.array(_MINHASH_COEFFS[:num_hashes], dtype=np.int64)
    rows = num_hashes // bands
    n = shingle_size
    # documents per numpy pass: bounds the k x shingles work arrays
    chunk = 1024
    for batch in batches:
        ids, texts = batch.column(0), batch.column(1).to_pylist()
        for lo in range(0, len(texts), chunk):
            hi = min(lo + chunk, len(texts))
            keep, starts, digests = [], [], []
            n_shingles = 0
            for i in range(lo, hi):
                t = texts[i]
                toks = token.findall(t.lower().encode()) if t is not None else ()
                if len(toks) < n:
                    continue
                keep.append(i)
                starts.append(n_shingles)
                n_shingles += len(toks) - n + 1
                # the first 4 md5 bytes of each shingle: int(md5[:8], 16)
                digests += [
                    md5(b" ".join(s)).digest()[:4]
                    for s in zip(*(toks[j:] for j in range(n)))
                ]
            take, band, bucket = [], [], []
            if keep:
                h = (
                    np.frombuffer(b"".join(digests), dtype=">u4").astype(np.int64)
                    % MERSENNE_PRIME
                )
                mins = np.stack(
                    [
                        np.minimum.reduceat((h * a + b) % MERSENNE_PRIME, starts)
                        for a, b in coeffs
                    ],
                    axis=1,
                ).tolist()
                take = np.repeat(keep, bands).tolist()
                band = list(range(bands)) * len(keep)
                bucket = [
                    "-".join(map(str, m[b * rows:(b + 1) * rows]))
                    for m in mins
                    for b in range(bands)
                ]
            if exact:
                take += range(lo, hi)
                band += [bands] * (hi - lo)
                # the first 15 md5 hex digits as an integer: content_hash
                bucket += [
                    None if t is None
                    else str(int(hashlib.md5(t.encode()).hexdigest()[:15], 16))
                    for t in texts[lo:hi]
                ]
            if take:
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(take, pa.int64())),
                        pa.array(band, pa.int32()),
                        pa.array(bucket, pa.string()),
                    ],
                    ["_id", "band", "bucket"],
                )


def _lsh_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    exact: bool = False,
) -> DataFrame:
    """Banded MinHash-LSH keys ``(_id, band, bucket)``: ``bands`` rows
    per document with shingles, from one narrow ``mapInArrow`` pass
    (:func:`_band_batches`) — each document is hashed once, in whatever
    partition holds it.  The buckets equal
    :func:`signature_band_buckets` over :func:`minhash_signatures` for
    every document whose signature is not all sentinels.  ``exact`` adds
    the exact band ``bands``: one row per document, bucket
    :func:`content_hash`."""
    from functools import partial

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    assert num_hashes <= len(_MINHASH_COEFFS)
    schema = StructType(
        [
            StructField("_id", df.schema[id_col].dataType),
            StructField("band", IntegerType()),
            StructField("bucket", StringType()),
        ]
    )
    return df.select(id_col, text_col).mapInArrow(
        partial(
            _band_batches,
            num_hashes=num_hashes,
            bands=bands,
            shingle_size=shingle_size,
            exact=exact,
        ),
        schema,
    )


def _star_edges(keys: DataFrame) -> DataFrame:
    """``(_id, band, bucket)`` keys -> star edges ``(id_a, id_b, band)``:
    one ``groupBy(band, bucket)`` exchange, and each bucket of n ids
    emits the n - 1 edges from its minimum id to the others.  A bucket's
    star connects exactly the ids its clique of pairs connects, in O(n)
    rows instead of n(n-1)/2; ids equal to the minimum never pair, as in
    the clique's ``a < b``."""
    return (
        keys.groupBy("band", "bucket")
        .agg(F.min("_id").alias("id_a"), F.collect_list("_id").alias("_ids"))
        .select(
            "id_a",
            F.explode(F.array_remove("_ids", F.col("id_a"))).alias("id_b"),
            "band",
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float | None = None,
    pair_distinct: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, optionally
    verified with exact shingle-set Jaccard.

    Plan shape (scale-critical): the band keys come from one narrow
    Arrow pass (:func:`_lsh_bands`); candidates from ONE exchange,
    ``groupBy(band, bucket)`` collecting each bucket's sorted ids, whose
    lists expand to their ``a < b`` pairs — the same rows as a self
    equi-join on (band, bucket), with one shuffle instead of two.
    Documents without shingles have no bands and pair with nothing.
    Verification runs only on distinct candidate pairs.  A bucket of n
    ids still expands to its n(n-1)/2 pairs here: that is the price of
    pairs that are verified or reported one by one.

    ``pair_distinct=False`` (without ``jaccard_threshold``) returns star
    edges ``(id_a, id_b, band)`` instead (:func:`_star_edges`): per band
    and bucket, the n - 1 edges from the bucket's minimum id to its
    other ids, so a boilerplate bucket costs O(n) rows.  They connect
    the same components as the pairs, so they serve consumers whose
    result depends only on connectivity (the union-find of
    :func:`near_dedup_survivors`); an edge in several bands appears
    once per band.
    """
    keys = _lsh_bands(df, text_col, id_col, num_hashes, bands, shingle_size)
    if not pair_distinct and jaccard_threshold is None:
        return _star_edges(keys)
    cand = (
        keys.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
        # streamed: each id is paired with the ids after it, one O(n)
        # slice per row, so a bucket of n ids never holds its n(n-1)/2
        # pairs in one row
        .select(F.posexplode("_ids").alias("_i", "id_a"), "_ids")
        .select(
            "id_a",
            F.explode(F.slice("_ids", F.col("_i") + 2, F.size("_ids"))).alias("id_b"),
        )
        # equal ids (a repeated id) never pair, as in the self-join
        .filter(F.col("id_a") < F.col("id_b"))
        # each pair once, however many bands it matches in
        .dropDuplicates(["id_a", "id_b"])
    )

    if jaccard_threshold is None:
        return cand.select("id_a", "id_b")

    # verification joins the shingle sets back in by id (keeps the text
    # out of the LSH exchange)
    sh = df.select(
        F.col(id_col).alias("_vid"),
        F.array_distinct(shingles(text_col, shingle_size)).alias("_vsh"),
    )
    a = sh.select(F.col("_vid").alias("id_a"), F.col("_vsh").alias("_sh_a"))
    b = sh.select(F.col("_vid").alias("id_b"), F.col("_vsh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    jac = inter / F.greatest(union, F.lit(1))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dedup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float | None = None,
    pair_distinct: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Scale-safe near-dedup composition.  Returns ``(groups, pairs)``:
    ``groups`` is the exact-dedup table (content_hash, keep_id,
    dup_count).

    Verified or distinct pairs (``jaccard_threshold`` given, or
    ``pair_distinct=True``, the default): exact dedup FIRST, then
    MinHash-LSH clique pairs over the unique-text representatives only
    (extend them to members through ``groups``).  A group of d exact
    duplicates shares a bucket in every band, so over the raw documents
    it would emit d(d-1)/2 pairs per band (measured: 20x duplication of
    a 5k corpus -> 1.3M candidates instead of ~1k); over the
    representatives the pair count depends on distinct content only.

    Star edges (``pair_distinct=False`` without a threshold): ONE Arrow
    pass gives every document its LSH bands plus the exact band
    ``bands`` (bucket :func:`content_hash`), and ONE ``groupBy(band,
    bucket)`` exchange turns each bucket into its star edges
    ``(id_a, id_b, band)`` (:func:`_star_edges`).  Exact copies share
    every band and link to their group's minimum id, so a duplicated
    text costs O(d) edges, not d(d-1)/2, and no exact-dedup exchange
    runs first.  The components the edges form are those of the clique
    pairs over the representatives plus each exact group, with the same
    minimum ids; the edges of band ``bands`` are one per document that
    is not its exact group's minimum.
    """
    groups = exact_dedup(df, text_col, id_col)
    if not pair_distinct and jaccard_threshold is None:
        keys = _lsh_bands(df, text_col, id_col, num_hashes, bands, shingle_size, exact=True)
        return groups, _star_edges(keys)
    pairs = minhash_lsh_pairs(
        _representatives(df, groups, id_col), text_col, id_col, num_hashes, bands, shingle_size,
        jaccard_threshold,
    )
    return groups, pairs


def _representatives(df: DataFrame, groups: DataFrame, id_col: str) -> DataFrame:
    """The rows of ``df`` that represent their exact-dedup group."""
    return df.join(
        groups.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash) fingerprints: bit b is set when the majority of
    token hashes have bit b set (sum of +-1 votes > 0).

    Explode + one hash-aggregate with ``bits`` sum accumulators.  The
    shuffle this plans is doc-level, not token-level: Spark's hash
    aggregate combines map-side, so each task emits one 32-int partial
    row per doc — and the vote arithmetic stays inside whole-stage
    codegen.  (Measured against a row-local ``bits``-fold HOF variant:
    the interpreted folds were ~60% slower despite being shuffle-free —
    codegen + map-side combine beats avoiding a doc-level exchange.)"""
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.transform(tokens(text_col), h32)).alias("_h"),
    )
    votes = [
        F.sum(
            F.when(F.col("_h").isNull(), 0)
            .when(F.shiftright("_h", b).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    grouped = ex.groupBy("_id").agg(*votes)
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
    return grouped.select(F.col("_id").alias(id_col), out.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Exact n-gram-Jaccard similar pairs within ``group_col`` blocks
    (blocked self-join).

    ``group_col`` is required: without a blocking column the self-join
    is a full O(n^2) cross product, which no cluster survives at corpus
    scale.  Route candidates through :func:`minhash_lsh_pairs` (or any
    bucketing column) and use this as the exact verifier within blocks.
    ``allow_all_pairs=True`` opts into the cross product for tiny,
    deliberate inputs (e.g. verifying a candidate list already reduced
    to a few thousand rows).
    """
    if group_col is None and not allow_all_pairs:
        raise ValueError(
            "ngram_jaccard_pairs without group_col is an all-pairs cross "
            "join; pass a blocking column (e.g. an LSH bucket or lang), "
            "or opt in explicitly with allow_all_pairs=True on small input"
        )
    sh = F.array_distinct(shingles(text_col, n))
    base = df.select(
        F.col(id_col).alias("_id"),
        sh.alias("_sh"),
        *([F.col(group_col).alias("_grp")] if group_col else [F.lit(0).alias("_grp")]),
    )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    jac = inter / F.greatest(union, F.lit(1))
    return (
        a.join(
            b,
            (F.col("a._grp") == F.col("b._grp")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    sig: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs (hamming distance <= ``max_hamming``)
    via banded bucket join — never an all-pairs comparison.

    ``sig``: pass an already-materialized ``(id, simhash)`` table (from
    :func:`simhash`) when the fingerprints are shared with other
    outputs; otherwise they are computed here.

    Pigeonhole exactness: splitting ``bits`` into ``bands`` equal bands,
    any pair within hamming distance ``bands - 1`` agrees exactly on at
    least one band, so the banded equi-join loses no qualifying pair as
    long as ``max_hamming < bands``.  Join cost is proportional to
    per-band bucket collisions (shuffle on (band, value)), the same
    scale shape as MinHash-LSH.
    """
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for the "
            "pigeonhole guarantee; raise bands or lower max_hamming"
        )
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    if sig is None:
        sig = simhash(df, text_col, id_col, bits)
    banded = sig.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.shiftright("simhash", band_bits * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bd"),
    ).select("_id", "simhash", F.col("bd.b").alias("b"), F.col("bd.v").alias("v"))
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def near_dedup_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    cc_method: str = "hash_to_min",
) -> DataFrame:
    """The end of the dedup funnel: the rows a training-data pipeline
    actually keeps.

    Keeps one row per connected component of the star edges of
    :func:`near_dedup_pipeline` (``pair_distinct=False``): its minimum
    id.  These are the rows exact dedup to min-id representatives, then
    MinHash-LSH pairs over the representatives, then connected
    components keep.  Returns the surviving subset of ``df`` (all
    original columns, its partitions) as an eager ``localCheckpoint`` —
    the only storage the call leaves pinned.

    Plan, with adaptive execution off so that each query is one job:
    the Arrow pass and the exchange build the star edges in one eager
    checkpoint job, which also counts the exact band's edges.
    :func:`~parquet_converters_spark.operators.graph.connected_components`
    (``cc_method``) reads that checkpoint; below its
    ``_CC_DRIVER_MAX_EDGES`` the edges are union-found on the driver (one
    collect job) and the labels come back as a local relation, whose
    non-minimum ids the survivors job filters out inside the task;
    above it the distributed rounds run and the survivors job anti-joins
    their labels.  The survivors job reads ``df`` again: persist a
    ``df`` that is costly to compute (``prepare_corpus`` caches its gated
    rows).
    """
    return _near_dedup_survivors(
        df, text_col, id_col, num_hashes, bands, cc_method
    )[0]


def _near_dedup_survivors(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    cc_method: str,
) -> tuple[DataFrame, int, int, int]:
    """:func:`near_dedup_survivors` plus the counts it observes:
    ``(survivors, rows of df, exact-unique rows, survivors' rows)``."""
    from pyspark.sql import Observation

    from parquet_converters_spark.operators.graph import (
        _STATE_ROWS_PER_PARTITION,
        connected_components,
    )
    from parquet_converters_spark.session import (
        free_local_checkpoints,
        without_adaptive,
    )

    _, pairs = near_dedup_pipeline(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, pair_distinct=False
    )
    n_edges, n_in, n_out = Observation(), Observation(), Observation()
    edges = comps = None
    # non-adaptive: the edges and the survivors are one job each, whatever
    # exchanges their plans hold
    with without_adaptive(df.sparkSession):
        try:
            # the exact band has one edge per row that is not its exact
            # group's minimum: counted by the job that builds the edges
            edges = pairs.observe(
                n_edges,
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("band") == bands).cast("long")).alias("copies"),
            ).localCheckpoint(eager=True)
            # one partition per _STATE_ROWS_PER_PARTITION edges: while the
            # edges fit in one, the bounded collect is one job
            edges = edges.coalesce(-(-n_edges.get["n"] // _STATE_ROWS_PER_PARTITION) or 1)
            comps = connected_components(edges, "id_a", "id_b", method=cc_method)
            rows = df.observe(n_in, F.count(F.lit(1)).alias("n"))
            if comps.isLocal():
                # labels union-found on the driver: the ids to drop reach
                # the survivors' tasks inside the filter function, not
                # through a broadcast job
                drop = frozenset(node for node, comp in comps.collect() if node != comp)
                keep = F.udf(lambda i: i not in drop, "boolean", useArrow=True)
                kept = rows.filter(keep(id_col))
            else:
                losers = comps.filter(F.col("node") != F.col("component"))
                kept = rows.join(
                    losers.select(F.col("node").alias(id_col)), id_col, "left_anti"
                )
            out = kept.observe(n_out, F.count(F.lit(1)).alias("n")).localCheckpoint(
                eager=True
            )
        finally:
            for frame in (edges, comps):
                if frame is not None:
                    free_local_checkpoints(frame)
    n_rows = n_in.get["n"] or 0
    return out, n_rows, n_rows - (n_edges.get["copies"] or 0), n_out.get["n"] or 0


def contamination_flags(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least ``min_hits`` word n-gram shingles with ANY eval document.

    Plan shape (the part that matters at 100 TB train / tiny eval):
    the eval side collapses to a distinct shingle set — small enough to
    BROADCAST — so the training side is one narrow explode + broadcast
    hash join + per-doc count.  The 100 TB table shuffles once (the
    per-doc aggregation), never against the eval set.  Returns
    (id, eval_shingle_hits, contaminated) for every training row.
    """
    eval_sh = (
        eval_df.select(
            F.explode(F.array_distinct(shingles(text_col, n))).alias("_sh")
        ).distinct()
    )
    train_ex = train_df.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(shingles(text_col, n))).alias("_sh"),
    )
    hits = (
        train_ex.join(F.broadcast(eval_sh), "_sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("eval_shingle_hits"))
    )
    return train_df.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("eval_shingle_hits", F.lit(0).cast("long")).alias(
            "eval_shingle_hits"
        ),
        (
            F.coalesce("eval_shingle_hits", F.lit(0).cast("long"))
            >= min_hits
        ).alias("contaminated"),
    )


def shingle_containment(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Asymmetric containment for candidate pairs: what fraction of
    each side's distinct shingles the pair has in common.

    Jaccard misses *containment* duplication — a document quoted
    wholesale inside a longer one scores low Jaccard but containment
    ~1.0 on the short side.  Output per (id_a, id_b): ``n_common``,
    ``containment_a`` (= common/|shingles(a)|) and ``containment_b``.

    Plan: the docs table is first semi-joined down to ids that appear
    in any candidate pair, then exploded once into distinct
    (id, shingle) rows — O(candidate docs), never the corpus.  The
    intersection is an equi-join on (pair, shingle) keys; sizes join
    back broadcast-ably (one row per candidate doc).
    """
    ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    sh = (
        docs.join(ids, docs[id_col] == ids._id, "leftsemi")
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("_s"),
        )
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    common = (
        pairs.select("id_a", "id_b")
        .join(sa, F.col("id_a") == F.col("sa._id"))
        .join(
            sb,
            (F.col("id_b") == F.col("sb._id"))
            & (F.col("sa._s") == F.col("sb._s")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    return (
        pairs.select("id_a", "id_b")
        .join(common, ["id_a", "id_b"], "left")
        .join(za, F.col("id_a") == F.col("za._id"))
        .join(zb, F.col("id_b") == F.col("zb._id"))
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            (F.coalesce(F.col("n_common"), F.lit(0)) / F.col("za.n_sh")).alias(
                "containment_a"
            ),
            (F.coalesce(F.col("n_common"), F.lit(0)) / F.col("zb.n_sh")).alias(
                "containment_b"
            ),
        )
    )


def duplicated_shingle_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document fraction of its distinct word n-gram shingles that
    occur in at least one OTHER document — the corpus-level
    "duplicated n-grams" diagnostic of web-scale pipeline papers
    (RefinedWeb/C4 style): high fractions flag boilerplate and
    template text that pairwise dedup misses.

    One explode + ONE shuffle: document frequency comes from a
    ``count over (partition by shingle)`` window rather than a
    groupBy + join back (which would shuffle the exploded table
    twice).  Per-shingle frequency is bounded by corpus df, so the
    skew ceiling is the most-common shingle — at 100 TB, hash the
    shingle (h32) to shrink shuffle width before partitioning.

    Returns (id, extra_cols..., n_shingles, n_duplicated, dup_frac).
    """
    sh = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(F.array_distinct(shingles(text_col, n))).alias("_sh"),
    )
    w = Window.partitionBy("_sh")
    # a shingle is "duplicated" when another document also has it:
    # per-shingle doc-frequency > 1 (rows are distinct per doc)
    flagged = sh.withColumn("_df", F.count(F.lit(1)).over(w))
    return (
        flagged.groupBy(id_col, *extra_cols)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_df") > 1, 1).otherwise(0)).alias("n_duplicated"),
        )
        .withColumn(
            "dup_frac", F.col("n_duplicated") / F.greatest("n_shingles", F.lit(1))
        )
    )


def cross_source_shingles(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-corpus contamination matrix: for every pair of groups
    (sources), how many distinct word n-gram shingles they share.

    Plan shape for 100 TB: distinct (group, shingle) pairs, then a
    groupBy(shingle) collecting the <=|groups| group set — group-pair
    expansion happens on that tiny per-shingle set, never via a
    shingle-level self-join (which would square the corpus).  The
    output is |groups|^2-bounded regardless of corpus size.
    """
    from parquet_converters_spark.functions.text import shingles

    sh = (
        docs.select(
            F.col(group_col).alias("_grp"),
            F.explode(F.array_distinct(shingles(text_col, n))).alias("_s"),
        )
        .distinct()
    )
    per_shingle = (
        sh.groupBy("_s")
        .agg(F.array_sort(F.collect_set("_grp")).alias("_gs"))
        .filter(F.size("_gs") >= 2)
    )
    pairs = per_shingle.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_gs"),
                    lambda a, i: F.transform(
                        F.slice(F.col("_gs"), i + 2, F.size(F.col("_gs"))),
                        lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
                    ),
                )
            )
        ).alias("_p")
    )
    return (
        pairs.select("_p.src_a", "_p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
    max_df: int = 1,
) -> DataFrame:
    """Cross-document duplicated-span removal (the C4 "repeated
    three-sentence span" / CCNet line-dedup step, adapted to span
    grain): cut each document into consecutive ``span_words``-word
    spans, drop every span whose exact text occurs in more than
    ``max_df`` documents, and rebuild the surviving text in original
    span order.

    Plan shape for 100 TB: one explode to (doc, pos, span); document
    frequency from a distinct (doc, span) projection + one hash
    aggregate (NOT a window over the exploded table); flags joined
    back on the span key; reconstruction is a single groupBy(doc)
    collecting (pos, span) structs — ``array_sort`` orders by pos
    inside the aggregate, so there is no per-document window.  The
    span-keyed shuffle is bounded by distinct-span cardinality; at
    100 TB substitute ``xxhash64(span)`` as the join key to shrink
    shuffle width (collision odds ~n²/2⁶⁴, acceptable for dedup).

    Returns (id, n_spans, n_dropped, new_text) — one row per document,
    ``new_text`` empty when everything was boilerplate.
    """
    words = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(words) / F.lit(float(span_words))).cast("int")
    spans = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(words, i * span_words + 1, span_words), " "
                ),
            )
        ).alias("_pos", "_span"),
    )
    docfreq = (
        spans.select(id_col, "_span")
        .distinct()
        .groupBy("_span")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    flagged = spans.join(docfreq, "_span").withColumn(
        "_kept", F.col("_df") <= max_df
    )
    kept_struct = F.when(
        F.col("_kept"), F.struct(F.col("_pos"), F.col("_span"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((~F.col("_kept")).cast("long")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["_span"],
                ),
                " ",
            ).alias("new_text"),
        )
    )


def signature_band_buckets(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Explode (id, signature) MinHash rows into banded LSH bucket keys
    (id, band, bucket) — the probe/index grain for bucketed candidate
    joins.  ``bucket`` is the joined string of the band's signature
    slice, identical to the in-line banding of ``minhash_lsh_pairs``."""
    rows_per_band = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice(
                                    "signature",
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda x: x.cast("string"),
                            ),
                            "-",
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bb"),
    ).select(id_col, "_bb.band", "_bb.bucket")
