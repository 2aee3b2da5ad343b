"""Streaming sinks with exactly-once-effective semantics.

Structured Streaming guarantees at-least-once delivery to
``foreachBatch``: after a crash between sink write and checkpoint
commit, the same ``batch_id`` is REPLAYED.  A sink that blindly
appends therefore duplicates data.  The standard fix (documented in
the Spark docs' foreachBatch section) is to make the write a
deterministic function of ``batch_id`` — here: every micro-batch owns
a ``_batch_id=N`` partition, written with *dynamic* partition
overwrite, so a replay replaces its own partition byte-for-byte
instead of appending next to the first attempt.

At 100 TB stream rates this is also the right physical layout: each
micro-batch commit touches only its own directory (no global
listing), and downstream batch readers prune on ``_batch_id`` ranges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def idempotent_parquet_sink(out_dir: str):
    """A ``foreachBatch`` function writing each micro-batch to its own
    ``_batch_id`` partition with dynamic overwrite — replaying a batch
    (at-least-once delivery) replaces its partition instead of
    duplicating rows.

    Usage::

        stream.writeStream.foreachBatch(idempotent_parquet_sink(out))
              .option("checkpointLocation", ckpt).start()
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return write


def rollup_maintenance_sink(out_dir: str, ts_col: str = "ts", unit: str = "minute"):
    """Continuous-aggregate maintenance: a ``foreachBatch`` function
    keeping a time-grain rollup incrementally up to date with
    exactly-once-effective semantics on plain parquet.

    Each micro-batch lands its PARTIAL aggregates (count, sum) per time
    cell under its own ``_batch_id`` partition (dynamic overwrite, so a
    replayed batch replaces its own partials — never double-counts).
    The queryable rollup is the re-aggregation of partials
    (:func:`read_rollup`), which is cells×batches rows — tiny next to
    the stream.  Count+sum partials are decomposable, so partial
    re-aggregation is exact; means derive at read time.

    This is the parquet-native equivalent of a materialized-view merge:
    no transaction log needed because every write is deterministic in
    ``batch_id``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.groupBy(
                F.date_trunc(unit, F.col(ts_col)).alias("cell")
            )
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.col("value").cast("decimal(25,6)")).alias("_vsum"),
            )
            .withColumn("_batch_id", F.lit(int(batch_id)))
        )
        (
            partial.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return write


def read_rollup(spark, out_dir: str) -> DataFrame:
    """The queryable face of :func:`rollup_maintenance_sink`: re-aggregate
    the per-batch partials into the final per-cell rollup."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("cell")
        .agg(
            F.sum("_n").alias("n_events"),
            F.sum("_vsum").alias("value_sum"),
        )
    )


def compact_rollup(spark, out_dir: str) -> int:
    """Fold all batch partials into a single base partition
    (``_batch_id=-1``) so the partial table stays O(cells) across long
    streams.  Write-then-delete is not atomic on plain parquet — run
    compaction only while the stream is stopped (or against a snapshot
    copy), exactly like parquet file compaction anywhere else.  Returns
    the number of batch partitions folded.

    Local-filesystem paths only: the fold's delete/rename step uses
    ``shutil``, which silently misinterprets scheme-qualified URIs
    (``hdfs://``, ``s3a://``).  Those are rejected up front; a
    distributed-FS deployment should do the same fold with its
    catalog's atomic rewrite (Iceberg/Delta replace) or the Hadoop
    FileSystem rename API instead."""
    import shutil
    from urllib.parse import urlparse

    parsed = urlparse(out_dir)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"compact_rollup only supports local filesystem paths, got "
            f"scheme {parsed.scheme!r} in {out_dir!r} — use your table "
            "format's atomic rewrite on distributed storage"
        )
    if parsed.scheme == "file":
        # urlparse handles BOTH URI spellings Spark emits — the
        # canonical single-slash 'file:/path' and 'file:///path' — where
        # a removeprefix("file://") would leave the former as a literal
        # 'file:/path' string for shutil to mangle.
        out_dir = parsed.path
    src = spark.read.parquet(out_dir)
    batches = [r["_batch_id"] for r in src.select("_batch_id").distinct().collect()]
    folded = (
        src.groupBy("cell")
        .agg(F.sum("_n").alias("_n"), F.sum("_vsum").alias("_vsum"))
        .withColumn("_batch_id", F.lit(-1))
    )
    tmp = out_dir.rstrip("/") + "__compact_tmp"
    folded.write.mode("overwrite").partitionBy("_batch_id").parquet(tmp)
    shutil.rmtree(out_dir)
    shutil.move(tmp, out_dir)
    return len([b for b in batches if b != -1])


def lsh_dedup_gate_sink(
    out_dir: str,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
):
    """Streaming corpus-admission gate: a ``foreachBatch`` function
    that admits only documents whose banded MinHash buckets match
    nothing already accepted — incremental near-dedup at ingest time,
    the streaming complement of the batch ``near_dedup_pipeline``.

    Per micro-batch:

    1. intra-batch exact dups collapse first (md5 content hash, min id
       wins — deterministic);
    2. signatures once per surviving doc; banded buckets resolve
       intra-batch NEAR-dups next (per colliding (band, bucket) the
       min id wins — greedy, so a collision chain a<b<c over distinct
       buckets may over-reject c, the usual LSH false-positive trade),
       then survivors probe the persisted state table with a LEFT ANTI
       join on (band, bucket) — candidate cost scales with bucket
       collisions, never corpus size.  A missing ``state_dir`` (first
       batch) admits everything; any OTHER state-read failure (corrupt
       files, permissions) propagates and fails the batch rather than
       silently admitting duplicates;
    3. admitted docs land in ``out_dir/_batch_id=N`` and their buckets
       in ``state_dir/_batch_id=N``, both dynamic-overwrite — so
       REPLAYING batch N (at-least-once delivery) rewrites both
       partitions instead of duplicating.  The probe excludes state
       rows of the current batch id, so a replayed batch never
       rejects its own documents.

    Like every banded-LSH gate this can reject true negatives that
    merely share a band (tune bands/num_hashes); it never admits an
    exact duplicate of a document with shingles.  A document without
    shingles (NULL text, fewer than ``shingle_size`` tokens) gets no
    buckets, as in the batch funnel: it is always admitted, after the
    exact dedup within its own batch.

    Usage::

        docs_stream.writeStream.foreachBatch(
            lsh_dedup_gate_sink(out, state)
        ).option("checkpointLocation", ckpt).start()
    """
    from parquet_converters_spark.functions.dedup import (
        MERSENNE_PRIME,
        minhash_signatures,
        signature_band_buckets,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # 1. intra-batch exact dedup, deterministic winner
        hashed = batch_df.withColumn("_ch", F.md5(F.col(text_col)))
        w_min = (
            hashed.groupBy("_ch").agg(F.min(id_col).alias("_keep"))
        )
        batch = (
            hashed.join(w_min, hashed["_ch"].eqNullSafe(w_min["_ch"]))
            .filter(F.col(id_col) == F.col("_keep"))
            .drop("_ch", "_keep")
        )
        # 2. LSH probe vs persisted state (excluding own batch: replay).
        # A document without shingles has the all-sentinel signature,
        # which every such document shares: it gets no buckets.
        sig = minhash_signatures(
            batch, text_col, id_col, num_hashes, shingle_size
        ).filter(F.col("signature")[0] != MERSENNE_PRIME)
        buckets = signature_band_buckets(
            sig, id_col, num_hashes, bands
        ).persist()
        # 2a. intra-batch near-dups: min id per colliding bucket wins
        bucket_min = buckets.groupBy("band", "bucket").agg(
            F.min(id_col).alias("_bmin")
        )
        intra_rejected = (
            buckets.join(bucket_min, ["band", "bucket"])
            .filter(F.col(id_col) != F.col("_bmin"))
            .select(id_col)
            .distinct()
        )
        intra_ids = batch.select(id_col).join(intra_rejected, id_col, "left_anti")
        # 2b. probe persisted state.  Only a genuinely-absent state_dir
        # (first batch) may fail open; everything else must fail the
        # batch — a swallowed corrupt-state error would silently admit
        # the whole batch as if no corpus existed.
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(state_dir)
        fs = jvm_path.getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        if fs.exists(jvm_path):
            state = spark.read.parquet(state_dir).filter(
                F.col("_batch_id") != int(batch_id)
            )
            dup_ids = (
                buckets.join(
                    state.select("band", "bucket"), ["band", "bucket"]
                )
                .select(id_col)
                .distinct()
            )
            admitted_ids = intra_ids.join(dup_ids, id_col, "left_anti")
        else:  # first batch: no state yet
            admitted_ids = intra_ids
        admitted = batch.join(F.broadcast(admitted_ids), id_col)
        # 3. idempotent writes keyed by _batch_id
        for df_out, dest in (
            (admitted, out_dir),
            (buckets.join(F.broadcast(admitted_ids), id_col), state_dir),
        ):
            (
                df_out.withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(dest)
            )
        buckets.unpersist()

    return write


def distinct_rollup_sink(
    out_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    unit: str = "hour",
    lg_k: int = 12,
):
    """Continuous approximate COUNT(DISTINCT) maintenance: a
    ``foreachBatch`` function that lands a DataSketches HLL sketch
    (binary, fixed-size, MERGEABLE) per time cell per micro-batch —
    the streaming answer to "distinct users per hour, forever" that
    an exact rollup cannot give (distinct is not decomposable; HLL
    partials are).

    Same idempotence contract as ``rollup_maintenance_sink``: each
    batch owns its ``_batch_id`` partition via dynamic overwrite, so
    at-least-once replays replace rather than double-merge.  State per
    (cell, batch) is O(2^lg_k) bytes regardless of cardinality — at
    100 TB the rollup table stays cells×batches×4 KiB while the raw
    stream is unbounded.  Query with :func:`read_distinct_rollup`,
    which unions sketches per cell (`hll_union_agg`) and estimates.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.groupBy(
                F.date_trunc(unit, F.col(ts_col)).alias("cell")
            )
            .agg(
                F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("_hll"),
                F.count(F.lit(1)).alias("_n"),
            )
            .withColumn("_batch_id", F.lit(int(batch_id)))
        )
        (
            partial.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return write


def read_distinct_rollup(spark, out_dir: str) -> DataFrame:
    """Queryable face of :func:`distinct_rollup_sink`: merge each
    cell's HLL partials with ``hll_union_agg`` and estimate — exact
    across batch boundaries in the HLL sense (union of sketches equals
    the sketch of the union; overlapping users across batches are NOT
    double-counted, unlike summed per-batch distinct counts)."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("cell")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col("_hll"), F.lit(True))
            ).alias("approx_distinct"),
            F.sum("_n").alias("n_events"),
        )
    )


def drift_monitor_sink(
    out_dir: str,
    bounds: list[float],
    ref_shares: list[float],
    value_col: str = "value",
):
    """Streaming drift monitor: a ``foreachBatch`` function that scores
    every micro-batch's ``value_col`` distribution against a fixed
    reference — bucket by the reference's quantile ``bounds`` (k-1
    boundaries -> k buckets), Laplace-smooth the shares, and log one
    (batch_id, n, psi) row per batch.  PSI > 0.2 is the conventional
    retrain/alert threshold.

    The reference bounds/shares are tiny Python lists captured in the
    closure (computed once offline, e.g. by ``queries.psi_value_drift``'s
    reference pass) — no state table, no join; per batch one aggregate
    over the batch only.  Idempotent like the other sinks: the log row
    is keyed by ``_batch_id`` partition, replays overwrite.

    Reference shares are validated and re-smoothed at CONSTRUCTION with
    the same ``(cnt + 0.5) / (n + 0.5k)`` Laplace floor the current
    side gets (mirroring ``queries.psi_value_drift``) — a raw 0.0 entry
    would otherwise divide-by-zero inside ``foreachBatch`` and kill the
    stream mid-flight.  NULL ``value_col`` rows are excluded from both
    ``n`` and every bin (a NULL falls in no bucket; counting it in
    ``n`` only would deflate every share and distort PSI) — they are
    reported separately in the ``n_null`` column.
    """
    k = len(bounds) + 1
    if len(ref_shares) != k:
        raise ValueError(
            f"need {k} reference shares for {len(bounds)} bounds, "
            f"got {len(ref_shares)}"
        )
    if any(s < 0 for s in ref_shares):
        raise ValueError(f"negative reference share in {ref_shares!r}")
    tot = sum(ref_shares)
    if tot <= 0:
        raise ValueError("reference shares sum to zero")
    # re-smooth on the reference side too, so a 0.0 share becomes a
    # floored small probability instead of a ZeroDivisionError
    ref_smoothed = [(s / tot + 0.5 / k) / 1.5 for s in ref_shares]

    def write(batch_df: DataFrame, batch_id: int) -> None:
        non_null = batch_df.filter(F.col(value_col).isNotNull())
        n_null = batch_df.count() - non_null.count()
        bucket = None
        for b in bounds:
            term = (F.col(value_col) > F.lit(b)).cast("int")
            bucket = term if bucket is None else bucket + term
        counts = {
            r["bucket"]: r["n"]
            for r in non_null.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n = sum(counts.values())
        psi = 0.0
        for i in range(k):
            cur = (counts.get(i, 0) + 0.5) / (n + 0.5 * k)
            ref = ref_smoothed[i]
            import math

            psi += (cur - ref) * math.log(cur / ref)
        row = batch_df.sparkSession.createDataFrame(
            [(int(batch_id), int(n), int(n_null), float(round(psi, 6)))],
            "_batch_id long, n long, n_null long, psi double",
        )
        (
            row.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return write
