"""Incremental rollup maintenance (streaming/sinks.rollup_maintenance_sink):
exactly-once-effective partial-aggregate merge on plain parquet."""

from datetime import datetime

from pyspark.sql import functions as F

from parquet_converters_spark.streaming.sinks import (
    compact_rollup,
    read_rollup,
    rollup_maintenance_sink,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, value double")


def _rollup_dict(spark, out):
    return {
        r["cell"]: (r["n_events"], float(r["value_sum"]))
        for r in read_rollup(spark, out).collect()
    }


def test_rollup_accumulates_and_replay_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(out)
    b0 = _batch(
        spark,
        [
            (datetime(2024, 1, 1, 10, 0, 5), 1.0),
            (datetime(2024, 1, 1, 10, 0, 55), 2.0),
            (datetime(2024, 1, 1, 10, 1, 0), 10.0),
        ],
    )
    b1 = _batch(spark, [(datetime(2024, 1, 1, 10, 1, 30), 5.0)])

    sink(b0, 0)
    sink(b1, 1)
    want = {
        datetime(2024, 1, 1, 10, 0): (2, 3.0),
        datetime(2024, 1, 1, 10, 1): (2, 15.0),
    }
    assert _rollup_dict(spark, out) == want

    # at-least-once replay of batch 1 must not double-count
    sink(b1, 1)
    assert _rollup_dict(spark, out) == want


def test_rollup_matches_batch_recompute(spark, tmp_path):
    """The incrementally-maintained rollup equals a from-scratch batch
    aggregate over the full event set."""
    out = str(tmp_path / "rollup2")
    sink = rollup_maintenance_sink(out)
    batches = [
        [(datetime(2024, 1, 1, 9, m % 7, s), float(m * s % 13)) for s in range(10)]
        for m in range(5)
    ]
    for i, rows in enumerate(batches):
        sink(_batch(spark, rows), i)

    all_rows = [r for rows in batches for r in rows]
    full = (
        _batch(spark, all_rows)
        .groupBy(F.date_trunc("minute", "ts").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("s"),
        )
    )
    want = {r["cell"]: (r["n"], float(r["s"])) for r in full.collect()}
    assert _rollup_dict(spark, out) == want


def test_compaction_preserves_the_rollup(spark, tmp_path):
    out = str(tmp_path / "rollup3")
    sink = rollup_maintenance_sink(out)
    for i in range(4):
        sink(
            _batch(spark, [(datetime(2024, 1, 1, 8, i), float(i))]), i
        )
    before = _rollup_dict(spark, out)
    folded = compact_rollup(spark, out)
    assert folded == 4
    assert _rollup_dict(spark, out) == before
    # partial table is now one partition
    import glob

    assert glob.glob(f"{out}/_batch_id=*") == [f"{out}/_batch_id=-1"]


def test_rollup_sink_driven_by_real_stream(spark, sf_dir, tmp_path):
    """End-to-end wiring: a file stream (multiple triggers) through
    foreachBatch(rollup_maintenance_sink) must equal the batch rollup
    of the same events."""
    from parquet_converters_spark.streaming.events import read_events_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    src = str(tmp_path / "stream_src")
    ev.repartition(4).write.parquet(src)  # 4 files -> multiple triggers

    out = str(tmp_path / "rollup_stream")
    q = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(rollup_maintenance_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    from parquet_converters_spark.queries import _events

    batch = (
        _events(spark, sf_dir)
        .join(ev.select("event_id"), "event_id", "left_semi")
        .groupBy(F.date_trunc("minute", "ts").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("s"),
        )
    )
    want = {r["cell"]: (r["n"], float(r["s"])) for r in batch.collect()}
    assert _rollup_dict(spark, out) == want


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_dedup_gate_admits_novel_rejects_dups(spark, tmp_path):
    from parquet_converters_spark.streaming.sinks import lsh_dedup_gate_sink

    out, state = str(tmp_path / "corpus"), str(tmp_path / "state")
    gate = lsh_dedup_gate_sink(out, state)
    t_a = "the quick brown fox jumps over the lazy dog and runs far away"
    t_b = "completely different content about spark shuffles and joins here"
    t_c = "unrelated third document text with its own distinct vocabulary set"

    # batch 0: one intra-batch exact dup (1 is a copy of 0)
    gate(_docs(spark, [(0, t_a), (1, t_a), (2, t_b)]), 0)
    got0 = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert got0 == [0, 2]

    # batch 1: doc 3 duplicates corpus doc 0 -> rejected; doc 4 novel
    gate(_docs(spark, [(3, t_a), (4, t_c)]), 1)
    got1 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got1 == [0, 2, 4]


def test_lsh_dedup_gate_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch (at-least-once delivery) must neither duplicate
    rows nor reject the batch's own documents against its own state."""
    from parquet_converters_spark.streaming.sinks import lsh_dedup_gate_sink

    out, state = str(tmp_path / "corpus"), str(tmp_path / "state")
    gate = lsh_dedup_gate_sink(out, state)
    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten eleven"

    gate(_docs(spark, [(0, t_a)]), 0)
    gate(_docs(spark, [(1, t_b)]), 1)
    before = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert before == [0, 1]

    gate(_docs(spark, [(1, t_b)]), 1)  # replay batch 1
    after = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert after == [0, 1]


def test_lsh_dedup_gate_admits_documents_without_shingles(spark, tmp_path):
    """Documents without shingles (fewer than 3 tokens, NULL text) share
    the all-sentinel signature; they get no buckets, so they neither
    reject each other nor go missing, while exact duplicates (a short
    one and an ordinary one) still collapse to the lowest id."""
    from parquet_converters_spark.streaming.sinks import lsh_dedup_gate_sink

    out, state = str(tmp_path / "corpus"), str(tmp_path / "state")
    gate = lsh_dedup_gate_sink(out, state)
    t_a = "the quick brown fox jumps over the lazy dog and runs far away"
    t_b = "completely different content about spark shuffles and joins here"
    docs = [
        (1, "alpha beta"), (2, "gamma delta"), (3, "zeta"), (4, None),
        (5, t_a), (6, t_b), (7, "zeta"), (8, t_a),
    ]
    gate(_docs(spark, docs), 0)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5, 6], got


def test_lsh_dedup_gate_real_stream(spark, tmp_path):
    """Drive the gate through an actual availableNow file stream —
    duplicates arriving in later files never reach the corpus."""
    from parquet_converters_spark.streaming.sinks import lsh_dedup_gate_sink

    src = str(tmp_path / "src")
    t_a = "the quick brown fox jumps over the lazy dog and runs far away"
    t_b = "completely different content about spark shuffles and joins here"
    _docs(spark, [(0, t_a), (1, t_b)]).coalesce(1).write.parquet(src)
    _docs(spark, [(2, t_a)]).coalesce(1).write.mode("append").parquet(src)

    out, state = str(tmp_path / "corpus"), str(tmp_path / "state")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(lsh_dedup_gate_sink(out, state))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 0 in admitted or 2 in admitted  # one copy of t_a survives
    assert not ({0, 2} <= set(admitted))   # never both
    assert 1 in admitted


def test_distinct_rollup_sketches_merge_across_batches(spark, tmp_path):
    """Users seen in BOTH batches must not double-count (sketch union,
    not sum-of-distincts), and replay must be idempotent."""
    from datetime import datetime

    from parquet_converters_spark.streaming.sinks import (
        distinct_rollup_sink,
        read_distinct_rollup,
    )

    out = str(tmp_path / "droll")
    sink = distinct_rollup_sink(out)
    h = datetime(2024, 1, 1, 10)

    def b(users):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, 10, 0, i), u) for i, u in enumerate(users)],
            "ts timestamp, user_id long",
        )

    sink(b([1, 2, 3, 4]), 0)
    sink(b([3, 4, 5, 6]), 1)  # overlap {3,4}
    got = {r["cell"]: r for r in read_distinct_rollup(spark, out).collect()}
    assert got[h]["n_events"] == 8
    assert got[h]["approx_distinct"] == 6  # HLL exact at tiny cardinality

    sink(b([3, 4, 5, 6]), 1)  # replay
    got2 = {r["cell"]: r for r in read_distinct_rollup(spark, out).collect()}
    assert got2[h]["n_events"] == 8
    assert got2[h]["approx_distinct"] == 6


def test_drift_monitor_flags_shifted_batch(spark, tmp_path):
    """A batch drawn from the reference distribution scores near zero;
    a shifted batch scores high; replay is idempotent."""
    from parquet_converters_spark.streaming.sinks import drift_monitor_sink

    out = str(tmp_path / "drift")
    bounds = [1.0, 2.0, 3.0]            # 4 buckets
    ref = [0.25, 0.25, 0.25, 0.25]
    sink = drift_monitor_sink(out, bounds, ref)

    def b(vals):
        return spark.createDataFrame([(float(v),) for v in vals], "value double")

    in_dist = [0.5, 1.5, 2.5, 3.5] * 25
    shifted = [3.5] * 100
    sink(b(in_dist), 0)
    sink(b(shifted), 1)
    sink(b(shifted), 1)  # replay
    rows = {r["_batch_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 2
    assert rows[0]["psi"] < 0.01
    assert rows[1]["psi"] > 0.5


def test_compaction_accepts_file_scheme_uri(spark, tmp_path):
    """Spark's canonical single-slash 'file:/path' spelling must reach
    shutil as a real filesystem path (ADVICE r03: removeprefix left it
    as a literal 'file:/...' string and the fold failed post-write)."""
    out = str(tmp_path / "rollup_uri")
    sink = rollup_maintenance_sink(out)
    for i in range(2):
        sink(_batch(spark, [(datetime(2024, 1, 1, 8, i), float(i))]), i)
    before = _rollup_dict(spark, out)
    assert compact_rollup(spark, "file:" + out) == 2
    assert _rollup_dict(spark, out) == before


def test_lsh_dedup_gate_intra_batch_near_dups(spark, tmp_path):
    """Two NEAR-duplicate (same bucket, different md5) documents in the
    SAME micro-batch: only the min id is admitted (ADVICE r03: the gate
    previously admitted both and wrote both to state)."""
    from parquet_converters_spark.streaming.sinks import lsh_dedup_gate_sink

    out, state = str(tmp_path / "corpus"), str(tmp_path / "state")
    gate = lsh_dedup_gate_sink(out, state)
    t_a = "the quick brown fox jumps over the lazy dog and runs far away"
    t_a2 = t_a + " tail"  # near-dup: shares most shingles, differs in md5
    t_b = "completely different content about spark shuffles and joins here"
    gate(_docs(spark, [(0, t_a), (1, t_a2), (2, t_b)]), 0)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [0, 2], got
    # state only carries admitted docs' buckets
    state_ids = {
        r["doc_id"] for r in spark.read.parquet(state).collect()
    }
    assert state_ids == {0, 2}


def test_lsh_dedup_gate_corrupt_state_fails_closed(spark, tmp_path):
    """A state read failure that is NOT path-missing must propagate and
    fail the batch (ADVICE r03: the bare except failed OPEN, admitting
    the entire batch as if no corpus existed)."""
    import pytest

    from parquet_converters_spark.streaming.sinks import lsh_dedup_gate_sink

    out, state = str(tmp_path / "corpus"), str(tmp_path / "state")
    import os

    os.makedirs(state)
    with open(os.path.join(state, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    gate = lsh_dedup_gate_sink(out, state)
    with pytest.raises(Exception):
        gate(
            _docs(
                spark,
                [(0, "alpha beta gamma delta epsilon zeta eta theta")],
            ),
            0,
        )
    # nothing admitted
    assert not os.path.exists(out) or not [
        p for p in os.listdir(out) if p.startswith("_batch_id=")
    ]


def test_drift_monitor_zero_ref_share_and_nulls(spark, tmp_path):
    """A 0.0 reference share must not ZeroDivisionError the stream, and
    NULL values must land in no bin: excluded from n, reported as
    n_null (ADVICE r03)."""
    from parquet_converters_spark.streaming.sinks import drift_monitor_sink

    out = str(tmp_path / "drift0")
    sink = drift_monitor_sink(out, [1.0, 2.0, 3.0], [0.5, 0.5, 0.0, 0.0])
    vals = [(0.5,), (1.5,), (None,), (None,)]
    sink(spark.createDataFrame(vals, "value double"), 0)
    row = spark.read.parquet(out).collect()[0]
    assert row["n"] == 2 and row["n_null"] == 2
    assert row["psi"] >= 0.0  # finite, no crash

    import math

    assert math.isfinite(row["psi"])


def test_drift_monitor_rejects_bad_reference(spark, tmp_path):
    import pytest

    from parquet_converters_spark.streaming.sinks import drift_monitor_sink

    with pytest.raises(ValueError):
        drift_monitor_sink("x", [1.0], [0.5, -0.5])
    with pytest.raises(ValueError):
        drift_monitor_sink("x", [1.0], [0.0, 0.0])
    with pytest.raises(ValueError):
        drift_monitor_sink("x", [1.0], [0.5, 0.25, 0.25])


def test_lsh_dedup_gate_many_trigger_stream(spark, tmp_path):
    """Sustained-stream shape (VERDICT r03 item 8): 8 micro-batches
    through a maxFilesPerTrigger=1 file stream, duplicates injected at
    varying lag behind their originals.  The gate must (a) admit each
    content exactly once regardless of arrival batch, (b) keep the
    state table partitioned one directory per batch (the replay /
    idempotence contract), and (c) never grow state with rejected
    docs' buckets."""
    import os

    from parquet_converters_spark.streaming.sinks import lsh_dedup_gate_sink

    texts = {
        i: f"document number {i} with unique content tail "
        + " ".join(f"w{i}_{j}" for j in range(12))
        for i in range(6)
    }
    src = str(tmp_path / "src")
    # 8 files: 6 originals interleaved with 2 duplicates at different lags
    plan = [
        [(0, texts[0])],
        [(1, texts[1])],
        [(100, texts[0])],            # dup of batch-0 content, lag 2
        [(2, texts[2]), (3, texts[3])],
        [(4, texts[4])],
        [(101, texts[1])],            # dup of batch-1 content, lag 4
        [(5, texts[5])],
        [(102, texts[4])],            # dup of batch-4 content, lag 3
    ]
    import time

    for i, rows in enumerate(plan):
        _docs(spark, rows).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)  # distinct mtimes: FileStreamSource orders by them

    out, state = str(tmp_path / "corpus"), str(tmp_path / "state")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(lsh_dedup_gate_sink(out, state))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    admitted = spark.read.parquet(out).select("doc_id", "text").collect()
    got_texts = sorted(r["text"] for r in admitted)
    assert got_texts == sorted(texts.values())  # each content exactly once
    assert all(r["doc_id"] < 100 for r in admitted)  # originals won
    # state holds only admitted docs' buckets
    state_ids = {r["doc_id"] for r in spark.read.parquet(state).collect()}
    assert state_ids == {0, 1, 2, 3, 4, 5}
    # one state partition per micro-batch that admitted something —
    # the 5 original-bearing files (batch 3's file carries two docs);
    # dup-only batches write empty dynamic overwrites, no partition
    parts = {p for p in os.listdir(state) if p.startswith("_batch_id=")}
    assert parts == {
        "_batch_id=0", "_batch_id=1", "_batch_id=3",
        "_batch_id=4", "_batch_id=6",
    }
