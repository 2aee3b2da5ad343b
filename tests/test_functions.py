"""Unit tests for the extended LLM-data-pipeline operators (dedup,
similarity, text, multimodal, streaming)."""

import pytest
from pyspark.sql import Row, functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast", "en"),
        (1, "the quick brown fox jumps over the lazy dog and runs away fast", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat and runs away fast", "en"),  # near dup of 0
        (3, "der hund und die katze sind von dem haus mit einem garten", "de"),
        (4, "completely different content about spark dataframes and shuffles", "en"),
        (5, "", "en"),  # empty edge case
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")


def test_exact_dedup(docs):
    from parquet_converters_spark.functions.dedup import exact_dedup

    out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2          # docs 0,1 collapse
    assert 1 not in out         # loser of the dup group
    assert out[2] == 1


def test_minhash_identical_and_near(docs):
    from parquet_converters_spark.functions.dedup import minhash_signatures

    sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]                      # identical text -> identical sig
    same = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert same >= 4                               # near dup -> most mins agree
    diff = sum(a == b for a, b in zip(sigs[0], sigs[4]))
    assert diff <= 2                               # unrelated -> few agree
    from parquet_converters_spark.functions.dedup import MERSENNE_PRIME

    assert sigs[5] == [MERSENNE_PRIME] * 8         # empty doc -> sentinels


def test_minhash_lsh_pairs(docs):
    from parquet_converters_spark.functions.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs.filter("doc_id < 5")).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs      # near dup shares >=1 band
    assert (0, 4) not in pairs

    verified = minhash_lsh_pairs(
        docs.filter("doc_id < 5"), jaccard_threshold=0.99
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} == {(0, 1)}


def test_simhash_distance(docs):
    from parquet_converters_spark.functions.dedup import simhash

    out = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert out[0] == out[1]
    ham_near = bin(out[0] ^ out[2]).count("1")
    ham_far = bin(out[0] ^ out[4]).count("1")
    assert ham_near < ham_far
    assert out[5] == 0


def test_ngram_jaccard(docs):
    from parquet_converters_spark.functions.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, threshold=0.3, allow_all_pairs=True
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0


def test_duplicated_shingle_fraction(docs):
    from parquet_converters_spark.functions.dedup import duplicated_shingle_fraction

    out = {r["doc_id"]: r for r in duplicated_shingle_fraction(docs).collect()}
    assert 5 not in out                     # empty doc -> no shingles -> absent
    assert out[0]["n_shingles"] == 11       # 13 tokens -> 11 distinct trigrams
    assert out[0]["dup_frac"] == 1.0        # exact dup of doc 1
    assert out[1]["dup_frac"] == 1.0
    assert out[2]["n_duplicated"] == 8      # the 3 'cat' trigrams are unique
    assert abs(out[2]["dup_frac"] - 8 / 11) < 1e-9
    assert out[3]["n_duplicated"] == 0
    assert out[4]["n_duplicated"] == 0


def test_ngram_jaccard_requires_blocking(docs):
    """Without a blocking column the self-join is an all-pairs cross
    product — the public API must refuse it unless explicitly opted in."""
    import pytest

    from parquet_converters_spark.functions.dedup import ngram_jaccard_pairs

    with pytest.raises(ValueError, match="all-pairs"):
        ngram_jaccard_pairs(docs, threshold=0.3)


def test_language_and_quality(docs, spark):
    from parquet_converters_spark.functions.text import (
        language_id,
        quality_score,
        token_count,
    )

    out = docs.select(
        "doc_id",
        language_id("text").alias("lang"),
        quality_score("text").alias("q"),
        token_count("text").alias("n"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["lang"] == "en"
    assert by_id[3]["lang"] == "de"
    assert by_id[5]["lang"] == "und"
    assert by_id[5]["q"] == 0.0
    assert by_id[0]["n"] == 13
    assert by_id[0]["q"] >= 0.75


def test_cosine_topk_exact(spark):
    from parquet_converters_spark.functions.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # antipode
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = cosine_topk(df, df.filter("vec_id = 0"), k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]


def test_lsh_ann_recall(spark, sf_dir):
    """Bucketed ANN returns a subset of the exact top-k's candidates and
    identical ranks within shared buckets."""
    from parquet_converters_spark.functions.similarity import lsh_bucket_ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = lsh_bucket_ann(emb, emb.filter("vec_id < 3"), k=5, dim=64).collect()
    assert all(r["cosine"] <= 1.000001 for r in out)
    ranks = {}
    for r in out:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    for q, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1))


def test_multimodal_decode_deterministic(spark, docs):
    from parquet_converters_spark.functions.multimodal import (
        decode_media,
        documents_as_media,
        media_metadata,
    )

    media = documents_as_media(docs.withColumn("n_chars", F.length("text")))
    meta = {r["media_id"]: r for r in media_metadata(media).collect()}
    text0 = docs.filter("doc_id = 0").first()["text"]
    assert meta[0]["n_bytes"] == len(text0.encode())

    d1 = {r["media_id"]: r for r in decode_media(media, fake=True).collect()}
    d2 = {r["media_id"]: r for r in decode_media(media, fake=True).collect()}
    for k in d1:
        assert d1[k] == d2[k]
    assert d1[0]["width"] == d1[1]["width"]  # same payload -> same fake decode
    assert len(d1[0]["features"]) == 8

    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_media(media, fake=False).collect()

    # batch_size_hint re-slices inside the UDF (peak-memory bound for
    # large payloads) without changing the result
    d3 = {
        r["media_id"]: r
        for r in decode_media(media, fake=True, batch_size_hint=3).collect()
    }
    assert d3 == d1


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The same windowed aggregation over a file stream converges to the
    batch result (Structured Streaming parity)."""
    from parquet_converters_spark.queries import _events
    from parquet_converters_spark.streaming.events import (
        read_events_stream,
        windowed_event_counts,
    )

    ev = _events(spark, sf_dir)
    # re-write locally so the stream source sees several files
    src = str(tmp_path / "events_stream")
    ev.repartition(4).write.parquet(src)

    batch = windowed_event_counts(spark.read.parquet(src)).collect()

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    q = (
        windowed_event_counts(stream, watermark="1 day")
        .writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from win_agg").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_sessionize_gap_splitting(spark):
    from parquet_converters_spark.streaming.events import sessionize

    rows = [
        Row(user_id=1, event_id=0, ts="2024-01-01 10:00:00", value=1.0),
        Row(user_id=1, event_id=1, ts="2024-01-01 10:10:00", value=1.0),
        Row(user_id=1, event_id=2, ts="2024-01-01 11:30:00", value=1.0),  # 80min gap
        Row(user_id=2, event_id=3, ts="2024-01-01 09:00:00", value=1.0),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    out = sessionize(df, gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    assert len(per_user[1]) == 2
    assert len(per_user[2]) == 1
    s1 = sorted(per_user[1], key=lambda r: r["session_id"])
    assert s1[0]["n_events"] == 2 and s1[1]["n_events"] == 1


def test_sessionize_subsecond_gap_boundary(spark):
    """The 30-min gap test must be exact at microsecond precision:
    1799.9 s stays in-session, 1800.1 s splits.  A whole-second
    comparison (unix_timestamp) truncates both to 1799/1800 and
    mis-splits — this pins the unix_micros comparison, and DuckDB's
    fractional epoch() agrees on the same rows."""
    import duckdb

    from parquet_converters_spark.streaming.events import sessionize

    rows = [
        Row(user_id=1, event_id=0, ts="2024-01-01 10:00:00.000000", value=1.0),
        # +1799.9 s: inside the 1800 s gap -> same session
        Row(user_id=1, event_id=1, ts="2024-01-01 10:29:59.900000", value=1.0),
        # +1800.1 s after event 1: strictly over -> new session
        Row(user_id=1, event_id=2, ts="2024-01-01 10:59:60.000000", value=1.0),
    ]
    # 10:59:60 is invalid; build the third ts explicitly
    rows[2] = Row(
        user_id=1, event_id=2, ts="2024-01-01 11:00:00.000000", value=1.0
    )
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    out = sorted(
        sessionize(df, gap_minutes=30).collect(), key=lambda r: r["session_id"]
    )
    assert [r["n_events"] for r in out] == [2, 1]

    got = duckdb.sql(
        """
        WITH e(ts) AS (VALUES (TIMESTAMP '2024-01-01 10:00:00'),
                              (TIMESTAMP '2024-01-01 10:29:59.9'),
                              (TIMESTAMP '2024-01-01 11:00:00')),
        g AS (
          SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (ORDER BY ts)) AS gap_us
          FROM e
        )
        SELECT sum(CASE WHEN gap_us > 1800 * 1000000 THEN 1 ELSE 0 END) AS splits
        FROM g
        """
    ).fetchone()
    assert got[0] == 1  # DuckDB agrees: exactly one split


def test_ivf_topk_matches_bruteforce_when_probing_all(spark, sf_dir):
    """With nprobe == num_cells, IVF degenerates to exact search — its
    top-k must equal the brute-force baseline."""
    from parquet_converters_spark.functions.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, queries, k=3).collect()
    ivf_all = ivf_topk(emb, queries, k=3, num_cells=4, nprobe=4).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, ivf_all), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, exact), key=lambda t: (t[0], t[1])
    )


def test_ivf_assignment_is_dense_partition(spark, sf_dir):
    """Every vector lands in exactly one cell in [1, num_cells]."""
    from parquet_converters_spark.functions.similarity import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells = emb.select(
        ivf_assign(F.col("embedding"), ivf_centroids(8, 64)).alias("cell")
    )
    stats = cells.agg(
        F.min("cell").alias("lo"), F.max("cell").alias("hi"), F.count("*").alias("n")
    ).first()
    assert 1 <= stats["lo"] and stats["hi"] <= 8
    assert stats["n"] == emb.count()


def test_resize_and_frames_stubs(spark, docs):
    from parquet_converters_spark.functions.multimodal import (
        documents_as_media,
        resize_media,
        sample_frames,
    )

    media = documents_as_media(docs.filter("doc_id < 3"))
    rs = resize_media(media, width=8, height=8, fake=True).collect()
    assert len(rs) == 3
    assert all(r["width"] == 8 and r["height"] == 8 and len(r["payload"]) == 64 for r in rs)
    # identical payloads (docs 0,1) -> identical fake bitmaps
    by_id = {r["media_id"]: bytes(r["payload"]) for r in rs}
    assert by_id[0] == by_id[1]

    fr = sample_frames(media, every_ms=500, max_frames=4, fake=True).collect()
    per = {}
    for r in fr:
        per.setdefault(r["media_id"], []).append(r)
    assert set(per) == {0, 1, 2}
    for mid, rows in per.items():
        idx = sorted(r["frame_index"] for r in rows)
        assert idx == list(range(len(idx)))          # dense 0..n-1
        assert all(r["frame_ts_ms"] == r["frame_index"] * 500 for r in rows)
    assert len(per[0]) == len(per[1])                # deterministic in payload

    # real path must refuse, not silently fake
    import pytest as _pytest
    with _pytest.raises(Exception):
        resize_media(media, fake=False).collect()


def test_stateful_running_totals_stream(spark, sf_dir, tmp_path):
    """applyInPandasWithState across multiple triggers: state accumulates
    per user and the final update per user equals the batch aggregate."""
    import shutil

    from parquet_converters_spark.streaming.events import (
        read_events_stream,
        running_user_totals,
    )

    # split events into several files so availableNow yields >1 trigger
    src = f"{sf_dir}/events.parquet"
    events = spark.read.parquet(src)
    stream_dir = str(tmp_path / "events_stream")
    events.repartition(4).write.parquet(stream_dir)

    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # last update per user (memory sink appends every trigger's updates)
    got = spark.sql(
        """
        SELECT user_id, n_events, value_sum FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM running_totals
        ) WHERE rn = 1
        """
    ).collect()
    want = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("value_sum"))
        .collect()
    )
    gm = {r["user_id"]: (r["n_events"], round(r["value_sum"], 4)) for r in got}
    wm = {r["user_id"]: (r["n_events"], round(r["value_sum"], 4)) for r in want}
    assert gm == wm


def test_near_dedup_pipeline_collapses_exact_groups(docs):
    """Exact duplicates never reach the LSH join: pairs are between
    representatives only, and the groups table carries the members."""
    from parquet_converters_spark.functions.dedup import near_dedup_pipeline

    groups, pairs = near_dedup_pipeline(docs.filter("doc_id < 5"))
    g = {r["keep_id"]: r["dup_count"] for r in groups.collect()}
    assert g[0] == 2                      # docs 0,1 collapse to rep 0
    p = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert all(1 not in pair for pair in p)   # loser id never appears
    assert (0, 2) in p                    # near-dup found between reps


def test_native_session_window_stream_matches_batch_sessionize(spark, sf_dir, tmp_path):
    """Structured Streaming's session_window (native stateful
    sessionization with watermark) produces the same sessions as the
    batch gaps-and-islands sessionize."""
    from parquet_converters_spark.queries import _events
    from parquet_converters_spark.streaming.events import (
        read_events_stream,
        sessionize,
    )

    events = _events(spark, sf_dir)
    stream_dir = str(tmp_path / "ev")
    events.write.parquet(stream_dir)

    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=10)
    q = (
        stream.withWatermark("ts", "10 days")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("session_window.start").alias("session_start"), "n_events")
        .writeStream.format("memory")
        .queryName("native_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql("select * from native_sessions").collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize(events, gap_minutes=30)
        .select("user_id", "session_start", "n_events")
        .collect()
    }
    # append mode emits a session only once the watermark passes it:
    # every emitted session must match the batch result exactly, and
    # the only withheld ones are inside the watermark horizon at
    # end-of-stream (documented Structured Streaming semantics).
    import datetime

    assert got <= want
    max_ts = events.agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(days=10, minutes=30)
    for _, start, _ in want - got:
        assert start >= horizon
    assert len(got) > 0


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream band join emits exactly the batch pair
    set once both streams drain (join state bounded by the watermark +
    time-range condition)."""
    from parquet_converters_spark.queries import _events
    from parquet_converters_spark.streaming.events import (
        read_events_stream,
        view_purchase_join,
    )

    ev = _events(spark, sf_dir)
    src = str(tmp_path / "events_ssj")
    ev.repartition(4).write.parquet(src)

    batch_ev = spark.read.parquet(src)
    want = view_purchase_join(
        batch_ev.filter(F.col("event_type") == "view"),
        batch_ev.filter(F.col("event_type") == "purchase"),
    ).collect()

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    q = (
        view_purchase_join(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
            watermark="1 day",
        )
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from ssj").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Two file streams over the same events union to a duplicated
    stream; dropDuplicatesWithinWatermark restores exactly-once by
    event_id."""
    from parquet_converters_spark.queries import _events
    from parquet_converters_spark.streaming.events import (
        dedup_events,
        read_events_stream,
    )

    ev = _events(spark, sf_dir).limit(2000)
    src = str(tmp_path / "events_dedup")
    ev.repartition(2).write.parquet(src)

    n_distinct = spark.read.parquet(src).select("event_id").distinct().count()

    duplicated = read_events_stream(spark, src, max_files_per_trigger=1).unionByName(
        read_events_stream(spark, src, max_files_per_trigger=1)
    )
    q = (
        dedup_events(duplicated, watermark="1 day")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select count(*) n, count(distinct event_id) d from dedup_stream").collect()[0]
    assert got["d"] == n_distinct
    assert got["n"] == n_distinct  # no duplicate emissions


def test_connected_components_known_graph(spark):
    """Chain (diameter > 1 round), triangle, and isolated pair resolve
    to min-id components."""
    from parquet_converters_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),   # chain -> comp 1
            (10, 11), (11, 12), (10, 12),     # triangle -> comp 10
            (20, 21),                         # pair -> comp 20
        ],
        "id_a: long, id_b: long",
    )
    got = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    assert got == want


def test_connected_components_star_long_chain(spark):
    """Large-star/small-star resolves a path graph whose diameter far
    exceeds what hash-to-min could do in the same round budget:
    a 2000-node chain must converge within O(log^2 n) rounds (max_iter
    15 << diameter 2000) and agree with hash-to-min labels."""
    from parquet_converters_spark.operators.graph import connected_components

    n = 2000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a: long, id_b: long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(chain, max_iter=15, method="star").collect()
    }
    assert len(got) == n
    assert set(got.values()) == {0}


def test_connected_components_star_matches_hash_to_min(spark):
    """Both methods label the same mixed graph identically."""
    import random

    from parquet_converters_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a: long, id_b: long")
    # sparse random graphs have long path components: give the
    # O(diameter) method enough rounds to actually converge
    a = {r["node"]: r["component"]
         for r in connected_components(pairs, max_iter=100,
                                       method="hash_to_min").collect()}
    b = {r["node"]: r["component"]
         for r in connected_components(pairs, max_iter=15, method="star").collect()}
    assert a == b


def test_connected_components_warns_unconverged(spark, monkeypatch):
    """Exhausting max_iter before the fixed point must warn, not return
    silently-partial labels.  (Forces the distributed rounds: the r18
    driver union-find fallback is always exact, so a small graph would
    otherwise never exercise the warning path.)"""
    import pytest

    from parquet_converters_spark.operators import graph as G

    monkeypatch.setattr(G, "_CC_DRIVER_MAX_EDGES", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a: long, id_b: long"
    )
    with pytest.warns(G.ConvergenceWarning):
        G.connected_components(chain, max_iter=2).collect()


def test_connected_components_driver_fallback_matches_distributed(
    spark, monkeypatch
):
    """r18: the sub-threshold driver union-find must produce exactly the
    labels the distributed rounds produce (component minimum per node),
    and must kick in below the edge cap."""
    from parquet_converters_spark.operators import graph as G

    edges = [(1, 2), (2, 3), (9, 4), (7, 7), (10, 11), (11, 3)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    fast = {
        (r["node"], r["component"])
        for r in G.connected_components(df).collect()
    }
    monkeypatch.setattr(G, "_CC_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["node"], r["component"])
        for r in G.connected_components(df).collect()
    }
    assert fast == slow
    assert (7, 7) in fast  # self-pair node keeps its own label


def test_ivf_centroid_modes_identical(spark, sf_dir):
    """Literal-expression and broadcast-matrix centroid paths must
    produce bit-identical IVF results (same fold order everywhere)."""
    from parquet_converters_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    lit = ivf_topk(emb, queries, k=5, num_cells=8, nprobe=2, dim=64)
    bc = ivf_topk(
        emb, queries, k=5, num_cells=8, nprobe=2, dim=64,
        centroid_mode="broadcast",
    )
    a = sorted(map(tuple, lit.collect()))
    b = sorted(map(tuple, bc.collect()))
    assert a == b and len(a) > 0


def test_lsh_plane_modes_identical(spark, sf_dir):
    """Literal and broadcast hyperplane paths must bucket and rank
    identically."""
    from parquet_converters_spark.functions.similarity import lsh_bucket_ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 3")
    a = sorted(map(tuple, lsh_bucket_ann(emb, queries, k=5, dim=64).collect()))
    b = sorted(
        map(
            tuple,
            lsh_bucket_ann(
                emb, queries, k=5, dim=64, plane_mode="broadcast"
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_idempotent_sink_replay_replaces(spark, tmp_path):
    """Replaying a micro-batch (at-least-once foreachBatch delivery)
    must replace its partition, never duplicate it."""
    from parquet_converters_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "sink_out")
    write = idempotent_parquet_sink(out)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    write(b0, 0)
    write(b1, 1)
    # crash-replay of batch 0 with corrected content
    write(b0.withColumn("v", F.upper("v")), 0)
    back = spark.read.parquet(out)
    rows = sorted(map(tuple, back.select("id", "v", "_batch_id").collect()))
    assert rows == [(1, "A", 0), (2, "B", 0), (3, "c", 1)]


def test_idempotent_sink_live_stream(spark, sf_dir, tmp_path):
    """The sink works under a real availableNow stream: total rows out
    equals rows in, split across batch partitions."""
    from parquet_converters_spark.streaming.events import read_events_stream
    from parquet_converters_spark.streaming.sinks import idempotent_parquet_sink

    src = str(tmp_path / "stream_src")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000)
    ev.repartition(4).write.parquet(src)
    out, ckpt = str(tmp_path / "stream_out"), str(tmp_path / "ckpt")
    q = (
        read_events_stream(spark, src, max_files_per_trigger=2)
        .writeStream.foreachBatch(idempotent_parquet_sink(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.select("_batch_id").distinct().count() >= 2


def test_sessionize_stateful_timers(spark, sf_dir, tmp_path):
    """Event-time-timeout sessionization: every session the stream
    emits (in-batch closes + timer flushes) must byte-match a batch
    session, and most sessions must be emitted once the stream drains."""
    from parquet_converters_spark.queries import _events
    from parquet_converters_spark.streaming.events import sessionize_stateful

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    src = str(tmp_path / "sess_src")
    # append time-range slices chronologically with distinct mtimes:
    # the FileStreamSource replays in mtime order, so this is the
    # realistic arrival order (a shuffled replay would put ~all data
    # behind the watermark and the late guard would drop it)
    import datetime

    lo_ts, hi_ts = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi_ts - lo_ts) / 6
    for k in range(6):
        lo_k = lo_ts + k * span
        hi_k = hi_ts + datetime.timedelta(hours=1) if k == 5 else lo_ts + (k + 1) * span
        (
            ev.filter((F.col("ts") >= lo_k) & (F.col("ts") < hi_k))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["value_sum"],
        )
        for r in sessionize_stateful(spark.read.parquet(src)).collect()
    }
    assert batch

    from parquet_converters_spark.streaming.events import read_events_stream

    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")

    def run():
        q = (
            sessionize_stateful(
                read_events_stream(spark, src, max_files_per_trigger=2),
                watermark="30 minutes",
            )
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(out).filter("user_id < 9000").collect()

    got1 = run()
    for r in got1:
        k = (r["user_id"], r["session_start"], r["session_end"])
        assert k in batch, f"streamed session not in batch: {k}"
        assert (r["n_events"], r["value_sum"]) == batch[k], k
    assert len(got1) > 0

    # sessions open at the final trigger never see their timer fire
    # (availableNow stops).  Restart from the checkpoint (state
    # recovery) with an epilogue event 2h past the end: the watermark
    # sweeps past every real session and the timers flush them all.
    max_ts = ev.agg(F.max("ts")).first()[0]
    import datetime

    spark.createDataFrame(
        [(9999, 10**9, max_ts + datetime.timedelta(hours=2), 0.0)],
        "user_id long, event_id long, ts timestamp, value double",
    ).write.mode("append").parquet(src)
    got2 = run()
    for r in got2:
        k = (r["user_id"], r["session_start"], r["session_end"])
        assert k in batch, f"post-restart session not in batch: {k}"
        assert (r["n_events"], r["value_sum"]) == batch[k], k
    emitted = {
        (r["user_id"], r["session_start"], r["session_end"])
        for r in [*got1, *got2]
    }
    assert len(emitted) >= 0.95 * len(batch), (len(emitted), len(batch))


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static join is stateless: the enrichment aggregate over a
    file stream equals the batch result."""
    from parquet_converters_spark.queries import _events
    from parquet_converters_spark.streaming.events import (
        enrich_with_dim,
        read_events_stream,
    )

    ev = _events(spark, sf_dir)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src = str(tmp_path / "enrich_stream")
    ev.repartition(4).write.parquet(src)

    def agg(df):
        return (
            enrich_with_dim(df, nation, "n_nationkey", 25)
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,6)"))
                .cast("double")
                .alias("value_sum"),
            )
        )

    batch = agg(spark.read.parquet(src)).collect()
    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    q = (
        agg(stream)
        .writeStream.format("memory")
        .queryName("enrich_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from enrich_agg").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_char_entropy_arrow_matches_hof(spark, sf_dir):
    """The Arrow-batched entropy path must produce the identical
    rounded value as the JVM higher-order-function path for every
    document (rounding absorbs summation-order float noise)."""
    from parquet_converters_spark.functions.text import (
        char_entropy,
        with_char_entropy_arrow,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.select("doc_id", char_entropy("text").alias("e"))
    b = with_char_entropy_arrow(docs.select("doc_id", "text")).select(
        "doc_id", F.col("entropy").alias("e")
    )
    diff = a.alias("x").join(b.alias("y"), "doc_id").filter("x.e != y.e")
    assert diff.count() == 0


def test_audio_features_deterministic_and_gated(spark, docs):
    from parquet_converters_spark.functions.multimodal import (
        documents_as_media,
        extract_audio_features,
    )

    media = documents_as_media(docs.withColumn("n_chars", F.length("text")))
    a = extract_audio_features(media, n_frames=4, fake=True).collect()
    b = extract_audio_features(media, n_frames=4, fake=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_key = {(r.media_id, r.frame_idx): r for r in a}
    assert len(by_key) == 6 * 4          # 1:N explode: every doc, every frame
    # identical payloads (docs 0 and 1) -> identical features
    for i in range(4):
        r0, r1 = by_key[(0, i)], by_key[(1, i)]
        assert (r0.energy, r0.zcr, r0.sample_rate) == (r1.energy, r1.zcr, r1.sample_rate)
    with pytest.raises(Exception, match="NotImplementedError|real audio"):
        extract_audio_features(media, fake=False).collect()


def test_quantize_int8_bounds(spark, sf_dir):
    """Quantization invariants: q in [-127, 127], reconstruction error
    <= scale/2 + eps elementwise, scale > 0."""
    from parquet_converters_spark.functions.similarity import quantize_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = quantize_int8(emb)
    bad = q.filter(
        (F.array_max("q_vec") > 127)
        | (F.array_min("q_vec") < -127)
        | (F.col("q_scale") <= 0)
    ).count()
    assert bad == 0
    worst = q.select(
        F.max(
            F.array_max(
                F.zip_with(
                    "embedding",
                    "q_vec",
                    lambda x, qv: F.abs(
                        x.cast("double") - qv.cast("double") * F.col("q_scale")
                    )
                    / F.col("q_scale"),
                )
            )
        ).alias("w")
    ).first()["w"]
    assert worst <= 0.5 + 1e-9


def test_contamination_matrix_matches_bruteforce(spark, docs):
    """The HOF pair expansion equals a brute-force shingle self-join on
    a small corpus."""
    from parquet_converters_spark.functions.dedup import cross_source_shingles
    from parquet_converters_spark.functions.text import shingles

    d = docs.withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % 3)))
    got = {
        (r.src_a, r.src_b): r.n_shared
        for r in cross_source_shingles(d).collect()
    }
    sh = d.select(
        F.col("source").alias("g"),
        F.explode(F.array_distinct(shingles("text", 3))).alias("s"),
    ).distinct()
    a, b = sh.alias("a"), sh.alias("b")
    want = {
        (r["ga"], r["gb"]): r["n"]
        for r in a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.g") < F.col("b.g")))
        .select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_ann_recall_bounded_and_exact_when_bruteforce(spark, sf_dir):
    """recall in [0,1]; every n_exact is k."""
    from parquet_converters_spark.queries import ann_recall_at5

    rows = ann_recall_at5(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_exact == 5 and 0.0 <= r.recall <= 1.0 and r.n_hits <= 5


def test_span_dedup_removes_cross_doc_spans(spark):
    """A span shared by two docs is cut from both; unique spans
    survive; text rebuilds in original order; all-boilerplate docs
    come back empty (not NULL)."""
    from parquet_converters_spark.functions.dedup import span_dedup

    rows = [
        (1, "a b c d x y z w"),          # spans: "a b c d", "x y z w"
        (2, "a b c d p q r s"),          # shares "a b c d" with doc 1
        (3, "a b c d"),                  # nothing but the shared span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in span_dedup(df, span_words=4, max_df=1).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["n_dropped"] == 1
    assert out[1]["new_text"] == "x y z w"
    assert out[2]["new_text"] == "p q r s"
    assert out[3]["n_dropped"] == 1 and out[3]["new_text"] == ""


def test_span_dedup_trailing_partial_span(spark):
    """Trailing partial spans (len % span_words != 0) are their own
    span and dedup like any other."""
    from parquet_converters_spark.functions.dedup import span_dedup

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "x y z a b c")], "doc_id long, text string"
    )
    # doc2 spans with k=3: "x y z", "a b c" — second shared with doc1
    out = {
        r["doc_id"]: r
        for r in span_dedup(df, span_words=3, max_df=1).collect()
    }
    assert out[1]["new_text"] == "" and out[1]["n_dropped"] == 1
    assert out[2]["new_text"] == "x y z"


def test_dedup_spans_intra_keeps_first_occurrence(spark, sf_dir):
    """Within-doc repeats drop, first occurrence survives in order;
    plan is narrow (no Exchange before the final sort)."""
    from parquet_converters_spark.queries import dedup_spans_intra

    out = {r["doc_id"]: r for r in dedup_spans_intra(spark, sf_dir).collect()}
    assert all(r["n_dropped"] >= 0 for r in out.values())
    assert any(r["n_dropped"] > 0 for r in out.values())  # non-vacuous


def test_span_dedup_single_doc_roundtrip_property(spark):
    """Property: with one document, no span can be cross-document
    duplicated (df counts distinct docs), so reconstruction must
    return the text verbatim for any word sequence and span size."""
    from hypothesis import given, settings, strategies as st

    from parquet_converters_spark.functions.dedup import span_dedup

    words = st.lists(
        st.sampled_from(["a", "bb", "ccc", "dd", "e"]), min_size=1, max_size=17
    )

    @settings(max_examples=15, deadline=None)
    @given(ws=words, k=st.integers(min_value=1, max_value=5))
    def check(ws, k):
        text = " ".join(ws)
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = span_dedup(df, span_words=k, max_df=1).collect()[0]
        assert out["n_dropped"] == 0
        assert out["new_text"] == text

    check()


def test_prepare_corpus_funnel(spark, sf_dir):
    """Composed corpus prep: survivors pass every gate, contain no
    near-duplicates among themselves (per the same pipeline), and the
    report counts are monotone and consistent with the frames."""
    from pyspark.sql import functions as F

    from parquet_converters_spark.functions.dedup import near_dedup_pipeline
    from parquet_converters_spark.functions.text import quality_score
    from parquet_converters_spark.pipelines import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clean, report = prepare_corpus(docs)
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["raw"] >= rep["quality"] >= rep["exact_unique"] >= rep["near_unique"]
    assert rep["raw"] == docs.count()
    assert rep["near_unique"] == clean.count()
    # every survivor passes the quality gate
    q = quality_score("text")
    bad = clean.filter(
        ~((F.length("text") >= 50) & (F.length("text") <= 10000) & (q >= 0.5))
    ).count()
    assert bad == 0
    # survivors are near-dedup-stable: running the pipeline on them
    # again finds no exact-dup groups with >1 member
    groups, _pairs = near_dedup_pipeline(clean)
    assert groups.filter(F.col("dup_count") > 1).count() == 0


def test_prepare_corpus_decontamination(spark, sf_dir):
    """Optional stage 4: survivors sharing shingles with the eval set
    are dropped and the report gains a decontaminated row."""
    from pyspark.sql import functions as F

    from parquet_converters_spark.pipelines import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_clean, _ = prepare_corpus(docs)
    # eval set = verbatim copies of two surviving documents
    eval_df = base_clean.orderBy("doc_id").limit(2).select("doc_id", "text")
    clean, report = prepare_corpus(docs, eval_df=eval_df)
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["decontaminated"] <= rep["near_unique"] - 2
    leaked = clean.join(
        eval_df.select("doc_id"), "doc_id", "left_semi"
    ).count()
    assert leaked == 0


def test_prepare_corpus_degenerate_inputs(spark):
    """Empty corpus and all-rejected corpus produce empty clean frames
    and zeroed (but complete) reports rather than errors."""
    from parquet_converters_spark.pipelines import prepare_corpus

    empty = spark.createDataFrame([], "doc_id long, text string")
    clean, report = prepare_corpus(empty)
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert clean.count() == 0
    assert rep == {"raw": 0, "quality": 0, "exact_unique": 0, "near_unique": 0}

    allfail = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    clean2, report2 = prepare_corpus(allfail)
    rep2 = {r["stage"]: r["n_docs"] for r in report2.collect()}
    assert clean2.count() == 0 and rep2["raw"] == 1 and rep2["quality"] == 0


def test_prepare_corpus_unpersists_intermediates(spark, sf_dir):
    """prepare_corpus must leave ONLY the returned clean frame pinned
    (VERDICT r04 item 2): repeated funnel runs in a long-lived session
    previously accumulated quality/groups/superseded-clean caches."""
    from parquet_converters_spark.pipelines import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    eval_df = docs.limit(20)
    clean, report = prepare_corpus(docs, eval_df=eval_df)
    assert report.count() == 5  # decontamination stage present, report intact
    n_clean = clean.count()
    assert n_clean == [r for r in report.collect() if r.stage == "decontaminated"][0].n_docs

    # deterministic contract: exactly the returned frame's checkpoint
    # survives — quality/groups were unpersisted blocking, every
    # superseded round/stage checkpoint was released explicitly
    # (session.free_local_checkpoints; the ContextCleaner never reclaims
    # checkpoint RDDs through py4j, so explicit release is the only way)
    new = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    assert len(new) == 1, f"leaked {len(new)} cached RDDs"
    # the survivor is still readable (its checkpoint storage is intact)
    assert clean.count() == n_clean
    from parquet_converters_spark.session import free_local_checkpoints

    assert free_local_checkpoints(clean) == 1
    assert not set(jsc.getPersistentRDDs().keySet().toArray()) - before


def _job_count(spark, run):
    """Spark jobs started by ``run()``, counted through a job group."""
    import os

    sc = spark.sparkContext
    group = f"budget-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "job budget")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_doc_corpus(path, n_docs, seed):
    """One parquet file (one row group) of ``n_docs`` documents: 5 %
    too short for the quality gate, 10 % verbatim copies and 10 %
    one-word variants of other documents."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(3000)})
    n_junk, n_copy, n_near = n_docs // 20, n_docs // 10, n_docs // 10
    base = []
    for _ in range(n_docs - n_junk - n_copy - n_near):
        words = rng.choice(vocab, int(rng.integers(40, 90))).tolist()
        words[:3] = ["the", "and", "of"]
        base.append(words)
    texts = [" ".join(w) for w in base]
    texts += [texts[int(rng.integers(len(base)))] for _ in range(n_copy)]
    for _ in range(n_near):
        words = list(base[int(rng.integers(len(base)))])
        words[int(rng.integers(3, len(words)))] = str(rng.choice(vocab))
        texts.append(" ".join(words))
    texts += [" ".join(rng.choice(vocab, 3)) for _ in range(n_junk)]
    texts = [texts[i] for i in rng.permutation(len(texts))]
    pq.write_table(
        pa.table({"doc_id": np.arange(len(texts), dtype=np.int64) * 3 + 5, "text": texts}),
        path,
    )


@pytest.fixture(scope="module")
def mixed_docs(spark):
    """Seeded documents over a small mixed-script vocabulary (upper
    case, the dotted capital I, the Kelvin sign, sharp s, accented
    letters, CJK), plus documents of exactly 3 and 2 tokens, empty text
    and NULL text."""
    import random

    rng = random.Random(17)
    vocab = [
        "alpha", "Beta", "GAMMA", "delta", "Straße", "ß", "café", "naïve",
        "İstanbul", "\u212aelvin", "東京", "データ", "x1", "42", "Ünïcode",
        "ÉTÉ", "mañana", "KELVIN",
    ]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
        for i in range(2100)
    ]
    rows += [
        (3000, "one two three"),
        (3001, "ONE Two three"),
        (3002, "just two"),
        (3003, "東京 データ"),
        (3004, ""),
        (3005, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bands_match_signature_buckets(spark, mixed_docs):
    """The Arrow banding pass gives exactly the bucket keys of the Spark
    expressions (minhash_signatures + signature_band_buckets) for every
    document with shingles, and no rows for the others."""
    from parquet_converters_spark.functions.dedup import (
        MERSENNE_PRIME,
        _lsh_bands,
        content_hash,
        minhash_signatures,
        signature_band_buckets,
    )

    # one partition: a single Arrow batch, cut into several numpy chunks
    got = {tuple(r) for r in _lsh_bands(mixed_docs.coalesce(1)).collect()}
    sig = minhash_signatures(mixed_docs)
    sentinel = {
        r["doc_id"]
        for r in sig.filter(F.col("signature")[0] == MERSENNE_PRIME).collect()
    }
    want = {
        tuple(r)
        for r in signature_band_buckets(
            sig.filter(F.col("signature")[0] != MERSENNE_PRIME)
        ).collect()
    }
    assert got == want
    assert {3002, 3003, 3004, 3005} <= sentinel
    assert not {r[0] for r in got} & sentinel
    by_doc = {}
    for i, band, bucket in got:
        by_doc.setdefault(i, {})[band] = bucket
    assert by_doc[3000] == by_doc[3001] and len(by_doc[3000]) == 4
    assert len(by_doc) > 1500

    # the exact band: every document, shingles or not, once, keyed by
    # its content_hash (NULL for NULL text)
    exact = {tuple(r) for r in _lsh_bands(mixed_docs.coalesce(1), exact=True).collect()} - got
    assert exact == {
        (r["doc_id"], 4, r["h"])
        for r in mixed_docs.select(
            "doc_id", content_hash("text").cast("string").alias("h")
        ).collect()
    }


def test_lsh_candidate_multiset_matches_brute_force(spark, tmp_path):
    """minhash_lsh_pairs(pair_distinct=False) emits the star of every
    (band, bucket): one (min id, id, band) row per other id of the
    bucket, the rows a per-band brute force over the same signatures
    gives (the candidate_pairs count).  pair_distinct=True emits each
    a < b pair sharing a bucket in any band once."""
    from collections import Counter
    from itertools import combinations

    from parquet_converters_spark.functions.dedup import (
        MERSENNE_PRIME,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    path = str(tmp_path / "docs.parquet")
    _write_doc_corpus(path, 600, seed=3)
    docs = spark.read.parquet(path)
    got = Counter(
        tuple(r) for r in minhash_lsh_pairs(docs, pair_distinct=False).collect()
    )
    buckets = {}
    for r in minhash_signatures(docs).collect():
        sig = r["signature"]
        if sig[0] == MERSENNE_PRIME:
            continue
        for b in range(4):
            buckets.setdefault((b, tuple(sig[2 * b:2 * b + 2])), []).append(r["doc_id"])
    want = Counter(
        (min(ids), i, b)
        for (b, _), ids in buckets.items()
        for i in ids
        if i != min(ids)
    )
    assert got == want
    assert sum(want.values()) > 100
    assert set(minhash_lsh_pairs(docs).collect()) == {
        pair
        for ids in buckets.values()
        for pair in combinations(sorted(ids), 2)
    }


def test_documents_without_shingles_never_pair(spark):
    """Documents with fewer than 3 tokens or NULL text have no MinHash
    bands: they pair with nothing and all survive near dedup (exact
    dedup alone still collapses identical copies)."""
    from parquet_converters_spark.functions.dedup import (
        minhash_lsh_pairs,
        near_dedup_survivors,
    )

    rows = [
        (1, "alpha beta"),
        (2, "gamma delta"),
        (3, "zeta"),
        (4, None),
        (5, "the quick brown fox jumps over the lazy dog near the river bank"),
        (6, "spark shuffles partitions across executors for every wide stage"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_lsh_pairs(df).collect() == []
    survivors = near_dedup_survivors(df)
    assert sorted(r["doc_id"] for r in survivors.collect()) == [1, 2, 3, 4, 5, 6]
    from parquet_converters_spark.session import free_local_checkpoints

    assert free_local_checkpoints(survivors) == 1


def test_lsh_large_bucket_pairs_match_brute_force(spark):
    """One bucket of 2000 ids (a boilerplate text under 2000 ids) emits
    its star: exactly 1999 rows, the bucket's minimum id paired with
    each other id, equal to a brute force over the signatures."""
    import numpy as np
    import pyarrow as pa

    from parquet_converters_spark.functions.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    texts = ["shared boilerplate footer on every page of the site"] * 2000
    texts += [" ".join(rng.choice(vocab, 20)) for _ in range(60)]
    ids = rng.choice(10**9, len(texts), replace=False).astype(np.int64)
    df = spark.createDataFrame(pa.table({"doc_id": ids, "text": texts}))

    # bands=1: one bucket per document, so the boilerplate bucket's
    # star is emitted once
    got = minhash_lsh_pairs(df, bands=1, pair_distinct=False).toArrow()
    got = np.stack([got.column("id_a").to_numpy(), got.column("id_b").to_numpy()], 1)
    buckets = {}
    for r in minhash_signatures(df).collect():
        buckets.setdefault(tuple(r["signature"]), []).append(r["doc_id"])
    want = np.array(
        [
            (min(members), i)
            for members in buckets.values()
            for i in members
            if i != min(members)
        ],
        dtype=np.int64,
    )
    assert len(want) == len(got) == 1999
    order_got = np.lexsort((got[:, 1], got[:, 0]))
    order_want = np.lexsort((want[:, 1], want[:, 0]))
    assert np.array_equal(got[order_got], want[order_want])


def test_star_edges_linear_in_bucket_size(spark):
    """A boilerplate text under 10,000 ids costs O(n) edge rows: every
    band, the exact one included, emits n - 1 star edges instead of the
    n(n-1)/2 pairs of its clique, and the union-find keeps one id."""
    import numpy as np
    import pyarrow as pa

    from parquet_converters_spark.functions.dedup import (
        minhash_lsh_pairs,
        near_dedup_pipeline,
        near_dedup_survivors,
    )
    from parquet_converters_spark.session import free_local_checkpoints

    n = 10_000
    rng = np.random.default_rng(5)
    ids = rng.choice(10**9, n, replace=False).astype(np.int64)
    df = spark.createDataFrame(
        pa.table({"doc_id": ids, "text": ["the same cookie banner on every page"] * n})
    )
    lsh = minhash_lsh_pairs(df, pair_distinct=False)
    assert lsh.count() == 4 * (n - 1)
    _, star = near_dedup_pipeline(df, pair_distinct=False)
    by_band = {r["band"]: r["count"] for r in star.groupBy("band").count().collect()}
    assert by_band == {b: n - 1 for b in range(5)}
    assert {r[0] for r in star.select("id_a").distinct().collect()} == {int(ids.min())}
    survivors = near_dedup_survivors(df)
    assert [r["doc_id"] for r in survivors.collect()] == [int(ids.min())]
    assert free_local_checkpoints(survivors) == 1


def test_near_dedup_survivors_driver_path_matches_distributed(
    spark, tmp_path, monkeypatch
):
    """The union-find survivors equal those of the distributed
    connected-components rounds the path takes above the edge cap, and
    both paths run the banding pass once: the rounds read the pairs'
    checkpoint instead of recomputing the LSH exchange."""
    from parquet_converters_spark.functions import dedup as D
    from parquet_converters_spark.operators import graph as G
    from parquet_converters_spark.session import free_local_checkpoints

    path = str(tmp_path / "docs.parquet")
    _write_doc_corpus(path, 400, seed=9)
    docs = spark.read.parquet(path).repartition(3)
    passes = spark.sparkContext.accumulator(0)
    kernel = D._band_batches

    def counted(batches, **kwargs):
        passes.add(1)
        yield from kernel(batches, **kwargs)

    monkeypatch.setattr(D, "_band_batches", counted)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())

    def survivors():
        start = passes.value
        out = D.near_dedup_survivors(docs)
        ids = sorted(r["doc_id"] for r in out.collect())
        assert len(set(jsc.getPersistentRDDs().keySet().toArray()) - before) == 1
        assert free_local_checkpoints(out) == 1
        return ids, passes.value - start

    want, fast_passes = survivors()
    monkeypatch.setattr(G, "_CC_DRIVER_MAX_EDGES", 0)
    got, slow_passes = survivors()
    assert got == want
    assert len(want) < docs.count()
    # one kernel task per partition of the representatives, once
    assert 0 < slow_passes == fast_passes <= 3


def test_input_partitions_runs_no_job(spark, tmp_path):
    """prepare_corpus reads its input's partition count from the plan:
    a plain scan gives its count, and a plan whose preparation would
    run a job (a broadcast, even with adaptive execution off) gives
    None, with no job either way."""
    from parquet_converters_spark.pipelines import _input_partitions

    path = str(tmp_path / "docs.parquet")
    _write_doc_corpus(path, 200, seed=2)
    docs = spark.read.parquet(path)
    small = spark.createDataFrame([(5, "x")], "doc_id long, tag string")
    joined = docs.join(F.broadcast(small), "doc_id")
    got = {}
    assert _job_count(spark, lambda: got.update(scan=_input_partitions(docs))) == 0
    assert got["scan"] == 1
    conf = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert _job_count(spark, lambda: got.update(bc=_input_partitions(joined))) == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", conf)
    assert got["bc"] is None
    assert _input_partitions(docs.repartition(3)) is None


def _clique_oracle(docs):
    """prepare_corpus's report and survivor ids the clique way: the
    quality gate, exact_dedup, LSH clique pairs over the representatives
    and the distributed star connected components."""
    from parquet_converters_spark.functions import dedup as D
    from parquet_converters_spark.functions.text import quality_score
    from parquet_converters_spark.operators.graph import connected_components
    from parquet_converters_spark.session import free_local_checkpoints

    gate = (
        (F.length("text") >= 50)
        & (F.length("text") <= 10000)
        & (quality_score("text") >= 0.5)
    )
    quality = docs.filter(gate)
    groups = D.exact_dedup(quality)
    reps = {r["keep_id"] for r in groups.collect()}
    pairs = D.minhash_lsh_pairs(D._representatives(quality, groups, "doc_id"))
    labels = connected_components(pairs, method="star")
    losers = {r["node"] for r in labels.collect() if r["node"] != r["component"]}
    free_local_checkpoints(labels)
    report = {
        "raw": docs.count(),
        "quality": quality.count(),
        "exact_unique": len(reps),
        "near_unique": len(reps - losers),
    }
    return report, reps - losers


def test_prepare_corpus_job_budget(spark, tmp_path, monkeypatch):
    """prepare_corpus gates and hashes each document once: the call and
    its report run at most 5 Spark jobs, the report equals an explicit
    recount, only the returned frame stays pinned, and the candidate
    pairs it built stay computable after the call."""
    from parquet_converters_spark.functions import dedup as D
    from parquet_converters_spark.pipelines import prepare_corpus
    from parquet_converters_spark.session import free_local_checkpoints

    path = str(tmp_path / "docs.parquet")
    _write_doc_corpus(path, 1500, seed=5)
    docs = spark.read.parquet(path)
    captured = []
    pipeline = D.near_dedup_pipeline

    def capture(*args, **kwargs):
        out = pipeline(*args, **kwargs)
        captured.append((args, kwargs, out))
        return out

    monkeypatch.setattr(D, "near_dedup_pipeline", capture)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    result = {}

    def call():
        clean, report = prepare_corpus(docs)
        result["clean"] = clean
        result["report"] = {r["stage"]: r["n_docs"] for r in report.collect()}

    assert _job_count(spark, call) <= 5
    clean, report = result["clean"], result["report"]
    assert len(set(jsc.getPersistentRDDs().keySet().toArray()) - before) == 1
    assert clean.rdd.getNumPartitions() == 1

    want, survivors = _clique_oracle(docs)
    assert report == want
    assert report["raw"] > report["quality"] > report["exact_unique"] > report["near_unique"]
    assert {r["doc_id"] for r in clean.collect()} == survivors

    # the pairs frame the call captured is recomputable, and so is a
    # verified rerun of the pipeline that built it
    ((args, kwargs, (_, captured_pairs)),) = captured
    quality = args[0]
    assert captured_pairs.count() == pipeline(quality, pair_distinct=False)[1].count()
    assert pipeline(*args, **{**kwargs, "jaccard_threshold": 0.5})[1].count() > 0

    assert free_local_checkpoints(clean) == 1
    assert not set(jsc.getPersistentRDDs().keySet().toArray()) - before


def test_prepare_corpus_matches_clique_oracle_on_duplicate_families(spark, tmp_path):
    """Exact-duplicate groups that also have near duplicates, and near
    duplicates with exact copies of their own: the star edges (exact band
    included) keep the survivors and the report of exact dedup, clique
    pairs over the representatives and connected components."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_converters_spark.pipelines import prepare_corpus
    from parquet_converters_spark.session import free_local_checkpoints

    rng = np.random.default_rng(21)
    vocab = [f"w{i}x" for i in range(2000)]
    texts = []
    for _ in range(120):
        words = rng.choice(vocab, int(rng.integers(50, 80))).tolist()
        words[:3] = ["the", "and", "of"]
        family = [" ".join(words)] * int(rng.integers(1, 4))
        for _ in range(int(rng.integers(0, 3))):
            variant = list(words)
            variant[int(rng.integers(3, len(words)))] = str(rng.choice(vocab))
            family += [" ".join(variant)] * int(rng.integers(1, 3))
        texts += family
    texts += ["too short"] * 5
    texts = [texts[i] for i in rng.permutation(len(texts))]
    ids = rng.choice(10**6, len(texts), replace=False).astype(np.int64)
    path = str(tmp_path / "families.parquet")
    pq.write_table(pa.table({"doc_id": ids, "text": texts}), path)
    docs = spark.read.parquet(path)

    clean, report = prepare_corpus(docs)
    want, survivors = _clique_oracle(docs)
    assert {r["stage"]: r["n_docs"] for r in report.collect()} == want
    assert {r["doc_id"] for r in clean.collect()} == survivors
    assert want["quality"] > want["exact_unique"] > want["near_unique"]
    free_local_checkpoints(clean)


def test_ivfpq_arrow_expr_identical_and_adc_replica(spark, sf_dir):
    """IVF-PQ invariants: (a) the Arrow-vectorized encoder and the
    pure-expression encoder produce BITWISE-identical results (same
    left-assoc doubles, same first-min tie rule); (b) results are
    invariant under repartition; (c) a driver-side numpy replica
    reproduces the ADC distances of the returned pairs."""
    import numpy as np

    from parquet_converters_spark.functions.similarity import (
        ivf_pq_topk,
        pq_sample_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    a = ivf_pq_topk(emb, queries, encode="arrow").orderBy("query_id", "rank")
    e = ivf_pq_topk(emb, queries, encode="expr").orderBy("query_id", "rank")
    ra = [tuple(r) for r in a.collect()]
    assert ra == [tuple(r) for r in e.collect()]
    rb = [
        tuple(r)
        for r in ivf_pq_topk(emb.repartition(13), queries, encode="arrow")
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert ra == rb
    assert len(ra) > 0 and all(r[1] <= 5 for r in ra)

    cbs = pq_sample_codebooks(emb, 32, 256, 2)
    cbs = [np.array(cb) for cb in cbs]
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def codes(v):
        out = []
        for s, cb in enumerate(cbs):
            sub = v[s * 2 : (s + 1) * 2]
            d = np.zeros(len(cb))
            for j in range(2):
                t = sub[j] - cb[:, j]
                d = d + t * t
            out.append(int(d.argmin()))
        return out

    def adc(q, x):
        cs = codes(x)
        total = 0.0
        for s, cb in enumerate(cbs):
            sub = q[s * 2 : (s + 1) * 2]
            d = 0.0
            for j in range(2):
                t = sub[j] - cb[cs[s]][j]
                d = d + t * t
            total += d
        return total

    for qid, rank, nid, adc_d2 in ra:
        expect = adc(vecs[qid], vecs[nid])
        assert abs(adc_d2 - expect) < 1e-6, (qid, nid, adc_d2, expect)


def test_canonicalize_url_edge_cases(spark):
    """r13 canonicalize_url: beyond the six driver-query variant
    classes — https:443, bare host, multi-tracking-param queries,
    preserved path case and real params, idempotence."""
    from pyspark.sql import functions as F

    from parquet_converters_spark.functions.text import (
        canonicalize_url,
        url_host,
    )

    cases = [
        ("HTTPS://Example.COM:443/A/B", "https://example.com/A/B"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/?utm_source=a", "http://example.com/"),
        ("http://example.com/p?a=1&utm_medium=m&b=2&gclid=g",
         "http://example.com/p?a=1&b=2"),
        ("http://example.com/p?utm_a=1&utm_b=2#f",
         "http://example.com/p"),
        ("http://www.Example.com//x//Y//", "http://www.example.com/x/Y"),
        ("http://example.com:8080/p", "http://example.com:8080/p"),
        ("https://example.com:80/p", "https://example.com:80/p"),
        # component isolation (r13 review): cleanups must not leak
        # across path/query boundaries
        ("http://example.com/p?path=//tmp/x",
         "http://example.com/p?path=//tmp/x"),   # // in a query VALUE
        ("http://example.com/p?dir=/tmp/",
         "http://example.com/p?dir=/tmp/"),      # trailing / in a value
        ("http://example.com/a&utm_source=feed",
         "http://example.com/a&utm_source=feed"),  # & in a PATH
        ("http://example.com/?id=7",
         "http://example.com/?id=7"),            # root path kept
        # RFC 3986 §3.1 schemes with digits/+/./- (r13 ADVICE): the
        # base pattern must keep the '//' of s3+http:// etc. intact
        ("s3+http://Bucket.Host/Key//x",
         "s3+http://bucket.host/Key/x"),
        ("svn+ssh://Repo.example.com/trunk/",
         "svn+ssh://repo.example.com/trunk"),
        ("chrome-extension://abcDEF/page?utm_source=x",
         "chrome-extension://abcdef/page"),
        ("web+ap://example.com", "web+ap://example.com/"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               ["i", "u"])
    got = {
        r["i"]: (r["c"], r["h"])
        for r in df.select(
            "i",
            canonicalize_url("u").alias("c"),
            url_host(canonicalize_url("u")).alias("h"),
        ).collect()
    }
    for i, (raw, want) in enumerate(cases):
        assert got[i][0] == want, (raw, got[i][0], want)
    assert got[0][1] == "example.com"
    assert got[5][1] == "example.com"  # www. stripped
    assert got[12][1] == "bucket.host"  # exotic scheme still hosts
    # idempotence: canonicalize(canonicalize(x)) == canonicalize(x)
    twice = {
        r["i"]: r["c2"]
        for r in df.select(
            "i", canonicalize_url(canonicalize_url("u")).alias("c2")
        ).collect()
    }
    for i in got:
        assert twice[i] == got[i][0], i
