"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is forced to full materialization with the ``noop`` sink
(all compute, no output I/O) after a JVM/scan warmup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_converters_spark.queries import QUERIES
from parquet_converters_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_volume",
    "adjacency_node_ranges",
    "adjacency_range_to_edge",
    "run_length",
    "run_length_scan",
    "interval_merge",
    "prefix_sum",
    "stream_windowed_agg",
    "stream_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_pipeline",
    "dedup_simhash",
    "json_extract_agg",
    "inter_event_gaps",
    "moving_avg_7d",
    "sim_cosine_topk",
    "sim_lsh_ann",
    "sim_ivf_ann",
    "sim_ivfpq_ann",
    "ann_recall_pq",
    "hybrid_rrf_search",
    "hard_negative_mining",
    "mmr_diverse_topk",
    "ks_drift_test",
    "zorder_layout_plan",
    "vocab_growth_by_source",
    "cms_heavy_hitters",
    "hll_distinct_registers",
    "lsh_pair_eval",
    "q6_selective_agg",
    "q14_brand_revenue",
    "topk_per_group",
    "pivot_event_counts",
    "text_quality",
    "text_language_id",
    "multimodal_decode",
    "q9_product_profit",
    "q13_order_distribution",
    "q16_supplier_part_count",
    "q21_dominant_supplier",
    "asof_join_last_view",
    "band_join_conversions",
    "cube_pricing",
    "distinct_nation_stats",
    "stream_join_pairs",
    "range_window_1h",
    "vector_norm_stats",
    "grouping_sets_pricing",
    "salted_join_brand_revenue",
    "dedup_components",
    "dedup_components_star",
    "dedup_survivors",
    "dedup_simhash_pairs",
    "range_join_error_views",
    "text_top_bigrams",
    "cohort_retention",
    "event_funnel",
    "text_chunking",
    "sequence_packing",
    "sample_split_counts",
    "stream_session_window",
    "sim_ivf_ann_bcast",
    "inverted_index_stats",
    "tfidf_top_terms",
    "bm25_search",
    "bloom_pruned_revenue",
    "scd2_event_history",
    "upsert_latest_state",
    "zscore_outlier_events",
    "weighted_sample_docs",
    "graph_degree_distribution",
    "graph_triangle_stats",
    "containment_pairs",
    "gopher_quality_report",
    "char_entropy_buckets",
    "stratified_sample_counts",
    "expectations_report",
    "winsorized_value_stats",
    "per_source_doc_cap",
    "kmeans_doc_clusters",
    "embedding_pc1",
    "embedding_quantize_error",
    "contamination_matrix",
    "dedup_incremental_bloom",
    "ann_recall_at5",
    "multimodal_audio",
    "bpe_merge_candidates",
    "embedding_standardize_stats",
    "text_pii_redact",
    "skew_key_profile",
    "order_backlog_concurrency",
    "gap_fill_daily",
    "equi_depth_histogram",
    "mixture_plan",
    "compaction_plan",
    "full_outer_reconcile",
    "unpivot_metrics",
    "time_rollup_hierarchy",
    "rolling_7d_distinct_users",
    "dedup_fuzzy_pairs",
    "revenue_share_by_nation",
    "sparse_cosine_topk",
    "event_transition_matrix",
    "mad_outlier_events",
    "monthly_revenue_mom",
    "market_basket_lift",
    "cluster_quality_by_label",
    "text_normalize_report",
    "acctbal_rank_profile",
    "multiset_customer_activity",
    "event_path_topk",
    "nation_supplier_roster",
    "scd2_temporal_enrich",
    "dedup_spans",
    "dedup_spans_intra",
    "source_terms_ctfidf",
    "snapshot_diff_orders",
    "embedding_diversity",
    "psi_value_drift",
    "graph_pagerank",
    "top_ngram_coverage",
    "semantic_dedup_census",
    "value_trend_by_type",
    "numeric_profile_corr",
    "quality_vs_dup_calibration",
    "event_lateness_profile",
    "revenue_share_in_region",
    "session_bounce_stats",
    "chi2_type_by_weekday",
    "lang_confusion_matrix",
    "corpus_prep_funnel",
    # r16: the crawl front end (WARC parse + HTML text + robots gate)
    # and its composed funnel
    "warc_text_census",
    "robots_gate_census",
    "crawl_prep_funnel",
    # r17: the 7-stage production funnel (adds URL-canonical dedup +
    # banded MinHash near-dedup) and the revisit/pairing census
    "crawl_prep_funnel_full",
    "warc_revisit_census",
]


def bench_webp_seam(spark, timed_runs: int) -> dict[str, float]:
    """Time decode_media across the native-codec seams: the from-spec
    VP8L path on a 48-image lossless corpus; the libwebp seam
    (decoder= kwarg) AND (since r11) the from-spec path on a 96-image
    MIXED corpus (48 lossless + 48 libwebp-encoded lossy VP8, which
    vp8_codec.py decodes from spec since r11); and a 32-image JPEG
    corpus through both the from-spec codec and the JDK javax.imageio
    bridge adapter.  Makes the native-swap story measured BENCH rows,
    not SCALE.md prose (VERDICT r10 items 5-6).  Corpus build
    (driver-side encode) is untimed; sf-independent by design — codec
    throughput, not scan throughput."""
    from parquet_converters_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
    )
    from parquet_converters_spark.functions.webp_codec import (
        encode_webp_lossless,
    )

    w, h = 128, 96

    def pattern(seed: int) -> bytes:
        return bytes(
            (x * 7 + y * 13 + ch * 29 + seed) % 256
            for y in range(h)
            for x in range(w)
            for ch in range(3)
        )

    def _encode_one(i: int):
        # runs on executors: the r12 encoder's candidate search
        # (cache sweep + tiled predictor + meta) costs ~0.6 s/img
        # driver-side; fanning the UNTIMED corpus build across the 32
        # local cores keeps bench wall-clock flat
        from parquet_converters_spark.functions.webp_codec import (
            encode_webp_lossless as enc,
        )

        return i, enc(w, h, 3, pattern(i))

    sc = spark.sparkContext
    lossless = [
        (i, "image", bytearray(payload), "image/webp", 0)
        for i, payload in sorted(
            sc.parallelize(range(48), 48).map(_encode_one).collect()
        )
    ]
    rows_mixed = list(lossless)
    try:
        from parquet_converters_spark.functions.native_codecs import (
            libwebp_encode_lossy_rgb,
            libwebp_media_decoder,
        )

        dec = libwebp_media_decoder()
        rows_mixed += [
            (1000 + i, "image",
             bytearray(libwebp_encode_lossy_rgb(w, h, pattern(i))),
             "image/webp", 0)
            for i in range(48)
        ]
    except Exception:
        dec = None  # no libwebp on this box: record the from-spec row only

    df_ll = spark.createDataFrame(lossless, MEDIA_SCHEMA).repartition(32)
    df_ll.persist().count()

    def timed(fn):
        fn()
        best = float("inf")
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    out = {
        "webp_decode_fromspec": timed(
            lambda: decode_media(df_ll, n_features=4)
            .write.format("noop").mode("overwrite").save()
        )
    }
    if dec is not None:
        df_mx = spark.createDataFrame(rows_mixed, MEDIA_SCHEMA).repartition(
            32
        )
        df_mx.persist().count()
        out["webp_decode_seam_mixed"] = timed(
            lambda: decode_media(df_mx, n_features=4, decoder=dec)
            .write.format("noop").mode("overwrite").save()
        )
        # r11: the from-spec path decodes the same mixed corpus too
        # (lossy VP8 via vp8_codec.py) — keep its cost on record
        out["webp_decode_fromspec_mixed"] = timed(
            lambda: decode_media(df_mx, n_features=4)
            .write.format("noop").mode("overwrite").save()
        )
        df_mx.unpersist()
    df_ll.unpersist()

    # JDK ImageIO seam (r11): JPEG corpus through the from-spec codec
    # vs the javax.imageio bridge — the other measured native swap
    try:
        from parquet_converters_spark.functions.jpeg_codec import (
            encode_jpeg,
        )
        from parquet_converters_spark.functions.native_codecs import (
            jdk_imageio_media_decoder,
        )

        jdec = jdk_imageio_media_decoder()
        jpgs = [
            (2000 + i, "image",
             bytearray(encode_jpeg(w, h, 3, pattern(i))),
             "image/jpeg", 0)
            for i in range(32)
        ]
        df_j = spark.createDataFrame(jpgs, MEDIA_SCHEMA).repartition(32)
        df_j.persist().count()
        out["jpeg_decode_fromspec"] = timed(
            lambda: decode_media(df_j, n_features=4)
            .write.format("noop").mode("overwrite").save()
        )
        def jdk_seam_fn():
            decode_media(df_j, n_features=4, decoder=jdec) \
                .write.format("noop").mode("overwrite").save()

        # r17 (verdict item 2): same fix as the audio seam at r16 —
        # the JDK bridge JVM spawns lazily per python worker, so the
        # single warmup inside timed() can still pay worker-churn
        # respawns (the r16 driver read 4.04 s vs 0.32 s idle).  One
        # EXTRA untimed pre-touch stabilizes the row.  The webp seam
        # needs none: its bridge is in-process ctypes, no JVM spawn.
        jdk_seam_fn()
        out["jpeg_decode_jdk_seam"] = timed(jdk_seam_fn)
        df_j.unpersist()
    except Exception:
        pass  # no javac on this box: skip the JDK rows
    return out


def bench_audio_seam(spark, timed_runs: int) -> dict[str, float]:
    """Time decode_media across the r12 audio surface: a 64-file FLAC
    corpus through the from-spec RFC 9639 decoder, and a 64-file
    G.711+PCM16 WAV corpus through both the from-spec path and the
    javax.sound bridge seam.  The FLAC corpus is authored by the
    independent test-side encoder (tests/flac_craft.py — the only FLAC
    writer in this container); corpus build is untimed, rows are
    sf-independent codec throughput like the webp/jpeg trio."""
    import os
    import sys

    from parquet_converters_spark.functions.audio_codecs import (
        encode_wav_g711,
    )
    from parquet_converters_spark.functions.media_codecs import encode_wav
    from parquet_converters_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
    )

    def smooth(n, seed, amp=20000):
        out, acc, x = [], 0, seed
        for _ in range(n):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
            acc += ((x >> 7) % (amp // 4)) - (amp // 8)
            out.append(max(-amp, min(amp - 1, acc)))
        return out

    def timed(fn):
        fn()
        best = float("inf")
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    out: dict[str, float] = {}
    n_samples = 8000  # 1 s of 8 kHz mono per file
    wavs = []
    for i in range(64):
        pcm = smooth(n_samples, 100 + i)
        if i % 4 == 0:
            payload = encode_wav(8000, pcm)
        else:
            law = "ulaw" if i % 2 else "alaw"
            payload = encode_wav_g711(8000, pcm, law)
        wavs.append((i, "audio", bytearray(payload), "audio/wav", 0))
    df_w = spark.createDataFrame(wavs, MEDIA_SCHEMA).repartition(32)
    df_w.persist().count()
    out["audio_wav_decode_fromspec"] = timed(
        lambda: decode_media(df_w, n_features=4)
        .write.format("noop").mode("overwrite").save()
    )
    # r13: the audio sink path — decode the mixed corpus and re-encode
    # to FLAC through the production encoder (functions/flac_encoder.py)
    from parquet_converters_spark.functions.multimodal import (
        transcode_audio,
    )

    out["audio_transcode_flac"] = timed(
        lambda: transcode_audio(df_w, target="flac")
        .write.format("noop").mode("overwrite").save()
    )
    # r14: corpus rate normalization — the standard 44.1 kHz -> 16 kHz
    # ASR-prep pass (decode -> integer-linear resample -> re-encode),
    # 64 one-second 44.1 kHz files through resample_to=
    hi = [
        (100 + i, "audio",
         bytearray(encode_wav(44100, smooth(44100, 300 + i))),
         "audio/wav", 0)
        for i in range(64)
    ]
    df_hi = spark.createDataFrame(hi, MEDIA_SCHEMA).repartition(32)
    df_hi.persist().count()
    out["audio_resample_44k_to_16k"] = timed(
        lambda: transcode_audio(df_hi, target="wav", resample_to=16000)
        .write.format("noop").mode("overwrite").save()
    )
    df_hi.unpersist()
    # r13: the header-only triage pass over the same corpus — the
    # first pass a 100 TB media pipeline runs before any decode
    from parquet_converters_spark.functions.media_probe import probe_media

    out["probe_media_headers"] = timed(
        lambda: probe_media(df_w)
        .write.format("noop").mode("overwrite").save()
    )
    # r14: the container walkers (Ogg pages, ISO-BMFF boxes, EBML,
    # MPEG frame headers) priced separately — 256 crafted payloads
    # per family so the row isolates walker cost from WAV sniffing
    def _containers():
        from parquet_converters_spark.functions.media_craft import (
            UNKNOWN_SIZE_SEGMENT,
            WEBM_HEADER,
            mp4_box,
            mp4_mvhd,
            ogg_page,
            vorbis_id_packet,
            webm_info,
        )

        ogg = ogg_page(0, vorbis_id_packet(44100, 2))
        mp4 = (mp4_box(b"ftyp", b"isom" + b"\x00" * 8 + b"isom")
               + mp4_box(b"moov", mp4_mvhd(600, 3000) + b"\x00" * 12))
        webm = WEBM_HEADER + UNKNOWN_SIZE_SEGMENT + webm_info(9000.0)
        mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 413
        fams = [ogg, mp4, webm, mp3]
        return [
            (1000 + i, "other", bytearray(fams[i % 4]), None, 0)
            for i in range(1024)
        ]

    df_c = spark.createDataFrame(_containers(), MEDIA_SCHEMA).repartition(32)
    df_c.persist().count()
    out["probe_media_containers"] = timed(
        lambda: probe_media(df_c)
        .write.format("noop").mode("overwrite").save()
    )
    df_c.unpersist()
    try:
        from parquet_converters_spark.functions.native_codecs import (
            jdk_sound_media_decoder,
        )

        sdec = jdk_sound_media_decoder()

        def seam_fn():
            decode_media(df_w, n_features=4, decoder=sdec) \
                .write.format("noop").mode("overwrite").save()

        # r16 adjudication of the r15 1.97x driver mover: the bridge
        # JVM spawns lazily per python worker, so the single warmup
        # inside timed() can still pay worker-churn respawns — one
        # EXTRA untimed pre-touch stabilizes the row (idle min-of-8
        # re-measured 0.335 s, the r14 level; SCALE.md "r16 — seam
        # row adjudication")
        seam_fn()
        out["audio_wav_decode_jdk_seam"] = timed(seam_fn)
    except Exception:
        pass  # no javac on this box: skip the JDK row
    df_w.unpersist()

    # FLAC corpus: the crafter lives in tests/ (it is test
    # infrastructure — the engine decodes FLAC, it does not write it)
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.abspath(__file__)), "tests"))
        from flac_craft import encode_flac
    except Exception:
        return out  # no crafter available: skip the FLAC row
    flacs = [
        (200 + i, "audio",
         bytearray(encode_flac(
             [smooth(n_samples, 200 + i)], 8000, 16,
             modes=[("fixed", 2)], block_size=1024,
         )),
         "audio/flac", 0)
        for i in range(64)
    ]
    df_f = spark.createDataFrame(flacs, MEDIA_SCHEMA).repartition(32)
    df_f.persist().count()
    out["flac_decode_fromspec"] = timed(
        lambda: decode_media(df_f, n_features=4)
        .write.format("noop").mode("overwrite").save()
    )
    df_f.unpersist()
    return out


def bench_hdf5_parallel(spark, sf_dir: str, timed_runs: int) -> dict[str, float]:
    """Time the one genuinely custom physical component — the parallel
    SONATA HDF5 export (per-partition pwrite at precomputed offsets) and
    the row-slice `.h5` ingest — on an sf-proportional synthetic edge
    bundle derived from lineitem, so regressions in the seek/decode path
    are caught by the same min-of-N harness that protects the queries
    (VERDICT r04 item 5).  Fixture build (bundle write) is untimed."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from parquet_converters_spark.sinks.sonata import (
        SonataBundleWriter,
        export_hdf5_parallel,
    )
    from parquet_converters_spark.sources.ordering import with_global_row_index
    from parquet_converters_spark.sources.sonata_h5 import read_sonata_edges

    tmp = tempfile.mkdtemp(prefix="bench_hdf5_")
    out: dict[str, float] = {}
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            F.col("l_orderkey").alias("source_node_id"),
            F.col("l_partkey").alias("target_node_id"),
            F.lit(0).cast("long").alias("edge_type_id"),
            F.col("l_extendedprice").cast("double").alias("weight"),
        )
        bundle = os.path.join(tmp, "bundle")
        SonataBundleWriter(bundle, "bench").write(
            with_global_row_index(li), with_index=False
        )
        h5 = os.path.join(tmp, "edges.h5")

        def timed(fn):
            fn()  # untimed warmup, like the query loop
            best = float("inf")
            for _ in range(timed_runs):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        out["hdf5_parallel_export"] = timed(
            lambda: export_hdf5_parallel(spark, bundle, "bench", h5)
        )
        out["hdf5_distributed_read"] = timed(
            lambda: read_sonata_edges(spark, h5, "bench")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def bench_bloom_lookup(spark, sf_dir: str, timed_runs: int) -> dict[str, float]:
    """Time the Bloom read side (r16 verdict item 2): sf-proportional
    lineitem written canonical with a split-block filter on
    l_orderkey (hash-repartitioned so min/max stats cannot prune an
    in-range probe), then 8 equality point probes — absent keys
    bloom-skip every row group, present keys keep only theirs.  The
    write is untimed fixture build; the timed row is what a 100 TB
    point lookup pays per probe through Spark's own reader with
    ``parquet.filter.bloom.enabled`` (the default) honoring the W1
    sink's filters."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from parquet_converters_spark.sinks.parquet_sink import (
        write_canonical_parquet,
    )

    tmp = tempfile.mkdtemp(prefix="bench_bloom_")
    out: dict[str, float] = {}
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_extendedprice"
        )
        tab = os.path.join(tmp, "li_bloom")
        write_canonical_parquet(
            li.repartition(16), tab,
            bloom_filter_columns=["l_orderkey"], metadata_sidecar=False,
        )
        kmax = int(li.agg(F.max("l_orderkey")).collect()[0][0])
        present = [r[0] for r in li.select("l_orderkey").distinct()
                   .orderBy(F.hash("l_orderkey")).limit(4).collect()]
        # orderkeys are sparse in 0..kmax (TPC-H leaves ~2% gaps):
        # anti-join ~1000 candidates against the key set — stays
        # distributed, nothing unbounded reaches the driver
        step = max(1, kmax // 1009)
        absent = [r[0] for r in (
            spark.range(1, kmax, step).select(F.col("id").alias("k"))
            .join(li.select(F.col("l_orderkey").alias("k")).distinct(),
                  "k", "left_anti")
            .orderBy("k").limit(4).collect()
        )]
        probes = absent + present

        def run():
            for key in probes:
                spark.read.parquet(tab).filter(
                    F.col("l_orderkey") == key
                ).write.format("noop").mode("overwrite").save()

        run()  # untimed warmup
        best = float("inf")
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
        out["bloom_point_lookup"] = round(best, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- machine-state canaries (r14 VERDICT item 3) ---------------------------
# Three fixed workloads on NEVER-CHANGING code paths, one per
# machine-sensitive regime: pure JVM whole-stage codegen (no repo
# code, no I/O), the shuffle machinery, and the Arrow/Python-worker
# lane.  Their idle min-of-8 references are recorded ONCE below
# (measured on this box, SCALE.md "bench canaries"); every bench run
# re-times them and ships box_factor = median(time / idle_ref), so a
# driver-record mover that sits inside the canary band is adjudicated
# as machine state — not code — without a min-of-8 re-investigation.
CANARY_IDLE_REF: dict[str, float] = {
    "canary_jvm_range": 0.223,
    "canary_shuffle": 0.436,
    "canary_python_arrow": 0.821,
}


def bench_canaries(spark, timed_runs: int) -> dict[str, float]:
    """Time the three canaries; sf-independent by construction."""
    from pyspark.sql import functions as F

    def timed(fn):
        fn()
        best = float("inf")
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    def jvm_range():
        (spark.range(1 << 29)
         .select(F.sum(F.col("id") % 7).alias("s"),
                 F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())

    def shuffle():
        (spark.range(1 << 24)
         .groupBy((F.col("id") % 65536).alias("k"))
         .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
         .write.format("noop").mode("overwrite").save())

    def python_arrow():
        import numpy as np
        import pandas as pd

        def f(batches):
            for pdf in batches:
                x = pdf["id"].to_numpy(dtype="float64")
                yield pd.DataFrame({"x": np.sqrt(x) + np.sin(x)})

        (spark.range(1 << 22).repartition(32).mapInPandas(f, "x double")
         .write.format("noop").mode("overwrite").save())

    return {
        "canary_jvm_range": timed(jvm_range),
        "canary_shuffle": timed(shuffle),
        "canary_python_arrow": timed(python_arrow),
    }


def box_factor(canaries: dict[str, float]) -> float:
    """Median per-canary elevation over the recorded idle references —
    1.0 on an idle box, >1 under whole-box contention."""
    ratios = sorted(
        canaries[k] / ref for k, ref in CANARY_IDLE_REF.items()
        if k in canaries and ref > 0
    )
    if not ratios:
        return 1.0
    mid = len(ratios) // 2
    med = ratios[mid] if len(ratios) % 2 else \
        (ratios[mid - 1] + ratios[mid]) / 2
    return round(med, 3)


def _wait_for_idle(max_wait_sec: float = 90.0) -> None:
    """Bounded wait for the box to go quiet before timing anything.

    The driver record landed in SCALE.md's contended band three rounds
    running (r10-r12), each time re-measured idle as pure noise — the
    usual cause is the driver's own preceding work (pytest/duckdb
    gates) still winding down when bench starts.  Waiting out a high
    1-min loadavg (up to 90 s, logged to stderr) attacks that cause
    directly; min-of-N below handles the residual transient slices.
    """
    try:
        threshold = max(4.0, os.cpu_count() / 4)
    except TypeError:
        threshold = 8.0
    waited = 0.0
    while waited < max_wait_sec:
        try:
            with open("/proc/loadavg") as f:
                load1 = float(f.read().split()[0])
        except (OSError, ValueError):
            return  # no loadavg here: proceed
        if load1 < threshold:
            if waited:
                print(f"bench: waited {waited:.0f}s for load "
                      f"{load1:.1f} < {threshold:.1f}", file=sys.stderr)
            return
        time.sleep(5.0)
        waited += 5.0
    print(f"bench: proceeding after {max_wait_sec:.0f}s wait; "
          "load still high", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # no console progress bars: their \r-spam on stderr is what drowned
    # the driver's output-tail capture in rounds 1-2
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, parquet footers, codegen compilation, Python workers.
    # Warm and time are INTERLEAVED per query (untimed pass, then the
    # timed pass immediately after) so each measurement is that query's
    # steady state — with warm-all-then-time-all, the other ~100
    # queries' warmups evict JIT/code-cache state and the first timed
    # queries pay it back (measured: q1 4.6 s stale vs ~1 s fresh).
    # Cold-JVM codegen (~1-3 s/query, paid once per cluster, never per
    # 100 TB) stays out of the numbers either way.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # min-of-3 timed runs after the untimed warmup (min-of-2 through
    # r12): on a shared box one stolen CPU slice fabricated 10x phantom
    # "regressions" in r03's numbers (bpe_merge_candidates logged
    # 7.33 s vs 1.22 s re-measured on idle hardware — VERDICT r03 item
    # 5), and the two-sample min still landed in the contended band
    # three rounds running (r10-r12).  The min is the right statistic
    # for a deterministic workload: noise only ever adds.
    _wait_for_idle()
    timed_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    times: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name][0]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)

    times.update(bench_hdf5_parallel(spark, sf_dir, timed_runs))
    times.update(bench_bloom_lookup(spark, sf_dir, timed_runs))
    times.update(bench_webp_seam(spark, timed_runs))
    times.update(bench_audio_seam(spark, timed_runs))

    # canaries LAST: they sample the box state the queries just ran
    # under; excluded from the headline total (they measure the
    # machine, not the engine)
    canaries = bench_canaries(spark, timed_runs)
    factor = box_factor(canaries)

    total = round(sum(times.values()), 3)
    # Two lines, detail FIRST: the full per-query line is 100+ entries
    # and round 2's single huge line overflowed the driver's tail
    # capture (BENCH_r02.json "parsed": null).  The LAST line is
    # compact — metric/value/sf plus only the 25 slowest queries — so
    # the tail always retains one parseable JSON line.
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "canaries": canaries,
                "box_factor": factor,
            }
        )
    )
    slowest = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:25]
    )
    # the custom physical path must stay visible in the recorded tail
    # even when it is fast (the driver keeps only the LAST line)
    slowest.update(
        {
            k: v
            for k, v in times.items()
            if k.startswith(("hdf5_", "webp_decode", "jpeg_decode",
                             "audio_", "flac_", "probe_"))
        }
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "n_queries": len(times),
                "canaries": canaries,
                "box_factor": factor,
            }
        )
    )


if __name__ == "__main__":
    main()
