"""Scale probe: time a set of registry queries (plus the custom HDF5
physical paths) at one sf_dir with bench.py's min-of-N-after-warmup
protocol, writing {name: sec} JSON to a file.

Run it at sf0.1 and at the 10x dataset from make_scale_probe.py, then
compare: exponent = log(t_10x / t_1x) / log(10).  ~1.0 = linear;
sub-linear = fixed-cost-dominated; super-linear needs a documented
reason or a fix (VERDICT r06 item 2 — the engine-side analogue of the
reference's circuit-1k -> 2k CI ladder).

Usage: python scripts/scale_probe.py SF_DIR OUT_JSON NAME [NAME...]
Special names: hdf5_parallel_export, hdf5_distributed_read,
hdf5_compressed_export (lineitem-derived bundle, build untimed).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_converters_spark.queries import QUERIES  # noqa: E402
from parquet_converters_spark.session import get_spark  # noqa: E402

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def timed(fn) -> float:
    fn()  # untimed warmup
    best = float("inf")
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def hdf5_benches(spark, sf_dir: str, wanted: list[str]) -> dict[str, float]:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from parquet_converters_spark.sinks.sonata import (
        SonataBundleWriter,
        export_hdf5_parallel,
    )
    from parquet_converters_spark.sources.ordering import with_global_row_index
    from parquet_converters_spark.sources.sonata_h5 import read_sonata_edges

    tmp = tempfile.mkdtemp(prefix="scale_probe_hdf5_")
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
        gz = os.path.join(tmp, "edges_gz.h5")
        if "hdf5_parallel_export" in wanted:
            out["hdf5_parallel_export"] = timed(
                lambda: export_hdf5_parallel(spark, bundle, "bench", h5)
            )
        if "hdf5_compressed_export" in wanted:
            out["hdf5_compressed_export"] = timed(
                lambda: export_hdf5_parallel(
                    spark, bundle, "bench", gz, compression="gzip"
                )
            )
        if "hdf5_distributed_read" in wanted:
            if not os.path.exists(h5):
                export_hdf5_parallel(spark, bundle, "bench", h5)
            out["hdf5_distributed_read"] = timed(
                lambda: read_sonata_edges(spark, h5, "bench")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    sf_dir, out_path, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark(
        app_name="scale_probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    times: dict[str, float] = {}
    hdf5 = [n for n in names if n.startswith("hdf5_")]
    for name in names:
        if name.startswith("hdf5_"):
            continue
        fn = QUERIES[name][0]
        times[name] = timed(
            lambda: fn(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        print(f"{name}: {times[name]}", flush=True)
    if hdf5:
        times.update(hdf5_benches(spark, sf_dir, hdf5))
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "runs": RUNS, "times": times}, f)
    print(json.dumps(times), flush=True)


if __name__ == "__main__":
    main()
