"""Converter-pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload converter_chain --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12   # every workload, one table
    python3 perfbench/run.py --smoke                                # tiny self-test

A run starts one SparkSession on ``local[nproc]``, times its set-up, builds
the workload's seeded inputs (untimed), then calls the workload in a
closed loop with one client until ``--seconds`` of timed work have passed,
checking every call's outputs outside the timing.  A workload with
``warm_up`` set makes one untimed call first; for one without, the
benchmark's ``run_seconds`` is shorter than a call, so its one timed call
is the session's first, as a one-shot converter run pays it.  The last
line of standard output is
the JSON result: ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a separate traced phase (see
``tracing.py``).  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402  -- after the process-start timestamp
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SETUP_SAMPLES = 3

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "out_bytes_ratio": "bytes/byte",
    "pass_rate": "fraction",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_environment() -> None:
    """Everything the JVM and its Python workers inherit: the core count
    (get_spark defaults to local[32]), the package root for workers that
    import the engine, and scratch directories inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "eventlog"))
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(event_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # JVM scratch inside the checkout; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    """A ready session: built by the engine's factory, first trivial job done."""
    from parquet_converters_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    spark.range(1).count()
    return spark


def restart_session(spark, conf: dict[str, str]) -> tuple[object, float]:
    spark.stop()
    t0 = time.perf_counter()
    spark = start_session(conf)
    return spark, time.perf_counter() - t0


def stop_session() -> None:
    """Stop Spark and the JVM it runs in, if started, and wait until every
    process this run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    from tracing import process_tree

    started = process_tree(os.getpid()) - {os.getpid()}
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time per state (user, nice, system, idle, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a slow host shows here, not in the engine."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def pinned_mb(spark) -> float:
    """Storage still held by cached / checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def release_storage(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def measure(spark, wl, seconds: float, min_runs: int = 1, around=None) -> dict:
    """Closed loop with one client: the next call starts when the previous
    one has returned and been checked, until ``seconds`` of timed work and
    at least ``min_runs`` calls.  ``around(i)``, when given, returns a
    context entered around the timed part of call ``i`` only (the traced
    phase's instrumentation).  Returns per-call wall time, JVM GC time and
    storage still cached when the call returned."""
    walls, gcs, pins, attempted, failed = [], [], [], 0, 0
    while sum(walls) < seconds or len(walls) < min_runs:
        wl.reset()
        gc0 = jvm_gc_s(spark)
        with around(len(walls)) if around else contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                result = wl.run()
                ok = True
            except Exception:  # a failed run is counted, not fatal
                traceback.print_exc()
                result, ok = None, False
            wall = time.perf_counter() - t0
        gcs.append(jvm_gc_s(spark) - gc0)
        attempted += 1
        if ok:
            try:
                wl.check(result)
            except Exception as e:  # includes CheckFailed
                print(f"[{wl.name}] output check failed: {e!r}", file=sys.stderr)
                ok = False
        failed += not ok
        walls.append(wall)
        pins.append(pinned_mb(spark))
        release_storage(spark)
    return {"walls": walls, "gcs": gcs, "pins": pins, "attempted": attempted, "failed": failed}


def run_workload(name: str, seed: int, seconds: float, trace: bool, profile: str = "full") -> dict:
    from gen import SIZES
    from workloads import WORKLOADS

    # the traced phase needs Spark's event log, a launch-time setting: a
    # --trace 1 process runs with it on throughout
    conf = session_conf(os.path.join(WORK, "eventlog") if trace else None)
    spark = start_session(conf)
    cold = time.perf_counter() - _T_PROCESS
    setups = []
    for _ in range(SETUP_SAMPLES):
        spark, dt = restart_session(spark, conf)
        setups.append(dt)

    phases = {"cold_start": cold, "setups": sum(setups)}
    t0 = time.perf_counter()
    work = os.path.join(WORK, name)
    os.makedirs(work)
    wl = WORKLOADS[name](spark, work, seed, SIZES[profile][name])
    wl.prepare()
    phases["prepare"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    if wl.warm_up:
        # the first call pays class loading, code generation and Python
        # worker start-up and runs slower than later ones; it is not timed
        wl.reset()
        wl.check(wl.run())
        release_storage(spark)
        phases["warm_up"] = time.perf_counter() - t0
        t0 = time.perf_counter()

    if trace:
        from tracing import traced_phase

        metrics, attempted, failed = traced_phase(wl, cold, measure)
    else:
        ticks = cpu_ticks()
        m = measure(spark, wl, seconds)
        steal = steal_share(ticks, cpu_ticks())
        attempted, failed = m["attempted"], m["failed"]
        walls = m["walls"]
        metrics = {
            "setup_s": statistics.median(setups),
            "rows_per_s": wl.rows / statistics.median(walls),
            "out_bytes_ratio": wl.out_bytes() / wl.in_bytes(),
            "pass_rate": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        print(
            f"[{name}] rows={wl.rows} runs={len(walls)} walls={[round(w, 3) for w in walls]} "
            f"wall_s median={statistics.median(walls):.4f} min={min(walls):.4f} max={max(walls):.4f} "
            f"setup_s samples={[round(s, 4) for s in setups]} host steal={steal:.3f}",
            file=sys.stderr,
        )
    phases["measure"] = time.perf_counter() - t0
    print(f"[{name}] phases_s " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()), file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def run_all(seed: int, seconds: float, trace: int) -> int:
    """Every workload in its own process, then one summary table."""
    from workloads import WORKLOADS

    rows, rc = [], 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"{name}: exit code {p.returncode}", file=sys.stderr)
            rc = 1
            continue
        res = json.loads(lines[-1])
        rc |= not res["correct"]
        for metric, v in res["metrics"].items():
            rows.append((name, metric, v["value"], v["unit"], res["attempted"], res["failed"]))
    print(f"{'workload':16} {'metric':44} {'value':>14} unit       runs failed")
    for name, metric, value, unit, att, fail in rows:
        print(f"{name:16} {metric:44} {value:14.6g} {unit:10} {att:4} {fail:6}")
    return rc


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="converter-pipeline benchmark")
    ap.add_argument("--workload", default="all", choices=["all", *WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--profile", choices=["full", "smoke"], default="full", help="input sizes")
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, every workload, assert every metric")
    a = ap.parse_args(argv)

    _prepare_environment()
    import parquet_converters_spark  # noqa: F401  -- fail fast without the engine

    if a.smoke:
        from smoke import smoke

        return smoke()
    if a.workload == "all":
        return run_all(a.seed, a.seconds, a.trace)
    try:
        res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace), a.profile)
    finally:
        stop_session()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
