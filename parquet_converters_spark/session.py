"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) in a single
JVM; the configuration below is nevertheless written for a multi-executor
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), explicit shuffle partition count, Arrow transfer for the few
Pandas-UDF paths, and parquet scan sizing that yields ~128 MB splits.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "parquet-converters-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster set it to 2-3x the total executor cores (AQE coalesces the
    excess at runtime, so erring high is safe).

    The Python workers start from ``parquet_converters_spark.worker_daemon``,
    so executors must be able to import this package (every Arrow kernel
    needs that already); ``extra_conf`` can override
    ``spark.python.daemon.module`` like any other setting.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # deterministic timestamp handling for the duckdb oracle
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events table carries TIMESTAMP(NANOS) which Spark
        # has no native type for; read as long (ns since epoch) and
        # convert explicitly (queries._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # no call-site capture per DataFrame call: it imports IPython on
        # the first one and retries a failing ``import ipykernel`` on
        # every later one
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from the engine's daemon, whose tasks skip
        # re-reading unchanged zip archives (worker_daemon.py)
        .config("spark.python.daemon.module", "parquet_converters_spark.worker_daemon")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def without_adaptive(spark: SparkSession):
    """Plan and run the queries of the block with adaptive execution off,
    then restore the session's setting.

    With it on, every shuffle stage of a query runs as a Spark job of its
    own, each paying the fixed cost of a job and of a re-planning round
    trip; with it off, a query runs as ONE job of several stages.  For a
    small fixed plan, whose partition counts adaptive execution could
    only coalesce, that fixed cost is most of the wall.  A frame persisted
    inside the block keeps the non-adaptive plan it was cached with.  The
    setting is session-wide: queries that other threads plan meanwhile
    run non-adaptive too.
    """
    conf = spark.conf
    key = "spark.sql.adaptive.enabled"
    before = conf.get(key)
    conf.set(key, "false")
    try:
        yield
    finally:
        conf.set(key, before)


def values_df(spark: SparkSession, rows, schema: str):
    """Small driver-literal DataFrame via a SQL ``VALUES`` clause.

    The drop-in fast path for RESULT-REPORT frames (an iterative
    operator's census, a funnel's stage counts): ``createDataFrame``
    pickles every row into a 32-slice RDD and runs Python workers to
    produce 64 rows, ~0.37 s per call at local[32]; a ``VALUES`` plan
    is one spark.sql() round trip into a JVM LocalRelation, ~0.08 s
    (measured r17, min-of-3; with a global orderBy on top: 0.90 s vs
    0.22 s).  Doubles cross as ``CAST('<repr>' AS DOUBLE)`` —
    shortest-roundtrip repr parses to the identical bits, verified —
    so results are unchanged.

    ``schema`` is a DDL string (``"name type, ..."``; ``name: type``
    also accepted).  Supported cell types: None/bool/int/float/str.
    Empty ``rows`` falls back to ``createDataFrame`` (VALUES cannot be
    empty).
    """
    import math

    if not rows:
        return spark.createDataFrame([], schema)
    cols = []
    for part in schema.split(","):
        name, typ = part.replace(":", " ").split(None, 1)
        typ = typ.strip()
        # the naive comma split above cannot handle parameterized or
        # nested types (decimal(38,0), array<int>, map<string,int>) —
        # they would silently mis-split into garbage columns.  Refuse
        # loudly instead (ADVICE r17); every report-frame call site is
        # scalar-typed.
        if "(" in typ or "<" in typ:
            raise ValueError(
                "values_df: parameterized/nested type "
                f"{typ!r} unsupported (scalar DDL types only)"
            )
        cols.append((name.strip(), typ))
    width = len(cols)
    for i, row in enumerate(rows):
        if len(row) != width:
            raise ValueError(
                f"values_df: row {i} has {len(row)} cells, "
                f"schema declares {width} columns"
            )

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            if math.isnan(v):
                r = "NaN"
            elif math.isinf(v):
                r = "Infinity" if v > 0 else "-Infinity"
            else:
                r = repr(v)
            return f"CAST('{r}' AS DOUBLE)"
        if isinstance(v, str):
            s = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{s}'"
        raise TypeError(f"values_df: unsupported cell type {type(v)!r}")

    vals = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    names = ", ".join(n for n, _ in cols)
    sel = ", ".join(f"CAST(`{n}` AS {t}) AS `{n}`" for n, t in cols)
    return spark.sql(f"SELECT {sel} FROM (VALUES {vals}) AS _v({names})")


def free_local_checkpoints(df) -> int:
    """Explicitly release the executor storage behind every
    ``localCheckpoint`` in ``df``'s analyzed plan (its ``LogicalRDD``
    leaves).  Returns the number of checkpoint RDDs unpersisted.

    Why this exists: a localCheckpoint'd frame keeps its partitions
    pinned until the JVM garbage-collects the backing RDD — and through
    the py4j bridge that effectively NEVER happens in a long-lived
    session (measured: a fully unreferenced checkpoint RDD survives 30
    explicit GC cycles).  Iterative operators that checkpoint per round
    (connected components, PageRank) would therefore pin one superseded
    RDD per round for the life of the session — at 100 TB that is an
    executor-memory leak, not a nicety.  Calling this on the superseded
    frame as soon as its successor is materialized bounds pinned storage
    at O(1) rounds.

    Call ONLY when the frame — and everything lazily derived from it —
    will never be computed again: a truncated checkpoint cannot be
    rebuilt (Spark logs exactly that warning on unpersist).  Safe no-op
    on frames with no checkpoint leaves.
    """
    import logging

    n = 0
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    except Exception:  # pragma: no cover - non-plan frames
        return 0
    for i in range(leaves.size()):
        # per-leaf isolation: one failing leaf (unexpected plan node,
        # transient py4j error) must not abort the loop and leave the
        # REMAINING checkpoints pinned — that would silently defeat the
        # leak prevention this helper exists for
        try:
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
                n += 1
        except Exception as exc:  # pragma: no cover - leaf-specific
            logging.getLogger(__name__).warning(
                "free_local_checkpoints: failed to release leaf %d: %s",
                i, exc,
            )
    return n
