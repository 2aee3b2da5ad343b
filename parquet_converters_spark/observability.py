"""Conversion progress / verification counters (reference operator M1).

The reference ships a thread-safe progress bar plus converted-record
counters (``src/progress.hpp:31-178``, wired in ``converter.h:115-121``).
The Spark-first analogue is NOT a custom listener thread: ``observe()``
attaches metric expressions to the plan itself, so the counters are
computed inside the SAME job that does the work — no second pass, no
driver-side sampling, exact at any scale.

- Batch: ``pyspark.sql.Observation`` — read the metrics after the
  action completes.
- Streaming: named ``observe()`` metrics surface per micro-batch in
  ``StreamingQueryProgress.observedMetrics`` (accessible via
  ``query.lastProgress`` or a ``StreamingQueryListener``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from parquet_converters_spark.operators.touch_transform import (
    invalid_sections,
)


def observe_conversion(
    df: DataFrame, name: str = "conversion"
) -> tuple[Observation | None, DataFrame]:
    """Attach the conversion counters the reference's progress monitor
    tracks: records seen, validation violations (the rows
    ``validate_sections`` rejects — ``parquet_writer.cpp:207-219``'s
    diagnostic), and distinct-ish source breadth (max pre id as a cheap
    proxy).

    Returns ``(observation, df)``; read ``observation.get`` after the
    first action on ``df``.  On a streaming DataFrame an Observation
    object is not supported — metrics are attached by name instead and
    ``None`` is returned (read them from ``lastProgress``).
    """
    metrics = [
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.when(invalid_sections(), 1).otherwise(0)).alias(
            "n_bad_sections"
        ),
        F.max("pre_neuron_id").alias("max_pre_gid"),
    ]
    if df.isStreaming:
        return None, df.observe(name, *metrics)
    obs = Observation(name)
    return obs, df.observe(obs, *metrics)
