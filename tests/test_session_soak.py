"""Session-soak no-residue gate (VERDICT r05 item 5): the composed
pipelines run for three full cycles in ONE long-lived session and the
persisted-RDD set returns to its baseline after every cycle — the
regression gate for the r05 localCheckpoint-leak discovery
(localCheckpoint RDDs are never GC-reclaimed through py4j; every
operator must free what it pinned, SCALE.md).
"""

import os

import pytest
from pyspark.sql import functions as F

from parquet_converters_spark.operators.graph import connected_components
from parquet_converters_spark.pipelines import prepare_corpus
from parquet_converters_spark.session import free_local_checkpoints


@pytest.fixture(scope="module")
def soak_edges(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("soak")
    edges = spark.range(200).select(
        (F.col("id") % 13).cast("int").alias("source_node_id"),
        (F.col("id") % 7).cast("int").alias("target_node_id"),
        F.lit(0).cast("long").alias("edge_type_id"),
    )
    in_dir = str(tmp / "edges_in")
    edges.coalesce(1).write.parquet(in_dir)
    return in_dir


def test_three_cycle_soak_leaves_no_residue(
    spark, sf_dir, soak_edges, tmp_path
):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8)], "id_a long, id_b long"
    )
    # string ids skip the driver union-find, so these labels come from
    # the distributed rounds, each pinning a checkpoint it must release
    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
        + [("m00", "m01"), ("m01", "m02")],
        "id_a string, id_b string",
    )
    jsc = spark.sparkContext._jsc
    baseline = set(jsc.getPersistentRDDs().keySet().toArray())

    results = []
    for cycle in range(3):
        clean, report = prepare_corpus(docs, min_len=10, min_quality=0.0)
        n_clean = clean.count()
        stages = {r["stage"]: r["n_docs"] for r in report.collect()}
        assert free_local_checkpoints(clean) >= 1

        labels = connected_components(pairs, materialize=True)
        comp = tuple(sorted(
            (r["node"], r["component"]) for r in labels.collect()
        ))
        assert free_local_checkpoints(labels) == 1

        rounds = connected_components(chain, materialize=True)
        chain_comp = tuple(sorted(
            (r["node"], r["component"]) for r in rounds.collect()
        ))
        assert {c for _, c in chain_comp} == {"n00", "m00"}
        assert free_local_checkpoints(rounds) == 1

        from parquet_converters_spark.pipelines import parquet_to_sonata

        # the whole converter, bundle writer and index build included
        h5 = str(tmp_path / f"soak_{cycle}.h5")
        parquet_to_sonata(
            spark, soak_edges, str(tmp_path / f"bundle_{cycle}"),
            population="p", h5_path=h5,
        )
        size = os.path.getsize(h5)

        # no-residue: the persisted set is EXACTLY the baseline again
        residue = set(jsc.getPersistentRDDs().keySet().toArray()) - baseline
        assert not residue, f"cycle {cycle}: leaked RDD ids {residue}"
        results.append((n_clean, stages, comp, chain_comp, size))

    # stability: every cycle computed identical results (a leak that
    # aliased freed storage would show up here as cross-cycle drift)
    assert results[0] == results[1] == results[2]
