"""Hybrid RRF retrieval + hard-negative mining invariants, plus a
local DuckDB parity leg (the comparator of tests/oracle_compare.py).
"""


import duckdb

from parquet_converters_spark.queries import (
    _RRF_K,
    _RRF_TOPK_OUT,
    HARD_NEGATIVE_SQL,
    HYBRID_RRF_SQL,
    hard_negative_mining,
    hybrid_rrf_search,
)
from tests.oracle_compare import rows_key



def _duck(sql, sf_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    rel = con.sql(sql)
    return rel.fetchall(), list(rel.columns)


def test_hybrid_rrf_invariants(spark, sf_dir):
    rows = hybrid_rrf_search(spark, sf_dir).collect()
    assert rows, "no fused results"
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = [r.fused_rank for r in rs]
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(rs) <= _RRF_TOPK_OUT
        scores = [r.rrf_score for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            assert r.neighbor_id != q
            # rank 0 == "not retrieved by that side" (NULL-free output)
            assert r.dense_rank > 0 or r.lex_rank > 0
            # the fused score is exactly the RRF formula over the ranks
            expect = 0.0
            if r.dense_rank > 0:
                expect += 1.0 / (_RRF_K + r.dense_rank)
            if r.lex_rank > 0:
                expect += 1.0 / (_RRF_K + r.lex_rank)
            assert abs(r.rrf_score - round(expect, 6)) < 1e-9


def test_hard_negative_invariants(spark, sf_dir):
    rows = hard_negative_mining(spark, sf_dir).collect()
    assert rows
    by_a = {}
    for r in rows:
        assert r.neg_label != r.anchor_label
        assert r.negative_id != r.anchor_id
        by_a.setdefault(r.anchor_id, []).append(r)
    for a, rs in by_a.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_hybrid_and_negatives_duckdb_parity(spark, sf_dir):
    for fn, sql in (
        (hybrid_rrf_search, HYBRID_RRF_SQL),
        (hard_negative_mining, HARD_NEGATIVE_SQL),
    ):
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        orows, ocols = _duck(sql, sf_dir)
        assert sorted(scols) == sorted(ocols)
        assert rows_key(srows, scols) == rows_key(orows, ocols)


def test_sql_text_forms_bitwise(spark, sf_dir):
    """r17: the SQL-text twins of the literal similarity expressions
    (lsh_bucket_sql / ivf_assign_sql / ivf_probe_cells_sql) must be
    bit-identical to their Column-API forms on the real corpus."""
    from pyspark.sql import functions as F

    from parquet_converters_spark.functions.similarity import (
        hyperplanes,
        ivf_assign,
        ivf_assign_sql,
        ivf_centroids,
        ivf_probe_cells,
        ivf_probe_cells_sql,
        lsh_bucket,
        lsh_bucket_sql,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = hyperplanes(8, 64)
    cens = ivf_centroids(8, 64)
    df = emb.select(
        "vec_id",
        lsh_bucket(F.col("embedding"), planes).alias("b_col"),
        lsh_bucket_sql("`embedding`", planes).alias("b_sql"),
        ivf_assign(F.col("embedding"), cens).alias("a_col"),
        ivf_assign_sql("`embedding`", cens).alias("a_sql"),
        ivf_probe_cells(F.col("embedding"), cens, 4).alias("p_col"),
        ivf_probe_cells_sql("`embedding`", cens, 4).alias("p_sql"),
    )
    # eqNullSafe: a plain != is null-masked, so a NULL on either side
    # (e.g. a null embedding row) would silently NOT count as a
    # mismatch and void the bitwise guarantee (ADVICE r17)
    bad = df.filter(
        ~F.col("b_col").eqNullSafe(F.col("b_sql"))
        | ~F.col("a_col").eqNullSafe(F.col("a_sql"))
        | ~F.col("p_col").eqNullSafe(F.col("p_sql"))
    ).count()
    assert bad == 0
