"""Independent pure-Python recomputation + invariants for the sketch /
evaluation operators (cms_heavy_hitters, hll_distinct_registers,
lsh_pair_eval), plus DuckDB parity legs.
"""

import hashlib
import re
from collections import Counter

import duckdb
import pytest

from parquet_converters_spark.queries import (
    _CMS_DEPTH,
    _CMS_TOPK,
    _CMS_WIDTH,
    _HLL_CONST,
    _HLL_M,
    CMS_HEAVY_SQL,
    HLL_DISTINCT_SQL,
    LSH_PAIR_EVAL_SQL,
    cms_heavy_hitters,
    hll_distinct_registers,
    lsh_pair_eval,
)
from tests.oracle_compare import rows_key



def _texts(sf_dir):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    return rows


def _toks(text):
    return re.findall(r"[a-z0-9]+", text.lower())


def _h(s, nhex):
    return int(hashlib.md5(s.encode()).hexdigest()[:nhex], 16)


def test_cms_matches_pure_python(spark, sf_dir):
    got = [tuple(r) for r in cms_heavy_hitters(spark, sf_dir).collect()]
    stream = [t for _, text in _texts(sf_dir) for t in _toks(text)]
    cells = Counter()
    truth = Counter()
    for t in stream:
        truth[t] += 1
        for j in range(_CMS_DEPTH):
            cells[(j, _h(f"{t}#{j}", 8) % _CMS_WIDTH)] += 1
    top = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:_CMS_TOPK]
    expect = [
        (
            t,
            n,
            min(cells[(j, _h(f"{t}#{j}", 8) % _CMS_WIDTH)]
                for j in range(_CMS_DEPTH)),
        )
        for t, n in top
    ]
    assert got == [(t, n, e, e - n) for t, n, e in expect]
    # the count-min guarantee: estimates never undercount
    assert all(r[3] >= 0 for r in got)


def _shingles(text, n=3):
    t = _toks(text)
    return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]


def test_hll_matches_pure_python(spark, sf_dir):
    row = hll_distinct_registers(spark, sf_dir).collect()[0]
    toks = {s for _, text in _texts(sf_dir) for s in _shingles(text)}
    regs = {}
    for t in toks:
        h = _h(t, 15)
        reg, rest = h & (_HLL_M - 1), h >> 8
        rho = 53 - rest.bit_length() if rest else 53
        regs[reg] = max(regs.get(reg, 0), rho)
    s = sum(1 << (53 - regs.get(j, 0)) for j in range(_HLL_M))
    est = _HLL_CONST / float(s)
    assert row.n_exact == len(toks)
    assert row.hll_estimate == est
    assert row.rel_err == (est - len(toks)) / len(toks)
    # the 1.04/sqrt(m) standard error says ~6.5%; allow 4 sigma
    assert abs(row.rel_err) < 4 * 1.04 / (_HLL_M ** 0.5)


def test_lsh_pair_eval_invariants(spark, sf_dir):
    row = lsh_pair_eval(spark, sf_dir).collect()[0]
    # independent truth-pair count from content hashes
    groups = Counter(
        _h(text, 15) for _, text in _texts(sf_dir)
    )
    n_truth = sum(n * (n - 1) // 2 for n in groups.values())
    assert row.n_truth == n_truth
    assert 0 <= row.tp <= row.n_pred
    assert row.precision == (
        row.tp / row.n_pred if row.n_pred else 0.0
    )
    assert row.recall == (row.tp / row.n_truth if row.n_truth else 0.0)
    denom = row.n_pred + row.n_truth
    assert row.f1_dice == (2 * row.tp / denom if denom else 0.0)


@pytest.mark.parametrize(
    "fn,sql",
    [
        (cms_heavy_hitters, CMS_HEAVY_SQL),
        (hll_distinct_registers, HLL_DISTINCT_SQL),
        (lsh_pair_eval, LSH_PAIR_EVAL_SQL),
    ],
    ids=["cms", "hll", "lsh_eval"],
)
def test_sketch_duckdb_parity(spark, sf_dir, fn, sql):
    sdf = fn(spark, sf_dir)
    srows = sdf.collect()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rel = con.sql(sql)
    orows, ocols = rel.fetchall(), list(rel.columns)
    assert sorted(sdf.columns) == sorted(ocols)
    assert rows_key(srows, sdf.columns) == rows_key(orows, ocols)
