"""Invariants + independent pure-Python recomputation for the late-r07
curation/layout/drift operators (mmr_diverse_topk, ks_drift_test,
zorder_layout_plan, vocab_growth_by_source), plus a local DuckDB
parity leg using the comparator of tests/oracle_compare.py.
"""

import math
import re
from collections import Counter

import duckdb
import pytest

from parquet_converters_spark.queries import (
    _MMR_POOL,
    _MMR_SELECT,
    _Z_FILES,
    _Z_PRED_HI,
    _Z_PRED_LO,
    KS_DRIFT_SQL,
    MMR_DIVERSE_SQL,
    VOCAB_GROWTH_SQL,
    ZORDER_LAYOUT_SQL,
    ks_drift_test,
    mmr_diverse_topk,
    vocab_growth_by_source,
    zorder_layout_plan,
)
from tests.oracle_compare import rows_key, type_divergence



def _con(sf_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _micro(x):
    return math.floor(x * 1000000.0 + 0.5)


def _cos_micro(a, b):
    # left-to-right folds, matching the engine-side IEEE op order
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return _micro(dot / (math.sqrt(na) * math.sqrt(nb)))


def _pure_python_mmr(sf_dir):
    con = _con(sf_dir)
    rows = con.sql(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM embeddings"
    ).fetchall()
    vecs = {int(i): list(v) for i, v in rows}
    out = []
    for qid in (0, 1, 2):
        scored = sorted(
            (
                (-_cos_micro(vecs[qid], vecs[c]), c)
                for c in vecs
                if c != qid
            ),
        )[:_MMR_POOL]
        rel = {c: -neg for neg, c in scored}
        sel = [scored[0][1]]
        out.append((qid, 1, sel[0], 7 * rel[sel[0]]))
        for step in range(2, _MMR_SELECT + 1):
            best = None
            for cand in rel:
                if cand in sel:
                    continue
                ms = max(_cos_micro(vecs[cand], vecs[s]) for s in sel)
                score = 7 * rel[cand] - 3 * ms
                key = (-score, cand)
                if best is None or key < best[0]:
                    best = (key, cand, score)
            sel.append(best[1])
            out.append((qid, step, best[1], best[2]))
    return out


def test_mmr_matches_pure_python(spark, sf_dir):
    got = [
        (r.query_id, r.step, r.neighbor_id, r.mmr_score_t)
        for r in mmr_diverse_topk(spark, sf_dir).collect()
    ]
    assert got == _pure_python_mmr(sf_dir)
    # per-query: 5 unique picks, steps 1..5, step-1 is max relevance
    by_q = {}
    for q, step, nid, _ in got:
        by_q.setdefault(q, []).append((step, nid))
    for q, picks in by_q.items():
        assert [s for s, _ in picks] == list(range(1, _MMR_SELECT + 1))
        assert len({n for _, n in picks}) == _MMR_SELECT


def test_ks_drift_matches_pure_python(spark, sf_dir):
    row = ks_drift_test(spark, sf_dir).collect()[0]
    con = _con(sf_dir)
    vals = con.sql(
        "SELECT value, event_type FROM events"
        " WHERE event_type IN ('click','view')"
    ).fetchall()
    c1 = Counter(v for v, t in vals if t == "click")
    c2 = Counter(v for v, t in vals if t == "view")
    n1, n2 = sum(c1.values()), sum(c2.values())
    f1 = f2 = 0
    best = None
    for v in sorted(set(c1) | set(c2)):
        f1 += c1.get(v, 0)
        f2 += c2.get(v, 0)
        d = abs(f1 * n2 - f2 * n1)
        if best is None or (-d, v) < best[0]:
            best = ((-d, v), d, v)
    assert (row.n1, row.n2) == (n1, n2)
    assert row.at_value == best[2]
    assert row.d_stat == best[1] / (n1 * n2)
    assert 0.0 <= row.d_stat <= 1.0


def test_ks_drift_distributed_path_agrees(spark, sf_dir):
    """The footer-gated distributed-CDF path (repartitionByRange +
    per-partition partials + broadcast prefix offsets) must produce
    the SAME single row as the exact single-window form, and its plan
    must contain no partition-less window (every Window keys on _pid)
    and no full-data SinglePartition exchange feeding a sort or
    window."""
    from parquet_converters_spark.queries import ks_drift_test as ks

    exact_row = ks(spark, sf_dir, exact=True).collect()[0]
    dist_df = ks(spark, sf_dir, exact=False)
    dist_row = dist_df.collect()[0]
    assert (dist_row.n1, dist_row.n2) == (exact_row.n1, exact_row.n2)
    assert dist_row.at_value == exact_row.at_value
    assert dist_row.d_stat == exact_row.d_stat
    plan = dist_df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" not in line.lower():
            assert "_pid" in line, f"partition-less window:\n{line}"
    # the only SinglePartition exchange allowed is the final global
    # aggregate over per-partition partial-agg rows (max-struct argmax)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            consumers = "\n".join(lines[max(0, i - 3): i])
            assert "HashAggregate" in consumers or "SortAggregate" in (
                consumers
            ), f"SinglePartition exchange not feeding an aggregate:\n{line}"
    assert "rangepartitioning" in plan


def _spread16(x):
    x = (x | (x << 8)) & 0x00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F
    x = (x | (x << 2)) & 0x33333333
    x = (x | (x << 1)) & 0x55555555
    return x


def test_zorder_matches_pure_python(spark, sf_dir):
    got = zorder_layout_plan(spark, sf_dir).collect()
    con = _con(sf_dir)
    rows = con.sql(
        "SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem"
    ).fetchall()
    omin = min(r[0] for r in rows)
    omax = max(r[0] for r in rows)
    pmin = min(r[2] for r in rows)
    pmax = max(r[2] for r in rows)
    keyed = sorted(
        (
            _spread16((ok - omin) * 65535 // max(omax - omin, 1))
            | (_spread16((pk - pmin) * 65535 // max(pmax - pmin, 1)) << 1),
            ok,
            ln,
            pk,
        )
        for ok, ln, pk in rows
    )
    n = len(keyed)
    base, rem = divmod(n, _Z_FILES)
    expect = []
    pos = 0
    for fid in range(1, _Z_FILES + 1):
        size = base + (1 if fid <= rem else 0)
        chunk = keyed[pos:pos + size]
        pos += size
        pks = [c[3] for c in chunk]
        oks = [c[1] for c in chunk]
        expect.append(
            (
                fid, len(chunk), min(pks), max(pks), min(oks), max(oks),
                1 if (max(pks) >= _Z_PRED_LO and min(pks) <= _Z_PRED_HI)
                else 0,
            )
        )
    assert [tuple(r) for r in got] == expect
    assert sum(r.n_rows for r in got) == n
    skipped = sum(1 for r in got if r.reads_pred == 0)
    # z-order must actually skip: most files prune a 10/200-part range
    assert skipped > _Z_FILES // 2


def test_zorder_distributed_path(spark, sf_dir):
    """The footer-gated range-partitioned layout (repartitionByRange
    on z -> one file per range partition) must conserve rows, yield
    disjoint consecutive z-ranges (the zone-map property the skipping
    score depends on), preserve the skipping effectiveness of the
    exact ntile form, and show rangepartitioning with zero
    partition-less windows in the plan."""
    from parquet_converters_spark.queries import (
        _Z_FILES,
        _zorder_files,
        zorder_layout_plan,
    )

    exact = zorder_layout_plan(spark, sf_dir, exact=True).collect()
    dist_df = _zorder_files(spark, sf_dir, exact=False)
    dist = sorted(dist_df.collect(), key=lambda r: r.file_id)
    assert sum(r.n_rows for r in dist) == sum(r.n_rows for r in exact)
    assert 2 <= len(dist) <= _Z_FILES
    for a, b in zip(dist, dist[1:]):
        assert a._z_max <= b._z_min, (a.file_id, b.file_id)
    # z-order skipping survives the sample-equal assignment: the
    # narrow partkey predicate still skips a majority of files
    frac_exact = sum(r.reads_pred for r in exact) / len(exact)
    frac_dist = sum(r.reads_pred for r in dist) / len(dist)
    assert frac_dist <= max(0.5, 2 * frac_exact)
    plan = dist_df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    # the only SinglePartition exchanges allowed feed global aggregates
    # over per-partition partials (the min/max extents pass)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            consumers = "\n".join(lines[max(0, i - 3): i])
            assert "HashAggregate" in consumers or "SortAggregate" in (
                consumers
            ), f"SinglePartition exchange not feeding an aggregate:\n{line}"
    for line in lines:
        if "Window" in line and "windowspecdefinition" not in line.lower():
            raise AssertionError(f"window in gated plan:\n{line}")


def test_vocab_growth_matches_pure_python(spark, sf_dir):
    got = {
        r.source: (r.n_docs, r.total_tokens, r.distinct_tokens,
                   r.hapax_tokens, r.ttr)
        for r in vocab_growth_by_source(spark, sf_dir).collect()
    }
    con = _con(sf_dir)
    docs = con.sql("SELECT source, text FROM documents").fetchall()
    per = {}
    ndocs = Counter()
    for source, text in docs:
        ndocs[source] += 1
        per.setdefault(source, Counter()).update(
            re.findall(r"[a-z0-9]+", text.lower())
        )
    assert set(got) == set(per)
    for source, cnt in per.items():
        total = sum(cnt.values())
        distinct = len(cnt)
        hapax = sum(1 for v in cnt.values() if v == 1)
        nd, tt, dt, hp, ttr = got[source]
        assert (nd, tt, dt, hp) == (ndocs[source], total, distinct, hapax)
        assert ttr == distinct / total


@pytest.mark.parametrize(
    "fn,sql",
    [
        (mmr_diverse_topk, MMR_DIVERSE_SQL),
        (ks_drift_test, KS_DRIFT_SQL),
        (zorder_layout_plan, ZORDER_LAYOUT_SQL),
        (vocab_growth_by_source, VOCAB_GROWTH_SQL),
    ],
    ids=["mmr", "ks", "zorder", "vocab"],
)
def test_curation_duckdb_parity(spark, sf_dir, fn, sql):
    sdf = fn(spark, sf_dir)
    srows = sdf.collect()
    con = _con(sf_dir)
    rel = con.sql(sql)
    orows, ocols = rel.fetchall(), list(rel.columns)
    assert sorted(sdf.columns) == sorted(ocols)
    assert rows_key(srows, sdf.columns) == rows_key(orows, ocols)
    # the r9 type leg: none of the four oracles may emit HUGEINT (the
    # r8 red class — driver value hash is declared-type-sensitive)
    fails, _warns = type_divergence(
        sdf.dtypes, ocols, list(rel.types)
    )
    assert fails == []


def test_parity_type_divergence_leg():
    """Pin the pre-submit type gate itself (the r1/r8 escape class):
    HUGEINT/UHUGEINT output columns FAIL (proven driver-red),
    DECIMAL-vs-double WARNS only (empirically driver-green —
    text_quality precedent), matched types pass clean."""
    import duckdb

    con = duckdb.connect()
    rel = con.sql(
        "SELECT sum(x) AS s, CAST(sum(x) AS BIGINT) AS sb, "
        "CAST(1.5 AS DECIMAL(6,2)) AS d, CAST(1.5 AS DOUBLE) AS f "
        "FROM (VALUES (1), (2)) t(x)"
    )
    fails, warns = type_divergence(
        [("s", "bigint"), ("sb", "bigint"), ("d", "double"), ("f", "double")],
        list(rel.columns),
        list(rel.types),
    )
    assert len(fails) == 1 and fails[0].startswith("s:")
    assert "HUGEINT" in fails[0]
    assert len(warns) == 1 and warns[0].startswith("d:")


def test_ks_distributed_persist_bounded(spark, sf_dir):
    """_ks_cum_distributed keeps at most ONE cached copy per session:
    each call frees the previous call's persist (the r8 VERDICT leak)."""
    from parquet_converters_spark import queries as q

    ks_drift_test(spark, sf_dir, exact=False).collect()
    first = q._KS_PERSIST_PREV[-1]
    assert len(q._KS_PERSIST_PREV) == 1 and first.is_cached
    ks_drift_test(spark, sf_dir, exact=False).collect()
    assert len(q._KS_PERSIST_PREV) == 1
    assert q._KS_PERSIST_PREV[-1] is not first
    assert not first.is_cached  # previous persist freed
    # explicit release drops the LAST cache too (long-session hygiene)
    last = q._KS_PERSIST_PREV[-1]
    q.release_ks_cache()
    assert not q._KS_PERSIST_PREV and not last.is_cached
    # and the next call works from a clean registry
    ks_drift_test(spark, sf_dir, exact=False).collect()
    assert len(q._KS_PERSIST_PREV) == 1 and q._KS_PERSIST_PREV[-1].is_cached
    q.release_ks_cache()
