"""Compare a Spark result with its DuckDB oracle: sorted column names, row
count, and order-insensitive value keys with floats normalised; plus the
output-type check that DuckDB's value types must pass."""

import decimal
import math


def norm(v):
    if v is None:
        # sortable sentinel, applied identically to both engines' rows,
        # so NULL == NULL and NULL != any real value
        return "\x00<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def type_divergence(sdtypes, dcols, dtypes):
    """Output-type differences the value keys cannot see (they map HUGEINT
    and BIGINT to the same Python int).  Returns ``(fails, warns)``:

    * FAIL: a DuckDB HUGEINT/UHUGEINT output column, which an uncast
      integer ``sum()`` produces and Spark has no equivalent for; the
      oracle needs ``CAST(sum(...) AS BIGINT)``.
    * WARN: DECIMAL on one engine against DOUBLE/FLOAT on the other.
    """
    sd = {c: t.lower() for c, t in sdtypes}
    fails, warns = [], []
    for col, dt in zip(dcols, dtypes):
        d = str(dt).upper()
        s = sd.get(col, "")
        if d in ("HUGEINT", "UHUGEINT"):
            fails.append(f"{col}: duckdb {d} — cast the sum to BIGINT")
        elif d.startswith("DECIMAL") and s in ("double", "float"):
            warns.append(f"{col}: duckdb {d} vs spark {s}")
        elif s.startswith("decimal") and d in ("DOUBLE", "FLOAT"):
            warns.append(f"{col}: duckdb {d} vs spark {s}")
    return fails, warns
