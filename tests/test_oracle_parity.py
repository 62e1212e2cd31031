"""Driver-style correctness gate: every ``queries()`` entry vs its DuckDB
``oracle_sql()`` on the same parquet tables (row count + column set +
order-insensitive value comparison)."""

from __future__ import annotations

import math

import duckdb
import pytest

from tests.conftest import SF_ORACLE

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(rows, cols):
    """Order-insensitive canonical form with float rounding and
    NULL/NaN normalization."""
    import numpy as np

    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if v is None:
                pass
            elif isinstance(v, (float, np.floating)):
                v = float(v)
                if math.isnan(v):
                    v = None
                else:
                    v = round(v, 6)
                    v = 0.0 if v == 0 else v
            elif isinstance(v, (int, np.integer)):
                v = int(v)
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _pairs():
    import __spark_entry__ as e

    qs = e.queries()
    orc = e.oracle_sql()
    return [(name, qs[name], orc.get(name)) for name in sorted(qs)]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_vs_oracle(spark, name, fn, sql):
    sdf = fn(spark, SF_ORACLE)
    srows = [r.asDict() for r in sdf.collect()]
    if sql is None:
        assert len(srows) > 0, f"{name}: rows-only check failed (0 rows)"
        return
    con = _duck(SF_ORACLE)
    ddf = con.sql(sql).df()
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in ddf.columns), f"{name}: column mismatch"
    drows = ddf.to_dict("records")
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} (spark) vs {len(drows)} (duckdb)")
    s_can = _canon(srows, sdf.columns)
    d_can = _canon(drows, ddf.columns)
    mism = [i for i, (a, b) in enumerate(zip(s_can, d_can)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} value mismatches of {len(s_can)}; first: "
        f"spark={s_can[mism[0]]} duck={d_can[mism[0]]}")
