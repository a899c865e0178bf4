#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark AND its oracle_sql() on DuckDB over the same parquet tables
and compare them exactly as the gate does (`mismatch`): columns sorted by
name, each value as its text (a float by its repr), rows sorted. A float
that differs in its last digit is a mismatch. tests/test_entry.py imports
the same tables, connection and comparison.

Usage:
  python scripts/check_oracles.py [query ...]     # default: all with oracles
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/check_oracles.py
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str):
    """A DuckDB connection with one view per TABLES parquet in sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def normalize(df) -> tuple[list[str], list[tuple[str, ...]]]:
    """(sorted column names, sorted rows of each value's text)."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in tup) for tup in df[cols].itertuples(index=False)]
    return cols, sorted(rows)


def mismatch(spark_df, oracle_df) -> str | None:
    """None when the two pandas frames normalize equal, else what differs
    first: the columns, the row count, or the first unequal row."""
    sc, sr = normalize(spark_df)
    oc, orr = normalize(oracle_df)
    if sc != oc:
        return f"columns {sc} vs {oc}"
    if len(sr) != len(orr):
        return f"rows {len(sr)} vs {len(orr)}"
    bad = [i for i, (a, b) in enumerate(zip(sr, orr)) if a != b]
    if bad:
        return f"{len(bad)} mismatched rows; first: {sr[bad[0]]} vs {orr[bad[0]]}"
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import __spark_entry__ as E
    from ditto_spark.session import get_spark

    spark = get_spark("oracle_check", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duck_connection(sf_dir)

    queries = E.queries()
    oracles = E.oracle_sql()
    results: dict[str, dict] = {}
    names = [n for n in queries if n in oracles and (not only or n in only)]
    for name in names:
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df()
            res = {
                "mismatch": mismatch(sdf, odf),
                "spark_rows": len(sdf),
                "oracle_rows": len(odf),
                "err": None,
            }
        except Exception as exc:  # noqa: BLE001
            res = {
                "mismatch": "error", "spark_rows": -1, "oracle_rows": -1,
                "err": f"{type(exc).__name__}: {exc}"[:400],
            }
        results[name] = res
        flag = "OK " if res["mismatch"] is None else "FAIL"
        print(f"{flag} {name}: {json.dumps(res)}", flush=True)

    bad = [n for n, r in results.items() if r["mismatch"] is not None]
    print(f"\n{len(results) - len(bad)}/{len(results)} matched; failing: {bad}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
