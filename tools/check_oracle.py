"""Local stand-in for the driver's correctness gate: run each
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
given sf dir, compare row count, column names, integer-vs-float
column types, and values — in result order when the twin has a
top-level ORDER BY, sorted otherwise.

    python tools/check_oracle.py SF_DIR [QUERY ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from solr_ocr_processor_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def ordered(sql: str) -> bool:
    """True when ``sql`` has an ORDER BY outside every parenthesis (so
    not one in a CTE, subquery or window), i.e. its row order is part
    of the result."""
    sql = re.sub(r"--[^\n]*", "", re.sub(r"'(?:[^']|'')*'", "''", sql))
    depth, top = 0, []
    for ch in sql:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            top.append(ch)
    return re.search(r"\bORDER\s+BY\b", "".join(top), re.I) is not None


def kind_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Columns that are integer on one side and float on the other."""
    return [
        f"{c} ({got[c].dtype} vs {want[c].dtype})"
        for c in sorted(got.columns)
        if {got[c].dtype.kind, want[c].dtype.kind} in ({"i", "f"}, {"u", "f"})
    ]


def main(sf_dir: str) -> int:
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = 0
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    only = sys.argv[2:] or list(qs)
    for name in only:
        fn = qs[name]
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only check) rows={len(got)}")
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        ok = True
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
            ok = False
        elif len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            ok = False
        elif kind_mismatch(got, want):
            print(f"FAIL {name}: int vs float columns (spark vs duck): "
                  + ", ".join(kind_mismatch(got, want)))
            ok = False
        else:
            cols = sorted(got.columns)
            g, w = got[cols], want[cols]
            if not ordered(sql):
                g, w = g.sort_values(cols), w.sort_values(cols)
            g, w = g.reset_index(drop=True), w.reset_index(drop=True)
            for c in cols:
                if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
                    g[c] = g[c].astype(float).round(6)
                    w[c] = w[c].astype(float).round(6)
                else:
                    try:
                        g[c] = g[c].astype(w[c].dtype)
                    except Exception:  # noqa: BLE001
                        pass
            if not g.equals(w):
                diff = (g != w) & ~(g.isna() & w.isna())
                nbad = int(diff.any(axis=1).sum())
                print(f"FAIL {name}: {nbad}/{len(g)} value rows differ")
                bad = diff.any(axis=1)
                print("  spark:", g[bad].head(3).to_dict("records"))
                print("  duck :", w[bad].head(3).to_dict("records"))
                ok = False
        if ok:
            print(f"OK   {name}: rows={len(got)}")
        else:
            failures += 1
    print(f"\n{len(only) - failures}/{len(only)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
