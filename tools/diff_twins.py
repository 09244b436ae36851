#!/usr/bin/env python3
"""Twin-vs-twin check for a change to OracleSql: which keys' DuckDB twin
string changed between two Verify dumps, and does each changed twin still
return the same rows? Usage:
    python3 tools/diff_twins.py <sfDir> <parentOut> <changeOut>
(each out dir written by: sbt "runMain graft.Verify <sfDir> <outDir>")

A key whose SQL string is byte-equal in both oracle_sql.json files is
`identical`. Every other key runs BOTH twins in DuckDB over the same
views (check_oracle's TABLES) and compares the normalized results
(check_oracle's norm) exactly, dtypes included: `equal-results` or
DIFFERS. A key present on one side only DIFFERS. Exits 1 on any DIFFERS.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

from check_oracle import TABLES, norm


def main(sf_dir: str, parent_out: str, change_out: str) -> int:
    parent, change = (json.loads((Path(d) / "oracle_sql.json").read_text())
                      for d in (parent_out, change_out))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    identical, equal, differs = [], [], []
    for key in sorted(parent.keys() | change.keys()):
        if key not in parent or key not in change:
            print(f"DIFFERS {key}: twin only in the {'change' if key in change else 'parent'}")
            differs.append(key)
        elif parent[key] == change[key]:
            identical.append(key)
        else:
            try:
                old, new = (norm(con.sql(q).df()) for q in (parent[key], change[key]))
                pd.testing.assert_frame_equal(old, new, check_exact=True)
                print(f"equal-results {key} ({len(new)} rows)")
                equal.append(key)
            except (AssertionError, duckdb.Error) as e:
                print(f"DIFFERS {key}: {type(e).__name__}: {str(e)[:300]}")
                differs.append(key)
    if not equal and not differs:
        print("identical")
    print(f"\n{len(identical)} identical / {len(equal)} equal-results / {len(differs)} differ: {differs}")
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
