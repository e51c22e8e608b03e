#!/usr/bin/env python3
"""Oracle output-type audit — guards the one correctness-gate failure
class that value-level replay cannot see.

DuckDB types SUM(INTEGER/BIGINT) as HUGEINT. A HUGEINT result column
round-trips through pandas (`con.execute(...).df()`) as float64, so a
string-canonical hash compare renders it "21.0" while the Spark parquet
int64 side renders "21" — a guaranteed hash mismatch with identical
values. The round-11/12 driver gate failed exactly the three queries on
the 227-query board whose oracle SQL exposed naked HUGEINT columns
(text_nb_calibration / text_nb_confusion / text_nb_ece) while every
local value-casting replay passed; the fix is CAST(... AS BIGINT) at
the oracle's output surface, and this audit keeps the class extinct.

Usage: python3 tools/oracle_type_audit.py <sfDir> <oracle_sql.json> \
           [--report out.json]

<oracle_sql.json> is the file `graft.Verify <sfDir> <outDir>` writes to
<outDir>/oracle_sql.json (every registered query's DuckDB oracle SQL).

Exit 1 iff any oracle output column DESCRIBEs as HUGEINT/UHUGEINT.
DECIMAL outputs are reported as warnings only: pandas renders DECIMAL
as float64 too, which matches a Spark double column's rendering, and
every DECIMAL-emitting query on the board is driver-green — but a NEW
query pairing oracle-DECIMAL with a Spark int64 column would regress,
so eyeball the warning list when it grows.
"""
import argparse
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

BAD = ("HUGEINT", "UHUGEINT")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("sql_json")
    ap.add_argument("--report")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')")
    sqls = json.load(open(args.sql_json))

    failures, warnings, errors = {}, {}, {}
    for name in sorted(sqls):
        try:
            cols = con.execute(f"DESCRIBE {sqls[name]}").fetchall()
        except Exception as e:  # noqa: BLE001 — record and keep auditing
            errors[name] = str(e).splitlines()[0][:200]
            continue
        bad = [(c, t) for c, t, *_ in cols if t in BAD]
        dec = [(c, t) for c, t, *_ in cols if t.startswith("DECIMAL")]
        if bad:
            failures[name] = bad
        if dec:
            warnings[name] = dec

    out = {"duckdb_version": duckdb.__version__,
           "n_queries": len(sqls),
           "hugeint_failures": failures,
           "decimal_warnings": warnings,
           "describe_errors": errors}
    if args.report:
        json.dump(out, open(args.report, "w"), indent=1)
    print(f"audited {len(sqls)} oracles against duckdb "
          f"{duckdb.__version__}: {len(failures)} HUGEINT failures, "
          f"{len(warnings)} DECIMAL warnings, {len(errors)} errors")
    for k, v in failures.items():
        print(f"  FAIL {k}: {v}")
    for k, v in warnings.items():
        print(f"  warn {k}: {v}")
    for k, v in errors.items():
        print(f"  err  {k}: {v}")
    sys.exit(1 if failures or errors else 0)


if __name__ == "__main__":
    main()
