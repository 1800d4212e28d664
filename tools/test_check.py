#!/usr/bin/env python3
"""Self-test of tools/check.py's column-type compare (python3 + duckdb,
no Spark, a few seconds).

Usage: python3 tools/test_check.py

Builds a Verify-style output directory holding one query whose Spark
result is a single BIGINT column, then runs check.main against two
oracles for it: `SUM(BIGINT)`, which DuckDB types HUGEINT, must fail;
the same oracle CAST to BIGINT must pass. The values are equal in
both, so only the type compare can tell them apart.
"""
import contextlib
import io
import json
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402

ROWS = "(VALUES (13000::BIGINT), (414::BIGINT)) t(x)"


def run_check(oracle_sql):
    """check.main's exit code and printed report for one oracle."""
    with tempfile.TemporaryDirectory() as out:
        q = os.path.join(out, "q")
        os.mkdir(q)
        duckdb.sql(f"COPY (SELECT 13414::BIGINT AS n) TO "
                   f"'{q}/part-0.parquet' (FORMAT PARQUET)")
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q": oracle_sql}, f)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = check.main(out, out)
        return rc, buf.getvalue()


def main():
    rc, report = run_check(f"SELECT SUM(x) AS n FROM {ROWS}")
    assert rc == 1 and "TYPE_MISMATCH" in report, report
    rc, report = run_check(f"SELECT CAST(SUM(x) AS BIGINT) AS n FROM {ROWS}")
    assert rc == 0 and "== 1/1 pass" in report, report
    print("test_check: OK (HUGEINT oracle fails, BIGINT-cast oracle passes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
