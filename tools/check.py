#!/usr/bin/env python3
"""Local correctness loop: emulate the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--tol]

For each <name>.parquet under verifyOutDir (the Verify.scala dump),
runs oracle_sql.json[name] in DuckDB against the sfDir tables,
sorts columns by name + rows by value, and compares cell-by-cell.

DEFAULT (r11, the record gate): EXACT compare — floats must be
bit-identical (the driver hashes canonicalized cell values exactly;
r10's 1e-9-relative-tolerance local green shipped a driver-red
`pipe_corpus_drift`). Local green under exact mode implies driver
hash green. `--tol` restores the old 1e-9 relative tolerance for
triage only (e.g. "is this a rounding-convention gap or a real
value gap") — NEVER for a round record.

Column TYPES are compared too, always: an oracle column DuckDB types
HUGEINT, UHUGEINT, UBIGINT or DECIMAL against a Spark integral or
DOUBLE column fails as TYPE_MISMATCH. Fetched rows cannot show this
(13414 reads the same either way), but a pandas fetch turns a
HUGEINT into float64, so such a row fails a typed hash compare —
`SUM(BIGINT)` is HUGEINT in DuckDB; CAST oracle totals to BIGINT.
"""
import sys, os, json, glob, math
import duckdb

EXACT = "--tol" not in sys.argv

def norm(rows):
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))

def cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        if EXACT:
            # bit-exact incl. the sign of zero: the driver hashes a
            # rendering, and "-0.0" != "0.0" under any plausible one.
            # Stricter-than-driver is the safe direction for a gate.
            return fa == fb and \
                math.copysign(1.0, fa) == math.copysign(1.0, fb)
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)

WIDE_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL")
NARROW_SPARK_TYPES = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "DOUBLE")

def type_mismatches(got_rel, exp_rel):
    """Columns whose oracle type a pandas fetch would read as a
    different value type than the Spark column: [(col, spark, oracle)]."""
    got = dict(zip(got_rel.columns, map(str, got_rel.types)))
    bad = []
    for c, t in zip(exp_rel.columns, map(str, exp_rel.types)):
        if t.split("(")[0] in WIDE_ORACLE_TYPES and got.get(c) in NARROW_SPARK_TYPES:
            bad.append((c, got[c], t))
    return sorted(bad)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "*"))):
        name = os.path.basename(d)
        if not os.path.isdir(d):
            continue
        got_rel = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        got_cols = sorted(got_rel.columns)
        got = norm(con.sql(
            "SELECT " + ", ".join(f'"{c}"' for c in got_cols)
            + " FROM got_rel").fetchall())
        if name not in oracles:
            results[name] = f"ROWS_ONLY rows={len(got)}" + (" OK" if len(got) > 0 else " EMPTY!")
            continue
        try:
            exp_rel = con.sql(oracles[name])
            exp_cols = sorted(exp_rel.columns)
            exp = norm(con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in exp_cols)
                + " FROM exp_rel").fetchall())
        except Exception as e:
            results[name] = f"ORACLE_ERROR {e}"
            continue
        if got_cols != exp_cols:
            results[name] = f"SCHEMA_MISMATCH spark={got_cols} oracle={exp_cols}"
            continue
        bad_types = type_mismatches(got_rel, exp_rel)
        if bad_types:
            results[name] = "TYPE_MISMATCH " + ", ".join(
                f"{c}: spark={g} oracle={e}" for c, g, e in bad_types)
            continue
        if len(got) != len(exp):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(got)} oracle={len(exp)}"
            continue
        bad = None
        for i, (g, e) in enumerate(zip(got, exp)):
            if not all(cell_eq(a, b) for a, b in zip(g, e)):
                bad = (i, g, e)
                break
        results[name] = "OK" if bad is None else f"VALUE_MISMATCH row{bad[0]} spark={bad[1]} oracle={bad[2]}"
    n_ok = sum(1 for v in results.values() if v == "OK" or v.endswith("OK"))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v == 'OK' or v.endswith('OK') else 'FAIL'} {k}: {v}")
    print(f"== {n_ok}/{len(results)} pass"
          f" [{'EXACT float compare (record gate)' if EXACT else 'TOLERANT 1e-9 (triage only, NOT a record)'}]")
    return 0 if n_ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
