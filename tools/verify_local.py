#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate. It runs graft.Verify
(which dumps each query's result parquet + oracle_sql.json into the out dir),
then runs every oracle SQL in DuckDB over the same sf tables and compares row
counts, schemas (column names), and a canonical value hash (columns sorted by
name, rows sorted, values stringified EXACTLY like the driver does — plain
str(), no float canonicalization; an integer-valued float64 stringifies as
"10.0" and will NOT match a BIGINT's "10"). A hash mismatch also prints the
first differing sorted row.

It additionally hard-fails two oracle-typing defect classes that exact
stringification would surface only as an opaque hash mismatch:
  * any oracle whose DuckDB result schema contains HUGEINT (DuckDB's
    sum(INTEGER) default, which pandas materializes as float64), and
  * any column whose pandas dtype kind is integer on one side and float on
    the other with no NULLs present to explain the promotion.

Usage: python3 tools/verify_local.py <sfDir> <verifyOutDir> [query ...] [--skip-verify]
       python3 tools/verify_local.py --selftest
--skip-verify compares an out dir that graft.Verify already filled.
"""
import sys, json, glob, os, subprocess
import duckdb
import pandas as pd
import hashlib

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def canon_rows(df: pd.DataFrame) -> list:
    df = df[sorted(df.columns)]
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        # driver-faithful: plain str(); dates read back as datetime64 vs
        # date objects, normalize midnight
        return str(v).removesuffix(" 00:00:00")
    return sorted("|".join(cell(v) for v in r) for r in df.itertuples(index=False, name=None))

def canon(df: pd.DataFrame) -> str:
    return hashlib.md5("\n".join(canon_rows(df)).encode()).hexdigest()

def first_difference(spark_df: pd.DataFrame, ora_df: pd.DataFrame) -> str:
    for i, (g, w) in enumerate(zip(canon_rows(spark_df), canon_rows(ora_df))):
        if g != w:
            return f" first differing sorted row {i}: spark={g!r} oracle={w!r}"
    return ""

def run_verify(sf_dir: str, out_dir: str, only: list) -> None:
    """Dump the Spark side: graft.Verify writes <out>/<query>/*.parquet and
    <out>/oracle_sql.json (only the named queries, when any are named)."""
    main = " ".join(["runMain graft.Verify", sf_dir, out_dir] + only)
    r = subprocess.run(["sbt", "-batch", main], cwd=REPO, capture_output=True,
                       text=True, timeout=3600)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:])
        sys.exit(1)

def type_defects(rel, spark_df: pd.DataFrame, ora_df: pd.DataFrame):
    """Flag engine-typed oracle output that hash-flips against Spark."""
    issues = []
    for col, typ in zip(rel.columns, rel.types):
        if "HUGEINT" in str(typ).upper():
            issues.append(f"oracle col {col} is {typ} (cast it: DuckDB's "
                          "client renders HUGEINT as float64)")
    for c in spark_df.columns:
        if c not in ora_df.columns:
            continue
        gk, wk = spark_df[c].dtype.kind, ora_df[c].dtype.kind
        int_kinds, float_kinds = set("iu"), set("f")
        crossed = (gk in int_kinds and wk in float_kinds) or \
                  (gk in float_kinds and wk in int_kinds)
        if crossed and not spark_df[c].isna().any() and not ora_df[c].isna().any():
            issues.append(f"col {c} dtype class differs: spark={spark_df[c].dtype} "
                          f"oracle={ora_df[c].dtype} (no NULLs to explain promotion)")
    return issues

def selftest():
    """Seeded regression for the round-11 defect: an uncast sum(CASE…) in
    DuckDB types HUGEINT → float64 '10.0' vs Spark BIGINT '10'. The harness
    must flag it (hash + HUGEINT + dtype-class), and must pass the cast twin."""
    con = duckdb.connect()
    spark_side = pd.DataFrame({"q_id": pd.Series([1, 2], dtype="int64"),
                               "hits": pd.Series([10, 7], dtype="int64")})
    bad_rel = con.sql("SELECT q_id, sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS hits "
                      "FROM (SELECT 1 AS q_id, unnest(range(10)) + 1 AS x "
                      "UNION ALL SELECT 2, unnest(range(7)) + 1) GROUP BY q_id")
    good_rel = con.sql("SELECT q_id, CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits "
                       "FROM (SELECT 1 AS q_id, unnest(range(10)) + 1 AS x "
                       "UNION ALL SELECT 2, unnest(range(7)) + 1) GROUP BY q_id")
    bad_df, good_df = bad_rel.df(), good_rel.df()
    assert any("HUGEINT" in str(t).upper() for t in bad_rel.types), \
        "selftest setup: expected HUGEINT from uncast sum"
    bad_issues = type_defects(bad_rel, spark_side, bad_df)
    assert bad_issues, "harness failed to flag HUGEINT/dtype defect"
    assert canon(spark_side) != canon(bad_df), \
        "harness float canonicalization is masking the 10.0-vs-10 defect"
    assert not type_defects(good_rel, spark_side, good_df), \
        f"false positive on cast twin: {type_defects(good_rel, spark_side, good_df)}"
    assert canon(spark_side) == canon(good_df), "cast twin must hash-match"
    print("selftest OK: uncast HUGEINT flagged, cast BIGINT twin passes")

def main():
    if sys.argv[1:2] == ["--selftest"]:
        selftest(); return
    args = [a for a in sys.argv[1:] if a != "--skip-verify"]
    sf_dir, out_dir, names = args[0], args[1], args[2:]
    if "--skip-verify" not in sys.argv[1:]:
        run_verify(sf_dir, out_dir, names)
    only = set(names)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    bad = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"{name}: MISSING spark output"); bad += 1; continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            rel = con.sql(sql)
            ora_df = rel.df()
        except Exception as e:
            print(f"{name}: ERROR {e}"); bad += 1; continue
        rows = len(spark_df) == len(ora_df)
        schema = sorted(spark_df.columns) == sorted(ora_df.columns)
        typing = type_defects(rel, spark_df, ora_df) if schema else []
        h = canon(spark_df) == canon(ora_df) if rows and schema else False
        ok = rows and schema and h and not typing
        bad += 0 if ok else 1
        print(f"{name}: {'OK' if ok else 'FAIL'} rows={len(spark_df)}/{len(ora_df)}"
              + ("" if schema else f" schema {sorted(spark_df.columns)} vs {sorted(ora_df.columns)}")
              + ("" if h or not (rows and schema) else
                 " HASH-MISMATCH" + first_difference(spark_df, ora_df))
              + ("".join(f" TYPE[{t}]" for t in typing)))
    sys.exit(1 if bad else 0)

if __name__ == "__main__":
    main()
