#!/usr/bin/env python3
"""Dual-engine dialect lab — dev loop for the oracle-SQL ANSI rewrites
(round-16 item 2: shrink the DuckDB-dialect gap).

Usage:
  python3 tools/dialect_lab.py <sfDir> <candidates.json> [baseline.json]

candidates.json: {"q_name": "NEW SQL", ...}
baseline.json:   {"q_name": "CURRENT ORACLE SQL", ...}
                 (default /tmp/verify_sf001/oracle_sql.json)

For each candidate:
  1. DUCK: run new text and baseline text in DuckDB; cols+rows+hash must
     match (check.py canon) — the rewrite must not change the oracle's
     answer.
  2. SPARK: run the SAME new text through pyspark with the compiled graft
     classes, GraftExtensions and the DuckDB-dialect aliases installed by
     DuckDbDialect.register (the surface SqlCompatSpec sweeps) over
     raw-parquet temp views (what the catalog tables
     serve); cols+rows+hash must match the DuckDB result. Because the
     driver gate already proves DataFrame-form == DuckDB, SPARK==DUCK
     implies the SqlCompatSpec matrix will read "identical" (modulo its
     stricter 12-digit float canon — the spec stays the authority).

For each candidate additionally:
  0. TYPE: DESCRIBE the new text in DuckDB and REJECT any HUGEINT /
     UHUGEINT output column (TYPE_DRIFT). Round-16 lesson: the lab's
     fetchall canon validates VALUES but is structurally blind to
     output-type drift — the `hexcast` rewrite shipped three HUGEINT
     columns the driver's pandas/arrow fetch then hashed red, and only
     lint_oracle_types.py (which runs at snapshot time, too late) caught
     it. This closes the gap at rewrite time.

Prints one line per query: OK | TYPE_DRIFT | DUCK_DIFF | DUCK_ERR |
SPARK_ERR | SPARK_DIFF, with a short reason. This is a dev-loop tool
only.

`--selftest` runs the type gate against a deliberately-HUGEINT
candidate (plus a clean BIGINT control) on an in-memory DuckDB and
exits nonzero unless the offender is rejected and the control passes —
preflight.sh runs it so the gate itself can never silently rot.
"""
import sys, os, json, hashlib, datetime, decimal


def duck_type_drift(con, sql):
    """Output columns whose DuckDB type the driver's pandas/arrow fetch
    corrupts (HUGEINT -> float64/decimal128). Returns [(col, type)]."""
    return [(r[0], str(r[1]).upper())
            for r in con.execute(f"DESCRIBE {sql}").fetchall()
            if "HUGEINT" in str(r[1]).upper()]


def selftest():
    import duckdb
    con = duckdb.connect()
    # SUM(BIGINT) is HUGEINT in DuckDB — the exact round-16 offender class
    bad = duck_type_drift(con, "SELECT SUM(x) AS s FROM (VALUES (CAST(1 AS BIGINT))) t(x)")
    good = duck_type_drift(con, "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (CAST(1 AS BIGINT))) t(x)")
    if not bad:
        print("SELFTEST FAIL: HUGEINT candidate was NOT rejected")
        sys.exit(1)
    if good:
        print(f"SELFTEST FAIL: clean BIGINT control flagged: {good}")
        sys.exit(1)
    print(f"SELFTEST OK: HUGEINT candidate rejected ({bad}), BIGINT control clean")

def errline(ex):
    import re as _re
    ls = [l for l in str(ex).splitlines() if l.strip()]
    classy = next((l for l in ls if _re.search(r'\[[A-Z_\.]+\]|Exception|Error', l)
                   and 'collectToPython' not in l and 'py4j' not in l), None)
    return (classy or (ls[0] if ls else "<empty>"))[:200]

def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        n = v.normalize()
        return format(n, 'f') if n else '0'
    return str(v)

def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()

def spark_val(v):
    # pyspark Rows -> dicts so struct canon matches duckdb's dicts
    from pyspark.sql import Row
    if isinstance(v, Row):
        return {k: spark_val(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [spark_val(x) for x in v]
    if isinstance(v, dict):
        return {k: spark_val(x) for k, x in v.items()}
    return v

def main():
    sf_dir, cand_path = sys.argv[1], sys.argv[2]
    base_path = sys.argv[3] if len(sys.argv) > 3 else "/tmp/verify_sf001/oracle_sql.json"
    cands = json.load(open(cand_path))
    base = json.load(open(base_path))

    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell")
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.driver.extraClassPath",
                     os.path.abspath("target/scala-2.13/classes"))
             .config("spark.sql.extensions", "graft.GraftExtensions")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
             .getOrCreate())
    spark._jvm.graft.functions.DuckDbDialect.register(spark._jsparkSession)
    spark.sparkContext.setLogLevel("ERROR")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)

    n_ok = n_bad = 0
    for name in sorted(cands):
        sql = cands[name]
        try:
            drift = duck_type_drift(con, sql)
        except Exception as ex:
            print(f"DUCK_ERR   {name}: {errline(ex)}")
            n_bad += 1
            continue
        if drift:
            print(f"TYPE_DRIFT {name}: {drift} — the driver's pandas/arrow "
                  f"fetch corrupts these; CAST(... AS BIGINT)")
            n_bad += 1
            continue
        try:
            e = con.execute(sql)
            ecols = sorted(d[0] for d in e.description)
            erows = e.fetchall()
            ehash = table_hash([d[0] for d in con.execute(sql).description], erows)
        except Exception as ex:
            print(f"DUCK_ERR   {name}: {errline(ex)}")
            n_bad += 1
            continue
        if name in base:
            try:
                b = con.execute(base[name])
                bcols = sorted(d[0] for d in b.description)
                brows = b.fetchall()
                bhash = table_hash([d[0] for d in con.execute(base[name]).description], brows)
            except Exception as ex:
                print(f"BASE_ERR   {name}: {errline(ex)}")
                n_bad += 1
                continue
            if (ecols, len(erows), ehash) != (bcols, len(brows), bhash):
                print(f"DUCK_DIFF  {name}: new {len(erows)} rows {ehash[:8]} vs "
                      f"baseline {len(brows)} rows {bhash[:8]}; cols {ecols} vs {bcols}")
                n_bad += 1
                continue
        try:
            df = spark.sql(sql)
            scols = sorted(df.columns)
            srows = [tuple(spark_val(v) for v in r) for r in df.collect()]
            shash = table_hash(df.columns, srows)
        except Exception as ex:
            print(f"SPARK_ERR  {name}: {errline(ex)}")
            n_bad += 1
            continue
        if (scols, len(srows), shash) != (ecols, len(erows), ehash):
            # find first differing canon line for the dev loop
            def lines(cols, rows):
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                return sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
            a = lines(df.columns, srows)
            d = lines([x[0] for x in con.execute(sql).description], erows)
            diff = next((f"[{x}] vs [{y}]" for x, y in zip(a, d) if x != y),
                        f"row counts {len(a)} vs {len(d)}")
            print(f"SPARK_DIFF {name}: cols {scols} vs {ecols}; first diff {diff[:220]}")
            n_bad += 1
            continue
        print(f"OK         {name} ({len(erows)} rows)")
        n_ok += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    spark.stop()

if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        selftest()
    else:
        main()
