#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tooling only, not
part of the shipped library): run graft.Verify at a given SF, then run
each oracle SQL in DuckDB over the same parquet tables and compare
row count, column names, and cell values."""
import json, math, subprocess, sys, os, glob

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = os.environ.get("GRAFT_SCRATCH", "/tmp") + "/graft_verify_out"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

# The classes of the checkout this script lives in (compile it first
# with `sbt compile`), never another checkout's.
CLASSES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "target", "scala-2.13", "classes")
if not os.path.isdir(CLASSES):
    sys.exit(f"check.py: no compiled classes at {CLASSES}; "
             "run `sbt compile` in this checkout first")

ADD_OPENS = []
for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]

def run_verify():
    cmd = ["java"] + ADD_OPENS + [
        "-Xmx8g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + ":" +
               ":".join(glob.glob("/opt/spark/jars/*.jar")),
        "graft.Verify", SF_DIR, OUT]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    if ONLY:
        env["GRAFT_ONLY"] = ",".join(ONLY)
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for ln in r.stderr.splitlines():
        if "[verify]" in ln or "Exception" in ln:
            print("VERIFY-ERR:", ln[:300])
    if r.returncode != 0:
        print("verify rc:", r.returncode)
        print(r.stderr[-3000:])
        sys.exit(1)

def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, bytes):
        return v.hex()
    return v

# The integer-unit determinism trick (round scores to 1e-4/1e-6 BIGINT
# units pre-sum) absorbs cross-engine libm differences ONLY while no raw
# score sits near a .5 rounding boundary: a score within ~1 ulp of a
# boundary would round differently under Spark's Math.log vs DuckDB's
# ln. A 1-ulp ln() divergence moves a score by ~1e-8 units, so require
# every raw score to clear the boundary by 1e-4 units — fixture
# regeneration re-verifies this automatically (r8 ADVICE).
BOUNDARY_EPS = 1e-4
BOUNDARY_AUDITS = {
    "q_text_bm25_multi": """
      WITH qrel AS (
        SELECT unnest(['vector','stream','merge','join','hash','window',
                       'scan','filter','sort']) AS term),
      dl AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
      n AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
        WHERE term IN (SELECT term FROM qrel) GROUP BY 1, 2),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      raw AS (
        SELECT ln(1.0 + (CAST(n.n_docs - q.df AS DOUBLE) + 0.5)
                        / (CAST(q.df AS DOUBLE) + 0.5))
             * (CAST(t.tf AS DOUBLE) * 2.2)
             / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                  / (CAST(n.sum_dl AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))))
             * 10000.0 AS x
        FROM tf t JOIN dfq q USING (term) JOIN dl l USING (doc_id), n)
      SELECT min(abs(x - floor(x) - 0.5)) FROM raw""",
    "q_text_perplexity": """
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts
                  FROM documents),
      u AS (SELECT doc_id, unnest(ts) AS w,
              generate_subscripts(ts, 1) AS pos FROM tk),
      bi AS (SELECT a.doc_id, a.w || ' ' || b.w AS g
             FROM u a JOIN u b
               ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      c12 AS (SELECT g, count(*) AS c12 FROM bi GROUP BY 1),
      c1 AS (SELECT string_split(g, ' ')[1] AS w1, sum(c12) AS c1
             FROM c12 GROUP BY 1),
      v AS (SELECT count(DISTINCT w) AS v FROM u),
      raw AS (
        SELECT ln((CAST(c12.c12 AS DOUBLE) + 1.0)
                  / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE)))
               * -1000000.0 AS x
        FROM c12 JOIN c1 ON string_split(c12.g, ' ')[1] = c1.w1, v)
      SELECT min(abs(x - floor(x) - 0.5)) FROM raw""",
    "q_quality_dsir": """
      WITH tok AS (
        SELECT source, substr(sha256(tok), 1, 2) AS bkt FROM (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents)),
      bc AS (
        SELECT bkt,
          sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
          count(*) AS cr
        FROM tok GROUP BY bkt),
      n AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
      raw AS (
        SELECT (ln((CAST(ct AS DOUBLE) + 1.0)
                   / (CAST(n.nt AS DOUBLE) + 256.0))
              - ln((CAST(cr AS DOUBLE) + 1.0)
                   / (CAST(n.nr AS DOUBLE) + 256.0)))
              * 1000000.0 AS x
        FROM bc, n)
      SELECT min(abs(x - floor(x) - 0.5)) FROM raw""",
    "q_stream_dsir": """
      WITH tok AS (
        SELECT source, substr(sha256(tok), 1, 2) AS bkt FROM (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents)),
      bc AS (
        SELECT bkt,
          sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
          count(*) AS cr
        FROM tok GROUP BY bkt),
      n AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
      raw AS (
        SELECT (ln((CAST(ct AS DOUBLE) + 1.0)
                   / (CAST(n.nt AS DOUBLE) + 256.0))
              - ln((CAST(cr AS DOUBLE) + 1.0)
                   / (CAST(n.nr AS DOUBLE) + 256.0)))
              * 1000000.0 AS x
        FROM bc, n)
      SELECT min(abs(x - floor(x) - 0.5)) FROM raw""",
    "q_text_ccnet": """
      WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents),
      c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
      nv AS (SELECT sum(cnt) AS n, count(*) AS v FROM c),
      raw AS (
        SELECT ln((CAST(cnt AS DOUBLE) + 1.0)
            / (CAST(nv.n AS DOUBLE) + CAST(nv.v AS DOUBLE)))
            * -1000000.0 AS x
        FROM c, nv)
      SELECT min(abs(x - floor(x) - 0.5)) FROM raw""",
    "q_text_entropy": """
      WITH h AS (
        SELECT doc_id, entropy(c) * 10000.0 AS x
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
              FROM documents)
        GROUP BY doc_id)
      SELECT min(abs(x - floor(x) - 0.5)) FROM h""",
    "q_drift_psi": """
      WITH e AS (SELECT event_type,
          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      f AS (SELECT event_type, day, cents, cents // 50 AS bin
        FROM e WHERE cents IS NOT NULL AND cents >= 0),
      md AS (SELECT min(day) AS md FROM f),
      bc AS (SELECT event_type, bin,
          CAST(sum(CASE WHEN day < md.md + 15 THEN 1 ELSE 0 END)
            AS BIGINT) AS r,
          CAST(sum(CASE WHEN day >= md.md + 15 THEN 1 ELSE 0 END)
            AS BIGINT) AS c
        FROM f, md GROUP BY 1, 2),
      t AS (SELECT *,
          CAST(count(*) OVER w AS BIGINT) AS nbins,
          CAST(sum(r) OVER w AS BIGINT) AS nr,
          CAST(sum(c) OVER w AS BIGINT) AS nc
        FROM bc WINDOW w AS (PARTITION BY event_type)),
      raw AS (SELECT (p - q) * ln(p / q) * 1000000.0 AS x
        FROM (SELECT *,
            CAST(r + 1 AS DOUBLE) / CAST(nr + nbins AS DOUBLE) AS p,
            CAST(c + 1 AS DOUBLE) / CAST(nc + nbins AS DOUBLE) AS q
          FROM t) s WHERE p <> q)
      SELECT min(abs(x - floor(x) - 0.5)) FROM raw""",
}

# The audit SQL above hand-mirrors the oracle formulas. Tripwire: if a
# distinctive constant of either formula disappears from the LIVE
# oracle string, the audit is stale and must be updated — fail loudly
# instead of silently measuring the old formula.
AUDIT_MIRROR_CONSTANTS = {
    "q_text_bm25_multi": ["* 2.2", "1.2 *", "0.25 + 0.75", "+ 0.5)",
                          "10000.0"],
    "q_text_perplexity": ["+ 1.0)", "-1000000.0"],
    "q_quality_dsir": ["+ 256.0", "* 1000000.0", "+ 1.0)"],
    "q_text_ccnet": ["-1000000.0", "+ 1.0)", "(n + 2) // 3"],
    "q_stream_dsir": ["+ 256.0", "* 1000000.0", "+ 1.0)"],
    "q_stream_drift": ["cents // 50", "* 1000000", "md.md + 15",
                       "r + 1 AS DOUBLE", "100000"],
    "q_text_entropy": ["entropy(c)", "round(entropy(c), 4)"],
    "q_drift_psi": ["cents // 50", "* 1000000", "md.md + 15",
                    "r + 1 AS DOUBLE", "100000"],
}

# The streaming twins share their batch gate's formula verbatim, so
# they share its margin audit too (one SQL, two live-oracle tripwires).
BOUNDARY_AUDITS["q_stream_drift"] = BOUNDARY_AUDITS["q_drift_psi"]

def boundary_audit(con, oracles):
    ok = True
    for name, consts in sorted(AUDIT_MIRROR_CONSTANTS.items()):
        live = oracles.get(name, "")
        missing = [c for c in consts if c not in live]
        if missing:
            print(f"BOUNDARY-FAIL {name}: oracle formula changed "
                  f"(constants {missing} gone) — update BOUNDARY_AUDITS "
                  "to match before trusting the margin")
            ok = False
    if not ok:
        return False
    for name, sql in sorted(BOUNDARY_AUDITS.items()):
        margin = con.sql(sql).fetchall()[0][0]
        if margin is None or margin < BOUNDARY_EPS:
            print(f"BOUNDARY-FAIL {name}: min margin {margin} < "
                  f"{BOUNDARY_EPS} — a 1-ulp libm divergence could flip "
                  "an integer unit; adjust the fixture or the rounding "
                  "scale")
            ok = False
        else:
            print(f"boundary-ok {name}: min margin to a .5 rounding "
                  f"boundary = {margin:.6f} units")
    return ok

def main():
    import duckdb
    run_verify()
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{SF_DIR}/{t}.parquet')")
    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if ONLY and name not in ONLY:
            continue
        try:
            res_dir = f"{OUT}/{name}"
            spark = con.sql(
                f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
            scols, stypes = spark.columns, [str(t) for t in spark.types]
            srows = spark.fetchall()
            oracle = con.sql(sql)
            ocols, otypes = oracle.columns, [str(t) for t in oracle.types]
            orows = oracle.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exception {str(e)[:200]}")
            n_fail += 1
            continue
        ok = True
        # The driver hashes what each engine SERIALIZES, so identical values
        # with different physical types (e.g. DuckDB promoting sum(BIGINT)
        # to HUGEINT/int128) still hash-mismatch.  Mirror that: oracle result
        # types must match the Spark parquet result types per column, and
        # never be HUGEINT/DECIMAL (which Arrow serializes as decimal128).
        stype_by = dict(zip(scols, stypes))
        otype_by = dict(zip(ocols, otypes))
        bad_types = [(c, t) for c, t in otype_by.items()
                     if "HUGEINT" in t or "DECIMAL" in t]
        mismatches = [(c, stype_by[c], otype_by[c])
                      for c in sorted(set(scols) & set(ocols))
                      if stype_by[c] != otype_by[c]]
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: cols spark={scols} oracle={ocols}")
            ok = False
        elif bad_types:
            print(f"FAIL {name}: oracle wide types {bad_types} "
                  f"(add CAST(... AS BIGINT/DOUBLE) in the oracle SQL)")
            ok = False
        elif mismatches:
            print(f"FAIL {name}: type mismatch (col, spark, oracle): "
                  f"{mismatches}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}")
            ok = False
        else:
            sidx = [scols.index(c) for c in sorted(scols)]
            oidx = [ocols.index(c) for c in sorted(ocols)]
            for i, (sr, orow) in enumerate(zip(srows, orows)):
                sv = [norm(sr[j]) for j in sidx]
                ov = [norm(orow[j]) for j in oidx]
                if sv != ov:
                    print(f"FAIL {name}: row {i} spark={sv} oracle={ov}")
                    ok = False
                    break
        if ok:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    # Run the margin audit on full sweeps AND whenever a targeted
    # re-verify names an audited query (a post-regeneration
    # ONLY=q_text_bm25_multi run must re-check exactly this margin).
    audit_due = not ONLY or set(ONLY) & set(BOUNDARY_AUDITS)
    if audit_due and not boundary_audit(con, oracles):
        n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

main()
