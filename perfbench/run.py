#!/usr/bin/env python3
"""Repo benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (cached under
perfbench/.work), generates the data set once with tools/gen_sf.py,
runs one JVM that measures one closed-loop pass after the warm-up (about
--seconds of work on a 4-core host), checks the outputs, and prints one
JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 1 prints the per-layer metrics instead of the end-to-end ones.
--tiny runs the same workloads over sf0.001 (the benchmark's own tests).
The full run record, with the contention probe, goes to .work/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zlib
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("curate", "index_ingest")
BENCH_SF = "0.01"
TINY_SF = "0.001"
JVM_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_repo():
    need = [REPO / "build.sbt", REPO / "src" / "main" / "scala" / "graft",
            REPO / "tools" / "gen_sf.py"]
    missing = [str(p.relative_to(REPO)) for p in need if not p.exists()]
    if missing:
        log(f"not inside the engine repository; missing: {', '.join(missing)}")
        sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [REPO / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in (REPO / "src" / "main", HERE / "src"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed; return
    the runtime classpath."""
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt")
    t = time.time()
    res = subprocess.run(
        ["sbt", "-batch", "-no-colors", "-J-XX:-UsePerfData", f"-Dsbt.global.base={WORK / 'sbt-global'}",
         "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=800)
    lines = [l for l in res.stdout.splitlines() if l.startswith("/") or ".jar" in l]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        log("build failed")
        sys.exit(3)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t:.1f}s")
    return lines[-1].strip()


def prepare_data(sf):
    """Generate the data set once (seed 42 inside gen_sf) and record the
    CRC32 of every file; the JVM re-verifies them in every set-up."""
    d = WORK / "data" / f"sf{sf}"
    if (d / "manifest.tsv").exists():
        return d
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    log(f"generating sf{sf}")
    subprocess.run([sys.executable, str(REPO / "tools" / "gen_sf.py"), sf, str(tmp)],
                   check=True, stdout=subprocess.DEVNULL, timeout=600)
    rows = []
    for f in sorted(tmp.glob("*.parquet")):
        rows.append(f"{f.name}\t{zlib.crc32(f.read_bytes()) & 0xffffffff}")
    (tmp / "manifest.tsv").write_text("\n".join(rows) + "\n")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d


def stage_ingest(data, seed, root, batches=2):
    """Stage the index_ingest inputs of one seed: a base and `batches` batch
    files per kind. The doc batches hold the seed's share of the documents
    outside the base plus near-duplicates of a seeded, fixed-size slice of
    the base; the agg batches hold the seed's share of the held-out lineitem
    rows. File modification times order the streaming triggers."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT doc_id, text FROM '{data}/documents.parquet'")
    con.execute("CREATE VIEW li AS SELECT l_orderkey, l_returnflag, l_linestatus, l_quantity, "
                f"l_extendedprice FROM '{data}/lineitem.parquet'")
    con.execute("CREATE VIEW base AS SELECT * FROM docs WHERE doc_id % 10 < 6")
    con.execute(f"""CREATE VIEW near AS SELECT doc_id, text,
        row_number() OVER (ORDER BY hash(doc_id, {seed + 1}), doc_id) AS rk FROM base
        QUALIFY rk <= (SELECT count(*) FROM base) // 10""")
    agg_cols = "l_returnflag, l_linestatus, l_quantity, l_extendedprice"
    outs = {"base_docs": "SELECT * FROM base",
            "base_agg": f"SELECT {agg_cols} FROM li WHERE l_orderkey % 4 <> 3"}
    for b in range(batches):
        outs[f"docs/b{b}"] = f"""
            SELECT doc_id + {(b + 1) * 10000000} AS doc_id, text FROM docs
            WHERE doc_id % 10 >= 6 AND hash(doc_id, {seed}) % {batches} = {b}
            UNION ALL
            SELECT doc_id + {(b + 1) * 20000000}, text || ' tailnoise' FROM near
            WHERE rk % {batches} = {b}"""
        outs[f"agg/b{b}"] = f"""SELECT {agg_cols} FROM li
            WHERE l_orderkey % 4 = 3 AND hash(l_orderkey, {seed}) % {batches} = {b}"""
    for name, q in outs.items():
        f = root / f"{name}.parquet"
        f.parent.mkdir(parents=True, exist_ok=True)
        con.execute(f"COPY (SELECT * FROM ({q}) ORDER BY ALL) TO '{f}' (FORMAT PARQUET)")
        if "/b" in name:
            t = 1700000000 + 60 * int(name.rsplit("b", 1)[1])
            os.utime(f, (t, t))


def java_cmd(cp, extra_args):
    opens = [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": WORK / "spark-local",
        "spark.sql.warehouse.dir": WORK / "warehouse",
        "java.io.tmpdir": WORK / "tmp",
        "derby.system.home": WORK / "derby",
    }
    return (["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", cp, "perfbench.Main"] + extra_args)


def run_jvm(cmd, log_name, timeout):
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    with open(WORK / "logs" / log_name, "w") as err:
        res = subprocess.run(cmd, cwd=WORK, stdout=err, stderr=subprocess.STDOUT, timeout=timeout)
    if res.returncode != 0:
        tail = (WORK / "logs" / log_name).read_text()[-3000:]
        sys.stderr.write(tail)
        log(f"JVM exited with {res.returncode}")
        sys.exit(4)


# ---- output checks -------------------------------------------------------

CURATE_SQL = """
WITH g AS (
  SELECT doc_id FROM documents
  WHERE len(string_split(text, ' ')) BETWEEN 50 AND 100000
    AND (1000000 * list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '), s -> CAST(length(s) AS BIGINT))),
          (a, b) -> a + b)) // len(string_split(text, ' ')) BETWEEN 3000000 AND 10000000
    AND (1000000 * (CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
          + (length(text) - length(replace(text, '...', ''))) // 3))
        // len(string_split(text, ' ')) < 100000
    AND (1000000 * len(list_filter(string_split(text, ' '), s -> regexp_matches(s, '[A-Za-z]'))))
        // len(string_split(text, ' ')) >= 800000
), lmdocs AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t, source FROM documents
), train AS (
  SELECT t FROM lmdocs WHERE source = '{train}'
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (SELECT unnest(t) AS w FROM train) GROUP BY w
), vsize AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni
), big AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
    FROM train) GROUP BY b
), docbig AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
  FROM lmdocs
), lmscored AS (
  SELECT d.doc_id,
    (1000000 * (COALESCE(b2.c2, 0) + 1)) // (COALESCE(u.c1, 0) + (SELECT v FROM vsize)) AS ppm
  FROM docbig d
  LEFT JOIN big b2 ON d.b = b2.b
  LEFT JOIN uni u ON string_split(d.b, ' ')[1] = u.w
), lmagg AS (
  SELECT doc_id, CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS lm_ppm FROM lmscored GROUP BY doc_id
), structural AS (
  SELECT d.doc_id, d.source, d.text, a.lm_ppm
  FROM documents d JOIN g ON d.doc_id = g.doc_id JOIN lmagg a ON d.doc_id = a.doc_id
), thr AS (
  SELECT source, quantile_cont(lm_ppm, 0.5) AS t FROM structural GROUP BY source
), gated AS (
  SELECT s.doc_id, s.text FROM structural s JOIN thr ON s.source = thr.source
  WHERE s.lm_ppm >= thr.t
)
SELECT COUNT(*) AS quality_gate_count, COUNT(DISTINCT text) AS exact_keep_count FROM gated
"""


def check_curate(data, rec):
    train = rec["checks"]["train_source"]
    f = data / f"curate_expected_{train}.json"
    if not f.exists():
        import duckdb
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet'")
        q, e = con.sql(CURATE_SQL.replace("{train}", train)).fetchone()
        f.write_text(json.dumps({"quality_gate_count": q, "exact_keep_count": e}))
    exp = json.loads(f.read_text())
    bad = [k for k, v in exp.items() if rec["checks"].get(k) != v]
    return len(exp), bad


def check_ingest(rec):
    checks = {k: v for k, v in rec["checks"].items() if k.startswith("ok.")}
    return len(checks), [k for k, v in checks.items() if v is not True]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # the measured work is one pass of the workload, about this many
    # seconds; the flag is accepted for the common interface
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    require_repo()
    WORK.mkdir(exist_ok=True)
    cp = build()
    data = prepare_data(TINY_SF if a.tiny else BENCH_SF)
    for d in ("curate", "ingest", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(WORK / d, ignore_errors=True)
    (WORK / "tmp").mkdir()
    if a.workload == "index_ingest":
        stage_ingest(data, a.seed, WORK / "ingest" / "in")

    out = WORK / "tmp" / "result.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--data", str(data), "--work", str(WORK), "--out", str(out)]
    run_jvm(java_cmd(cp, args), f"{a.workload}.log", JVM_TIMEOUT_S)
    rec = json.loads(out.read_text())

    if a.workload == "curate":
        n_checks, bad = check_curate(data, rec)
    else:
        n_checks, bad = check_ingest(rec)
    rec["failed_checks"] = bad
    (WORK / "records").mkdir(exist_ok=True)
    (WORK / "records" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(rec, indent=1))
    log(f"passes={rec['passes']} probe_ratio={rec['probe_ratio']:.3f} "
        f"checks={n_checks} failed={bad}")
    for d in ("curate", "ingest", "spark-local", "warehouse"):
        shutil.rmtree(WORK / d, ignore_errors=True)

    attempted = rec["ops_n"] + rec["reads_n"] + n_checks
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": rec["metrics"]}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
