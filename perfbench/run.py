#!/usr/bin/env python3
"""graft benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library together
with the benchmark harness (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed (perfbench/gen.py), the workload runs in one JVM with
Spark as local[nproc], and every output is checked: in the JVM against
the library's own reference paths, and here against DuckDB oracles.
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. `--workload all` runs each workload in turn and
prints one line per workload. The last run of each workload stays in
.bench_build/runs/<workload> (traced: with its spans in spans.jsonl).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_HEAP = "2g"

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sources_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            p for p in glob.glob(os.path.join(top, "**", "*"), recursive=True)
            if os.path.isfile(p))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness unless the stamp matches the sources."""
    if not os.path.isdir(SOURCES[0]):
        raise SystemExit("perfbench: library sources (src/main/scala) not found")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("perfbench: SPARK_HOME is not set")
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building (sbt compile) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


def run_jvm(workload, in_dir, work, seconds, trace):
    """Runs the workload JVM; returns (exit code, peak RSS in MB)."""
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Only a heap cap, so peak RSS follows the heap the run really uses.
    # The serial collector grows the heap only when live data needs it;
    # G1's pause-time-driven sizing made peak RSS swing from 1.1 to 1.5 GB
    # between runs of the same work.
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", workload, in_dir,
              work, str(seconds), str(trace)])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        _, status, usage = os.wait4(p.pid, 0)
    return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0


# --- output checks against DuckDB ------------------------------------------

def duckdb_con():
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads = 4")
    return con


def check_cdc(in_dir, work):
    """The final table, the lookups and the history reads, recomputed in
    DuckDB from the flush files. Returns a list of (name, ok, detail)."""
    con = duckdb_con()
    got = json.load(open(os.path.join(work, "cdc_check.json")))
    files = sorted(glob.glob(os.path.join(in_dir, "flush-*.parquet")))
    buckets = 8  # CdcIngest.Buckets

    def changelog(upto):
        lst = ", ".join(f"'{f}'" for f in files[:upto])
        return f"""SELECT user_id AS key, ts_us AS commit_ts_us, event_id AS seq,
              CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
                   ELSE 'U' END AS op, event_type,
              CAST(round(value * 100) AS BIGINT) AS cents,
              sha256(props) AS props, key % {buckets} AS part
            FROM read_parquet([{lst}]) WHERE event_type <> 'heartbeat'"""

    def snapshot(upto):
        return f"""SELECT * FROM (SELECT key,
              max_by(struct_pack(commit_ts_us, seq, op, event_type, cents,
                                 props, part), commit_ts_us::HUGEINT * 1000000000 + seq) AS s
            FROM ({changelog(upto)}) GROUP BY key) WHERE s.op <> 'D'"""

    out = []
    con.sql(f"""CREATE TABLE snap AS SELECT key, s.commit_ts_us AS commit_ts_us,
        s.seq AS seq, s.event_type AS event_type, s.cents AS cents,
        s.props AS props, s.part AS part FROM ({snapshot(len(files))})""")
    # the library's own checksum SQL is the oracle's digest too
    exp = con.sql(f"""SELECT
        (('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT % {buckets}) AS bucket,
        count(*) AS n_rows,
        CAST(sum(('0x' || substr(md5(concat_ws('|', key, commit_ts_us, seq,
          event_type, cents, props, part)), 1, 8))::BIGINT) % 1000000000000000000
          AS BIGINT) AS checksum
        FROM snap GROUP BY 1 ORDER BY 1""").fetchall()
    exp = [list(r) for r in exp]
    out.append(("table_equals_duckdb_snapshot", exp == got["checksum"],
                f"duckdb {exp[:3]} vs table {got['checksum'][:3]}"))
    for key, row in got["lookups"]:
        r = con.sql(f"SELECT concat_ws('|', key, commit_ts_us, seq, event_type, "
                    f"cents, props, part) FROM snap WHERE key = {key}").fetchall()
        want = r[0][0] if r else "absent"
        out.append((f"lookup.{key}", want == row, f"{row} != {want}"))
    for v, n, changed in got["versions"]:
        want = con.sql(f"SELECT count(*) FROM ({snapshot(v)})").fetchone()[0]
        out.append((f"read_version.{v}", want == n, f"{n} rows != {want}"))
        before = f"({snapshot(v - 1)})" if v > 1 else "(SELECT NULL::BIGINT AS key, NULL AS s WHERE false)"
        touched = con.sql(f"""SELECT count(*) FROM (
            SELECT key FROM ({changelog(v)}) WHERE seq >= (SELECT min(event_id)
              FROM read_parquet('{files[v - 1]}')) GROUP BY key) t
            LEFT JOIN {before} b USING (key) LEFT JOIN ({snapshot(v)}) a USING (key)
            WHERE b.s IS NOT NULL OR a.s IS NOT NULL""").fetchone()[0]
        out.append((f"changes.{v}", touched == changed,
                    f"{changed} changed keys != {touched}"))
    return out


def diff(con, got_sql, exp_sql):
    """Cell-exact multiset comparison; returns a failure detail or None."""
    con.sql(f"CREATE OR REPLACE TEMP VIEW _got AS {got_sql}")
    con.sql(f"CREATE OR REPLACE TEMP VIEW _exp AS {exp_sql}")
    cols = ", ".join(f'"{c}"' for c in sorted(con.sql("SELECT * FROM _exp").columns))
    extra = con.sql(f"SELECT {cols} FROM _got EXCEPT ALL SELECT {cols} FROM _exp").fetchmany(3)
    missing = con.sql(f"SELECT {cols} FROM _exp EXCEPT ALL SELECT {cols} FROM _got").fetchmany(3)
    if extra or missing:
        return f"spark-only {extra} oracle-only {missing}"
    return None


def check_curation(work):
    con = duckdb_con()
    d = os.path.join(work, "curation")
    sql = json.load(open(os.path.join(d, "oracle_sql.json")))
    con.sql(f"CREATE TABLE corpus AS {sql['corpus']}")
    con.sql("""CREATE TABLE survivors AS SELECT * FROM corpus
               WHERE doc_id IN (SELECT min(doc_id) FROM corpus GROUP BY text)""")
    out = []
    ids = diff(con, f"SELECT doc_id FROM '{d}/survivor_ids/*.parquet'",
               "SELECT doc_id FROM survivors")
    out.append(("exact_dedup_survivors", ids is None, ids or ""))
    for name in ("pairs", "shards"):
        r = diff(con, f"SELECT * FROM '{d}/{name}/*.parquet'", sql[name])
        out.append((f"{name}_equal_oracle", r is None, r or ""))
    return out


def check_queries(in_dir, work):
    """scripts/check.py: each named query's result against its oracle SQL."""
    res = os.path.join(work, "results")
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                        in_dir, res], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    out = []
    for line in r.stdout.splitlines():
        if line.startswith("PASS ") or line.startswith("FAIL "):
            name = line.split()[1].rstrip(":")
            out.append((f"oracle.{name}", line.startswith("PASS"), line))
    if not out:
        out.append(("oracle", False, r.stdout[-500:]))
    return out


# --- main ------------------------------------------------------------------

def select_metrics(bench, metrics, trace):
    """The result's metrics from the run's {name: value} map: exactly the
    BENCHMARK.json list for the mode, each with its declared unit. A
    per-layer metric the workload does not exercise reads 0; anything else
    missing, not a number, or not listed fails the run."""
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    result, problems = {}, []
    for m in wanted:
        v = metrics.get(m["name"], 0 if trace else None)
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            problems.append(f"{m['name']}: {v}")
            continue
        result[m["name"]] = {"value": v, "unit": m["unit"]}
    unknown = sorted(set(metrics) - {m["name"] for m in wanted})
    if problems or unknown:
        raise SystemExit(f"perfbench: metrics do not match BENCHMARK.json: "
                         f"missing {problems}, not listed {unknown}")
    return result


def run_workload(bench, workload, seed, seconds, trace):
    """One run of one workload; returns the result object. The run's
    directory (inputs, outputs, jvm.log, report.json and, traced,
    spans.jsonl) stays in .bench_build/runs/<workload> until the next run."""
    run_dir = os.path.join(BUILD, "runs", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
    os.makedirs(work)
    t0 = time.time()
    {"cdc_ingest": gen.cdc, "query_mix": gen.tables}[workload](seed, in_dir)
    t1 = time.time()
    code, rss_mb = run_jvm(workload, in_dir, work, seconds, trace)
    t2 = time.time()
    report_path = os.path.join(work, "report.json")
    if code != 0 or not os.path.exists(report_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: workload JVM exited with {code}")
    rep = json.load(open(report_path))
    checks = [(c["name"], c["ok"], c["detail"]) for c in rep["checks"]]
    if not any(n == "run" for n, _, _ in checks):
        if workload == "cdc_ingest":
            checks += check_cdc(in_dir, work)
        else:
            checks += check_queries(in_dir, work) + check_curation(work)
    log(f"{workload}: gen {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, checks {time.time() - t2:.1f}s")
    for n, ok, detail in checks:
        if not ok:
            log(f"CHECK FAILED {n}: {detail}")
    for k, v in rep.get("info", {}).items():
        log(f"{k}: {v}")
    metrics = rep["metrics"]
    if trace == 0:
        metrics["peak_rss_mb"] = round(rss_mb, 3)
    failed = sum(1 for _, ok, _ in checks if not ok)
    return {"correct": failed == 0, "attempted": len(checks), "failed": failed,
            "metrics": select_metrics(bench, metrics, trace)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help="a workload of BENCHMARK.json, or 'all' for each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if a.workload != "all" and a.workload not in names:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; one of {names}")
    build()
    if a.workload == "all":  # one line per workload, tagged with its name
        for w in names:
            res = run_workload(bench, w, a.seed, a.seconds, a.trace)
            print(json.dumps({"workload": w, **res}), flush=True)
    else:
        print(json.dumps(run_workload(bench, a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
