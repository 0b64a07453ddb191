#!/usr/bin/env python3
"""Repository benchmark: builds the harness, runs one workload, checks it.

    python3 perfbench/run.py --workload kg_converge|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
library together with the harness (sbt, offline); later runs reuse the
build. The JVM runs `graft.perfbench.Bench`, which measures the workload in
a closed loop and checks the knowledge-graph output itself; this script adds
the process's peak resident memory, checks the curation tables against the
DuckDB oracle, and prints the result as the last line of standard output:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Exits non-zero, without a result line, when the build or the run fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
TARGET = BENCH / "target"
STAMP = TARGET / "perfbench.stamp"
CLASSPATH = TARGET / "perfbench.classpath"
WORK = BENCH / "work"

RUN_LIMIT_S = 170  # whole run, build excluded
HEAP = "3g"

END_TO_END = {  # name -> unit; keep in step with BENCHMARK.json
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "batch_lag_s": "s",
    "merge_recall": "ratio",
    "peak_rss_mb": "MB",
}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def sources():
    files = sorted((REPO / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((BENCH / "src").rglob("*.scala"))
    files += [REPO / "src" / "test" / "scala" / "graft" / "kg" / "Oracle.scala",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build."""
    if not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: the library sources (src/main/scala) are missing")
    fp = fingerprint()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == fp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840, start_new_session=True)
    cp = [l for l in p.stdout.splitlines()
          if "scala-2.13" in l and "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed (sbt exit {p.returncode})")
    CLASSPATH.write_text(cp[-1].strip())
    STAMP.write_text(fp)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(args, work, limit_s):
    """Run the harness JVM; return (exit code, stdout, peak RSS in MB)."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", CLASSPATH.read_text(), "graft.perfbench.Bench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work)])
    with open(work / "jvm.log", "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        killed = []

        def kill():
            killed.append(True)
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        timer = threading.Timer(limit_s, kill)
        timer.daemon = True

        def on_signal(signum, _frame):
            timer.cancel()
            kill()
            os.wait4(p.pid, 0)
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, on_signal)
        timer.start()
        steal0 = cpu_steal()
        out = p.stdout.read()
        _, status, usage = os.wait4(p.pid, 0)
        timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
        steal1 = cpu_steal()
    for line in out.splitlines():
        if line.startswith("[perfbench]"):
            print(line, flush=True)
    if killed:
        log(f"harness killed after {limit_s:.0f} s")
    if steal0 and steal1 and steal1[1] > steal0[1]:
        log(f"host CPU steal during the run: "
            f"{(steal1[0] - steal0[0]) / (steal1[1] - steal0[1]):.1%}")
    return p.returncode, out, usage.ru_maxrss / 1024.0


def cpu_steal():
    """(steal, total) jiffies from /proc/stat, or None where unavailable."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def oracle_sql(path):
    """`q_curate` with its all-pairs near-dup candidate CTE replaced by a
    shingle-posting join. The oracle keeps only pairs with `inter > 0`,
    which are exactly the pairs sharing a posting, and `inter` is the
    number of shared distinct shingles, so the result is unchanged."""
    sql = Path(path).read_text()
    old = """), prs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
  FROM shing a, shing b WHERE a.doc_id < b.doc_id
), jp AS ("""
    new = """), post AS (
  SELECT doc_id, len(s) AS n, unnest(s) AS sh FROM shing
), prs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter,
         any_value(x.n) + any_value(y.n) - count(*) AS uni
  FROM post x JOIN post y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
), jp AS MATERIALIZED ("""
    if old not in sql:
        raise RuntimeError("q_curate oracle SQL changed: near-dup CTE not found")
    return sql.replace(old, new)


def check_curate(info, units):
    """Check each unit's tables; return [(ok, merge_recall, detail)]."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{info['docs_path']}/*.parquet')")
    con.execute("CREATE TEMP TABLE ref AS " + oracle_sql(info["sql"]))
    ref_merged = con.execute(
        "SELECT count(*) FROM ref WHERE NOT keep_neardup").fetchone()[0]
    con.execute("""CREATE TEMP TABLE ref_buckets AS
        WITH k AS (
          SELECT d.doc_id, CAST(d.n_chars AS DOUBLE) AS score
          FROM documents d JOIN ref r USING (doc_id) WHERE r.kept
        ), r AS (
          SELECT doc_id, score,
                 row_number() OVER (ORDER BY score, doc_id) AS rank,
                 count(*) OVER () AS n
          FROM k
        )
        SELECT doc_id, score, rank, ((rank - 1) * 10) // n AS bucket FROM r""")
    cols = ("doc_id, n_tokens, keep_exact, keep_neardup, clean_contam, "
            "pass_quality, pass_repetition, kept")
    results = []
    for u in units:
        try:
            def t(name):
                return f"read_parquet('{u}/{name}/*.parquet')"

            def diff(a, b):
                return con.execute(
                    f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]

            dec_a = f"SELECT {cols} FROM ref"
            dec_b = f"SELECT {cols} FROM {t('decisions')}"
            dec_bad = diff(dec_a, dec_b) + diff(dec_b, dec_a)
            bk_a = "SELECT doc_id, score, rank, bucket FROM ref_buckets"
            bk_b = f"SELECT doc_id, score, rank, bucket FROM {t('buckets')}"
            bk_bad = diff(bk_a, bk_b) + diff(bk_b, bk_a)
            budgets = json.loads(Path(u, "budgets.json").read_text())
            con.execute("CREATE OR REPLACE TEMP TABLE budgets (source VARCHAR, b BIGINT)")
            con.executemany("INSERT INTO budgets VALUES (?, ?)", list(budgets.items()))
            # mixed: kept docs only, once each, weight = n_chars, within budget
            mix_bad = con.execute(f"""
                SELECT count(*) FROM {t('mixed')} m
                LEFT JOIN ref r ON r.doc_id = m.doc_id
                LEFT JOIN documents d ON d.doc_id = m.doc_id
                LEFT JOIN budgets b ON b.source = m.source
                WHERE r.kept IS NOT TRUE OR m.weight <> d.n_chars
                   OR b.b IS NULL OR m.cum_before >= b.b""").fetchone()[0]
            mix_bad += con.execute(
                f"SELECT count(*) - count(DISTINCT doc_id) FROM {t('mixed')}").fetchone()[0]
            # shards: exactly the mixed docs, each shard within budget or a single doc
            sh_bad = diff(f"SELECT doc_id FROM {t('mixed')}", f"SELECT doc_id FROM {t('shards')}")
            sh_bad += diff(f"SELECT doc_id FROM {t('shards')}", f"SELECT doc_id FROM {t('mixed')}")
            sh_bad += con.execute(f"""
                SELECT count(*) FROM (SELECT shard_id, sum(weight) w, count(*) c
                FROM {t('shards')} GROUP BY 1) WHERE w > {64 * 1024 * 1024} AND c > 1
                """).fetchone()[0]
            found = con.execute(f"""
                SELECT count(*) FROM ref r JOIN {t('decisions')} s USING (doc_id)
                WHERE NOT r.keep_neardup AND NOT s.keep_neardup""").fetchone()[0]
            ok = dec_bad == 0 and bk_bad == 0 and mix_bad == 0 and sh_bad == 0
            results.append((ok, found / ref_merged if ref_merged else 1.0,
                            f"decisions_diff={dec_bad} buckets_diff={bk_bad} "
                            f"mixed_bad={mix_bad} shards_bad={sh_bad} "
                            f"neardup_merges={found}/{ref_merged}"))
        except Exception as e:  # a missing or unreadable table fails the unit
            results.append((False, 0.0, f"check failed: {e}"))
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["kg_converge", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    t0 = time.time()
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code, out, rss_mb = run_jvm(args, work, RUN_LIMIT_S)
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if code != 0 or not lines:
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            sys.exit(f"perfbench: harness failed (exit {code})")
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        metrics = {k: v["value"] for k, v in res["metrics"].items()}
        units = {k: v["unit"] for k, v in res["metrics"].items()}
        attempted, failed = res["attempted"], res["failed"]
        correct = res["correct"]
        if args.workload == "curate":
            checks = check_curate(res["info"], res["info"]["units"].split(","))
            for i, (ok, recall, detail) in enumerate(checks):
                log(f"unit {i} check: ok={ok} {detail}")
            bad = sum(1 for ok, _, _ in checks if not ok)
            failed += bad
            correct = correct and bad == 0
            good = [r for ok, r, _ in checks if ok]
            if args.trace == 0:
                metrics["merge_recall"] = statistics.median(good) if good else None
        if args.trace == 0:
            metrics["peak_rss_mb"] = rss_mb
            wanted = END_TO_END
        else:
            trace = work / "trace.jsonl"
            if trace.exists():
                keep = WORK / "traces"
                keep.mkdir(parents=True, exist_ok=True)
                dest = keep / f"{args.workload}-seed{args.seed}.jsonl"
                shutil.copy(trace, dest)
                log(f"spans written to {dest.relative_to(REPO)}")
            wanted = {k: units[k] for k in metrics}
        missing = [k for k in wanted if k not in metrics or metrics[k] is None]
        if missing:
            sys.exit(f"perfbench: metrics not measured: {missing}")
        log(f"failed_frac = {failed}/{attempted} = {failed / attempted:.3f}")
        for k in sorted(wanted):
            log(f"{k} = {metrics[k]} {wanted[k]}")
        log(f"run took {time.time() - t0:.1f} s")
        print(json.dumps({
            "correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": metrics[k], "unit": wanted[k]}
                        for k in sorted(wanted)}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
