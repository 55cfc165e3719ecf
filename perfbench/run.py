#!/usr/bin/env python3
"""Benchmark of the credit-card ETL engine: one seeded workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (`perfbench/build.sbt`, an sbt build that depends on the root
build) and caches the classpath under `.bench_build/`; later runs reuse it
while the sources are unchanged. Each run starts one fresh JVM
(`graft.perfbench.Main`) that sets up, runs timed passes of the workload
for `--seconds`, and writes what it did to a per-run directory under
`.bench_build/runs/`. This script then checks the outputs, reduces the
timings to metrics, deletes the run directory, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics; a traced run also keeps its span file and layer table under
`.bench_build/traces/`. See perfbench/README.md for the workloads, the
metrics and the checks.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import sqlite3
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TABLES = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165

# What each workload runs is defined in Main.scala, by name.
WORKLOADS = ("pipeline_many_files", "query_mix")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_fingerprint():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/main/**/*"]
    files = sorted({f for p in pats
                    for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("[perfbench] no engine sources next to perfbench/ "
                 "(expected build.sbt and src/main/scala/graft)")
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.exit(f"[perfbench] build failed (exit {proc.returncode}); "
                 f"see .bench_build/build.log")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.0f}s")
    return classpath


# ------------------------------------------------------------------ run

def run_jvm(classpath, workload, seed, seconds, trace, work):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-Dfile.encoding=UTF-8",
              "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
              "-cp", classpath, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work", work, "--cpus", str(cpus),
              "--tables", TABLES, "--launch-ms", str(int(time.time() * 1000))])
    # CJK statement filenames need a UTF-8 locale; Spark scratch stays in
    # the run directory (SPARK_LOCAL_DIRS would override spark.local.dir)
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # on timeout, or when this script is stopped, stop the JVM too
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"[perfbench] harness JVM failed ({rc}):\n{tail}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def duck():
    import duckdb
    return duckdb.connect()


def render(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{render(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def fingerprint_rows(rows):
    """Order-insensitive hash of rows, floats to 9 significant digits."""
    h = hashlib.sha256()
    for line in sorted("|".join(render(v) for v in r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def check_pipeline(work, res):
    """Per pass: the manifest's counts and sums, SQLite integrity, and one
    output fingerprint shared by every pass. Returns (problems, info)."""
    with open(os.path.join(work, "manifest.json")) as fh:
        man = json.load(fh)
    skipped = res["files_routed"] - res["union_branches"]
    con = duck()
    problems, prints, info = [], set(), {}
    if res["files_routed"] != man["files"]:
        problems.append(f"routed {res['files_routed']} files, wrote {man['files']}")
    if skipped != man["corrupt_files"]:
        problems.append(f"{skipped} files skipped, expected {man['corrupt_files']}")
    for p in res["passes"]:
        out = os.path.join(work, "out", f"pass_{p['index']}")
        pq = os.path.join(out, "all_transactions", "*.parquet")
        q = lambda sql: con.sql(sql.format(T=f"read_parquet('{pq}')")).fetchall()
        rows = q("SELECT count(*) FROM {T}")[0][0]
        by_bank = dict(q("SELECT bank_name, count(*) FROM {T} GROUP BY 1"))
        types = dict(q("SELECT transaction_type, count(*) FROM {T} GROUP BY 1"))
        sums = {k: round(v, 2) for k, v in
                q("SELECT card_no, sum(payment_amount) FROM {T} GROUP BY 1")}
        want = {"rows": man["rows"], "by_bank": man["rows_by_bank"],
                "payments": man["payments"], "credits": man["credits"],
                "fees": man["fees"], "sums": {k: float(v) for k, v in man["sum_by_card"].items()}}
        got = {"rows": rows, "by_bank": by_bank, "payments": types.get("繳款", 0),
               "credits": types.get("折抵", 0), "fees": types.get("各項費用", 0),
               "sums": sums}
        for k in want:
            if want[k] != got[k]:
                problems.append(f"pass {p['index']}: {k} {got[k]} != {want[k]}")
        db = sqlite3.connect(os.path.join(out, "Bills.db"))
        try:
            integ = db.execute("PRAGMA integrity_check").fetchone()[0]
            n_db = db.execute("SELECT count(*) FROM bills").fetchone()[0]
            n_idx = db.execute("SELECT count(*) FROM sqlite_master "
                               "WHERE type='index'").fetchone()[0]
        finally:
            db.close()
        if integ != "ok" or n_db != rows or n_idx != 4:
            problems.append(f"pass {p['index']}: Bills.db integrity={integ} "
                            f"rows={n_db} indexes={n_idx}")
        parts = []
        for t in ("all_transactions", "rfm_merchant", "rfm_payment", "rfm_card"):
            trows = con.sql(f"SELECT * FROM read_parquet('{out}/{t}/*.parquet')").fetchall()
            if not trows:
                problems.append(f"pass {p['index']}: {t} is empty")
            parts.append(fingerprint_rows(trows))
        prints.add("-".join(parts))
        info.setdefault("parquet_bytes", []).append(dir_bytes(os.path.join(out, "all_transactions")))
        info.setdefault("sqlite_bytes", []).append(os.path.getsize(os.path.join(out, "Bills.db")))
    if len(prints) != 1:
        problems.append(f"output fingerprint differs across passes: {sorted(prints)}")
    info.update(fingerprint=sorted(prints)[0] if prints else None,
                rows=man["rows"], files=man["files"],
                files_skipped=skipped)
    return problems, info


def check_queries(work, res):
    """The cold pass's query outputs against the DuckDB oracle, with the
    repository's own checker, tools/check_oracle.py. A sampled query with
    no oracle SQL fails. Returns problems keyed by query."""
    out = os.path.join(work, "out", "queries")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    problems = {q: "no oracle SQL to check against"
                for q in res["queries"] if q not in oracle}
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), TABLES, out],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    verdicts = {}
    for line in proc.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name, _, why = rest.partition(": ")
            verdicts[name] = why if word == "FAIL" else None
    for q in oracle:
        if q not in verdicts:
            problems[q] = f"no verdict from check_oracle.py (exit {proc.returncode})"
        elif verdicts[q] is not None:
            problems[q] = verdicts[q]
    return problems


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


# ------------------------------------------------------------------ metrics

def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def e2e_metrics(res):
    """End-to-end metrics of the run's set-up and first pass: the cold job
    (pipeline) or the cold pass over the query sample (query_mix), in a
    fresh JVM."""
    first = res["passes"][0]
    return {
        "setup_s": res["setup_s"],
        "pass_s": first["seconds"],
        "pass_cpu_s": first["cpu_seconds"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def step_quantiles(res):
    """Latency of the first pass's steps (layer calls or queries): median
    and p90, with the sample count, for the run record."""
    steps = [s["seconds"] for s in res["passes"][0]["steps"]]
    return {"steps": len(steps), "step_p50_s": quantile(steps, 0.5),
            "step_p90_s": quantile(steps, 0.9)}


def layer_metrics(work, res, info):
    """The harness's layer table of the cold pass plus what the checks
    measured on disk for it."""
    with open(os.path.join(work, "layers.json")) as fh:
        layers = json.load(fh)["metrics"]
    rows = info.get("rows", 0)
    parquet = info.get("parquet_bytes", [0])[0]
    sqlite_bytes = info.get("sqlite_bytes", [0])[0]
    layers.update({
        "extract.files": info.get("files", 0),
        "extract.files_skipped": info.get("files_skipped", 0),
        "extract.rows": rows,
        "load.parquet_bytes": parquet,
        "sqlite.bytes": sqlite_bytes,
        "load.bytes_per_row": (parquet + sqlite_bytes) / rows if rows else 0,
    })
    return layers


def main():
    # SIGTERM unwinds like an exception, so the JVM and run dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, work)
        t0 = time.time()
        if a.workload.startswith("pipeline_"):
            problems, info = check_pipeline(work, res)
            attempted = len(res["passes"])
            failed = attempted if problems else 0
            for p in problems:
                log(f"CHECK FAILED: {p}")
        else:
            bad, info = check_queries(work, res), {}
            per_pass = len(res["passes"][0]["steps"])
            attempted = per_pass * len(res["passes"])
            failed = len(bad) * len(res["passes"])
            for k, v in sorted(bad.items()):
                log(f"CHECK FAILED: {k}: {v}")
        log(f"checks took {time.time() - t0:.1f}s")
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "confs": res["confs"], "passes": len(res["passes"]),
                  "first_pass_steps": step_quantiles(res),
                  "setup_s": res["setup_s"], "jvm_start_s": res["jvm_start_s"],
                  "pass_s": [p["seconds"] for p in res["passes"]],
                  "error_rate": failed / attempted,
                  "fingerprint": info.get("fingerprint")}
        if a.trace:
            values = layer_metrics(work, res, info)
            keep = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}")
            os.makedirs(keep, exist_ok=True)
            for f in ("spans.json", "layers.json", "result.json"):
                shutil.copy(os.path.join(work, f), keep)
            with open(os.path.join(keep, "record.json"), "w") as fh:
                json.dump(dict(record, per_layer=values), fh, indent=1,
                          ensure_ascii=False)
        else:
            values = e2e_metrics(res)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec}
        log("record " + json.dumps(record, ensure_ascii=False))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
