#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
(perfbench/build.sbt compiles ../src/main/scala with the harness; the build
is reused while no source changes), generates the workload's inputs from the
seed, runs one JVM that sets up, measures and checks every operation, then
checks registry outputs against their DuckDB oracle SQL and prints:

* a ``DETAIL {...}`` line: every named metric with sample count and
  quartiles, per-query costs, run metadata (nproc, SPARK_GRAFT_CPUS, commit,
  load average at start and end) and, when traced, the spans file;
* as the last line, the result object: correct, attempted, failed, metrics
  (end-to-end metrics with --trace 0, per-layer metrics with --trace 1).

All files it writes stay under .bench_build/ and perfbench/ (build output).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
DEADLINE_S = 170  # a run, not counting a build, ends inside 180 s
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    if out.returncode != 0:
        log(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------- checks

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def oracle_check(run_dir, result):
    """Each registry query output must equal its DuckDB oracle result
    (columns, dtypes and values, compared like the engine's correctness gate).
    Returns the list of failures."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    data = os.path.join(run_dir, "tables")
    for t in ("documents", "embeddings", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    want = {}
    bad = []
    for o in result["outputs"]:
        q = o["query"]
        try:
            if q not in want:
                want[q] = canon(con.sql(result["oracle"][q]).df())
            got = canon(con.sql(f"SELECT * FROM '{o['path']}/*.parquet'").df())
            w = want[q]
            if list(got.columns) != list(w.columns) or list(got.dtypes) != list(w.dtypes):
                bad.append(f"{q}: columns/types differ from the oracle")
                continue
            pd.testing.assert_frame_equal(got, w, check_dtype=True, check_exact=True)
        except AssertionError as e:
            bad.append(f"{q}: {str(e).splitlines()[0]}")
        except Exception as e:  # a missing output or a failing oracle is a failure too
            bad.append(f"{q}: {type(e).__name__}: {e}")
    return bad


# ---------------------------------------------------------------- metrics

def summary(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": len(xs), "raw": xs}


def tail(xs):
    """The highest percentile with at least ten samples beyond it, or None."""
    beyond = 10
    if len(xs) <= beyond:
        return None
    p = 100 * (len(xs) - beyond) // len(xs)
    return {"percentile": p, "value": sorted(xs)[len(xs) - beyond - 1], "beyond": beyond}


def end_to_end(samples):
    return {
        "setup_s": (statistics.median(samples["setup_s"]), "s"),
        "op_s": (statistics.median(samples["job_s"]), "s"),
        "pass_s": (statistics.median(samples["pass_s"]), "s"),
    }


def per_layer(result):
    layer, samples = result["layer"], result["samples"]
    out = {}
    for m in BENCHMARK["per_layer"]:
        name = m["name"]
        if name == "trace.overhead_s":
            v = statistics.median(samples["pass_traced_s"]) - statistics.median(samples["pass_untraced_s"])
        else:
            v = statistics.median(layer[name])
        out[name] = (v, m["unit"])
    return out


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return fh.read().split()[:3]


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCHMARK["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    load_start = loadavg()
    cp = build()
    phases = {"build_s": time.time() - started}
    deadline = started + phases["build_s"] + DEADLINE_S
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    p = None
    try:
        t = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), run_dir, a.workload,
                        str(a.seed)], check=True, timeout=120)
        phases["generate_s"] = time.time() - t
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
        cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
               + ["-cp", cp, "graft.perfbench.Main", a.workload, run_dir, str(a.seconds),
                  str(a.trace), os.path.join(HERE, "exec")])
        t = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                raise SystemExit("perfbench: run exceeded its deadline")
        if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                log(fh.read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {rc}")
        phases["jvm_s"] = time.time() - t
        result = json.load(open(os.path.join(run_dir, "result.json")))
        t = time.time()
        bad = oracle_check(run_dir, result) if result["outputs"] else []
        phases["oracle_check_s"] = time.time() - t
        attempted = result["attempted"]
        failed = result["failed"] + len(bad)
        errors = result["errors"] + bad
        samples = result["samples"]
        metrics = per_layer(result) if a.trace else end_to_end(samples)
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "metrics": {k: dict(summary(v), tail=tail(v)) for k, v in samples.items()},
            "fail_ratio": failed / max(1, attempted),
            "errors": errors[:20],
            "meta": {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus, "commit": git_commit(),
                     "loadavg_start": load_start, "loadavg_end": loadavg(),
                     "wall_s": round(time.time() - started, 3),
                     "phases_s": {k: round(v, 3) for k, v in phases.items()}},
        }
        if a.trace:
            detail["layer"] = {k: summary(v) for k, v in result["layer"].items()}
            spans = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), spans)
            detail["spans"] = os.path.relpath(spans, ROOT)
        print("DETAIL " + json.dumps(detail, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        if p is not None and p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
