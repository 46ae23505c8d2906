#!/usr/bin/env python3
"""Alternated parent/change perfbench runs, and the verdict on each metric.

    python3 scripts/perfbench_pairs.py PARENT CHANGE --out plans/<name>/perfbench_pairs.json \\
        [--workloads wc_jobs grep_jobs] [--pairs 10] [--first-seed 1]

Run from the repository root. PARENT and CHANGE are commits. Each is
extracted with `git archive` into .bench_build/pairs/<side> (a clean tree
of the committed files, as the benchmark is run on), so the working tree
and its uncommitted files never enter a measurement. Pair i of a workload
runs `perfbench/run.py --trace 0` for BENCHMARK.json's run_seconds on seed
first-seed + i on both sides, the parent first on even i and the change first on odd i. Each run
is appended to --out as it finishes (an existing --out of the same two
commits is added to, so a run can be resumed or extended), in the shape of the earlier
plans/*/perfbench_pairs.json files ({"what", "summary", "runs"}).

The verdict per workload and end-to-end metric: "gain" when the change is
better in at least 9 of every 10 pairs and its median is better than the
parent's by more than the parent's interquartile range; "loss" for the same
rule the other way; "unresolved" otherwise. The bound column says whether
the change's median is worse than the parent's by more than the metric's
bound in BENCHMARK.json. perfbench/ and BENCHMARK.json are only read.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKDIR = os.path.join(ROOT, ".bench_build", "pairs")
SIDES = ("parent", "change")


def checkout(commit, dest):
    """A clean tree of `commit`'s files at `dest`; returns the full hash."""
    full = subprocess.run(["git", "rev-parse", "--verify", commit + "^{commit}"], cwd=ROOT,
                          check=True, capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(dest, ".pairs_commit")
    if os.path.exists(stamp) and open(stamp).read() == full:
        return full  # reuse the tree and its perfbench build
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", full], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {commit} failed")
    with open(stamp, "w") as fh:
        fh.write(full)
    return full


def run_one(tree, workload, seed, seconds):
    t0 = time.time()
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "0"],
                         cwd=tree, capture_output=True, text=True)
    result = None
    for line in reversed(out.stdout.splitlines()):
        try:
            result = json.loads(line)
            break
        except ValueError:
            continue
    if out.returncode != 0 or result is None:
        sys.stderr.write(out.stderr[-2000:])
    return {"rc": out.returncode, "wall_s": round(time.time() - t0, 1), "result": result}


def quartiles(xs):
    """median, q1 and q3 as perfbench/run.py computes them."""
    q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": len(xs)}


def summarize(runs, metrics):
    summary = {}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w and r["result"]]
        s = {}
        for m in metrics:
            pairs = {}
            for r in mine:
                v = r["result"]["metrics"].get(m["name"], {}).get("value")
                if v is not None:
                    pairs.setdefault(r["seed"], {})[r["side"]] = v
            both = [p for p in pairs.values() if len(p) == 2]
            if not both:
                continue
            sign = 1 if m["better"] == "lower" else -1
            par = quartiles([p["parent"] for p in both])
            chg = quartiles([p["change"] for p in both])
            wins = sum(sign * (p["parent"] - p["change"]) > 0 for p in both)
            losses = sum(sign * (p["change"] - p["parent"]) > 0 for p in both)
            iqr = par["q3"] - par["q1"]
            need = math.ceil(0.9 * len(both))
            if wins >= need and sign * (par["median"] - chg["median"]) > iqr:
                verdict = "gain"
            elif losses >= need and sign * (chg["median"] - par["median"]) > iqr:
                verdict = "loss"
            else:
                verdict = "unresolved"
            s[m["name"]] = {
                "parent": par, "change": chg,
                "ratio_of_medians": chg["median"] / par["median"],
                "change_better_pairs": wins, "pairs": len(both),
                "parent_iqr_over_median": iqr / par["median"],
                "verdict": verdict,
                "outside_bound": sign * (chg["median"] - par["median"]) > m["bound"] * par["median"],
            }
        for k in ("attempted", "failed"):
            s[k] = {side: sum(r["result"][k] for r in mine if r["side"] == side) for side in SIDES}
        s["all_correct"] = all(r["result"]["correct"] for r in mine) and all(r["rc"] == 0 for r in runs
                                                                              if r["workload"] == w)
        summary[w] = s
    return summary


def report(summary):
    for w, s in summary.items():
        for name, m in s.items():
            if isinstance(m, dict) and "verdict" in m:
                print(f"{w:10s} {name:8s} {m['parent']['median']:.4f} -> {m['change']['median']:.4f} "
                      f"(ratio {m['ratio_of_medians']:.3f}, change better in {m['change_better_pairs']}"
                      f"/{m['pairs']}, parent IQR/median {m['parent_iqr_over_median']:.3f}) "
                      f"{m['verdict']}{'  OUTSIDE BOUND' if m['outside_bound'] else ''}")
        print(f"{w:10s} attempted {s['attempted']} failed {s['failed']} all_correct {s['all_correct']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", nargs="+", default=["wc_jobs", "grep_jobs"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    trees = {side: os.path.join(WORKDIR, side) for side in SIDES}
    commits = {side: checkout(c, trees[side]) for side, c in zip(SIDES, (a.parent, a.change))}
    doc = {"what": f"perfbench/run.py --seconds {seconds:g} --trace 0, {a.pairs} alternated pairs per "
                   f"workload on seeds {a.first_seed}..{a.first_seed + a.pairs - 1} (parent first on even "
                   f"pair index); parent {commits['parent']}, change {commits['change']}; "
                   f"written by scripts/perfbench_pairs.py",
           "summary": {}, "runs": []}
    if os.path.exists(a.out):  # add to the runs of the same two commits, or refuse
        old = json.load(open(a.out))
        if not all(commits[side] in old["what"] for side in SIDES):
            raise SystemExit(f"{a.out} holds runs of other commits")
        doc["runs"] = old["runs"]
        doc["what"] = old["what"] + f"; then {a.workloads} on seeds {a.first_seed}..{a.first_seed + a.pairs - 1}"
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    for w in a.workloads:
        for i in range(a.pairs):
            seed = a.first_seed + i
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                r = run_one(trees[side], w, seed, seconds)
                doc["runs"].append(dict(side=side, workload=w, seed=seed, **r))
                res = r["result"] or {}
                print(f"{w} seed {seed} {side}: rc {r['rc']} "
                      + " ".join(f"{k} {v['value']:.4f}" for k, v in res.get("metrics", {}).items()),
                      flush=True)
                doc["summary"] = summarize(doc["runs"], bench["end_to_end"])
                with open(a.out, "w") as fh:
                    json.dump(doc, fh, indent=1)
    report(doc["summary"])


if __name__ == "__main__":
    main()
