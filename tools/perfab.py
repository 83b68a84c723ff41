#!/usr/bin/env python3
"""A/B the benchmark: a parent revision against the working tree.

Usage (from the repository root):
    python3 tools/perfab.py PARENT_REV [--workloads analytics,writes]
        [--seeds 1,2,3] [--trace 0|1]

Exports PARENT_REV and the working tree (tracked and untracked files,
ignored ones left out) into two separate fresh directories under a new
temporary directory ($TMPDIR, /tmp by default), so neither side sees the
other's build state. For each workload and seed it runs
`perfbench/run.py` once in each checkout for the run length BENCHMARK.json
fixes (`run_seconds`), alternating which side goes first, and prints ONE
JSON line:

    {"parent": sha, "change": tree, "trace": t, "seconds": run_seconds,
     "seeds": [...],
     "workloads": {w: {"metrics": {m: {"parent": median, "change": median,
                                      "ratio": change/parent,
                                      "wins": pairs the change won (lower is
                                              better unless BENCHMARK.json
                                              says higher; ties win for
                                              neither side),
                                      "pairs": n,
                                      "parent_iqr": q3-q1 of the parent,
                                      "gain_shown": at least 10 pairs, wins
                                                    >= 9/10 of them, and
                                                    the medians differ, in
                                                    the change's favour, by
                                                    more than parent_iqr,
                                      "within_bound": the change's median is
                                                      worse than the parent's
                                                      by at most the metric's
                                                      BENCHMARK.json bound
                                                      (a fraction of the
                                                      parent's median)}},
                       "detail": {...the same without the two verdicts for
                                  the report's workload metrics, e.g.
                                  ops.<family>_s; a metric whose unit is a
                                  rate (rows/s, 1/s) is higher-is-better,
                                  any other lower-is-better},
                       "failed": {"parent": n, "change": n}}},
     "failed": n}

The two verdicts follow the small-sandbox rule for claiming a gain (at
least ten alternating pairs, 9/10 wins, a median shift beyond the
parent's own quartile spread) and the per-metric regression bound.

`failed` adds the failed operations both sides reported and the runs that
produced no result. The directories are removed at the end; their names
are kept short because sbt puts a unix socket below them and socket paths
are limited to about 100 bytes. perfbench/ itself is only read and run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path


def git(root, *args, env=None, stdout=subprocess.PIPE):
    r = subprocess.run(["git", *args], cwd=root, env=env, stdout=stdout,
                       stderr=subprocess.PIPE, text=stdout == subprocess.PIPE)
    if r.returncode != 0:
        sys.exit(f"perfab: git {' '.join(args)} failed: {r.stderr}")
    return r.stdout.strip() if stdout == subprocess.PIPE else None


def export(root, treeish, dest):
    """Write the files of `treeish` to the fresh directory `dest`."""
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "archive", treeish], cwd=root, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"perfab: git archive {treeish} failed")


def working_tree(root, scratch):
    """A tree object of the working tree, staged through a private index
    so the repository's own index is left alone."""
    env = dict(os.environ, GIT_INDEX_FILE=str(scratch / "index"))
    git(root, "read-tree", "HEAD", env=env)
    git(root, "add", "-A", env=env)
    return git(root, "write-tree", env=env)


def run(side, checkout, workload, seed, seconds, trace):
    """One benchmark run: its result line with the full report under
    "report", or None when it produced none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", trace]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    try:
        result = json.loads(lines[-1])
        result["report"] = json.loads(lines[-2])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(f"perfab: {side} {workload} seed {seed}: no result\n{r.stderr[-2000:]}\n")
        return None
    print(f"perfab: {side} {workload} seed {seed}: failed={result['failed']} "
          + " ".join(f"{k}={v['value']}" for k, v in sorted(result["metrics"].items())),
          file=sys.stderr)
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def rate_directions(pairs):
    """Each report metric's direction, from the unit the report gives it:
    a rate (`rows/s`, `1/s`) is higher-is-better, anything else lower."""
    return {m: "higher" if str(v.get("unit", "")).endswith("/s") else "lower"
            for run in pairs for side in run if side for m, v in side.items()}


def summarize(pairs, better, bounds=None):
    """Per-metric medians, ratio, pair wins and the parent's spread over
    `pairs` of {metric: {"value": v}} maps (None for a run without result).
    For the metrics in `bounds` (name -> allowed fractional worsening) it
    adds the `gain_shown` and `within_bound` verdicts."""
    names = sorted({m for p, _ in pairs for m in (p or {})})
    out = {}
    for m in names:
        both = [(p[m]["value"], c[m]["value"]) for p, c in pairs
                if p and c and p.get(m, {}).get("value") is not None
                and c.get(m, {}).get("value") is not None]
        if not both:
            continue
        ps, cs = [p for p, _ in both], [c for _, c in both]
        sign = 1 if better.get(m) == "higher" else -1
        q1, q3 = quartiles(ps)
        pm, cm = statistics.median(ps), statistics.median(cs)
        wins = sum(1 for p, c in both if sign * (c - p) > 0)
        out[m] = {"parent": pm, "change": cm, "ratio": cm / pm if pm else None,
                  "wins": wins, "pairs": len(both), "parent_iqr": q3 - q1}
        if bounds and m in bounds:
            out[m]["gain_shown"] = (len(both) >= 10 and 10 * wins >= 9 * len(both)
                                    and sign * (cm - pm) > q3 - q1)
            out[m]["within_bound"] = -sign * (cm - pm) <= bounds[m] * abs(pm)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_rev")
    ap.add_argument("--workloads", default="analytics,writes")
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    root = Path(git(Path.cwd(), "rev-parse", "--show-toplevel"))
    bench = json.loads((root / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = [int(s) for s in a.seeds.split(",")]
    workloads = a.workloads.split(",")

    scratch = Path(tempfile.mkdtemp(prefix="ab"))
    try:
        parent_sha = git(root, "rev-parse", "--verify", a.parent_rev + "^{commit}")
        change_tree = working_tree(root, scratch)
        sides = {"parent": scratch / "p", "change": scratch / "c"}
        export(root, parent_sha, sides["parent"])
        export(root, change_tree, sides["change"])

        report = {"parent": parent_sha, "change": change_tree, "trace": a.trace,
                  "seconds": seconds, "seeds": seeds, "workloads": {}, "failed": 0}
        for w in workloads:
            pairs, failed = [], {"parent": 0, "change": 0}
            for i, seed in enumerate(seeds):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                got = {side: run(side, sides[side], w, seed, seconds, a.trace) for side in order}
                for side, r in got.items():
                    failed[side] += 1 if r is None else r["failed"]
                pairs.append((got["parent"], got["change"]))
            detail = [(p and p["report"]["workload_metrics"], c and c["report"]["workload_metrics"])
                      for p, c in pairs]
            report["workloads"][w] = {
                "metrics": summarize([(p and p["metrics"], c and c["metrics"]) for p, c in pairs],
                                     better, bounds),
                "detail": summarize(detail, rate_directions(detail)),
                "failed": failed}
            report["failed"] += failed["parent"] + failed["change"]
        print(json.dumps(report, sort_keys=True))
        return 1 if report["failed"] else 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
