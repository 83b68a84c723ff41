#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the repository root):
    python3 perfbench/run.py --workload analytics|commit_churn|bulk_ingest \
        --seed N --seconds S --trace 0|1

Builds the library and the harness from source with sbt when the sources
changed since the last build, runs one workload in one JVM, checks its
outputs, and prints as the last line of standard output one JSON object
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
untraced (--trace 0), the per-layer metrics traced (--trace 1). The line
before it is the full report (context stamp, every workload metric).
Exits non-zero when an output is wrong or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("analytics", "writes", "commit_churn", "bulk_ingest")
# in-process set-ups per run; setup_s is the median of all but the first
SETUPS = 3
BUILD_TIMEOUT_S = 600
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root: Path):
    """Every file the build reads: the library, its build, the harness."""
    out = []
    for base in (root / "src" / "main", root / "project", root / "perfbench" / "src" / "main",
                 root / "perfbench" / "project"):
        if base.is_dir():
            out += [p for p in base.rglob("*") if p.is_file() and "target" not in p.parts]
    out += [root / "build.sbt", root / "perfbench" / "build.sbt"]
    return sorted(out)


def fingerprint(root: Path) -> str:
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=subprocess.PIPE):
    """Run a command in its own process group; on timeout kill the group
    and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out, err


def build(root: Path, state: Path) -> str:
    """Compile with sbt unless the sources match the last build; return the classpath."""
    stamp, cp_file = state / "stamp", state / "classpath"
    fp = fingerprint(root)
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    state.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={state / 'tmp'}",
            f"-Dsbt.global.base={state / 'sbt-global'}", "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    (state / "tmp").mkdir(exist_ok=True)
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=root / "perfbench", timeout=BUILD_TIMEOUT_S, env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def source_id(root: Path, fp_fallback: str) -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-" + fp_fallback[:16]


def oracle_failures(root: Path, work: Path):
    """Compare each oracled analytics result with DuckDB, normalized as
    the repository's self-check normalizes (tools/selfcheck.py)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(root / "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout's tools/
    import selfcheck

    oracles = json.loads((work / "oracle_sql.json").read_text())
    corpus = Path((work / "corpus_dir.txt").read_text())
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus / (t + '.parquet')}')")
    failures = []
    for name, sql in sorted(oracles.items()):
        files = sorted((work / "results" / name).glob("*.parquet"))
        if not files:
            failures.append(f"{name}: no result")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            duck_df = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            failures.append(f"{name}: oracle error {e}")
            continue
        s_cols, s_rows = selfcheck.frame_sig(spark_df)
        d_cols, d_rows = selfcheck.frame_sig(duck_df)
        if s_cols != d_cols or s_rows != d_rows:
            diff = sum(1 for a, b in zip(s_rows, d_rows) if a != b) + abs(len(s_rows) - len(d_rows))
            failures.append(f"{name}: {diff} of {len(d_rows)} rows differ from DuckDB")
    return failures, len(oracles)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala/graft", "tools/selfcheck.py", "perfbench/build.sbt"):
        if not (root / need).exists():
            fail(f"{need} not found: run from the root of a graft checkout")
    bench = root / "perfbench"
    state = bench / ".build"
    work = bench / ".work"
    t_build = time.time()
    cp = build(root, state)
    build_s = time.time() - t_build
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    java = shutil.which("java") or fail("java is not on PATH")
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
           "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=error"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work), "--setups", str(SETUPS)]
    env = dict(os.environ, PERFBENCH_SOURCE_ID=source_id(root, (state / "stamp").read_text()))
    # a run measures whole steps of 15-30 s and pays about 30 s of set-up
    # around them, whatever --seconds is
    run_limit_s = 160 + 2 * a.seconds
    try:
        code, _, err = run_group(cmd, cwd=work, timeout=run_limit_s, env=env, stdout=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"the workload did not finish within {run_limit_s:.0f} s")
    report_file = work / "report.json"
    if code != 0 or not report_file.exists():
        sys.stderr.write(err[-6000:])
        fail(f"the benchmark JVM failed (exit {code})")
    report = json.loads(report_file.read_text())
    # every failed call and every failed check left one message
    errors = list(report["context"]["errors"])
    n_failed = report["n_errors"]
    if a.workload == "analytics":
        oracle_errors, n_oracles = oracle_failures(root, work)
        errors += oracle_errors
        n_failed += len(oracle_errors)
        report["context"]["oracled_entries"] = n_oracles
    report["context"]["build_s"] = build_s
    report["context"]["errors"] = errors
    shutil.rmtree(work, ignore_errors=True)

    metrics = report["per_layer"] if a.trace == "1" else report["end_to_end"]
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        errors.append(f"metrics without a value: {missing}")
    correct = n_failed == 0 and not missing
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": n_failed, "metrics": metrics}))
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
