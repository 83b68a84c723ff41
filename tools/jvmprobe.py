#!/usr/bin/env python3
"""Count codegen compiles and process starts per phase of one benchmark run.

Usage (from the repository root, after a normal `perfbench/run.py` build):
    python3 tools/jvmprobe.py --workload writes [--seed 11] [--seconds 5]

Runs the JVM command `perfbench/run.py` runs (its options, heap and
set-up count are read from run.py itself), on the classpath that run.py's
build left in `perfbench/.build/classpath`, with two additions: a log4j2
configuration that keeps Spark's `CodeGenerator` at DEBUG, and a Java
Flight Recorder recording of `jdk.ProcessStart` events. Everything it
writes lives in a fresh directory under $TMPDIR (default /tmp), removed
at the end; nothing in the checkout is written.

For each phase of the run (session start, each set-up, warm-up,
calibration, the timed step, and what follows it) it prints:
  - classes compiled, split into driver threads and executor threads
    ("Executor task launch worker ..."), and into first compiles and
    repeats of a code body compiled earlier in the run: an executor
    repeat is split by who compiled that body first, the driver or an
    executor;
  - process starts by command (`chmod`, `readlink`, `ls`, `rm`, other).

It prints counts only: counts repeat from run to run, while times under
DEBUG logging and recording do not. One JSON line with the same counts
follows the table.

How the timed step is found: the JVM logs nothing at the phase
boundaries, so they are rebuilt from the report's phase durations
(session_s, setup_runs_s, warm_s, cal_cpu, cal_scan, timed_s), laid end
to end from the log line SparkContext writes when it starts. That line
comes after the harness's own clock starts, by the class loading of the
session builder (typically 0.1-0.5 s), so every boundary is placed late
by that much; the small gaps between phases (GC counter reads) shift
them by a few more milliseconds. An event within about half a second of
a boundary may be counted in the neighbouring phase.
"""
import argparse
import datetime
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections import Counter, defaultdict
from pathlib import Path

LOG4J2 = """\
status = error
appender.f.type = File
appender.f.name = f
appender.f.fileName = {log}
appender.f.layout.type = PatternLayout
appender.f.layout.pattern = %d{{UNIX_MILLIS}} [%t] %p %c{{1}}: %m%n
rootLogger.level = error
rootLogger.appenderRef.f.ref = f
logger.cg.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.cg.level = debug
logger.sc.name = org.apache.spark.SparkContext
logger.sc.level = info
"""

JFC = """\
<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="process starts">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""

RECORD = re.compile(r"^(\d{13}) \[(.*?)\] (\w+) (\S+): (.*)$")
COMMANDS = ("chmod", "readlink", "ls", "rm")


def load_run_py(root):
    """perfbench/run.py as a module, without leaving a .pyc behind."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(root / "perfbench"))
    import run  # noqa: E402  (perfbench/run.py: its constants, not its main)
    return run


def records(log):
    """(epoch ms, thread, level, logger, message) per log record; a
    DEBUG code body spans many lines."""
    cur = None
    with open(log, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = RECORD.match(line.rstrip("\n"))
            if m:
                if cur:
                    yield cur
                cur = [int(m.group(1)), m.group(2), m.group(3), m.group(4), m.group(5)]
            elif cur:
                cur[4] += "\n" + line.rstrip("\n")
    if cur:
        yield cur


def compiles(log):
    """(epoch ms, on an executor, body hash) per compiled class, and the
    SparkContext start time."""
    body = {}
    out, anchor = [], None
    for ms, thread, level, logger, msg in records(log):
        if logger == "SparkContext" and anchor is None and "Running Spark version" in msg:
            anchor = ms
        elif logger == "CodeGenerator" and level == "DEBUG":
            body[thread] = hashlib.sha1(msg.encode()).hexdigest()
        elif logger == "CodeGenerator" and msg.startswith("Code generated in"):
            out.append((ms, thread.startswith("Executor task launch worker"), body.pop(thread, None)))
    return out, anchor


def process_starts(jfr_tool, rec):
    r = subprocess.run([jfr_tool, "print", "--json", "--events", "jdk.ProcessStart", str(rec)],
                       capture_output=True, text=True, check=True)
    events = json.loads(r.stdout)["recording"]["events"]
    out = []
    for e in events:
        v = e["values"]
        t = datetime.datetime.fromisoformat(v["startTime"].replace("Z", "+00:00"))
        cmd = v.get("command", "").split()
        name = os.path.basename(cmd[0]) if cmd else ""
        out.append((t.timestamp() * 1000.0, name if name in COMMANDS else "other"))
    return out


def phases(report, anchor):
    """(name, start ms, end ms) laid end to end from the report's
    durations, the last phase open-ended."""
    c = report["context"]
    spans = [("session", c["session_s"])]
    spans += [(f"setup{i + 1}", s) for i, s in enumerate(c["setup_runs_s"])]
    spans += [("warm", c["warm_s"]), ("calibration", c["cal_cpu"] + c["cal_scan"]),
              ("timed", c["timed_s"])]
    out, t = [], float(anchor)
    for name, s in spans:
        out.append((name, t, t + s * 1000.0))
        t += s * 1000.0
    out.append(("after", t, float("inf")))
    return out


def phase_of(spans, ms):
    for name, lo, hi in spans:
        if ms < hi:
            return name
    return spans[-1][0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed-step length (default: BENCHMARK.json's run_seconds)")
    a = ap.parse_args()

    root = Path.cwd()
    cp_file = root / "perfbench" / ".build" / "classpath"
    if not cp_file.exists():
        sys.exit("jvmprobe: perfbench/.build/classpath not found: run perfbench/run.py once first")
    run = load_run_py(root)
    seconds = a.seconds if a.seconds is not None else \
        json.loads((root / "BENCHMARK.json").read_text())["run_seconds"]
    java = shutil.which("java") or sys.exit("jvmprobe: java is not on PATH")
    jfr_tool = str(Path(os.path.realpath(java)).parent / "jfr")

    scratch = Path(tempfile.mkdtemp(prefix="jvmprobe-"))
    try:
        work, tmp = scratch / "work", scratch / "work" / "tmp"
        tmp.mkdir(parents=True)
        log, rec = scratch / "jvm.log", scratch / "rec.jfr"
        (scratch / "log4j2.properties").write_text(LOG4J2.format(log=log))
        (scratch / "process.jfc").write_text(JFC)
        cmd = [java, f"-Xmx{run.HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Dlog4j2.configurationFile={scratch / 'log4j2.properties'}",
               f"-XX:StartFlightRecording=filename={rec},settings={scratch / 'process.jfc'}"]
        for o in run.ADD_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp_file.read_text().strip(), "perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(seconds), "--trace", "0",
                "--work", str(work), "--setups", str(run.SETUPS)]
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                           text=True)
        if r.returncode != 0 or not (work / "report.json").exists():
            sys.stderr.write(r.stderr[-4000:])
            sys.exit(f"jvmprobe: the benchmark JVM failed (exit {r.returncode})")
        report = json.loads((work / "report.json").read_text())
        classes, anchor = compiles(log)
        if anchor is None:
            sys.exit("jvmprobe: no SparkContext start line in the log; cannot place the phases")
        spans = phases(report, anchor)
        starts = process_starts(jfr_tool, rec)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    counts = defaultdict(Counter)
    first_by = {}
    for ms, on_exec, h in sorted(classes):
        c = counts[phase_of(spans, ms)]
        c["compiled"] += 1
        who = "executor" if on_exec else "driver"
        if h is None:
            c[f"{who}_unknown_body"] += 1
        elif h not in first_by:
            first_by[h] = who
            c[f"{who}_first"] += 1
        elif on_exec:
            c[f"executor_repeat_of_{first_by[h]}_body"] += 1
        else:
            c["driver_repeat"] += 1
    for ms, name in starts:
        counts[phase_of(spans, ms)][f"proc_{name}"] += 1

    cols = ["compiled", "driver_first", "driver_repeat", "executor_first",
            "executor_repeat_of_driver_body", "executor_repeat_of_executor_body",
            "proc_chmod", "proc_readlink", "proc_ls", "proc_rm", "proc_other"]
    extra = sorted({k for c in counts.values() for k in c} - set(cols))
    cols += extra
    names = [s[0] for s in spans]
    short = {k: k.replace("executor_repeat_of_", "exec_rep_").replace("_body", "") for k in cols}
    width = {k: max(8, len(short[k]) + 1) for k in cols}
    print("phase".ljust(12) + "".join(short[k].rjust(width[k]) for k in cols))
    for n in names:
        print(n.ljust(12) + "".join(str(counts[n][k]).rjust(width[k]) for k in cols))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "seconds": seconds,
                      "cpus": os.cpu_count(),
                      "phases": {n: dict(counts[n]) for n in names}}, sort_keys=True))


if __name__ == "__main__":
    main()
