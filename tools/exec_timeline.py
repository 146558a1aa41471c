#!/usr/bin/env python3
"""Per-SQL-execution timeline of a Spark event log.

Usage:  python3 tools/exec_timeline.py EVENTLOG_DIR [FROM_S TO_S]

Reads the newest event log in EVENTLOG_DIR (or EVENTLOG_DIR itself when
it is a file) and prints one line per SQL execution: its call site, its
start in seconds since the application started, its wall time, the
Spark jobs it ran and their task CPU. With FROM_S and TO_S only the
executions starting in [FROM_S, TO_S) are listed. A last line counts
the jobs that ran outside any SQL execution (schema inference, file
listing) in the same interval.

The log must be uncompressed. Record one with
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev \\
    -Dspark.eventLog.compress=false" python3 perfbench/run.py ...
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

COMPRESSED = (".lz4", ".lzf", ".snappy", ".zstd", ".zst")
RECIPE = ('JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true '
          '-Dspark.eventLog.dir=/tmp/ev -Dspark.eventLog.compress=false" '
          'python3 perfbench/run.py ...')


def log_files(arg):
    """The newest application's log: a plain file, or the numbered
    `events_N_*` parts of a rolling `eventlog_v2_*` directory, in order."""
    p = Path(arg)
    if p.is_dir() and not p.name.startswith("eventlog_v2_"):
        apps = [f for f in p.iterdir() if not f.name.startswith(".")]
        if not apps:
            sys.exit(f"no event log in {p}")
        p = max(apps, key=lambda f: f.stat().st_mtime)
    if p.is_file():
        return [p]
    parts = [f for f in p.iterdir() if f.name.startswith("events_")]
    return sorted(parts, key=lambda f: int(f.name.split("_")[1]))


def events(paths):
    for path in paths:
        name = path.name.removesuffix(".inprogress")
        if name.endswith(COMPRESSED):
            sys.exit(f"{path} is compressed; record an uncompressed log with\n  {RECIPE}")
        with open(path, encoding="utf-8", errors="replace") as f:
            for n, line in enumerate(f):
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    if n == 0:
                        sys.exit(f"{path} is not a JSON event log (compressed?); "
                                 f"record one with\n  {RECIPE}")
                    break  # a torn last line of a log still being written


LIBRARY = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")


def label(start):
    """(description, call site) of an execution start event. The call
    site is the Spark method and the first frame outside the libraries,
    from the long call site (`details`): a job's own call site names only
    a pool thread's frame when the action ran on one."""
    desc = (start.get("description") or "").strip()
    frames = [f.strip() for f in (start.get("details") or "").strip().splitlines()]
    site = ""
    if frames:
        method = frames[0].split("(")[0].rsplit(".", 1)[-1]
        user = next((f for f in frames
                     if not f.removeprefix("java.base/").startswith(LIBRARY)), frames[0])
        name, _, loc = user.partition("(")
        owner = ".".join(p.rstrip("$") for p in name.rsplit(".", 2)[-2:])
        site = f"{method} at {owner} ({loc.rstrip(')')})"
    return (desc.splitlines()[0] if desc else ""), site


def main(argv):
    if len(argv) not in (2, 4):
        sys.exit(__doc__)
    lo, hi = (float(argv[2]), float(argv[3])) if len(argv) == 4 else (0.0, float("inf"))
    t0 = None
    execs = {}                        # execution id -> [label, start ms, end ms]
    job_exec = {}                     # job id -> execution id or None
    job_start = {}                    # job id -> submission ms
    stage_job = {}                    # stage id -> job id
    cpu_ns = defaultdict(int)         # job id -> executor CPU ns of its tasks
    for e in events(log_files(argv[1])):
        kind = e.get("Event", "")
        if kind == "SparkListenerApplicationStart":
            t0 = e["Timestamp"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execs[e["executionId"]] = [label(e), e["time"], None]
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]][2] = e["time"]
        elif kind == "SparkListenerJobStart":
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            job_exec[e["Job ID"]] = int(ex) if ex is not None else None
            job_start[e["Job ID"]] = e.get("Submission Time", 0)
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e.get("Stage ID"))
            metrics = e.get("Task Metrics") or {}
            if job is not None:
                cpu_ns[job] += metrics.get("Executor CPU Time", 0)
    if t0 is None:
        t0 = min([s for _, s, _ in execs.values()] + list(job_start.values()) or [0])

    jobs_of = defaultdict(list)
    for job, ex in job_exec.items():
        jobs_of[ex].append(job)

    def rel(ms):
        return (ms - t0) / 1000.0

    shown = [(i, x) for i, x in execs.items() if lo <= rel(x[1]) < hi]
    print(f"{'exec':>5} {'start_s':>8} {'wall_s':>7} {'jobs':>4} {'cpu_s':>7}  call site")
    tot_jobs, tot_cpu = 0, 0.0
    for i, (desc, start, end) in sorted(shown, key=lambda kv: kv[1][1]):
        jobs = sorted(jobs_of.get(i, []))
        site = desc[1] + (f" [{desc[0]}]" if desc[0] and desc[0] != desc[1] else "")
        cpu = sum(cpu_ns[j] for j in jobs) / 1e9
        wall = f"{(end - start) / 1000.0:7.2f}" if end is not None else "      ?"
        tot_jobs, tot_cpu = tot_jobs + len(jobs), tot_cpu + cpu
        print(f"{i:>5} {rel(start):8.2f} {wall} {len(jobs):>4} {cpu:7.2f}  {site}")
    bare = [j for j in jobs_of.get(None, []) if lo <= rel(job_start[j]) < hi]
    print(f"{len(shown)} executions, {tot_jobs} jobs, {tot_cpu:.2f} task CPU s; "
          f"{len(bare)} jobs outside any SQL execution")


if __name__ == "__main__":
    main(sys.argv)
