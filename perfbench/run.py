#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cadence|suite --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the program with
the repository's own sbt build and the harness on top of it (offline);
later runs reuse the build while no source or build file changed. Each run starts one JVM with a
session from `GraftSession.local(nproc)`, sets up, measures for
`--seconds`, checks the answers and stops the JVM.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics with `--trace 1`. The lines
before it report every metric the run measured, with unit and sample
count. `--keep FILE` also copies the run's full result (report, SQL
confs, spans) to FILE.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "target"
WORK = HERE / "work"
DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "suite_expected.json"

# The JVM flags the program's own build uses for Spark 4 on JDK 17, with
# a fixed, pre-touched heap.
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties",
             ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness unless the last build saw these sources."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: no program sources at src/main/scala/graft")
    digest = sources_digest()
    stamp, cp_file = BUILD / "perfbench.stamp", BUILD / "perfbench.classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building program and harness")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + str(Path.home() / ".sbt" / "repositories") + " -Dsbt.offline=true -Xmx2g"))
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in out.stdout.splitlines() if not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        sys.exit(f"perfbench: build failed ({out.returncode})")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def run_jvm(cp, extra):
    if WORK.exists():
        shutil.rmtree(WORK)
    (WORK / "tmp").mkdir(parents=True)
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={WORK / 'tmp'}",
        f"-Dspark.local.dir={WORK / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={WORK / 'spark-warehouse'}",
        "-cp", cp, "perfbench.Main",
        "--work", str(WORK / "run"), "--data", str(DATA), "--expected", str(EXPECTED)] + extra
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait()
    finally:
        if proc.poll() is None:
            proc.terminate()
            proc.wait()
    log(f"jvm {time.time() - t0:.1f} s")
    return rc


def main():
    # a run that is stopped stops the build or the JVM it started, and
    # waits for it: SystemExit unwinds through the waits below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run's full result JSON here")
    ap.add_argument("--record", action="store_true",
                    help="record the suite answers into suite_expected.json")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    if a.record:
        sys.exit(run_jvm(cp, ["--record", "1"]))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload!r}")
    result = WORK / "result.json"
    rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--out", str(result)])
    if rc != 0 or not result.exists():
        sys.exit(f"perfbench: run failed ({rc})")
    r = json.loads(result.read_text())
    if a.keep:
        shutil.copyfile(result, a.keep)
    shutil.rmtree(WORK)

    for n in r["notes"]:
        print(f"failed: {n}")
    report = r["layers"] if a.trace else r["e2e"]
    for name, m in report.items():
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = aliases(a.workload).get(m["name"], m["name"])
        if a.trace and name not in report:
            # a layer this workload never calls did no work
            report[name] = {"value": 0.0}
        metrics[m["name"]] = {"value": report[name]["value"], "unit": m["unit"]}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


def aliases(workload):
    """Contract metric -> the workload's own metric it stands for."""
    return {
        "cadence": {"batch_s": "freshness_s", "query_s.p50": "bi_s.p50"},
        "suite": {"batch_s": "suite_s", "query_s.p50": "suite_s.p50"},
    }[workload]


if __name__ == "__main__":
    main()
