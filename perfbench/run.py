#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
benchmark from source with sbt (offline) into perfbench/target and
.bench_build/; later runs reuse the build until a source file changes.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the metrics are the
`end_to_end` ones of BENCHMARK.json with --trace 0 and the `per_layer`
ones with --trace 1. Everything above it is a readable report. See
perfbench/README.md for the workloads and what each metric means.

Extra options: --data <dir> (input tables, default ~/testdata/sf0.1),
--corrupt-expected (self-test: one expected value is made wrong, which must
be reported as a failed operation), --write-pins (record the operators'
observed row counts and hashes as the pinned values).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = BUILD / "perfbench"
CLASSPATH = BUILD / "perfbench.classpath"
PINS = HERE / "operator_pins.json"
DEFAULT_DATA = str(Path.home() / "testdata" / "sf0.1")
WORKLOADS = ["daily_cycle", "daily_cycle_manifest", "wide_edit", "operators"]
# a run ends within 180 s, however the JVM behaves
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for d in (ROOT / "src" / "main", HERE / "src"):
        for p in d.rglob("*"):
            if p.is_file():
                yield p
    yield HERE / "build.sbt"
    yield HERE / "project" / "build.properties"


def build():
    """Compile graft and the benchmark unless the last build is current."""
    if CLASSPATH.exists():
        built = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime <= built for p in sources()):
            return CLASSPATH.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        f"-Djava.io.tmpdir={BUILD / 'tmp'}"])
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    print("perfbench: building graft and the benchmark with sbt", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    cp = [ln for ln in out.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    CLASSPATH.write_text(cp[-1] + "\n")
    return cp[-1]


def stop(proc):
    """Kill a child's whole process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def jvm_mem():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def overhead(workload, e2e, metrics, trace):
    """Keep untraced end-to-end results; a traced run prints its overhead
    as traced minus untraced median for each end-to-end metric."""
    log = WORK / f"untraced-{workload}.jsonl"
    if not trace:
        WORK.mkdir(parents=True, exist_ok=True)
        with open(log, "a") as f:
            f.write(json.dumps({k: metrics[k]["value"] for k in e2e if k in metrics}) + "\n")
        return
    if not log.exists():
        print("tracing overhead: no untraced run of this workload in this checkout yet")
        return
    rows = [json.loads(ln) for ln in log.read_text().splitlines() if ln.strip()]
    print(f"tracing overhead (traced - median of {len(rows)} untraced runs):")
    for k in e2e:
        base = [r[k] for r in rows if k in r]
        if base and k in metrics:
            med = statistics.median(base)
            d = metrics[k]["value"] - med
            share = f" ({d / med:+.1%})" if med else ""
            print(f"  {k:<14} {d:+.4f} {metrics[k]['unit']}{share}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--data", default=DEFAULT_DATA)
    ap.add_argument("--corrupt-expected", action="store_true")
    ap.add_argument("--write-pins", action="store_true")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_file.read_text())
    if not (ROOT / "src" / "main" / "scala" / "graft" / "GraftContext.scala").exists():
        fail("graft's sources are not in this checkout; nothing to benchmark")
    if not (Path(a.data) / "lineitem.parquet").exists():
        fail(f"input tables not found under {a.data}")
    trace = a.trace == "1"
    wanted = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    e2e = [m["name"] for m in spec["end_to_end"]]

    cp = build()
    tmp = BUILD / "tmp" / f"run-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        run(a, cp, tmp, trace, wanted, e2e, spec)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(a, cp, tmp, trace, wanted, e2e, spec):
    """Run the benchmark JVM and print its report and the result line."""
    java = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    mem = jvm_mem()
    java += [f"-Xms{mem}g", f"-Xmx{mem}g", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={tmp}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", "-cp", cp, "graft.perfbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--data", a.data, "--work", str(WORK), "--pins", str(PINS)]
    if a.corrupt_expected:
        java.append("--corrupt-expected")
    if a.write_pins:
        java.append("--write-pins")
    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop(proc)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    except BaseException:
        stop(proc)
        raise
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark exited with code {proc.returncode}")
    try:
        full = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stdout.write(out)
        fail("no result line")
    print("\n".join(lines[:-1]))
    metrics = full["metrics"]
    missing = [k for k in wanted if k not in metrics]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    overhead(a.workload, e2e, metrics, trace)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k in wanted:
        if metrics[k]["unit"] != units[k]:
            fail(f"{k} measured in {metrics[k]['unit']}, BENCHMARK.json says {units[k]}")
    result = {
        "correct": bool(full["correct"]),
        "attempted": int(full["attempted"]),
        "failed": int(full["failed"]),
        "metrics": {k: {"value": metrics[k]["value"], "unit": metrics[k]["unit"]}
                    for k in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
