#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py [--all]

For each workload of BENCHMARK.json (--all: also the ones run by hand):
  - a --trace 0 run prints every end_to_end metric with its unit, passes
    its checks, and its report lists the workload's metrics with a unit
    and a sample count;
  - a --trace 1 run prints every per_layer metric with its unit, writes its
    span file and reports tracing overhead;
  - a --corrupt-expected run reports a failed operation.
Then a directory holding only BENCHMARK.json and perfbench/ must fail
without printing a result. Exits 0 when all of that holds.
"""
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = str(Path.home() / "testdata" / "sf0.001")
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# what each workload's readable report must list, with unit and sample count
REPORTED = {
    "daily_cycle": ["setup_s", "bootstrap_s", "run_s", "dev_apply_s", "promote_s",
                    "disk_mb", "peak_rss_mb", "fail_frac"],
    "daily_cycle_manifest": ["setup_s", "bootstrap_s", "run_s", "dev_apply_s", "promote_s",
                             "disk_mb", "peak_rss_mb", "fail_frac"],
    "wide_edit": ["setup_s", "bootstrap_s", "dev_apply_s", "promote_s", "disk_mb",
                  "peak_rss_mb", "fail_frac"],
    "operators": ["setup_s", "operators_s", "peak_rss_mb", "fail_frac"],
}
problems = []


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seconds", "1"] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout


def result(workload, out):
    last = out.rstrip("\n").splitlines()[-1]
    res = json.loads(last)
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{workload}: result keys {sorted(res)}")
    return res


def expect_metrics(workload, res, specs):
    for m in specs:
        got = res["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{workload}: {m['name']} missing")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{workload}: {m['name']} printed as {got}")


def check(workload):
    base = ["--workload", workload, "--seed", "7", "--data", DATA]
    code, out = run(base + ["--trace", "0"])
    if code != 0:
        problems.append(f"{workload} --trace 0: exit {code}\n{out[-2000:]}")
        return
    res = result(workload, out)
    expect_metrics(workload, res, SPEC["end_to_end"])
    if not res["correct"] or res["failed"]:
        problems.append(f"{workload}: checks failed\n{out[-2000:]}")
    for name in REPORTED[workload]:
        if not re.search(rf"^  {re.escape(name)} +[-0-9.]+ \S+ +n=\d+", out, re.M):
            problems.append(f"{workload}: report lacks {name} with unit and sample count")

    code, out = run(base + ["--trace", "1"])
    if code != 0:
        problems.append(f"{workload} --trace 1: exit {code}\n{out[-2000:]}")
        return
    expect_metrics(workload, result(workload, out), SPEC["per_layer"])
    spans = ROOT / ".bench_build" / "perfbench" / "spans" / f"{workload}-seed7.jsonl"
    if not spans.exists() or not spans.read_text().strip():
        problems.append(f"{workload}: no span file {spans}")
    if "tracing overhead" not in out:
        problems.append(f"{workload}: no tracing overhead reported")

    code, out = run(base + ["--trace", "0", "--corrupt-expected"])
    res = result(workload, out) if code == 0 else None
    if res is None or res["failed"] < 1 or res["correct"]:
        problems.append(f"{workload}: a wrong expected value was not reported as failed "
                        f"(exit {code}, result {res})")


def bare_directory():
    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    # only what git would commit: no build output
    def ignored(d, names):
        return [n for n in names if n in ("target", "__pycache__")
                or (n == "project" and Path(d).name == "project")]
    shutil.copytree(HERE, bare / "perfbench", ignore=ignored)
    code, out = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                     "--trace", "0"], cwd=bare)
    if code == 0 or '"metrics"' in out:
        problems.append(f"bare directory: exit {code}, output {out[-500:]}")
    shutil.rmtree(bare, ignore_errors=True)


def main():
    names = [w["name"] for w in SPEC["workloads"]]
    if "--all" in sys.argv:
        names += [w for w in REPORTED if w not in names]
    for w in names:
        print(f"selftest: {w}", flush=True)
        check(w)
    print("selftest: bare directory", flush=True)
    bare_directory()
    for p in problems:
        print("PROBLEM:", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
