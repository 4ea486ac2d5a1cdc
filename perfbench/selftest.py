"""Self-test of the benchmark at tiny scale (registry tables at sf0.001,
a few hundred generated reactions per ORD corpus).

    python3 perfbench/selftest.py

Runs every workload untraced and traced (``run.py --workload all
--scale tiny``) and asserts that:

- every run's checks pass (``correct``, no failures);
- each untraced run prints every end-to-end metric of BENCHMARK.json
  with its unit, every run prints the wall time, peak memory and failed
  share, and each ORD run also prints the stage metrics;
- each traced run emits every per-layer metric of BENCHMARK.json with
  its unit;
- the same seed gives the same ORD output digest in two runs;
- in a directory holding only BENCHMARK.json and the benchmark's own
  files, the benchmark exits non-zero without printing a result.

Exits 0 when all hold. Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import contextlib
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=1800,
    )


def main() -> int:
    sys.path.insert(0, str(HERE))
    import run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems: list[str] = []

    proc = _run(["--workload", "all", "--seed", "7", "--seconds", "1", "--scale", "tiny"], ROOT)
    if proc.returncode != 0:
        print(proc.stderr[-4000:], file=sys.stderr)
        print("FAIL: run.py --workload all exited", proc.returncode)
        return 1
    out = proc.stdout
    for line in out.splitlines():
        if "tracing overhead" in line:
            print(line)
    result = json.loads(out.splitlines()[-1])
    if not result["correct"] or result["failed"]:
        problems.append(f"checks failed: {result['failed']} of {result['attempted']}")

    for wl in run.WORKLOADS:
        for name, unit in e2e.items():
            got = result["metrics"].get(f"{wl}.{name}")
            if got is None or got["unit"] != unit:
                problems.append(f"{wl}: end-to-end {name} missing or not in {unit}: {got}")
            if not re.search(rf"^# {re.escape(name)} = [-0-9.e]+ {re.escape(unit)}$", out, re.M):
                problems.append(f"{wl}: no report line for {name} [{unit}]")
    # two runs (untraced, traced) per workload print the report
    for names, n_runs in ((run.REPORT, 2 * len(run.WORKLOADS)), (run.ORD_REPORT, 2 * len(run.ORD_WORKLOADS))):
        for name, unit in names:
            n_lines = len(re.findall(rf"^# {re.escape(name)} = [-0-9.e]+ {re.escape(unit)}$", out, re.M))
            if n_lines < n_runs:
                problems.append(f"report metric {name} [{unit}] printed {n_lines} times, expected {n_runs}")

    traced = [json.loads(line[len("# traced "):]) for line in out.splitlines() if line.startswith("# traced ")]
    if len(traced) != len(run.WORKLOADS):
        problems.append(f"{len(traced)} traced results for {len(run.WORKLOADS)} workloads")
    for t in traced:
        missing = [n for n, u in layers.items() if t["metrics"].get(n, {}).get("unit") != u]
        extra = sorted(set(t["metrics"]) - set(layers))
        if missing or extra:
            problems.append(f"{t['workload']}: per-layer missing {missing[:5]} extra {extra[:5]}")

    digests: dict[str, set[str]] = {}
    for line in out.splitlines():
        if line.startswith("# meta "):
            meta = json.loads(line[len("# meta "):])
            if "digest" in meta:
                digests.setdefault(meta["workload"], set()).add(meta["digest"])
    for wl in run.ORD_WORKLOADS:
        if len(digests.get(wl, ())) != 1:
            problems.append(f"{wl}: digests across two runs of one seed: {digests.get(wl)}")

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "ord_reuse", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    with contextlib.suppress(OSError):
        bare.parent.rmdir()
    last = proc.stdout.strip().splitlines()[-1:] or [""]
    if proc.returncode == 0 or last[0].startswith("{"):
        problems.append(f"bare directory: exit {proc.returncode}, last line {last[0][:80]!r}")

    for p in problems:
        print("FAIL:", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
