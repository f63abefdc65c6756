"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks, for every workload in ``BENCHMARK.json`` plus ``curation_udf``:
an untraced run emits every end-to-end metric with its unit and a
positive value, and a traced run emits every per-layer metric with its
unit.  Then checks that a deliberately wrong expected result surfaces
as a failed op, and that the benchmark exits non-zero without a result
in a directory that holds only ``BENCHMARK.json`` and the benchmark.
Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(root: Path, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--scale", "tiny", "--seconds", "1", *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(res: dict | None, spec: list[dict], positive: bool, what: str) -> None:
    expect(res is not None and set(res) == {"correct", "attempted", "failed", "metrics"},
           f"{what}: result line has exactly correct/attempted/failed/metrics")
    expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
           f"{what}: every op correct")
    got = res["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    expect(set(got) == set(want), f"{what}: emits exactly the named metrics")
    for name, unit in want.items():
        v = got[name]
        expect(v["unit"] == unit and isinstance(v["value"], (int, float))
               and (v["value"] > 0 or not positive), f"{what}: {name} [{unit}]")


def main() -> None:
    names = [w["name"] for w in SPEC["workloads"]] + ["curation_udf"]
    for wl in dict.fromkeys(names):
        rc, res = run(ROOT, "--workload", wl, "--seed", "7", "--trace", "0")
        expect(rc == 0, f"{wl}: exit 0")
        check_metrics(res, SPEC["end_to_end"], True, f"{wl} untraced")
        rc, res = run(ROOT, "--workload", wl, "--seed", "7", "--trace", "1")
        expect(rc == 0, f"{wl} traced: exit 0")
        check_metrics(res, SPEC["per_layer"], False, f"{wl} traced")

    rc, res = run(ROOT, "--workload", names[0], "--seed", "7", "--tamper")
    expect(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
           "a wrong expected result surfaces as a failed op")

    bare = HERE / ".selftest"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        bare.mkdir()
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns(".work", ".selftest", "out", "__pycache__"))
        rc, res = run(bare, "--workload", names[0], "--seed", "7")
        expect(rc != 0 and res is None, "without the engine: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
