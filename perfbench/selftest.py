"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Run from the root of a checkout. Runs every workload of ``BENCHMARK.json``
once with tracing off and once with it on, on an R-MAT of scale 10 and a
co-part graph of sf0.001, and checks that each run passes every operation and
prints exactly the metrics ``BENCHMARK.json`` names, each with its unit. Then
runs ``tc-layout`` against an oracle whose triangle count is off by one and
checks that every count is reported as a failed operation. Takes about four
minutes; exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TINY = {
    "RMAT_SCALE": 10,
    "WARMUP_RMAT_SCALE": 8,
    "COPART_SF": 0.001,
}
CHILD_TIMEOUT_S = 600


def child(workload: str, trace: str, wrong_oracle: str) -> int:
    """One benchmark run with tiny inputs, in this (child) process."""
    sys.path[:0] = [str(ROOT), str(HERE)]
    import run
    import workloads

    for name, value in TINY.items():
        setattr(workloads, name, value)
    if wrong_oracle == "1":
        real = run.expected_results

        def off_by_one(*args):
            expected = dict(real(*args))
            expected["triangles"] += 1
            return expected

        run.expected_results = off_by_one
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                     "--trace", trace])


def run_child(workload: str, trace: int, wrong_oracle: bool = False) -> dict:
    proc = subprocess.run(
        [sys.executable, __file__, "--child", workload, str(trace), str(int(wrong_oracle))],
        capture_output=True, text=True, timeout=CHILD_TIMEOUT_S,
    )
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{workload} trace={trace}: no result\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def check_result(label: str, result: dict, metrics: list[dict]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{label}: keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{label}: correct={result['correct']} "
                        f"attempted={result['attempted']} failed={result['failed']}")
    want = {m["name"]: m["unit"] for m in metrics}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"{label}: metric/unit mismatch: missing "
                        f"{sorted(want.keys() - got.keys())}, extra "
                        f"{sorted(got.keys() - want.keys())}, units "
                        f"{sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            problems.append(f"{label}: {k} = {v['value']!r} is not a finite number")
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{w['name']} --trace {trace}"
            problems += check_result(label, run_child(w["name"], trace), spec[key])
            print(f"ran {label}", file=sys.stderr)

    wrong = run_child("tc-layout", 0, wrong_oracle=True)
    counts = wrong["attempted"] - 1  # every call but the ingest is a count
    if wrong["correct"] or counts < 1 or wrong["failed"] != counts:
        problems.append(f"wrong oracle: expected {counts} failed counts, got {wrong}")

    for p in problems:
        print(p, file=sys.stderr)
    print("selftest", "FAILED" if problems else "passed", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        sys.exit(child(*sys.argv[2:5]))
    sys.exit(main())
