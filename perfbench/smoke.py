"""Smoke test of the benchmark itself: every workload, untraced and traced,
end to end on a tiny corpus through the same code path and output checks
as a real run. Also checks that the metric names and units printed match
``BENCHMARK.json``, and that a directory without the program fails without
printing a result.

    python3 perfbench/smoke.py      # from the repository root, ~4 minutes
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
N_BASE = 60  # ~170 conversations: enough for three non-empty fold batches


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str], str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--n-base", str(N_BASE)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            code, out, err = run(ROOT, w, trace)
            label = f"{w} --trace {trace}"
            if code != 0 or not out:
                failures.append(f"{label}: exit {code}\n{err[-2000:]}")
                continue
            res = json.loads(out[-1])
            units = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"} or not res["correct"]:
                failures.append(f"{label}: {out[-1]}")
            elif units != expected[trace]:
                failures.append(f"{label}: metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(expected[trace]))}")
            else:
                print(f"ok  {label}: attempted {res['attempted']}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_smoke")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out, _ = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare)
    if code == 0 or any(line.startswith('{"correct"') for line in out):
        failures.append(f"without the program: exit {code}, stdout {out}")
    else:
        print(f"ok  without the program: exit {code}, no result")

    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
