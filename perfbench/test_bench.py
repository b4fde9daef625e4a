#!/usr/bin/env python3
"""The benchmark's own tests: every workload at the tiny scale (sf0.001),
end-to-end and traced. Each run must pass its output checks and emit
exactly the metrics BENCHMARK.json declares.

    python3 perfbench/test_bench.py
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, trace):
    res = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, timeout=900)
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def main():
    fails = 0
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w, trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if not out["correct"] or out["failed"]:
                problems.append(f"output checks failed ({out['failed']})")
            if out["attempted"] < 1:
                problems.append("nothing attempted")
            if got != want:
                problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if trace == 0:
                problems += [f"{k} is not positive" for k, v in out["metrics"].items()
                             if not v["value"] > 0]
            print(f"{'FAIL' if problems else 'PASS'} {w} trace={trace} {'; '.join(problems)}")
            fails += bool(problems)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
