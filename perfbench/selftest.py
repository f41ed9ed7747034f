"""Self-test of the benchmark: every workload at a tiny size, untraced and
traced. Asserts that the last stdout line has the contract's keys, that
every metric BENCHMARK.json names prints with its unit, and that every
output check passes.

    python3 perfbench/selftest.py

Takes about two minutes on 4 vCPU.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"extract_web": 400, "extract_job_warc": 100, "extract_job_native": 60}


def main() -> int:
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert declared["0"] == run.END_TO_END, "BENCHMARK.json end_to_end != run.END_TO_END"
    assert declared["1"] == run.PER_LAYER, "BENCHMARK.json per_layer != run.PER_LAYER"
    assert [w["name"] for w in spec["workloads"]] == list(TINY)
    problems = []
    for workload, size in TINY.items():
        for trace in ("0", "1"):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", trace, "--size", str(size)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} --trace {trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{tag}: check failed {lines[-2][-2000:]}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(declared[trace]))}")
            bad = [k for k, v in result["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric {bad}")
            print(f"ok {tag}: attempted={result['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
