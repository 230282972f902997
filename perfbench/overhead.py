#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same
seed and print traced ÷ untraced ``op_s_p50`` − 1.

    python3 perfbench/overhead.py <workload> <seed> <seconds>

Run from the repository root; the two runs are sequential.
"""

from __future__ import annotations

import json
import subprocess
import sys


def op_s_p50(workload: str, seed: str, seconds: str, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", seed,
         "--seconds", seconds, "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return metrics["trace.op_s_p50" if trace else "op_s_p50"]["value"]


def main() -> None:
    workload, seed, seconds = sys.argv[1:4]
    plain = op_s_p50(workload, seed, seconds, 0)
    traced = op_s_p50(workload, seed, seconds, 1)
    print(json.dumps({"workload": workload, "seed": int(seed), "op_s_p50": plain,
                      "traced_op_s_p50": traced, "overhead": traced / plain - 1}))


if __name__ == "__main__":
    main()
