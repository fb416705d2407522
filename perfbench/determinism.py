"""Seed and determinism check for the benchmark.

    python3 perfbench/determinism.py --workload scan_read --seed 1 --other 2

Runs the traced benchmark for ``--seed`` twice and ``--other`` once (each
a separate process, one round each) and compares the exact counts in the
detail record. Exits 1 and names the mismatch if a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT_BYTES = ("data", "dv")
JITTER_BYTES = ("log", "checkpoint")  # commit timestamps vary in width


def exact_counts(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "1"],
        cwd=os.path.dirname(HERE), check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["exact"]


def compare(a: dict, a2: dict, b: dict) -> list[str]:
    bad = []
    for key in ("inputs", "commits", "files"):
        if a[key] != a2[key]:
            bad.append(f"same seed, different {key}: {a[key]} vs {a2[key]}")
    for kind in EXACT_BYTES:
        if a["bytes"][kind] != a2["bytes"][kind]:
            bad.append(f"same seed, different {kind} bytes: {a['bytes'][kind]} vs {a2['bytes'][kind]}")
    for kind in JITTER_BYTES:
        x, y = a["bytes"][kind], a2["bytes"][kind]
        if abs(x - y) > 0.02 * max(x, y, 1):
            bad.append(f"same seed, {kind} bytes differ by more than 2%: {x} vs {y}")
    common = min(len(a["spark_jobs"]), len(a2["spark_jobs"]))
    if a["spark_jobs"][:common] != a2["spark_jobs"][:common]:
        bad.append(f"same seed, different spark jobs per op: {a['spark_jobs']} vs {a2['spark_jobs']}")
    if a["inputs"] == b["inputs"]:
        bad.append("different seeds gave identical inputs")
    for key in ("commits", "files"):
        if a[key] != b[key]:
            bad.append(f"different seeds changed the table shape: {a[key]} vs {b[key]} {key}")
    return bad


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--other", type=int, required=True)
    args = ap.parse_args()
    if args.seed == args.other:
        ap.error("--other must differ from --seed")
    a = exact_counts(args.workload, args.seed)
    a2 = exact_counts(args.workload, args.seed)
    b = exact_counts(args.workload, args.other)
    bad = compare(a, a2, b)
    for line in bad:
        print(f"FAIL {line}")
    if bad:
        sys.exit(1)
    print(f"ok: {args.workload} seed {args.seed} repeats exactly; seed {args.other} differs in inputs, same shape")


if __name__ == "__main__":
    main()
