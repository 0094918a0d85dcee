#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks: plants one defect per
run and asserts that the check catches it (correct false, failed > 0,
non-zero exit). Run from the repository root:

    python3 perfbench/selftest.py [seed]

Defects: one row dropped from the cdc-stream target after the run, and
one cell of a q21_waiting_suppliers result perturbed on batch-operators.
"""
import json
import subprocess
import sys

CASES = [("cdc-stream", "drop-target-row"), ("batch-operators", "perturb-result")]


def main():
    seed = sys.argv[1] if len(sys.argv) > 1 else "1"
    ok = True
    for workload, defect in CASES:
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", seed, "--seconds", "5", "--trace", "0", "--plant", defect],
                           stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        caught = r.returncode != 0 and res.get("correct") is False and res.get("failed", 0) > 0
        print(f"{workload} {defect}: exit {r.returncode}, correct {res.get('correct')}, "
              f"failed {res.get('failed')}/{res.get('attempted')} -> "
              f"{'caught' if caught else 'NOT CAUGHT'}")
        ok &= caught
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
