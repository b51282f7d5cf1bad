"""Record the gate's accepted-set digest for the given seeds.

    python3 perfbench/record_gate.py 0 1 2 ...

Runs the ``gate_ingest`` workload once per seed from the root of a checkout
and stores each seed's digest in ``perfbench/expected_gate.json``, which the
gate's correctness check compares against. Run it at a commit whose gate is
trusted; a later commit whose gate accepts a different set then fails the
check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected_gate.json")


def main() -> None:
    with open(EXPECTED) as f:
        expected = json.load(f)
    for seed in sys.argv[1:]:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "gate_ingest",
             "--seed", seed, "--seconds", "1", "--trace", "0"],
            check=True, capture_output=True, text=True,
        ).stdout.strip().splitlines()
        report = json.loads(out[-2])["report"]
        result = json.loads(out[-1])
        if not result["correct"]:
            raise SystemExit(f"seed {seed}: the gate's run failed its checks")
        expected[seed] = report["gate_accepted"]["digest"]
        with open(EXPECTED, "w") as f:
            json.dump(dict(sorted(expected.items(), key=lambda kv: int(kv[0]))), f, indent=1)
        print(seed, expected[seed], flush=True)


if __name__ == "__main__":
    main()
