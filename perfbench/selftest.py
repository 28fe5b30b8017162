"""Self-test of the benchmark's verification: a damaged result must be
counted as a failed op, and an intact run must count none.

    python3 perfbench/selftest.py

Runs the benchmark four times (about three minutes): an intact
``order_analytics`` run, the same with the first result of one op
damaged (caught by the oracle comparison), with its last result of a
two-pass run damaged (caught by the fingerprint of the verified first
result), and an
``order_stream`` run with one drain's snapshot damaged.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent

CASES = [
    # (workload, --corrupt value, --seconds, expected failed count); the
    # fingerprint case needs a second pass, so its run is long enough
    ("order_analytics", None, 1, 0),
    ("order_analytics", "top_customers@0", 1, 1),
    ("order_analytics", "user_sessions@-1", 8, 1),
    ("order_stream", "snapshot@0", 1, 1),
]


def main() -> int:
    bad = 0
    for workload, corrupt, seconds, want in CASES:
        cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
               "--seed", "5", "--seconds", str(seconds), "--trace", "0"]
        if corrupt:
            cmd += ["--corrupt", corrupt]
        proc = subprocess.run(cmd, cwd=BENCH_DIR.parent, capture_output=True, text=True,
                              timeout=300)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        ok = (res is not None and res["failed"] == want and res["correct"] == (want == 0)
              and (seconds == 1 or res["attempted"] > 16))
        bad += not ok
        got = f"failed={res['failed']}/{res['attempted']} correct={res['correct']}" if res else \
            f"exit {proc.returncode}"
        print(f"{'ok ' if ok else 'BAD'} {workload} corrupt={corrupt}: {got} (want failed={want})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
