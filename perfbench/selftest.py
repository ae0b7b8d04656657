#!/usr/bin/env python3
"""Show that the benchmark's checks catch broken output.

    python3 perfbench/selftest.py

Runs short http_push and stream_ingest runs in which the Warp 10 stub drops,
duplicates or alters one received Sensision line, answers one request with a
500 (a wrong status at the client), or in which a hand-verified golden line is
changed. Each run must end with "correct": false, a non-zero "failed" count
and a non-zero exit code. Exits 1 if any fault goes unnoticed.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
CASES = [("http_push", f) for f in ("drop", "dup", "alter", "status", "golden")] + \
        [("stream_ingest", f) for f in ("drop", "alter", "golden")]


def main():
    missed = []
    for workload, fault in CASES:
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
                            "--seconds", "6", "--inject", fault],
                           cwd=HERE.parent, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        caught = r.returncode != 0 and (res is None or (not res["correct"] and res["failed"] > 0))
        detail = f"correct={res['correct']} failed={res['failed']}" if res else "no result"
        print(f"{workload:14s} {fault:7s} exit {r.returncode}  {detail}  {'caught' if caught else 'MISSED'}",
              flush=True)
        if not caught:
            missed.append(f"{workload}/{fault}")
    if missed:
        sys.exit(f"faults not caught: {', '.join(missed)}")
    print("every injected fault failed its run")


if __name__ == "__main__":
    main()
