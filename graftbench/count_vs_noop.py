#!/usr/bin/env python3
"""One same-window pass of all headline queries, timed under count()
and under the noop-sink write (best of N each, alternating per query).

    python3 graftbench/count_vs_noop.py <lake dir> [reps]

Builds the harness like run.py and prints one JSON line.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    if len(sys.argv) < 2:
        run.fail("usage: count_vs_noop.py <lake dir> [reps]")
    lake = os.path.abspath(sys.argv[1])
    reps = sys.argv[2] if len(sys.argv) > 2 else "3"
    classpath, _ = run.build()
    opens = [x for p in run.JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + run.JVM_OPTS + ["-Dspark.ui.enabled=false"] + opens +
           ["-cp", classpath, "graftbench.CountVsNoop", lake, reps])
    out = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        run.fail(f"CountVsNoop exited with {out.returncode}")
    print(out.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    main()
