#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload encode_fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root. Builds the library plus the benchmark
(perfbench/build.py), then runs one closed-loop workload in a single JVM at
local[4]. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the lines before it are a readable
report. `--trace 1` runs the per-layer ladder instead of the end-to-end
metrics. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("encode_fresh", "sink_reread", "ops_session")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="tiny-input check that every metric prints and that "
                         "corrupted outputs are counted as failures")
    args = ap.parse_args()
    if not args.selfcheck and args.workload is None:
        ap.error("--workload is required (or --selfcheck)")
    if not build.sources_present():
        print("graft library sources not found under src/main/scala; run from "
              "a full checkout of the repository", file=sys.stderr)
        return 2

    build.build()
    work = os.path.join(build.BUILD_DIR, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with this pid
    archive = (f"-XX:SharedArchiveFile={build.ARCHIVE}"
               if os.path.exists(build.ARCHIVE) else None)
    cmd = build.java_cmd(work, archive)
    if args.selfcheck:
        cmd += ["--selfcheck"]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]

    proc = subprocess.Popen(cmd, cwd=build.ROOT)

    def forward(signum, _frame):
        proc.send_signal(signum)

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    try:
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
