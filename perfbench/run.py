"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dml_mix --seed 1 --seconds 14 --trace 0

Workloads: dml_mix, corpus_dedup (see BENCHMARK.json). --trace 0
prints the end-to-end metrics; --trace 1 installs the listeners and prints
the per-layer metrics instead (--spans FILE also writes the spans). The last
line of standard output is one JSON object with the correctness verdict.
The exit code is non-zero when a check failed or the run did not finish.

Everything the run writes goes under one scratch root in the checkout,
.bench_work/run-<pid>, which is deleted on exit and on failure.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dml_mix", "corpus_dedup")
# What a spark-submit launch would add on JDK 17
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    args = ap.parse_args()

    try:
        cp = build.classpath()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    scratch = build.ROOT / ".bench_work" / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    log = scratch / "jvm.log"
    cmd = (["java", "-Xmx3g", "-Xss8m",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--scratch", str(scratch),
              "--launched-ms", repr(time.time() * 1000.0)])
    if args.spans:
        cmd += ["--spans", str(Path(args.spans).resolve())]

    proc = None
    result = None
    code = 1

    def stop(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
            watchdog.start()
            try:
                for line in proc.stdout:
                    line = line.rstrip("\n")
                    if line.startswith("{"):
                        result = line
                    else:
                        print(line, flush=True)
                code = proc.wait()
            finally:
                watchdog.cancel()
            if code < 0:
                print("perfbench: run killed after the time limit", file=sys.stderr)
        if result is None or code not in (0, 1):
            tail = log.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            result = None
            code = code or 1
        else:
            for line in log.read_text(errors="replace").splitlines():
                if line.startswith("perfbench:"):
                    print(line, file=sys.stderr)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        parent = scratch.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()
    print(f"perfbench: hygiene scratch_root_removed={not scratch.exists()}")
    if result is None:
        return code
    print(result)
    return 0 if json.loads(result)["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
