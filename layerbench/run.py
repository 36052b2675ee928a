#!/usr/bin/env python3
"""Layered benchmark of the replay engine and the query library.

Run from the repository root:

    python3 layerbench/run.py --workload replay-batch --seed 1 --seconds 15 --trace 0

It builds the program from source (once per source change), runs one
workload in a fresh JVM, checks the program's outputs, and prints one JSON
object as the last line of stdout: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`). See layerbench/README.md for what each workload and
metric means.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import report  # noqa: E402

BENCH = Path(__file__).resolve().parent
WORKLOADS = ("replay-batch", "replay-stream", "query-mix")
# query-mix reads the committed tables; the replay workloads write their
# inputs from the seed
SEEDED_FIXTURES = ("replay-batch", "replay-stream")
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def steal_seconds():
    """Hypervisor steal time summed over all CPUs since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def declared_metrics(root, trace):
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(cmd, out, timeout, log_name):
    """Run the JVM to completion; kill it on timeout or when this process is
    told to stop, and wait for it either way."""
    log = out / log_name
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, cwd=out, stdout=lf, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    return rc, log


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = Path.cwd()
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    try:
        classpath = build.build(root, build_dir)
        declared = declared_metrics(root, a.trace)
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"layerbench: {e}", file=sys.stderr)
        return 2

    # fixtures are cached for the current seed only, so the build directory
    # holds one seed's inputs however many seeds are run
    fixtures = build_dir / "fixtures"
    fixtures.mkdir(exist_ok=True)
    for f in fixtures.iterdir():
        if f.name.removesuffix(".meta").endswith(f"-{a.seed}"):
            continue
        if f.is_dir():
            shutil.rmtree(f)
        else:
            f.unlink()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}"
    out = build_dir / "runs" / run_id
    out.mkdir(parents=True)
    tmp = out / "tmp"
    tmp.mkdir()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

    def jvm(mode, timeout):
        launch_us = time.time_ns() // 1000
        cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
               "-XX:+ParallelRefProcEnabled", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
               "-cp", classpath, "graft.layerbench.Main", "--mode", mode,
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--out", str(out), "--launch-us", str(launch_us),
               "--fixtures", str(fixtures),
               "--query-dir", str(BENCH / "fixture" / "sf0.001"),
               "--pins", str(BENCH / "query_pins.txt")]
        return run_jvm(cmd, out, timeout, f"jvm-{mode}.log")

    # fixtures are written (or found cached) by a JVM of their own, outside
    # the timing, so the measured JVM starts the same way whether or not they
    # were cached
    f0 = time.monotonic()
    rc, log = jvm("fixtures", JVM_TIMEOUT_S // 2) if a.workload in SEEDED_FIXTURES else (0, None)
    fixture_s = time.monotonic() - f0
    steal0 = steal_seconds()
    if rc == 0:
        rc, log = jvm("run", JVM_TIMEOUT_S - fixture_s)
    steal = steal_seconds() - steal0
    for d in (tmp, out / "spark"):
        shutil.rmtree(d, ignore_errors=True)
    if rc != 0 or not (out / "result.json").exists():
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        print(f"layerbench: JVM {'timed out' if rc is None else f'exited {rc}'}; log {log}",
              file=sys.stderr)
        return 3
    result = json.loads((out / "result.json").read_text())
    spans = report.load_spans(out / "spans.jsonl")
    env = {"env.nproc": float(len(os.sched_getaffinity(0))), "env.steal_s": steal}
    metrics = report.assemble(a.workload, a.trace, result, spans, env, declared)
    failed_checks = [c for c in result["checks"] if not c["ok"]]
    (out / "summary.json").write_text(json.dumps(
        {"result": result, "metrics": metrics, "env": env, "fixture_s": fixture_s}, indent=1))
    for c in failed_checks:
        print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print("layerbench info: " + json.dumps({"run": run_id, **env, "fixture_s": fixture_s,
                                            **result["info"]}))
    print(json.dumps({
        "correct": not failed_checks and result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
