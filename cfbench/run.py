#!/usr/bin/env python3
"""Columnfile engine benchmark: one command, two workloads (scan_wide and
inventory_cf).

    python3 cfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from source
on first use (sbt, offline), then runs one workload in a fresh JVM: set-up,
a closed loop with one client for S seconds, and a check of every op's
output. Prints the metrics with units and sample counts, then, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 every other op
is traced and the metrics are the per-layer ones. Exits non-zero when the
build or the run fails, or when any op's output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import result  # noqa: E402

WORKLOADS = ("scan_wide", "inventory_cf")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed-size heap and the parallel collector: fewer pauses that differ from
# run to run (op medians spread less than with G1 on a 4-CPU box). No
# hsperfdata file: a run writes only inside its checkout.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def log(msg):
    print("[cfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build: the engine's sources and build
    files and the harness's own."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile (when sources changed) and return (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    stamp = source_stamp()
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        log("building engine and harness from source")
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunchInfo"],
            cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(launch):
            raise RuntimeError("build failed (sbt exit %d)" % proc.returncode)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        lines = [x for x in f.read().splitlines() if x]
    return lines[0], lines[1:]


def run_jvm(args, classpath, jvm_opts, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spans = os.path.join(work, "spans.jsonl")
    cmd = (["java"] + jvm_opts + JVM_OPTS + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
        "-cp", classpath, "cfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--spans", spans,
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--expected", os.path.join(HERE, "expected", "inventory_cf.json")])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError("benchmark JVM exited with %d" % proc.returncode)
    raw = result.parse_raw(out)
    if raw is None:
        raise RuntimeError("benchmark JVM printed no result line")
    traced = []
    if args.trace:
        with open(spans) as f:
            traced = [json.loads(line) for line in f if line.strip()]
    return raw, traced


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log("engine sources not found (%s); run from a full checkout" % need)
            return 2

    # one private directory per run, deleted at exit, so set-up repeats
    work = os.path.join(ROOT, ".bench_build", "cfbench", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath, jvm_opts = build()
        raw, traced = run_jvm(args, classpath, jvm_opts, work)
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log("failed: %s" % e)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        spans = [x for x in traced if x["kind"] == "span"]
        jobs = [x for x in traced if x["kind"] == "job"]
        metrics = result.per_layer(raw, spans, jobs)
    else:
        metrics = result.end_to_end(raw)
    attempted, failed = raw["attempted"], raw["failed"]
    print("workload %s seed %d: %d ops attempted, %d failed (failed_share %.4f)"
          % (args.workload, args.seed, attempted, failed,
             failed / attempted if attempted else 1.0))
    for name, v in metrics.items():
        print("  %-34s %16.4f %-7s n=%d" % (name, v[0], v[1], v[2]))
    if not args.trace:
        print("  (times are unstolen; wall: setup %.2f s, op p50 %.1f ms; "
              "host steal: setup %.3f, ops %.3f)" % (
                  raw["setup_s"], statistics.median(raw["op_ms"]),
                  raw["setup_steal_share"],
                  sum(raw["op_steal_share"]) / len(raw["op_steal_share"])))
    correct = attempted > 0 and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
