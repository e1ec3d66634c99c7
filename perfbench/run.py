"""graft EDFS/PMR benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload pmr_read --seed 1 --seconds 20 --trace 0

Builds graft and the harness from source (perfbench/build.py), runs one JVM
with Spark local[nproc] in a fresh private directory, and prints every
metric by name with its unit on stderr and, as the last stdout line, one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones of a
second, traced window. Exits non-zero when an op fails its output check or
a steady-state guard fails (the run is then reported as unsteady, without
numbers). See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# Untimed rounds before the timed window, per workload: enough for the
# round time of a fresh JVM to stop falling (measured: ~5 rounds for
# pmr_read, ~6 for edfs_write).
WARMUP_ROUNDS = {"pmr_read": 5, "edfs_write": 6}
SETUP_REPS = 3
# Wall-clock limit for the JVM, below the 180 s a run may take.
JVM_TIMEOUT_S = 165


def jvm_options(run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    opts = [x for p in opens for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return opts + [
        # C1 only. Under C2 the per-op floor keeps falling for 100 s and
        # more of one JVM (pmr_read rounds 2.8 s -> 0.5 s); a warm-up that
        # long would make a run last about 150 s instead of about 55 s.
        # C1 reaches its plateau within about 5 rounds, apart from a slow
        # drift on pmr_read (see README). Lowering the compile thresholds
        # (-XX:CompileThresholdScaling=0.1) removed that drift, but one
        # edfs_write run in five then failed a merge with the JVM's
        # InternalError "no such method: MethodHandle.linkToStatic".
        "-XX:TieredStopAtLevel=1",
        # the repo's heap limit (build.sbt: -Xmx8g), neither fixed nor
        # pre-touched. The young generation is fixed, so its share of the
        # RSS is constant and graft's retained data, which grows the old
        # generation, moves the peak RSS. With adaptive sizing the peak RSS
        # of the same code spread 17% (G1) and 31% (ParallelGC) between
        # seeds (IQR over median, 5 seeds each), so no memory bound held.
        "-XX:+UseParallelGC", "-Xmx8g", "-Xmn256m",
        "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dgraft.local.root=" + os.path.join(run_dir, "graft"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ]


def run_jvm(args, classes, run_dir, drift_bound):
    """Runs one benchmark JVM; returns (raw samples, launch time)."""
    out = os.path.join(run_dir, "result.json")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + jvm_options(run_dir) + ["-cp", classes + ":" + jars, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", run_dir, "--out", out, "--cpus", str(os.cpu_count() or 1),
           "--setup-reps", str(SETUP_REPS), "--size", args.size,
           "--warmup", str(WARMUP_ROUNDS[args.workload]), "--drift-bound", str(drift_bound)]
    launch = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        # also on SIGTERM/SIGINT: never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: JVM exited with code {code}")
    with open(out) as fh:
        return json.load(fh), launch


def spec():
    """BENCHMARK.json: the metric names, units and bounds."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def all_rounds(raw):
    """Every round the JVM ran and checked: warm-up, windows it measured
    again, the timed window and, if traced, the traced one."""
    return raw["warmup"] + [r for w in raw["discarded"] for r in w["rounds"]] + \
        raw["timed"]["rounds"] + (raw["traced"]["rounds"] if "traced" in raw else [])


def guards(raw, bound):
    """Steady-state guards; returns the list of violations. `bound` limits
    the drift between the two halves of the timed window."""
    bad = []
    drift = raw["timed"]["drift"]
    if abs(drift) > bound:
        bad.append(f"timed-window halves differ by {100 * drift:+.1f}% "
                   f"(bound {100 * bound:.0f}%)")
    if raw["workload"] == "edfs_write":
        for key in ("leaf_files", "data_bytes"):
            seen = sorted({r[key] for r in all_rounds(raw)})
            if len(seen) > 1:
                bad.append(f"round-end {key} varies across rounds: {seen}")
    if raw["storefp"]["loop_builds"]:
        bad.append(f"{raw['storefp']['loop_builds']} StoreFp store(s) built inside the loop")
    return bad


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WARMUP_ROUNDS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = spec()
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    drift_bound = next(m["bound"] for m in bench["end_to_end"] if m["name"] == "round_p50_ms")
    classes = build.build()
    # a new directory per run (makedirs refuses an existing one), so every
    # run's set-up starts from nothing; the JVM checks it is empty again
    run_dir = os.path.join(build.target_dir(), "runs", uuid.uuid4().hex)
    os.makedirs(run_dir)
    try:
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(run_dir, d))
        raw, launch = run_jvm(args, classes, run_dir, drift_bound)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = stats.count_ops(all_rounds(raw))
    for f in raw["failures"]:
        print("perfbench: FAILED " + f, file=sys.stderr)
    bad = guards(raw, drift_bound)
    for b in bad:
        print("perfbench: UNSTEADY " + b, file=sys.stderr)

    per_round = [stats.round_ms(r) for r in raw["timed"]["rounds"]]
    t = stats.tail(per_round)
    print(f"perfbench: {args.workload} seed={args.seed} rounds={len(per_round)} "
          f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f} "
          f"unsteady_windows_measured_again={len(raw['discarded'])} "
          f"host.steal_pct={raw['timed']['steal']:.2f} "
          f"round_tail_ms={t[1]:.1f} (p{t[0]:.1f}, {t[2]} rounds beyond) "
          f"round_iqr={100 * stats.spread(per_round) if len(per_round) > 1 else 0.0:.1f}%",
          file=sys.stderr)
    if bad and not failed:
        sys.exit(3)
    metrics = stats.per_layer(raw) if args.trace else stats.end_to_end(raw, launch)
    for k, v in metrics.items():
        print(f"perfbench: {k} = {v:.6g} {units[k]}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
