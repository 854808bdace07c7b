#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload <etl_batches|star_analytics|corpus_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source (perfbench/build.py), generates the seeded inputs (perfbench/gen.py),
runs one fresh measured JVM, checks its outputs (perfbench/checks.py) and
prints, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The full artifact
(per-op latency series, spans, Spark and JVM counters, diagnostics) is
written to `.perfbench_work/artifacts/`. Exits non-zero, without a result
line, when the build or the run fails, and with a result line but code 1
when an output check fails.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = ".perfbench_work"
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(work, classes_cp, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dderby.stream.error.file=" + os.path.join(work, "derby.log")]
            + opens + ["-cp", classes_cp, "perfbench.Main"] + main_args)


def run(args):
    root = os.getcwd()
    spec = metrics.WORKLOADS[args.workload]
    plan = metrics.op_plan(args.workload, args.seconds)
    work = os.path.join(root, WORK)
    t0 = time.time()
    build.ensure(root)
    t_build = time.time()
    data = os.path.join(work, "data", "%s-s%d-%s" % (args.workload, args.seed, args.size))
    expected = gen.generate(args.workload, args.seed, data, plan["ops"],
                            plan["warmup_ops"], args.size)
    t_gen = time.time()
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    main_args = ["--workload", args.workload, "--data", data, "--work", run_dir,
                 "--out", out, "--warmup-ops", str(plan["warmup_ops"]),
                 "--trace", str(args.trace)]
    if "sql_file" in spec:
        main_args += ["--sql-file", os.path.join(root, spec["sql_file"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_GRAFT_PERIODIC_GC", None)  # an A/B override; runs use the engine default
    log_path = os.path.join(run_dir, "jvm.log")
    launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(run_dir, build.classpath(root), main_args),
                                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("measured JVM failed (%s)" % rc)
    t_jvm = time.time()
    with open(out) as f:
        res = json.load(f)
    failures = checks.check(args.workload, res, expected)
    artifact = metrics.artifact(args, plan, res, expected, launch, failures, data)
    artifact["run_breakdown_s"] = {
        "build": t_build - t0, "generate": t_gen - t_build, "jvm": t_jvm - launch,
        "jvm_after_phase": t_jvm - res["phase_end_ms"] / 1000.0, "checks": time.time() - t_jvm}
    art_dir = os.path.join(work, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    path = os.path.join(art_dir, "%s-s%d-t%d.json" % (args.workload, args.seed, args.trace))
    if args.trace:
        untraced = os.path.join(art_dir, "%s-s%d-t0.json" % (args.workload, args.seed))
        artifact["tracing_overhead"] = metrics.tracing_overhead(artifact, untraced)
    artifact["count_repeat"] = metrics.count_repeat(artifact, art_dir)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    for msg in failures:
        print("[perfbench] check failed: " + msg, file=sys.stderr)
    return artifact


def main():
    ap = argparse.ArgumentParser(description="graft end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # tiny inputs for the self-test smoke runs; the benchmark uses full
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args()
    try:
        art = run(args)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print("[perfbench] %s: %s" % (type(e).__name__, e), file=sys.stderr)
        sys.exit(2)
    line = art["result"]
    print(json.dumps(line, sort_keys=True))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
