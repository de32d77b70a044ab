#!/usr/bin/env python3
"""The repository's benchmark: one command for both lifecycles.

    python3 perfbench/run.py --workload {ingest,ask} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It builds the engine together with the
harness in perfbench/ (sbt; skipped when the sources are unchanged),
generates the workload's inputs from the seed (gen.py), runs one JVM on
local[nproc] in a fresh working directory under .bench_work/, times a fixed
number of ops sized so they take about --seconds, checks every
answer with DuckDB (check.py), and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, measured with tracing off.
--trace 1 prints the per-layer metrics from a traced run of the same
workload; its span trees are kept in .bench_work/spans_<workload>.json.
Metric names and units are listed in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# Seconds of engine time one timed op takes on a 4-core box. A run times a
# fixed number of ops, --seconds over this, so which ops are timed never
# depends on how fast the engine is; ask times whole rounds of its four
# question classes.
OP_SECONDS = {"ingest": 6.0, "ask": 1.0}
ROUND = {"ingest": 1, "ask": len(gen.CLASSES)}


def timed_ops(workload, seconds):
    rounds = max(1, int(seconds / OP_SECONDS[workload] / ROUND[workload] + 0.5))
    return rounds * ROUND[workload]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir, jars):
    """Compile with sbt unless the sources are unchanged; return the
    classes directory."""
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_TARGET=os.path.join(build_dir, "sbt"), PERFBENCH_SPARK_JARS=jars)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    os.makedirs(build_dir, exist_ok=True)
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.isdir(classes):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars next
    to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def heap_gb():
    """MemTotal/2, clamped to 2-8 GiB (the repository's test-heap rule)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def pct(values, q):
    """Linear-interpolated percentile (numpy's default)."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def leftover_dirs(work):
    """Temporary directories the engine left behind: anything in the JVM's
    temp dir, plus directories named like temp dirs anywhere else."""
    n = len(os.listdir(os.path.join(work, "tmp")))
    for d, dirs, _ in os.walk(work):
        n += sum(1 for x in dirs if ("tmp" in x.lower() or "temp" in x.lower())
                 and os.path.join(d, x) != os.path.join(work, "tmp"))
    return n


def end_to_end(res):
    ops = res["ops"]
    lat = [o["latency_s"] for o in ops]
    timed = sum(lat)
    return {
        "setup_s": (res["setup_s"], "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_p90_s": (pct(lat, 0.9), "s"),
        "ops_per_s": (len(ops) / timed, "1/s"),
        "input_mb_per_s": (sum(o["input_bytes"] for o in ops) / 1e6 / timed, "MB/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, work, workload, units):
    layers = dict(res["layers"])
    layers["fs.leftover_dirs"] = leftover_dirs(work)
    layers["box.drift_ratio"] = layers["box.sentinel_end_s"] / layers["box.sentinel_start_s"]
    spans = json.load(open(os.path.join(work, "spans.json")))
    asked = [s for s in spans if s["cls"] in gen.CLASSES]
    layers["query.span_coverage_min"] = min(
        1.0 - s["phases"].get("other", 0.0) / s["wall_s"] for s in asked)
    if workload == "ask":
        for cls in gen.CLASSES:
            lat = [o["latency_s"] for o in res["ops"] if o["cls"] == cls]
            layers[f"ask.{cls}_p50_s"] = statistics.median(lat)
    return {k: (v, units.get(k, "")) for k, v in layers.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(check.CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the working directory")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft not found")
    spec_file = os.path.join(root, "BENCHMARK.json")
    bench = json.load(open(spec_file))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars()
    classes = build(root, build_dir, jars)

    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}")
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        spec = gen.generate(args.workload, args.seed, data)
        probe_dir = os.path.join(data, "probe")
        gen.write_tables(gen.make_tables(args.seed, 0.001), probe_dir)
        with open(os.path.join(data, f"{args.workload}.json"), "w") as f:
            json.dump(spec, f)
        cpus = len(os.sched_getaffinity(0))
        cfg = dict(spec, workload=args.workload, seed=args.seed,
                   timed_ops=timed_ops(args.workload, args.seconds),
                   trace=bool(args.trace), cpus=cpus,
                   probe_dir=probe_dir,
                   inputs=[f["path"] for f in spec.get("files", [])],
                   questions=os.path.join(data, "questions.json"))
        cfg_path = os.path.join(work, "config.json")
        launch = time.time_ns()
        cfg["launch_epoch_ns"] = launch
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        heap = heap_gb()
        # a fixed young generation keeps heap growth, and so the resident
        # set, from depending on the collector's adaptive sizing
        # -XX:-UsePerfData and the temp dirs keep every file the JVM, Spark
        # and Hadoop write inside the working directory
        cmd = (["java", f"-Xmx{heap}g", "-Xmn1g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", f"{classes}:{jars}/*", "perfbench.Main", cfg_path])
        with open(os.path.join(work, "jvm.log"), "w") as log:
            # shuffle and spill files stay inside the working directory
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S - (time.time_ns() - launch) / 1e9)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("engine process timed out", 4)
        if rc != 0:
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            fail(f"engine process exited with {rc}", 4)
        res = json.load(open(os.path.join(work, "result.json")))
        failed = check.CHECKS[args.workload](work, res, data)
        if args.trace:
            metrics = per_layer(res, work, args.workload, units)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(root, ".bench_work", f"spans_{args.workload}.json"))
        else:
            metrics = end_to_end(res)
        declared = {m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]}
        if set(metrics) != declared:
            fail(f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ declared)}", 5)
        print(f"perfbench: workload={args.workload} seed={args.seed} cores={res['cores']} "
              f"heap={heap}g ops={len(res['ops'])} timed_s={res['timed_s']:.3f} "
              f"setup={json.dumps(res['setup_steps'])} "
              f"inputs={json.dumps(spec.get('sizes', {}))}", file=sys.stderr)
        print(json.dumps({
            "correct": not failed, "attempted": len(res["ops"]), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
