#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: indicators, gates, curation (README.md).
The first run in a checkout compiles the program (`sbt compile` at the
root) and the harness (`sbt compile` in perfbench/harness); later runs reuse
both while their sources are unchanged. One JVM then sets a `local[nproc]`
session up three times, runs whole rounds of the workload's operations, one
at a time, until `--seconds` have passed, and writes what it measured. The
outputs are checked against independent computations (checks.py), and the
last line printed is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the line before it holds the workload's spans.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data")
CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
HARNESS_CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
STAMP = os.path.join(HARNESS, "target", "graft-build-stamp")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("indicators", "gates", "curation")
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt
# forks the program's own runs with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
PER_LAYER = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.blocks_put", "spark.block_mb", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_mb", "spark.output_mb", "catalyst.actions", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s",
)

sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def rmtree(path):
    shutil.rmtree(path, ignore_errors=True)


def workdir(name):
    path = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    rmtree(path)
    os.makedirs(path)
    return path


# --------------------------------------------------------------------- build
def _sources_digest():
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    files += [os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    files += glob.glob(os.path.join(HARNESS, "src", "**", "*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness unless both are current."""
    digest = _sources_digest()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES) and os.path.isdir(HARNESS_CLASSES):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    for cwd in (ROOT, HARNESS):
        log(f"compiling {os.path.relpath(cwd, ROOT) if cwd != ROOT else 'the program'}")
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


# ----------------------------------------------------------------------- jvm
def java(args, work, timeout):
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", ":".join([HARNESS_CLASSES, CLASSES, f"{SPARK_JARS}/*"]),
        "graftbench.Harness"] + args
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"the JVM did not finish within {timeout:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"the JVM exited with code {code}")


def oracle_sql(gates, work):
    path = os.path.join(work, "oracle_sql.json")
    java(["--oracle-sql", ",".join(gates), path], work, 60)
    with open(path) as fh:
        return json.load(fh)


# ------------------------------------------------------------------- metrics
def end_to_end(result):
    """setup_s and wall_s of one run. Only complete rounds count toward
    wall_s; a probe's duration and a failed operation's duration enter no
    timing. If no round completed, the whole measuring window stands in,
    so a failure never makes the reading smaller."""
    return {
        "setup_s": median(result["setup_s"]),
        "wall_s": median(result["passes_s"]) if result["passes_s"] else result["window_s"],
    }


def per_layer(result):
    """Median over passes of the engine counters moved by the whole
    operations of each pass (probes included: their work ran too)."""
    passes = {}
    for s in result["spans"]:
        if s["top"]:
            acc = passes.setdefault(int(s["pass"]), {})
            for k, x in s["counts"].items():
                acc[k] = acc.get(k, 0.0) + x
    return {k: median([p.get(k, 0.0) for p in passes.values()]) for k in PER_LAYER}


def span_summary(result):
    """Per-span medians over passes: seconds and the counters each layer
    call moved. The caller adds the traced wall_s (compare with an untraced
    run's wall_s for the tracing overhead) and the median operation latency."""
    per = {}
    for s in result["spans"]:
        if s["ok"]:
            d = per.setdefault(s["name"], {}).setdefault(int(s["pass"]), {"s": 0.0})
            d["s"] += s["seconds"]
            for k, x in s["counts"].items():
                d[k] = d.get(k, 0.0) + x
    out = {}
    for name, passes in sorted(per.items()):
        keys = sorted({k for p in passes.values() for k in p})
        out[f"{name}_s"] = median([p["s"] for p in passes.values()])
        out[f"{name}.counts"] = {k: median([p.get(k, 0.0) for p in passes.values()])
                                 for k in keys if k != "s"}
    return out


def unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


# ------------------------------------------------------------------ workload
def prepare(workload, seed, seconds, trace, work):
    import inputs
    plan = {"workload": workload, "seconds": seconds, "trace": trace,
            "data": DATA, "work": work, "cpus": len(os.sched_getaffinity(0))}
    ctx = {}
    if workload == "indicators":
        nodes, ways = inputs.road_network(seed)
        os.makedirs(f"{work}/osm")
        inputs.write_osm(nodes, ways, f"{work}/osm/net.osm")
        plan["osm"] = f"{work}/osm"
        ctx.update(nodes=nodes, ways=ways)
    elif workload == "gates":
        edges = inputs.chain(seed)
        inputs.write_chain(edges, f"{work}/chain.parquet")
        order = inputs.gate_order(seed, inputs.GATES)
        plan.update(gates=",".join(order), chain=f"{work}/chain.parquet",
                    chain_max_rounds=inputs.CHAIN_HOPS + 1)
        ctx.update(edges=edges)
    else:
        os.makedirs(f"{work}/batches")
        ctx["batches"] = inputs.curation_batches(seed, f"{DATA}/documents.parquet", f"{work}/batches")
        plan["batches"] = ",".join(ctx["batches"])
    with open(f"{work}/plan.txt", "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in plan.items())
    return ctx


def check(workload, result, ctx, work):
    import checks
    import oracles
    if workload == "indicators":
        return checks.check_indicators(ctx["nodes"], ctx["ways"], result["pipeline_out"],
                                       int(result["rounds"]))
    if workload == "curation":
        return checks.check_curation(result, DATA, ctx["batches"])
    expect = oracles.expectations(result["oracle_sql"], work)
    problems = checks.check_gates(result, expect)
    if result.get("sssp") is not None:
        problems += checks.check_sssp(ctx["edges"], result["sssp"])
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log(f"no graft sources at {ROOT}: run this from the root of a graft checkout")
        sys.exit(2)
    build()
    work = workdir(f"{args.workload}-{args.seed}")
    try:
        t0 = time.monotonic()
        ctx = prepare(args.workload, args.seed, args.seconds, args.trace, work)
        t1 = time.monotonic()
        java([f"{work}/plan.txt", f"{work}/result.json"], work, JVM_TIMEOUT_S)
        t2 = time.monotonic()
        with open(f"{work}/result.json") as fh:
            result = json.load(fh)
        problems = check(args.workload, result, ctx, work)
        log(f"inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s (set-ups "
            f"{', '.join(f'{x:.1f}' for x in result['setup_s'])} s, window {result['window_s']:.1f} s), "
            f"checks {time.monotonic() - t2:.1f} s")
        for p in problems:
            log(f"check failed: {p}")
        ops = result["ops"]
        for o in ops:
            status = "ok" if o["ok"] else f"FAILED {o['error']}: {o['message']}"
            log(f"round {int(o['round'])} {o['name']}{' (probe)' if o['probe'] else ''}: "
                f"{o['seconds']:.3f} s {status}")
        if args.trace:
            metrics = per_layer(result)
            summary = span_summary(result)
            summary["wall_s"] = end_to_end(result)["wall_s"]
            done = [o["seconds"] for o in ops if o["ok"] and not o["probe"]]
            summary["op_p50_s"] = median(done) if done else result["window_s"]
            trace_dir = os.path.join(HERE, ".trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"spans": result["spans"], "summary": summary}, fh)
            print(json.dumps({"spans": summary}))
        else:
            metrics = end_to_end(result)
        log(f"{args.workload} seed {args.seed}: {int(result['rounds'])} rounds in "
            f"{time.monotonic() - started:.1f} s")
        print(json.dumps({
            "correct": not problems,
            "attempted": len(ops),
            "failed": sum(1 for o in ops if not o["ok"]),
            "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
        }))
    finally:
        rmtree(work)


if __name__ == "__main__":
    main()
