#!/usr/bin/env python3
"""Lakehouse benchmark: analyst SQL reads, daily medallion writes and
corpus dedup compute, each a single-process closed loop on local[k].

Usage (from the repository root):

    python3 lakebench/run.py --workload analyst_sql --seed 1 --seconds 6 --trace 0

The script builds the engine together with the benchmark's Scala code
(lakebench/build.sbt, skipped when the sources are unchanged), runs one
JVM, turns its raw per-op record into metrics, and prints one JSON object
as the last line of standard output:

    {"correct": true, "attempted": 96, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes lakebench/out/<workload>.layers.json
with the full per-layer breakdown. All scratch data lives under
lakebench/work/ and is deleted when the run ends.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

WORKLOADS = ("analyst_sql", "daily_pipeline", "corpus_dedup")
# The op kinds that are primary ops: their latency is op_p50_ms and their
# count is ops_per_s. Other kinds (maintenance) still count in the time.
# None means every kind (each query template is its own kind).
PRIMARY_KIND = {"analyst_sql": None, "daily_pipeline": "batch", "corpus_dedup": "pass"}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "heap_retained_mb": "MB",
}
# Per-op means over the primary ops of the traced pass. In-op GC is left
# to the layer report: GC runs between ops, so it reads 0 on most runs.
PER_LAYER = {
    "sql.analysis_ms": "ms",
    "sql.optimization_ms": "ms",
    "sql.planning_ms": "ms",
    "sql.exec_ms": "ms",
    "sql.rows_examined_per_row": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_ms": "ms",
    "spark.in_jobs_ms": "ms",
    "spark.task_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "layers.covered_pct": "%",
}

HEAP = "2g"
# local[k]: two task threads leave the other cores to the driver, the JIT
# and GC threads, so a busy neighbour or a burst of hypervisor steal on one
# core slows a run less.
CORES = 2
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 540
TRAIN_TIMEOUT_S = 120


class BenchError(Exception):
    pass


# ---- statistics -----------------------------------------------------------

def percentile(xs, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    if not xs:
        raise ValueError("percentile of nothing")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_p50(kinds, ms):
    """op_p50_ms: the median latency of each op kind, combined over the
    kinds by their geometric mean. Kinds are never pooled into one
    percentile, so a kind's weight does not depend on how often it runs
    and a shift between kinds cannot move the figure."""
    by_kind = {}
    for k, v in zip(kinds, ms):
        by_kind.setdefault(k, []).append(v)
    return geomean([median(v) for v in by_kind.values()])


def rate(count, total_ms):
    """Events per second over a total of milliseconds."""
    if total_ms <= 0:
        raise ValueError("rate over an empty interval")
    return count / (total_ms / 1000.0)


def spread(values):
    """Inter-quartile range as a share of the median, the steadiness
    figure the bounds are judged against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# ---- metrics --------------------------------------------------------------

def primary(rec, values):
    """The entries of a per-op list that belong to the workload's primary
    op kind."""
    kind = PRIMARY_KIND[rec["workload"]]
    return [v for v, k in zip(values, rec["op_kind"]) if kind is None or k == kind]


def end_to_end(rec):
    kinds = primary(rec, rec["op_kind"])
    ms = primary(rec, rec["op_ms"])
    values = {
        "setup_s": rec["setup_s"],
        "op_p50_ms": op_p50(kinds, ms),
        "ops_per_s": rate(len(ms), sum(rec["op_ms"])),
        "heap_retained_mb": rec["heap_retained_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(rec):
    ops = primary(rec, rec["layers"]["per_op"])

    def mean(key):
        return sum(o[key] for o in ops) / len(ops)

    examined = sum(o["sql.input_records"] for o in ops)
    produced = sum(o["sql.output_rows"] for o in ops)
    values = {
        "sql.analysis_ms": mean("sql.analysis_ms"),
        "sql.optimization_ms": mean("sql.optimization_ms"),
        "sql.planning_ms": mean("sql.planning_ms"),
        "sql.exec_ms": mean("sql.exec_ms"),
        "sql.rows_examined_per_row": examined / max(produced, 1.0),
        "spark.jobs_per_op": mean("spark.jobs"),
        "spark.stages_per_op": mean("spark.stages"),
        "spark.tasks_per_op": mean("spark.tasks"),
        "spark.driver_gap_ms": mean("spark.driver_gap_ms"),
        "spark.in_jobs_ms": mean("spark.in_jobs_ms"),
        "spark.task_ms": mean("spark.task_ms"),
        "spark.input_bytes": mean("spark.input_bytes"),
        "spark.shuffle_read_bytes": mean("spark.shuffle_read_bytes"),
        "spark.shuffle_write_bytes": mean("spark.shuffle_write_bytes"),
        "spark.spill_bytes": mean("spark.spill_bytes"),
        "layers.covered_pct": 100.0 * sum(o["covered_ms"] for o in ops)
                              / sum(o["wall_ms"] for o in ops),
    }
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


def med_pct(ops):
    """Median share of op wall time the sql and spark layers account for."""
    return median([100.0 * o["covered_ms"] / o["wall_ms"] for o in ops])


def layer_report(rec):
    """The traced run's full per-layer breakdown: the BENCHMARK.json
    per-layer metrics, the workload's own layer figures, the accounting
    check and the tracing overhead."""
    ops = primary(rec, rec["layers"]["per_op"])
    kinds = primary(rec, rec["op_kind"])
    traced = op_p50(kinds, primary(rec, rec["op_ms"]))
    # the untraced passes before and after the traced one, pooled
    untraced = op_p50(kinds * 2, primary(rec, rec["layers"]["untraced_before_op_ms"])
                      + primary(rec, rec["layers"]["untraced_after_op_ms"]))
    total_ms = sum(rec["op_ms"])
    op_ms_by_kind = {}
    for k, v in zip(rec["op_kind"], rec["op_ms"]):
        op_ms_by_kind.setdefault(k, []).append(v)
    within = [o for o in ops if o["covered_ms"] >= 0.9 * o["wall_ms"]]
    extra = {k: v for k, v in rec["layers"].items()
             if k not in ("per_op", "untraced_before_op_ms", "untraced_after_op_ms")}
    by_kind = {}
    for o, k in zip(rec["layers"]["per_op"], rec["op_kind"]):
        by_kind.setdefault(k, []).append(o)
    return {
        "workload": rec["workload"],
        "seed": rec["seed"],
        "per_layer": {k: v["value"] for k, v in per_layer(rec).items()},
        "workload_layers": extra,
        # rates and latencies of the traced pass that BENCHMARK.json does
        # not gate: rows_per_s is a fixed multiple of ops_per_s on the
        # write and compute paths (every batch lands the same rows, every
        # pass reads the same documents)
        "traced_pass": {
            "op_p50_ms_by_kind": {k: median(v) for k, v in sorted(op_ms_by_kind.items())},
            "rows_per_s": rate(sum(rec["op_rows"]), total_ms),
            "ops_per_s": rate(len(ops), total_ms),
        },
        "per_kind_median": {k: {m: median([o[m] for o in os_]) for m in os_[0]}
                            for k, os_ in sorted(by_kind.items())},
        "accounting": {
            "rule": "union of Catalyst phase, SQL execution and job intervals "
                    "covers at least 90% of the op's wall time",
            "ops": len(ops),
            "ops_within_10pct": len(within),
            "median_covered_pct": med_pct(ops),
            "median_uncovered_ms": median([o["wall_ms"] - o["covered_ms"] for o in ops]),
            "passed": len(within) == len(ops),
            # the pipeline steps' own driver time, outside any Spark job,
            # is the layer the sql and spark intervals leave out
            "median_covered_with_step_self_pct": median([
                100.0 * (o["covered_ms"] + sum(v for k, v in o.items() if k.startswith("self.")))
                / o["wall_ms"] for o in ops]),
        },
        "tracing_overhead": {
            "untraced_op_p50_ms": untraced,
            "traced_op_p50_ms": traced,
            "overhead_pct": 100.0 * (traced / untraced - 1.0),
        },
        "context": rec["context"],
    }


def summarize(rec, trace):
    checks_ok = all(v is True for k, v in rec["checks"].items() if k.endswith("_ok"))
    failed = rec["failed"] + (0 if checks_ok else 1)
    metrics = per_layer(rec) if trace else end_to_end(rec)
    return {
        "correct": failed == 0,
        "attempted": rec["attempted"],
        "failed": failed,
        "metrics": metrics,
    }


# ---- build and run --------------------------------------------------------

def source_files():
    """Every file the build reads: the engine's build and sources at the
    repository root, and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    missing = [f for f in files if not os.path.isfile(f)]
    if missing:
        raise BenchError("missing build files: %s (run from a full checkout)"
                         % ", ".join(missing))
    for r in roots:
        if not os.path.isdir(r):
            raise BenchError("missing sources: %s (run from a full checkout)" % r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def build():
    """Compiles the engine and the benchmark with sbt (lakebench/build.sbt
    depends on the root build) unless an identical build exists; returns
    the runtime classpath and the class data sharing archive (None when
    the training run could not make one)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    target = os.path.join(BENCH, "target")
    stamp_file = os.path.join(target, "lakebench.stamp.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            prev = json.load(fh)
        if prev.get("stamp") == stamp:
            return prev["classpath"], prev.get("archive")
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(target, "build.log")
    with open(log_path, "w") as log:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false",
                          "compile", "export Runtime/fullClasspath"],
                         BENCH, env, log, BUILD_TIMEOUT_S)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        raise BenchError("build failed (exit %s), see %s" % (code, log_path))
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cps:
        raise BenchError("build printed no classpath, see %s" % log_path)
    cds = os.path.join(target, "cds")
    shutil.rmtree(cds, ignore_errors=True)
    os.makedirs(cds)
    classpath = jar_dirs(cps[-1], cds)
    archive = train(classpath, os.path.join(cds, "classes.jsa"))
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath, "archive": archive}, fh)
    return classpath, archive


def jar_dirs(classpath, out_dir):
    """The classpath with each class directory replaced by a jar of it:
    the JVM archives classes from jars only."""
    entries = []
    for i, e in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(out_dir, "classes-%d.jar" % i)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(e)):
                    for f in sorted(fs):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, e))
            e = jar
        entries.append(e)
    return os.pathsep.join(entries)


def train(classpath, archive):
    """Runs graft.bench.Train once with the JVM recording every class it
    loads into `archive`, a class data sharing archive that later runs
    map instead of loading Spark's classes one by one (JVM and session
    start-up are most of a run's fixed cost). Returns the archive, or
    None when the JVM made none: runs then load classes as usual."""
    work = os.path.join(BENCH, "work", "train-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(os.path.dirname(archive), "train.log")
    cmd = jvm_cmd(classpath, work, ["-XX:ArchiveClassesAtExit=" + archive])
    try:
        with open(log_path, "w") as log:
            code = run_child(cmd + ["graft.bench.Train", work, str(cores())],
                             ROOT, dict(os.environ), log, TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code == 0 and os.path.isfile(archive):
        return archive
    print("lakebench: no class data sharing archive (exit %s), see %s" % (code, log_path),
          file=sys.stderr)
    return None


def run_child(cmd, cwd, env, log, timeout):
    """Runs `cmd` in its own process group; on timeout kills the group.
    Always waits for the child to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def cores():
    return max(1, min(CORES, os.cpu_count() or 1))


def jvm_cmd(classpath, work, extra=()):
    """The java command line shared by the training run and the
    benchmark runs, up to the main class: fixed heap, scratch dirs under
    `work`, the module opens Spark needs."""
    cmd = [java_bin(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop-tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += list(extra)
    for m in JVM_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def run_jvm(args, classpath, archive, deadline):
    work = os.path.join(BENCH, "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    extra = ["-XX:SharedArchiveFile=" + archive] if archive and os.path.isfile(archive) else []
    cmd = jvm_cmd(classpath, work, extra) + [
        "graft.bench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--cores", str(cores())]
    log_path = os.path.join(BENCH, "work", "%s.log" % args.workload)
    try:
        with open(log_path, "w") as log:
            code = run_child(cmd, ROOT, dict(os.environ), log,
                             max(10, deadline - time.time()))
        if code != 0:
            raise BenchError("benchmark JVM failed (exit %s), see %s" % (code, log_path))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    return a


def main(argv):
    args = parse_args(argv)
    try:
        classpath, archive = build()
        rec = run_jvm(args, classpath, archive, time.time() + RUN_TIMEOUT_S)
        result = summarize(rec, args.trace == 1)
        if args.trace == 1:
            os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
            path = os.path.join(BENCH, "out", "%s.layers.json" % args.workload)
            with open(path, "w") as fh:
                json.dump(layer_report(rec), fh, indent=1, sort_keys=True)
    except BenchError as e:
        print("lakebench: %s" % e, file=sys.stderr)
        return 2
    # the raw record's timings and context, for steadiness.py
    print(json.dumps({k: rec[k] for k in ("phases", "setup_s", "warmup_s", "warmup_rounds",
                                         "op_kind", "op_ms", "context", "checks")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
