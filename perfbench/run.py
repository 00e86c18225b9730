#!/usr/bin/env python3
"""graft benchmark: the event pipeline, end to end and per layer.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload backfill|live_tail \
        --seed N --seconds S --trace 0|1

Builds the benchmark (perfbench/build.sbt, which compiles the checkout's
graft sources) when its sources changed, runs one workload in one JVM,
checks every output, and prints two JSON lines: the full record of the run
(every metric with its unit, sample counts, seed, idle CPU share at start),
then the summary, which is always the last line of stdout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}

STAGES = ["extractEvents", "validated", "filterContracts", "toKafkaRecords",
          "flattenNep171", "enrichMetadata", "metadataRecords"]

PER_LAYER = {
    "sources.rows_read_per_line": "ratio",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.lag_lines_max": "lines",
    **{f"EventStreams.{s}.self_s": "s" for s in STAGES},
    "EventStreams.extracted": "count",
    "EventStreams.invalid_name": "count",
    "EventStreams.invalid_unparsed": "count",
    "EventStreams.filtered_out": "count",
    "EventStreams.flat_rows": "count",
    "EventStreams.fanout": "ratio",
    "EventStreams.enrich_hit_ratio": "ratio",
    "EventStreams.records_per_line": "ratio",
    "NesConfig.batches": "count",
    "NesConfig.rows_per_batch": "rows",
    "NesConfig.query_planning_ms": "ms",
    "NesConfig.add_batch_ms": "ms",
    "NesConfig.wal_commit_ms": "ms",
    "NesConfig.commit_offsets_ms": "ms",
    "NesConfig.overhead_ms_per_batch": "ms",
    "NesConfig.pipeline_build_ms": "ms",
    "sink.files_per_batch": "count",
    "sink.bytes_per_line": "B",
    "operators.analysis_ms": "ms",
    "operators.optimization_ms": "ms",
    "operators.planning_ms": "ms",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.driver_gap_s": "s",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.first_touch_s": "s",
    "trace.overhead": "ratio",
    "backfill.speedup_1c": "ratio",
    "live.p99_ms": "ms",
    "live.gen_late_ms": "ms",
    "live.keepup": "ratio",
    "failed_frac": "ratio",
}

WORKLOADS = ["backfill", "live_tail"]
JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
] + ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = []
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]:
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in ["build.sbt", "project/build.properties"]:
        files += [os.path.join(ROOT, f), os.path.join(HERE, f)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles graft and the benchmark if their sources changed; returns
    the runtime classpath and whether it built."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log("no graft sources next to perfbench/; nothing to measure")
        sys.exit(2)
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == digest:
        return open(cp_file).read().strip(), False
    log("building (sbt compile)")
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        sys.exit(2)
    if r.returncode != 0 or not os.path.isfile(cp_file):
        log("build failed")
        sys.exit(2)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip(), True


def idle_fraction(interval=0.5):
    """Share of CPU time spent idle over `interval` seconds, from /proc/stat."""
    def sample():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[3] + v[4], sum(v)
    try:
        i0, t0 = sample()
        time.sleep(interval)
        i1, t1 = sample()
        return (i1 - i0) / max(1, t1 - t0)
    except OSError:
        return None


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    start = time.time()

    cp, built = build(start + 850)
    idle = idle_fraction()
    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JAVA_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work,
           "--cpus", str(os.cpu_count() or 1)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm_log = os.path.join(work, "jvm.log")
    budget = (880 if built else 175) - (time.time() - start)
    try:
        with open(jvm_log, "w") as fh:
            r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(10, budget - 5))
    except subprocess.TimeoutExpired:
        log("run timed out")
        sys.exit(3)
    result_file = os.path.join(work, "jvm_result.json")
    if r.returncode != 0 or not os.path.isfile(result_file):
        sys.stderr.write(open(jvm_log).read()[-4000:])
        log(f"run failed (exit {r.returncode})")
        sys.exit(4)

    res = json.load(open(result_file))
    attempted, failed = res["attempted"], res["failed"]
    metrics = dict(res["metrics"])
    metrics["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}

    wanted = PER_LAYER if a.trace else END_TO_END
    # layers a workload does not exercise read 0 (nothing of them ran)
    summary_metrics = {k: {"value": float(metrics[k]["value"]) if k in metrics else 0.0, "unit": u}
                       for k, u in wanted.items()}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "idle_cpu_at_start": idle, "cpus": os.cpu_count(), "attempted": attempted,
              "failed": failed, "samples": res["samples"], "metrics": metrics, "detail": res["detail"],
              "wall_s": time.time() - start}
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(results, stem + ".json"), "w") as fh:
        json.dump(record, fh)
    if a.trace and os.path.isfile(os.path.join(work, "trace.json")):
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(results, stem + ".trace.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": summary_metrics}))


if __name__ == "__main__":
    main()
