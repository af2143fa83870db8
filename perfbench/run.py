#!/usr/bin/env python3
"""Front-door benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), then runs the workload
in its own JVM at local[<cores>] with SPARK_GRAFT_CPUS=<cores>; <cores> is
every core the process may use unless --cores says otherwise (--cores 1
gives the single-core baseline). With --trace 0 it prints the end-to-end
metrics; with --trace 1 it runs the traced per-layer pass and prints the
per-layer metrics. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Everything the run writes stays under .bench_build/ in the current directory.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("batch_global", "corpus_chain")

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("input_rows_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("output_mb", "MB"),
]

CORPUS_STEPS = ["exact-dedup", "quality-filter", "neardup", "decontaminate", "lm-filter",
                "pack-bins"]

PER_LAYER = [
    ("sources.decode_s", "s"), ("sources.rows", "count"), ("sources.input_mb", "MB"),
    ("domain.sessionize_s", "s"), ("domain.regions", "count"),
    ("domain.short_regions", "count"), ("domain.mask_s", "s"),
    ("domain.mask_keep_ratio", "ratio"), ("domain.interp_s", "s"),
    ("domain.interp_max_task_s", "s"), ("domain.pixels_out", "count"),
    ("functions.kernel_build_s", "s"), ("functions.triangles", "count"),
    ("sinks.zarr_read_s", "s"), ("sinks.zarr_create_s", "s"), ("sinks.zarr_append_s", "s"),
    ("sinks.zarr_chunks_rewritten", "count"), ("sinks.cog_s", "s"), ("sinks.nc4_s", "s"),
    ("sinks.bytes_per_cell", "B"), ("sinks.jsonl_s", "s"),
    ("tools.runjob_s", "s"), ("tools.corpus_job_s", "s"),
] + [(f"tools.corpus.{op}_{k}", u) for op in CORPUS_STEPS for k, u in (("s", "s"), ("keep", "ratio"))] + [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.planning_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.gc_s", "s"), ("spark.max_task_s", "s"),
    ("spark.task_skew", "ratio"), ("spark.straggler_stages", "count"),
]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Wall-clock cap on the JVM, so a run always ends within 180 s.
JVM_CAP_S = 170


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            p = f.read().split()
        return [float(p[0]), float(p[1]), float(p[2]), int(p[3].split("/")[0])]
    except OSError:
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(workload, seed, seconds, mode, cores, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-OmitStackTraceInFastThrow",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.FrontDoor",
            workload, str(seed), str(seconds), mode, str(cores), work, out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"{workload} {mode}: stopped")

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=JVM_CAP_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.default_int_handler)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{workload} {mode} JVM failed ({code})")
    with open(out) as f:
        res = json.load(f)
    spans = out + ".spans.jsonl"
    if os.path.exists(spans):
        keep = os.path.join(build.OUT, "spans")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(spans, os.path.join(keep, f"{workload}-seed{seed}.jsonl"))
    return res


def end_to_end(res):
    walls = res["wall_s"]
    rates = [u / w for u, w in zip(res["units"], walls)]
    vals = {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": statistics.median(walls),
        "input_rows_per_s": statistics.median(rates),
        "peak_rss_mb": res["peak_rss_mb"],
        "output_mb": statistics.median(res["output_mb"]),
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def per_layer(res):
    layers = {k: v["value"] for k, v in res["layers"].items()}
    return {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    build.build()
    load_start, steal_start = loadavg(), steal_s()
    work = os.path.join(build.OUT, "runs", f"{a.workload}-{os.getpid()}")
    try:
        res = run_jvm(a.workload, a.seed, a.seconds, "traced" if a.trace else "timed",
                      a.cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = per_layer(res) if a.trace else end_to_end(res)
    steal = None if steal_start is None else steal_s() - steal_start
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": a.cores,
                      "load_start": load_start, "load_end": loadavg(), "steal_s": steal,
                      "iterations": len(res["wall_s"]), "checks": res["checks"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
