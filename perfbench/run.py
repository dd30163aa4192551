#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and harness from
source (perfbench/build.py), generates the workload's inputs from the
seed, runs the workload in one JVM for ``--seconds`` (closed loop, one
client, ``local[nproc]``), checks every output, prints a per-workload
report, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (listeners and harness spans on). ``--workload all`` runs every
workload (untraced, then traced) and prints each report, including the
tracing overhead; it is for people, and prints no JSON line.

Everything a run writes lives under ``.perfbench_work/`` in the checkout
and is removed when the run ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import lifecycle  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import stream_check  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 170  # the harness is killed past this: a run must end within 180 s

# Read-only catalog entries run after the gold reads in each medallion
# cycle, one per operator module (text, dedup, similarity, functions);
# a separate analytics workload does not fit the run budget (README).
ENTRIES = ["t6_tfidf", "d2_ngram_jaccard", "s15_hybrid_search", "f9_sql_kernels"]

# Per-workload inputs and settings. Sizes are in the README. The events
# are split into ``files`` landing files; a run writes the first one
# (untimed warm-up) and ``files_per_round`` more per program round.
WORKLOADS = {
    "medallion_refresh": {"sf": 0.01, "tables": datagen.ALL_TABLES},
    "lifecycle_stream": {"sf": 0.1, "tables": ("orders", "customer", "events"),
                         "files": 100, "files_per_round": 3},
}


def nproc():
    return len(os.sched_getaffinity(0))


def java_cmd(classpath, work, job_file, heap):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
           "-Duser.timezone=UTC", "-cp", classpath]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["perfbench.Harness", job_file]


def child_env():
    """The caller's environment minus every engine or Spark knob: the
    engine sees only its defaults and the generated inputs."""
    drop = ("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_DRIVER_MEM",
            "PYSPARK_", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
    return {k: v for k, v in os.environ.items() if not k.startswith(drop)}


def prepare_inputs(workload, seed, seconds, work):
    """Generate the seed's inputs for a window of ``seconds`` under
    ``work``; return the job entries the harness needs and the digests
    of what was generated."""
    spec = WORKLOADS[workload]
    data = os.path.join(work, "data")
    tables = datagen.write_tables(seed, spec["sf"], data, spec["tables"])
    job = {"data": data, "seed": seed}
    info = {"sf": spec["sf"], "rows": {t: len(df) for t, df in tables.items()}}
    if workload == "medallion_refresh":
        job["entries"] = ",".join(ENTRIES)
    elif workload == "lifecycle_stream":
        rounds = lifecycle.rounds_for(seconds)
        prog = lifecycle.program(seed, tables["orders"], rounds)
        path = os.path.join(work, "program.tsv")
        lifecycle.write_program(prog, path)
        n_land = 1 + spec["files_per_round"] * rounds
        frames = datagen.event_files(seed, tables["events"], spec["files"])[:n_land]
        staging = os.path.join(work, "staging")
        os.makedirs(staging)
        for i, df in enumerate(frames):
            datagen.write_event_file(df, os.path.join(staging, f"f{i:04d}.parquet"))
        job.update({"program": path, "staging": staging, "rounds": rounds,
                    "files_per_round": spec["files_per_round"]})
        info.update({"program_digest": lifecycle.program_digest(prog),
                     "rounds": rounds, "statements": len(prog),
                     "landing_digest": datagen.frame_digest(frames),
                     "files_written": len(frames),
                     "events_written": int(sum(len(f) for f in frames))})
    return job, info


def cpu_ticks():
    """(steal, total) jiffies of the machine from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def run_harness(classpath, workload, seed, seconds, trace, work, started):
    t0 = time.time()
    job, info = prepare_inputs(workload, seed, seconds, work)
    info["phase_s"] = {"inputs": round(time.time() - t0, 2)}
    t0 = time.time()
    out = os.path.join(work, "out")
    for d in (out, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    job.update({"workload": workload, "seconds": seconds, "trace": trace,
                "cpus": nproc(), "work": work, "out": out})
    job_file = os.path.join(work, "job.properties")
    with open(job_file, "w") as fh:
        for k, v in job.items():
            fh.write(f"{k}={str(v).replace(chr(92), '/')}\n")
    log_path = os.path.join(work, "harness.log")
    budget = max(10.0, RUN_LIMIT_S - (time.time() - started))
    ticks0 = cpu_ticks()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(classpath, work, job_file, "4g"),
                                stdout=log, stderr=subprocess.STDOUT, env=child_env(),
                                cwd=work)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"harness failed (rc={rc}):\n{tail}")
    with open(result_path) as fh:
        result = json.load(fh)
    info["phase_s"]["jvm"] = round(time.time() - t0, 2)
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU the hypervisor gave to others while this run wanted it:
        # a high share means the timings are the host's, not the code's.
        info["host_steal_share"] = round((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 3)
    info["phase_s"]["jvm_to_window"] = round(
        (result["window_start_ms"] - result["jvm_start_ms"]) / 1000.0, 2)
    info["phase_s"]["window"] = round(
        (result["window_end_ms"] - result["window_start_ms"]) / 1000.0, 2)
    return job, info, result


def check(workload, job, result):
    """Correctness verdicts: {check name: [errors]}."""
    out = job["out"]
    if workload == "medallion_refresh":
        return oracle.check_outputs(job["data"], out, result["oracle_sql"],
                                    result["result_dirs"])
    if workload == "lifecycle_stream":
        spec = WORKLOADS[workload]
        verdicts = lifecycle.check(job, result)
        verdicts.update(stream_check.check(job, result, spec["sf"], spec["files"]))
        return verdicts
    raise ValueError(workload)


def commit():
    """The checkout's git commit, when it is a git checkout."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else "not a git checkout"
    except OSError:
        return "not a git checkout"


def run_one(workload, seed, seconds, trace, classpath):
    started = time.time()
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        job, info, result = run_harness(classpath, workload, seed, seconds, trace,
                                        work, started)
        info.update({"seed": seed, "nproc": nproc(), "commit": commit(),
                     "build": os.path.basename(os.path.dirname(classpath.split(os.pathsep)[0]))})
        t0 = time.time()
        verdicts = check(workload, job, result)
        info["phase_s"]["check"] = round(time.time() - t0, 2)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    return metrics.compute(workload, result, verdicts, info, started, ENTRIES, trace)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    classpath = build.build()
    if a.workload == "all":
        for w in WORKLOADS:
            plain = run_one(w, a.seed, a.seconds, 0, classpath)
            traced = run_one(w, a.seed, a.seconds, 1, classpath)
            metrics.print_report(plain, traced)
        return 0
    res = run_one(a.workload, a.seed, a.seconds, a.trace, classpath)
    metrics.print_report(res)
    print(json.dumps(metrics.result_line(res, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
