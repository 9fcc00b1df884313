#!/usr/bin/env python3
"""Repository benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload <migrate|corpus> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while no source changed. Each run starts
one JVM on `local[4]`, which generates the workload's inputs from the seed,
sets up, warms up once, then runs one client's ops back to back for
`--seconds`. Outputs are checked after the timed window (here, against
DuckDB, and in the JVM). The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics of a
traced run (`--trace 1`). Every run also writes a capture file of its own
under perfbench/captures/; compare two traced captures with
perfbench/compare.py.

Inputs derive from the project's test data (TESTDATA.md): the directory
named by $GRAFT_BENCH_DATA, by default `testdata` in the home directory.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
CAPTURES = os.path.join(HERE, "captures")
RUN_LIMIT_S = 170

# name -> unit, for --trace 0
# Times are the executor CPU Spark counts for the work itself, plus job
# counts. Wall-clock times of the same set-up and ops go to every capture,
# but on a shared 4-vCPU machine whole runs speed up and slow down together:
# over ten runs their interquartile range is 0.3-0.57 of the median, wider
# than the largest bound a metric may have (0.25). Values are medians: a run
# holds far fewer than the hundred samples a p90 needs to have ten beyond it.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s", "jobs": "count",
    "write_cpu_s": "s", "read_cpu_s": "s",
    "space_amp": "ratio", "heap_peak_mb": "MB",
}

LAYERS = ["etl.Migration", "io.Sources", "io.TableFormat.commit",
          "io.TableFormat.read", "io.MatView", "ops.Dedup", "ops.SimJoin",
          "ops.Similarity", "ops.TextOps", "ops.Graph"]
LAYER_METRICS = {
    "calls": "count", "self_s": "s", "driver_s": "s", "plan_s": "s",
    "jobs": "count", "tasks": "count", "task_cpu_s": "s", "cpu_util": "ratio",
    "shuffle_bytes": "B", "spill_bytes": "B", "task_skew": "ratio",
}
COUNTERS = {
    "io.Sources.jdbc_rows_per_s": "rows/s",
    "io.TableFormat.bytes_written_per_row": "B/row",
    "io.TableFormat.files_scanned_per_read": "files/read",
    "jvm.gc_s": "s",
    "residue.persisted_rdds": "count",
    "residue.tmp_dirs": "count",
}
# name -> unit, for --trace 1
PER_LAYER = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()}
PER_LAYER.update(COUNTERS)

WORKLOADS = ("migrate", "corpus")

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"[perfbench] {msg}")
    sys.exit(code)


def source_stamp():
    """Digest of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources at {ROOT}: run from a repository checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("[perfbench] building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        log(p.stdout[-4000:])
        log(p.stderr[-2000:])
        fail("build failed")
    cp = lines[-1].strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    archive_classes(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    return cp


def archive_classes(cp):
    """Archive the classes every workload loads (class data sharing), so
    each run's JVM maps them instead of loading and verifying ~10k classes
    from jars: about half of a cold start."""
    work = os.path.join(BUILD, "train")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}"])
           + ["--workload", "migrate", "--seed", "0", "--src", data_root(),
              "--work", work, "--train", "1"])
    p = subprocess.run(cmd, cwd=work, env=jvm_env(work), stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.isfile(CLASS_ARCHIVE):
        log(p.stdout[-2000:])
        log(p.stderr[-4000:])
        fail("class archive training run failed")


def java_cmd(cp, work, extra_opts=()):
    tmp = os.path.join(work, "tmp")
    return (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", *extra_opts] + JAVA_OPENS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.perfbench.Main"])


def jvm_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def run_jvm(cp, args, work, extra, limit_s):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (java_cmd(cp, work, [f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"]) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--src", data_root(), "--work", work] + extra)
    p = subprocess.Popen(cmd, cwd=work, env=jvm_env(work), stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        code = p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"the run did not finish within {limit_s:.0f} s")
    if code != 0:
        fail(f"the benchmark JVM exited with code {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def data_root():
    return os.environ.get("GRAFT_BENCH_DATA",
                          os.path.join(os.path.expanduser("~"), "testdata"))


def end_to_end(res):
    """Declared end-to-end metrics, their sample counts, and the wall-clock
    latencies of the same ops."""
    timed = [o for o in res["ops"] if o["timed"]]
    out = {"setup_s": statistics.median(res["setup_task_cpu_s"]),
           "cpu_s": statistics.median(res["wall_task_cpu_s"]),
           "jobs": statistics.median(res["wall_jobs"]),
           "space_amp": res["space"]["at_rest_bytes"] / res["space"]["plain_bytes"],
           "heap_peak_mb": res["heap_peak_mb"]}
    samples = {"setup_s": len(res["setup_s"]), "cpu_s": len(res["wall_task_cpu_s"]),
               "jobs": len(res["wall_jobs"]), "space_amp": 1, "heap_peak_mb": 1}
    wall = {"setup_s": statistics.median(res["setup_s"]),
            "wall_s": statistics.median(res["wall_s"])}
    for cls in ("write", "read", "search"):
        ops = [o for o in timed if o["cls"] == cls]
        if not ops:
            fail(f"no timed {cls} ops in this run")
        wall[f"{cls}_p50_s"] = statistics.median(o["s"] for o in ops)
        if f"{cls}_cpu_s" in END_TO_END:
            out[f"{cls}_cpu_s"] = statistics.median(o["task_cpu_s"] for o in ops)
            samples[f"{cls}_cpu_s"] = len(ops)
    return out, samples, wall


def per_layer(res):
    out = {}
    for l in LAYERS:
        for m in LAYER_METRICS:
            out[f"{l}.{m}"] = res["layers"][l][m]
    for c in COUNTERS:
        out[c] = res["counters"][c]
    return out


def accounting(res):
    """How much of the traced window the layers' self times cover."""
    self_s = sum(res["layers"][l]["self_s"] for l in LAYERS)
    window = res["window_s"]
    return {"window_s": window, "layer_self_s": self_s,
            "covered": self_s / window if window else 0.0}


def untraced_walls(workload):
    """wall_s of every untraced capture of `workload` so far."""
    walls = []
    if os.path.isdir(CAPTURES):
        for n in sorted(os.listdir(CAPTURES)):
            if n.endswith(".json") and f"-{workload}-" in n and "-t0-" in n:
                with open(os.path.join(CAPTURES, n)) as f:
                    walls.append(json.load(f)["wall_clock"]["wall_s"])
    return walls


def write_capture(args, capture):
    os.makedirs(CAPTURES, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    name = f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    path = os.path.join(CAPTURES, name)
    with open(path, "x") as f:  # a capture is never overwritten
        json.dump(capture, f, indent=1, sort_keys=True)
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output row before the checks (self-test)")
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    cp = build()
    start = time.time()  # the run's own limit starts once the build is done
    if not os.path.isdir(data_root()):
        fail(f"no test data at {data_root()} (set GRAFT_BENCH_DATA)")
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = ["--corrupt", "1"] if args.corrupt else []
        res = run_jvm(cp, args, work, extra, RUN_LIMIT_S - (time.time() - start))
        check = checks.CHECKS.get(args.workload)
        bad, unattributed = check(res, args.corrupt, log) if check else (set(), 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = len({o["i"] for o in res["ops"] if not o["ok"]} | bad) + unattributed
    attempted = len(res["ops"])
    e2e, samples, wall = end_to_end(res)
    capture = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": res["cores"], "source": res["source"],
        "replicas": res["replicas"], "inputs": res["inputs"],
        "iterations": res["iterations"], "setup_s": res["setup_s"],
        "wall_s": res["wall_s"], "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted, "end_to_end": e2e,
        "samples": samples, "wall_clock": wall,
        "ops": [{k: o[k] for k in ("i", "cls", "name", "layer", "timed", "s", "task_cpu_s", "jobs", "ok", "error")}
                for o in res["ops"]],
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in per_layer(res).items()}
        capture.update(layers=res["layers"], counters=res["counters"],
                       accounting=accounting(res), spans=res["spans"],
                       window_ms=res["window_ms"])
        walls = untraced_walls(args.workload)
        if walls:
            untraced = statistics.median(walls)
            capture["tracing_overhead"] = {
                "traced_wall_s": wall["wall_s"],
                "untraced_wall_s_median": untraced,
                "untraced_captures": len(walls),
                "overhead_s": wall["wall_s"] - untraced}
        log(f"[perfbench] accounting: {json.dumps(capture['accounting'])}")
        log(f"[perfbench] tracing overhead: "
            f"{json.dumps(capture.get('tracing_overhead', 'no untraced capture yet'))}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    path = write_capture(args, capture)
    log(f"[perfbench] {args.workload}: {time.time() - start:.1f} s in all, "
        f"{attempted} ops, {failed} failed, samples {json.dumps(samples)}, "
        f"wall clock {json.dumps(wall)}; capture {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
