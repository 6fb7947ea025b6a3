#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: materialized op latency per workload.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program from the
checkout's sources with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. One JVM then runs the workload as a
closed loop (perfbench/src/main/scala/perfbench/Main.scala), the query ops
are compared with the DuckDB oracle through tools/check.py, and the last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"} with the end-to-end metrics (--trace 0) or the per-layer metrics
of a listener-traced run (--trace 1). A fuller report line comes just
before it, with sample counts, each op's latencies and the op behind
op_tail_s.

Everything a run writes goes under perfbench/work/<run id>/, which is
deleted at the end, except the /tmp/graft_* paths the program itself
chooses; those carry the run's namespace tag and are deleted by it.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
CHECK = os.path.join(ROOT, "tools", "check.py")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
SPEC = os.path.join(ROOT, "BENCHMARK.json")

# The testdata scale factor the ops run on, and where the fixed, read-only
# testdata lives.
SF = "sf0.001"
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata"))
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [SOURCES, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_cmd(cmd, work, cwd, timeout, stdout=None):
    """Run cmd with its temp files under <work>/tmp; the whole process
    group is killed on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def remove_run_artifacts(work):
    """The program writes Stamped artifacts, stream feeds and checkpoints to
    fixed /tmp/graft_* paths that carry the sanitized path of the directory
    it reads. The run's namespaces live under <work>, so their tags all
    start with the sanitized <work>: remove exactly those, never another
    run's."""
    tag = re.sub("[^A-Za-z0-9]", "_", work)
    for name in os.listdir("/tmp"):
        if name.startswith("graft_") and tag in name:
            path = os.path.join("/tmp", name)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)


def spark_home():
    """The Spark install the build compiles against: $SPARK_HOME, else the
    install of the first spark-submit on PATH that has its jars beside it
    (a pip-installed launcher has none)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(j.startswith("spark-sql_") for j in os.listdir(jars)):
            return home
    fail("no Spark install found: set SPARK_HOME")


def build(work):
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    env_opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in env_opts:
        env_opts += " -Dsbt.offline=true"
        if os.path.exists(repos):
            env_opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    os.environ["SBT_OPTS"] = env_opts.strip()
    os.environ.setdefault("COURSIER_MODE", "offline")
    out_path = os.path.join(work, "build.out")
    with open(out_path, "w") as out:
        rc = run_cmd(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                          "compile", "export Runtime / fullClasspath"],
                         work, BENCH, BUILD_TIMEOUT_S, stdout=out)
    with open(out_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc})")
    classpath = lines[-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(classpath + "\n")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return classpath


def oracle_check(check_dir, sf_dir):
    """tools/check.py: the repo's DuckDB compare, its canonicalization too.
    Returns (checked names, failing name -> reason)."""
    p = subprocess.run([sys.executable, CHECK, check_dir, sf_dir], capture_output=True,
                       text=True, timeout=120)
    checked, failing = [], {}
    for line in p.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("PASS", "SKIP", "FAIL") and ":" in rest:
            name, _, why = rest.partition(":")
            checked.append(name)
            if verdict == "FAIL":
                failing[name] = why.strip()
    if p.returncode != 0 and not failing:
        failing["tools/check.py"] = (p.stderr.strip().splitlines() or ["failed"])[-1]
    return checked, failing


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(res, failing):
    """Each end-to-end metric as (value, sample count), from the untraced
    timed passes, plus diagnostics for the report line. An op whose output
    failed its check counts every one of its executions as failed."""
    samples = [s for s in res["samples"] if s["pass"] >= 0 and not s["traced"]]
    noop = [s for s in samples if s["mode"] == "noop"]
    lat_by_op, heap_by_op = {}, {}
    for s in noop:
        if s["ok"]:
            lat_by_op.setdefault(s["op"], []).append(s["wall_s"])
    # the heap an op leaves behind: single post-GC readings still jump by
    # about 20 MB either way now and then, so each op's smallest reading
    # after every timed pass
    for s in samples:
        heap_by_op.setdefault(s["op"], []).append(s["heap_mb"])
    op_medians = {op: median(v) for op, v in lat_by_op.items()}
    slowest = max(op_medians, key=op_medians.get, default=None)

    def pass_walls(mode):
        walls = {}
        for s in samples:
            if s["mode"] == mode:
                walls[s["pass"]] = walls.get(s["pass"], 0.0) + s["wall_s"]
        return list(walls.values())

    attempted = len(res["samples"])
    failed = sum(1 for s in res["samples"] if not s["ok"] or s["op"] in failing)
    noop_walls, count_walls = pass_walls("noop"), pass_walls("count")
    metrics = {
        "setup_s": (res["setup_s"], 1),
        # per op first, so that ops of very different cost do not make the
        # median jump from one op's fastest sample to another's slowest
        "op_p50_s": (median(list(op_medians.values())), sum(map(len, lat_by_op.values()))),
        "op_tail_s": (op_medians.get(slowest, float("nan")), len(lat_by_op.get(slowest, []))),
        "pass_s": (median(noop_walls), len(noop_walls)),
        "count_pass_s": (median(count_walls), len(count_walls)),
        "ok_frac": (1.0 - failed / attempted, attempted),
        "live_heap_mb": (max(map(min, heap_by_op.values()), default=float("nan")),
                         sum(map(len, heap_by_op.values()))),
    }
    extra = {"op_tail_op": slowest,
             "setup_round_wall_s": round(sum(s["wall_s"] for s in res["samples"] if s["pass"] < 0), 4),
             "op_walls_s": {k: [round(s["wall_s"], 3) for s in res["samples"] if s["op"] == k]
                            for k in sorted({s["op"] for s in res["samples"]})},
             "heap_after_op_mb": {k: [round(x, 1) for x in v] for k, v in sorted(heap_by_op.items())},
             "op_median_s": {k: round(v, 4) for k, v in sorted(op_medians.items())},
             "noop_pass_walls_s": [round(w, 4) for w in noop_walls],
             "count_pass_walls_s": [round(w, 4) for w in count_walls]}
    return metrics, attempted, failed, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not os.path.isfile(os.path.join(SOURCES, "graft", "SparkEntry.scala")):
        fail(f"no program sources under {SOURCES}: run from a full checkout")
    sf_dir = os.path.join(TESTDATA, SF)
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"no testdata at {sf_dir} (set PERFBENCH_TESTDATA)")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found")
    os.environ["SPARK_HOME"] = spark_home()

    work = os.path.join(BENCH, "work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        classpath = build(work)
        cpus = len(os.sched_getaffinity(0))
        jvm = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                  f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-cp", classpath, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--work", work, "--sf", sf_dir, "--cpus", str(cpus)])
        t0 = time.time()
        rc = run_cmd(jvm, work, work, JVM_TIMEOUT_S)
        log(f"jvm exit {rc} after {time.time() - t0:.1f}s")
        result = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result):
            fail("the benchmark JVM produced no result")
        with open(result) as f:
            res = json.load(f)
        checked, failing = oracle_check(os.path.join(work, "check"),
                                        os.path.join(work, "ns"))
        broken = failing.pop("tools/check.py", None)
        for n in res["dumped"]:
            if n not in checked or broken:
                failing[n] = broken or "not compared"
        for n in res["dump_failed"]:
            failing[n] = "no output to compare"
        if res["pipeline_issues"]:
            failing["pipeline_run"] = "; ".join(res["pipeline_issues"])
        e2e, attempted, failed, extra = end_to_end(res, failing)
        for name, why in failing.items():
            log(f"output check failed {name}: {why}")
        for err in res["errors"]:
            log(f"error: {err}")
        correct = failed == 0
        report = {
            "workload": args.workload, "seed": args.seed, "sf": SF, "cpus": cpus,
            "end_to_end": {k: {"value": None if math.isnan(v) else v, "samples": c}
                           for k, (v, c) in e2e.items()},
            **extra,
            "oracle_checked": len(checked), "check_failed": sorted(failing),
        }
        if args.trace:
            # a counter no event of a traced pass touched is 0
            metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            report["per_layer"] = res["per_layer"]
            report["spans"] = res["spans"]
        else:
            # a metric with no sample (every op failed) is null, not NaN
            metrics = {m["name"]: {"value": None if math.isnan(e2e[m["name"]][0])
                                   else e2e[m["name"]][0], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps(report, sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        remove_run_artifacts(work)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
