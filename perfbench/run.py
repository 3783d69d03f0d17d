#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mhw_grid|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
benchmark driver from source (sbt, offline) and generates the sf0.1 input
tables; later runs reuse both until the sources change. Every run gets a
fresh scratch root (SPARK_GRAFT_SCRATCH) that is deleted afterwards.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. Untraced runs report the end-to-end metrics; traced
runs report the per-layer metrics plus the tracing overhead (traced minus
untraced) of every end-to-end metric. The full result, every
per-op row and the trace spans are kept under .bench_build/results/.
The exit code is non-zero when any op fails or any output check fails.

    python3 perfbench/run.py --record-digests

re-records perfbench/digests.json from the current sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data", "sf0.1")
RESULTS = os.path.join(BUILD, "results")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ("mhw_grid", "query_mix")
END_TO_END = ("setup_s", "peak_rss_mb", "first_pass_s", "op_p50_ms", "op_p90_ms", "ops_per_s")
DATA_SEED = 42
RUN_LIMIT_S = 170
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def stamped(name, stamp, make):
    """Run make() unless .bench_build/<name>.stamp already holds stamp."""
    path = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(path) and open(path).read() == stamp:
        return
    make()
    with open(path, "w") as fh:
        fh.write(stamp)


def build(stamp):
    def compile_():
        log("building graft and the benchmark driver (sbt compile)")
        # offline: every dependency comes from the local caches
        repos = os.path.expanduser("~/.sbt/repositories")
        cmd = (["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
                f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                f"-Djna.tmpdir={os.path.join(BUILD, 'jna')}"] +
               ([f"-Dsbt.repository.config={repos}", "-Dsbt.override.build.repos=true"]
                if os.path.exists(repos) else []) + ["compile"])
        env = dict(os.environ, COURSIER_MODE="offline")
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"build failed ({r.returncode})")
    stamped("build", stamp, compile_)


def gen_data():
    def make():
        log("generating sf0.1 input tables")
        shutil.rmtree(DATA, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), DATA,
                        "--seed", str(DATA_SEED)], check=True, stdout=sys.stderr)
    stamped("data", tree_hash([os.path.join(HERE, "gen_data.py")]) + f"-{DATA_SEED}", make)


def fs_type(path):
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            mnt, typ = line.split()[1], line.split()[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def clear_stale_scratch():
    """Remove scratch roots left by runs whose process is gone."""
    root = os.path.join(BUILD, "scratch")
    for d in os.listdir(root) if os.path.isdir(root) else []:
        pid = int(d.split("-")[-2])
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def jvm(workload, seed, seconds, trace, out, record=False):
    """One benchmark JVM in a fresh scratch root; returns its result dict."""
    scratch = os.path.join(BUILD, "scratch", f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(scratch)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    env.update(SPARK_GRAFT_SCRATCH=scratch, PERFBENCH_SCRATCH_FS=fs_type(scratch))
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = (["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           # a fixed heap, as Spark sizes executors (-Xms = -Xmx), keeps peak RSS
           # from following the collector's resizing decisions
           ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+ExplicitGCInvokesConcurrent", f"-Djava.io.tmpdir={scratch}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            "-cp", f"{CLASSES}:{spark_jars}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", DATA, "--digests", DIGESTS, "--out", out] +
           (["--record"] if record else []))
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=None if record else RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        with open(out + ".jstack.txt", "w") as fh:
            subprocess.run(["jstack", str(proc.pid)], stdout=fh, stderr=subprocess.STDOUT)
        sys.exit(f"{workload} run exceeded {RUN_LIMIT_S} s; thread dump in {out}.jstack.txt")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"benchmark JVM exited with {proc.returncode}")
    with open(out + ".json") as fh:
        return json.load(fh)


def record_digests():
    digests = {"data_seed": str(DATA_SEED)}
    for w in WORKLOADS:
        res = jvm(w, 1, 0, False, os.path.join(RESULTS, f"record-{w}"), record=True)
        if res["errors"]:
            log(f"{w}: {len(res['errors'])} ops failed and are not recorded: {res['errors']}")
        digests.update(res["digests"])
    with open(DIGESTS, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"recorded {len(digests) - 1} digests in {DIGESTS}")


def untraced_baseline(workload, seed, seconds, stamp):
    """End-to-end metrics of an untraced run to set a traced run against:
    the run of the same build, workload and seed if one is on record,
    else the median of this build's untraced runs of the workload, else
    an untraced run made now."""
    same_seed = result_path(workload, seed, 0, stamp) + ".json"
    if os.path.exists(same_seed):
        runs = [same_seed]
    else:
        runs = [os.path.join(RESULTS, f) for f in sorted(os.listdir(RESULTS))
                if f.startswith(f"{workload}-seed") and f.endswith(f"-trace0-{stamp}.json")]
    ends = [json.load(open(f))["end_to_end"] for f in runs] or \
        [jvm(workload, seed, seconds, False, result_path(workload, seed, 0, stamp))["end_to_end"]]
    return {k: statistics.median(e[k]["value"] for e in ends) for k in END_TO_END}


def result_path(workload, seed, trace, stamp):
    return os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}-{stamp}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graft sources not found: run from the root of a graft checkout")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        sys.exit("SPARK_HOME must point at a Spark installation")
    if not a.record_digests and not a.workload:
        ap.error("--workload is required")

    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(RESULTS, exist_ok=True)
    clear_stale_scratch()
    stamp = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                       os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    build(stamp)
    gen_data()
    if a.record_digests:
        return record_digests()

    out = result_path(a.workload, a.seed, a.trace, stamp)
    res = jvm(a.workload, a.seed, a.seconds, bool(a.trace), out)
    metrics = res["end_to_end"]
    if a.trace:
        # tracing overhead: traced minus untraced, per end-to-end metric
        base = untraced_baseline(a.workload, a.seed, a.seconds, stamp)
        res["overhead"] = {k: {"value": v["value"] - base[k], "unit": v["unit"]}
                           for k, v in res["end_to_end"].items()}
        metrics = dict(res["per_layer"], **{f"overhead.{k}": v for k, v in res["overhead"].items()})
        with open(out + ".json", "w") as fh:
            json.dump(res, fh, indent=1)

    for group in ("end_to_end", "workload_metrics", "per_layer", "overhead"):
        for k, v in res.get(group, {}).items():
            print(f"{group:16} {k:28} {v['value']!s:>22} {v['unit']}")
    print("host", json.dumps(res["host"]))
    for e in res["errors"]:
        print("error", e)
    correct = res["failed"] == 0 and res["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
