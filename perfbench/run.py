"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness in one JVM
with at most 4 task threads, and prints a human-readable report followed
by one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 they are its per_layer metrics. Exits non-zero when the inputs
or sources are missing, the harness fails, or an output check fails.

`--workload all` runs every workload in one JVM and prints every metric
(prefixed by workload); it is for people, not for the JSON contract.
"""

import argparse
import glob
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
WORKLOADS = ["extract_batch", "extract_incremental", "dedup_corpus"]
REQUIRED = ["BENCHMARK.json", "src/main/scala", "data/transcripts_bench",
            "data/transcripts_t2", "src/test/resources/expected_t2.parquet"]
RUN_TIMEOUT_S = 170

# Which workloads exercise each per-layer metric family. A workload that
# does not run a layer reports 0 for that layer's metrics.
SCOPE = [
    ("spark.extract_", {"extract_batch"}),
    ("spark.scaling_eff", {"extract_batch"}),
    ("spark.incr_", {"extract_incremental"}),
    ("sink.", {"extract_incremental"}),
    ("snapshot.", {"extract_incremental"}),
    ("spark.dedup_", {"dedup_corpus"}),
    ("spark.ops_", {"dedup_corpus"}),
    ("ops.", {"dedup_corpus"}),
    ("streaming.", {"dedup_corpus"}),
    ("pipeline.", {"extract_batch", "extract_incremental"}),
    ("geom.", {"extract_batch", "extract_incremental"}),
    ("json.", {"extract_batch", "extract_incremental"}),
    ("clean.", {"extract_batch", "extract_incremental"}),
    ("render.", {"extract_batch", "extract_incremental"}),
    ("trace.replay_", {"extract_batch", "extract_incremental"}),
    ("trace.layer_", {"extract_batch", "extract_incremental"}),
]


def in_scope(metric, workload):
    for prefix, wls in SCOPE:
        if metric.startswith(prefix):
            return workload in wls
    return True


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, or the first Spark distribution (bin/spark-submit beside
    jars/) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark distribution: set SPARK_HOME")


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, base, "**", "*.scala"),
                           recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless this source state is built.

    Returns the runtime classpath.
    """
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                % repos) + opts
    env.setdefault("SBT_OPTS", opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
    out_lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as f:
        f.write(p.stdout)
    if p.returncode != 0 or not out_lines or ".jar" not in out_lines[-1]:
        fail("build failed (see %s)" % log, 1)
    cp = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


JVM_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, workloads, gen_root, work_root, seed, seconds, trace,
            result_dir, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main", ",".join(workloads), gen_root,
            work_root, ROOT, str(seed), str(seconds), str(trace), result_dir]
    log = os.path.join(work_root, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, log
    return p.returncode, log


def summarise(raw, workload, trace, spec):
    """Contract metrics of one workload's raw harness result."""
    samples = raw["samples"]
    if not trace:
        setup = raw["setup_s"]
        metrics = {"setup_s": {"value": statistics.median(setup), "unit": "s"}}
        for m in spec["end_to_end"]:
            if m["name"] == "setup_s":
                continue
            vals = samples.get(m["name"], {}).get("values", [])
            if not vals:
                raise ValueError("no samples of %s" % m["name"])
            metrics[m["name"]] = {"value": statistics.median(vals),
                                  "unit": m["unit"]}
        return metrics
    layer = raw["layer"]
    metrics = {}
    for m in spec["per_layer"]:
        if m["name"] in layer:
            v = layer[m["name"]]["value"]
        elif not in_scope(m["name"], workload):
            v = 0.0
        else:
            v = None
        if v is None:
            raise ValueError("per-layer metric %s missing or not a number"
                             % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics


def report(raw, manifest):
    """Prints every metric the harness measured, by name with its unit."""
    w = raw["workload"]
    print("== %s  (%s)" % (w, manifest.get("why", "")))
    print("   input: " + json.dumps({k: v for k, v in manifest.items()
                                     if k not in ("why", "tables")},
                                    sort_keys=True))
    s = raw["setup_s"]
    if s:
        print("   %-42s %14.4f s    (median of %d set-ups %s)"
              % ("setup_s", statistics.median(s), len(s),
                 ", ".join("%.3f" % x for x in s)))
    for name, d in raw["samples"].items():
        v = d["values"]
        print("   %-42s %14.4f %-6s (median of %d: %s)"
              % (name, statistics.median(v), d["unit"], len(v),
                 " ".join("%.4g" % x for x in v)))
    for name, d in raw["layer"].items():
        v = d["value"]
        print("   %-42s %14.4f %s" % (name, v if v is not None else float("nan"),
                                      d["unit"]))
    for c in raw["checks"]:
        if not c["ok"]:
            print("   CHECK FAILED %s: %s" % (c["name"], c["detail"]))
    names = sorted({c["name"] for c in raw["checks"]})
    print("   checks: %d run, %d failed (%s)"
          % (len(raw["checks"]), sum(1 for c in raw["checks"] if not c["ok"]),
             ", ".join(names)))
    le = raw["logged_errors"]
    print("   spark logged errors: %s %s %s" % (le["total"], le["by_call"],
                                                le["samples"]))
    if raw["fatal"]:
        print("   FATAL: " + raw["fatal"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail("not a full checkout, missing: " + ", ".join(missing))
    os.environ["SPARK_HOME"] = spark_home()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    t_run = time.time()  # a run's time limit excludes the one-off build

    sys.path.insert(0, HERE)
    import gen
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    run_dir = os.path.join(BUILD, "runs", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    gen_root = os.path.join(run_dir, "gen")
    manifests = {w: gen.generate(ROOT, w, a.seed, os.path.join(gen_root, w))
                 for w in workloads}
    result_dir = os.path.join(run_dir, "results")
    deadline = t_run + RUN_TIMEOUT_S * len(workloads)
    code, log = run_jvm(cp, workloads, gen_root, os.path.join(run_dir, "work"),
                        a.seed, a.seconds, a.trace, result_dir, deadline)
    if code is None:
        fail("harness timed out (log: %s)" % log, 1)

    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in workloads:
        path = os.path.join(result_dir, w + ".json")
        if not os.path.exists(path):
            fail("harness wrote no result for %s (exit %s, log: %s)"
                 % (w, code, log), 1)
        with open(path) as f:
            raw = json.load(f)
        report(raw, manifests[w])
        if raw["fatal"]:
            fail("harness failed on %s: %s (log: %s)" % (w, raw["fatal"], log), 1)
        correct &= raw["failed"] == 0 and all(c["ok"] for c in raw["checks"])
        attempted += raw["attempted"]
        failed += raw["failed"]
        m = summarise(raw, w, a.trace == 1, spec)
        if len(workloads) == 1:
            metrics = m
        else:
            metrics.update({w + "/" + k: v for k, v in m.items()})
    if a.trace == 1:
        keep = os.path.join(BUILD, "traces")
        os.makedirs(keep, exist_ok=True)
        for w in workloads:
            tag = "%s-s%d" % (w, a.seed)
            shutil.copy(os.path.join(result_dir, w + ".json"),
                        os.path.join(keep, tag + ".json"))
            spans = os.path.join(run_dir, "work", w, "spans.tsv.gz")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(keep, tag + ".spans.tsv.gz"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
