#!/usr/bin/env python3
"""Runs one benchmark workload for one seed and prints the figures.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the engine from the checkout's
sources (once per source state), generates the workload's inputs from the seed
(once per seed), runs the workload in a fresh JVM for S seconds, checks every
output, and prints one JSON line last: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1.

    python3 perfbench/run.py --self-test

plants a wrong output into a run and exits 0 only if the check reports it.
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
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("airline_star", "corpus_cdc")
WORK = os.path.join(HERE, ".work")
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class StepFailed(Exception):
    pass


def fail(workload, seed, step, msg):
    print(f"[perfbench] FAILED workload={workload} seed={seed} step={step}: {msg}",
          file=sys.stderr)
    sys.exit(2)


def engine_sources(root):
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(src, "graft")):
        raise StepFailed(f"engine sources not found under {src}; run from a checkout root")
    return src


def source_hash(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    raise StepFailed("SPARK_HOME is not set; it must point at the Spark install "
                     "the engine builds against")


def build(root, jars):
    """Packages the engine and the benchmark program into one jar with sbt, then records a
    class-data-sharing archive of the classes a run loads, unless both were
    built from the same sources already. The archive cuts JVM start-up, which
    every run pays, without touching what the engine executes."""
    target = os.path.join(HERE, "target")
    jar = os.path.join(target, "perfbench.jar")
    archive = os.path.join(target, "perfbench.jsa")
    stamp = os.path.join(target, "perfbench.stamp")
    digest = source_hash(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar, archive
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "package"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise StepFailed(f"sbt package exited with {p.returncode}")
    built = glob.glob(os.path.join(target, "scala-2.13", "perfbench_2.13-*.jar"))
    if len(built) != 1:
        raise StepFailed(f"expected one packaged jar, found {built}")
    shutil.copyfile(built[0], jar)
    # one short run of each workload on seed 0 lists the classes a run loads;
    # the archive is dumped from the union of both lists
    listed = []
    for w in WORKLOADS:
        in_dir = os.path.join(WORK, "inputs", w, "0")
        gen.generate(w, 0, in_dir)
    # the two runs go side by side: they only list classes, nothing is timed
    with ThreadPoolExecutor(len(WORKLOADS)) as pool:
        for f in [pool.submit(run_jvm, jar, None, jars, w, 0, 0, False,
                              os.path.join(WORK, "inputs", w, "0"),
                              os.path.join(WORK, "archive-run", w), 300,
                              os.path.join(WORK, "archive-run", f"{w}.classes"))
                  for w in WORKLOADS]:
            f.result()
    for w in WORKLOADS:
        with open(os.path.join(WORK, "archive-run", f"{w}.classes")) as f:
            listed += [l for l in f.read().splitlines() if l and not l.startswith("#")]
    class_list = os.path.join(target, "perfbench.classes")
    with open(class_list, "w") as f:
        f.write("\n".join(dict.fromkeys(listed)) + "\n")
    p = subprocess.run(["java", "-Xshare:dump", f"-XX:SharedClassListFile={class_list}",
                        f"-XX:SharedArchiveFile={archive}", "-cp", classpath(jar, jars)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    if p.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(p.stdout[-4000:])
        raise StepFailed("the class-data-sharing archive dump failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return jar, archive


def classpath(jar, jars):
    # an explicit, sorted jar list: the archive is only used when the class
    # path matches the one it was recorded with
    return os.pathsep.join([jar] + sorted(glob.glob(os.path.join(jars, "*.jar"))))


def run_jvm(jar, archive, jars, workload, seed, seconds, trace, in_dir, out_dir, timeout,
            class_list=None):
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if class_list:
        cmd += [f"-XX:DumpLoadedClassList={class_list}"]
    elif archive:
        cmd += [f"-XX:SharedArchiveFile={archive}"]
    os.makedirs(os.path.join(out_dir, "tmp"))
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(out_dir, 'spark-local')}",
            f"-Dderby.system.home={out_dir}",
            "-cp", classpath(jar, jars),
            "perfbench.Main", "--workload", workload, "--input", in_dir,
            "--out", out_dir, "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--seed", str(seed), "--cores", str(CORES)]
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=out_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise StepFailed(f"the JVM run exceeded {timeout:.0f} s")
    if rc != 0:
        with open(log_path) as f:
            lines = f.read().splitlines()
        named = [l for l in lines if l.startswith("[perfbench] FAILED")]
        raise StepFailed(named[0] if named else "\n".join(lines[-30:]))
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return float("nan")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs):
    """The highest percentile with at least 10 samples beyond it: with n
    samples, the (n-10)-th smallest; the maximum when n <= 10. Returns
    (value, label, n)."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return xs[-1], "max", n
    return xs[n - 11], f"p{100 * (n - 10) / n:.0f}", n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--plant-wrong", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    if a.self_test:
        return self_test(root)
    if not a.workload:
        ap.error("--workload is required")
    step = "build"
    try:
        engine_sources(root)
        jars = spark_jars(root)
        jar, archive = build(root, jars)
        step = "generate"
        in_dir = os.path.join(WORK, "inputs", a.workload, str(a.seed))
        t0 = time.time()
        gen.generate(a.workload, a.seed, in_dir)
        step = "run"
        out_dir = os.path.join(WORK, "runs", a.workload)
        res = run_jvm(jar, archive, jars, a.workload, a.seed, a.seconds, a.trace,
                      in_dir, out_dir, timeout=170 - (time.time() - t0))
        step = "check"
        if a.plant_wrong:
            check.plant_wrong(out_dir)
        report = check.check(a.workload, a.seed, in_dir, out_dir, WORK)
    except StepFailed as e:
        fail(a.workload, a.seed, step, e)
    for bad in report["failures"]:
        print(f"[perfbench] WRONG OUTPUT workload={a.workload} seed={a.seed} "
              f"step={bad}", file=sys.stderr)
    out = figures(a, res, report)
    print(f"[perfbench] {a.workload} seed={a.seed}: {out['notes']}")
    print(json.dumps({"correct": not report["failures"],
                      "attempted": out["attempted"], "failed": len(report["failures"]),
                      "metrics": out["metrics"]}))
    return 0 if not report["failures"] else 1


def untraced_cache(workload):
    return os.path.join(WORK, "untraced", workload)


def figures(a, res, report):
    """End-to-end metrics from an untraced run, per-layer metrics from a
    traced one."""
    calls = res["calls"]
    attempted = len(calls) + report["checked"]
    queries = [t for k, _, t in calls if k == "query"]
    writes = [t for k, _, t in calls if k == "write"]
    if a.trace:
        layers = dict(res["layers"])
        layers.update(report["layers"])
        # tracing overhead: this traced run's batch job against the untraced
        # runs of the same build (any seed); without one, the in-run estimate
        # from alternating traced and untraced loop rounds
        base = []
        for f in glob.glob(os.path.join(untraced_cache(a.workload), "*.json")):
            with open(f) as fh:
                base.append(json.load(fh)["run_s"])
        layers["tracing_overhead_frac"] = (
            res["run_s"] / median(base) - 1 if base else res["loop_overhead_frac"] or 0.0)
        return {"attempted": attempted,
                "notes": f"per-layer metrics; tracing overhead against "
                         f"{len(base) or 'no'} untraced runs",
                "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}}
    os.makedirs(untraced_cache(a.workload), exist_ok=True)
    with open(os.path.join(untraced_cache(a.workload), f"{a.seed}.json"), "w") as f:
        json.dump({"run_s": res["run_s"]}, f)
    # the loop's read and write latencies are printed, not bounded: one warm
    # round gives 8 reads and, on corpus_cdc, one batch apply per run, and
    # their median spread 29-37% over ten seeds on a 4-core box
    q_tail, q_pct, q_n = tail(queries)
    metrics = {
        "setup_s": median(res["setup_s"]),
        "run_s": res["run_s"],
        "peak_live_heap_mb": res["peak_live_heap_mb"],
    }
    notes = (f"reads: median {median(queries):.4f} s, {q_pct} {q_tail:.4f} s over {q_n}; "
             f"writes: median {median(writes):.4f} s over {len(writes)}")
    return {"attempted": attempted, "notes": notes,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name == "index.bytes":
        return "bytes"
    if name.endswith("_frac") or name.endswith("_amp") or name in ("ml.auc", "index.recall_at_k"):
        return "ratio"
    return "count"


def self_test(root):
    """Runs airline_star with one output corrupted after the run; the check
    must count it as a failed op."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "airline_star",
           "--seed", "1", "--seconds", "1", "--trace", "0", "--plant-wrong"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    res = json.loads(last)
    caught = p.returncode == 1 and res.get("correct") is False and res.get("failed", 0) >= 1
    print(f"[perfbench] self-test: planted wrong output "
          f"{'caught' if caught else 'NOT caught'} ({last})")
    return 0 if caught else 1


if __name__ == "__main__":
    sys.exit(main())
