#!/usr/bin/env python3
"""graft benchmark: runs one workload, checks every op's output, prints
its metrics.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first run builds graft's
sources together with the benchmark (sbt, offline); later runs
reuse the build while no source changed. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A report with the noise witnesses, every metric and the findings is
written to perfbench/out/, and the traced run's spans beside it.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("corpus_dedup", "lakehouse_increment")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala"))
BUILD_FILES = (os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"))
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench.classpath")
OUT = os.path.join(HERE, "out")
BUILD_TIMEOUT_S = 850
# the JVM may run this long beyond --seconds (start-up, set-up, warm-up
# passes, the last measured pass) before it is taken for hung
RUN_SLACK_S = 150
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (the set of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            old_stamp, cp = (fh.read().split("\n") + ["", ""])[:2]
        if old_stamp == stamp and cp:
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME") and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building graft and the benchmark", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    cp = lines[-1]
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def java_command(cp, work):
    """The JVM that runs perfbench.Main, with its temp files under `work`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            # explicit GCs between ops stay concurrent instead of full
            # stop-the-world collections, as graft's own build sets them
            "-XX:+ExplicitGCInvokesConcurrent",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", "--work", work,
            "--data", os.path.join(HERE, "data")]


def run_jvm(cp, args, work, raw_path):
    cmd = java_command(cp, work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--expected", os.path.join(HERE, "expected.tsv"), "--out", raw_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=args.seconds + RUN_SLACK_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM ended with {rc}", 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(SOURCE_DIRS[0], "graft", "SparkEntry.scala")):
        fail("graft sources (src/main/scala) not found: run from the root "
             "of a graft checkout")

    cp = build()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    raw_path = os.path.join(work, "raw.json")
    load_before = loadavg()
    try:
        run_jvm(cp, args, work, raw_path)
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        load_after = loadavg()
        shutil.rmtree(work, ignore_errors=True)

    samples = metrics.timed(raw)
    warmup = [s for s in raw["samples"] if s["pass"] <= 0]
    failed = [s for s in samples if not s["ok"]]
    bad_warmup = [s for s in warmup if not s["ok"]]
    e2e = metrics.end_to_end(raw)
    layers = metrics.per_layer(raw) if args.trace else None
    lake = metrics.lakehouse(metrics.timed(raw, traced=False),
                             metrics.passes(raw, traced=False))
    # an op whose output signature changes between passes of one run
    unstable = sorted({s["op"] for s in samples if s["kind"] == "query"
                       and s["ok"] and any(
                           t["op"] == s["op"] and t["ok"]
                           and t["checksum"] != s["checksum"] for t in samples)})
    walls = [s["wall_s"] for s in metrics.timed(raw, traced=False)]
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": raw["cores"],
        "passes": len([p for p in raw["passes"] if p["pass"] > 0]),
        "op_samples": len(walls),
        "setup_phases_s": raw["setup_phases"],
        "end_to_end": e2e, "per_layer": layers,
        "lakehouse": lake if args.workload == "lakehouse_increment" else None,
        "error_rate": len(failed) / max(1, len(samples)),
        "errors": [{"pass": s["pass"], "op": s["op"], "error": s["error"]}
                   for s in bad_warmup + failed],
        "checksum_unstable_ops": unstable,
        "witnesses": {"loadavg_before": load_before, "loadavg_after": load_after,
                      "stall_s": raw["stall_s"], "gc_s": raw["gc_s"],
                      "calib_s": raw["calib_s"],
                      "measure_s": raw["measure_s"]},
        "op_median_s": {op: metrics.median([s["wall_s"] for s in samples if s["op"] == op])
                        for op in sorted({s["op"] for s in samples})},
        "cold_op_s": {s["op"]: s["wall_s"] for s in warmup
                      if s["pass"] == min(t["pass"] for t in warmup)},
        "pass_walls_s": [(p["pass"], p["traced"], p["wall_s"])
                         for p in raw["passes"]],
    }
    if args.trace:
        spans = metrics.spans(raw)
        report["reconcile_violations"] = [
            s["op"] + ":" + s["name"] for s in spans
            if s["parent"] is None and not s["reconciles"]]
        with open(os.path.join(OUT, f"spans-{tag}.json"), "w") as fh:
            json.dump(spans, fh)
    with open(os.path.join(OUT, f"report-{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)

    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = layers if args.trace else e2e
    print(f"workload {args.workload} seed {args.seed}: {report['passes']} passes, "
          f"{len(walls)} untraced op samples, {len(samples)} ops checked, "
          f"{len(failed)} failed")
    for k, u in metrics.END_TO_END.items():
        print(f"  {k:<24} {e2e[k]:>12.4f} {u}")
    if args.workload == "lakehouse_increment":
        for k, v in lake.items():
            print(f"  {k:<24} {v:>12.4f} {metrics.PER_LAYER[k]}")
    print(f"  {'error_rate':<24} {report['error_rate']:>12.4f} ratio")
    if args.trace:
        for k, u in metrics.PER_LAYER.items():
            print(f"  {k:<24} {layers[k]:>12.4f} {u}")
    w = report["witnesses"]
    print(f"  witnesses: loadavg {w['loadavg_before']} -> {w['loadavg_after']}, "
          f"stall {w['stall_s']:.3f} s, gc {w['gc_s']:.3f} s, "
          f"calibration loop {w['calib_s'][0]:.3f} -> {w['calib_s'][1]:.3f} s")
    for e in report["errors"]:
        print(f"  FAILED pass {e['pass']} {e['op']}: {e['error']}")
    if unstable:
        print(f"  checksum differs between passes: {', '.join(unstable)}")
    print(json.dumps({
        "correct": not failed and not bad_warmup,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
