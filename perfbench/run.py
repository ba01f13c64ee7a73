#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload gates_light --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness from
source into the build dir (once per source state), runs the workload in
a single JVM on local[nproc], checks every output, and prints as its
last stdout line one JSON object: correct / attempted / failed /
metrics. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones (listeners attached). Exits non-zero on any wrong or
failed output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analysis  # noqa: E402

BENCH = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json"))) \
    if os.path.exists("BENCHMARK.json") else None
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_TIMEOUT_S = 165
# Same module opens build.sbt passes to forked runs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar dir: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("spark-core") for f in os.listdir(c)):
            return c
    fail("no Spark jars found (SPARK_HOME or build.sbt unmanagedBase)")


def sources():
    out = []
    for root in ("src/main/scala", os.path.join(HERE, "src")):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir, jars):
    """Compile the engine and the harness with scalac from the Spark jar
    dir; skipped when the sources are unchanged since the last build."""
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root: src/main/scala is missing")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print("perfbench: built %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    return classes, stamp


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, jars, work, args, log_path):
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + tmpdir, "-Dspark.ui.enabled=false",
            "-Dderby.system.home=" + tmpdir,
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def source_commit():
    """git commit of the checkout when it is a git repository, else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def all_families():
    fams = set()
    for w in WORKLOADS.values():
        fams.update(w.get("gates", {}).values())
    return sorted(fams)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for the runner's interface; every workload runs fixed "
                         "work, sized to about 10 s of timed work on a 4-core machine")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    a = ap.parse_args()
    if BENCH is None:
        fail("BENCHMARK.json not found: run from the repository root")
    if a.workload not in WORKLOADS:
        fail("unknown workload %s (have %s)" % (a.workload, ", ".join(sorted(WORKLOADS))))
    spec = WORKLOADS[a.workload]
    jars = spark_jars()
    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes, stamp = build(build_dir, jars)

    work = os.path.abspath(os.path.join(build_dir, "runs", "%s-%d-%d" % (
        a.workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(build_dir, "last-%s.log" % a.workload)
    args = ["--workload", spec["kind"], "--seed", str(a.seed),
            "--trace", str(a.trace), "--cpus", str(cpus()),
            "--data", os.path.abspath(os.path.join(HERE, "data", spec["data"])),
            "--work", work, "--out", raw_path]
    if spec["kind"] == "gates":
        args += ["--gates", ",".join("%s=%s" % kv for kv in spec["gates"].items()),
                 "--rounds", str(spec["rounds"])]
    else:
        args += ["--interval-ms", str(spec["interval_ms"])]
    try:
        rc = run_jvm(classes, jars, work, args, log_path)
        if rc is None:
            fail("workload timed out after %d s (log: %s)" % (JVM_TIMEOUT_S, log_path), 1)
        if not os.path.exists(raw_path):
            fail("workload wrote no record, exit %s (log: %s)" % (rc, log_path), 1)
        raw = json.load(open(raw_path))
        if "fatal" in raw:
            fail("workload failed: %s (log: %s)" % (raw["fatal"], log_path), 1)
        streams = analysis.pipeline_streams(raw) if spec["kind"] == "pipeline" else []
        report(a, spec, raw, streams, stamp, build_dir)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


def report(a, spec, raw, streams, stamp, build_dir):
    if spec["kind"] == "gates":
        expected = json.load(open(os.path.join(HERE, "expected.json")))
        e2e, detail, attempted, failed, problems = analysis.gate_metrics(raw, expected)
    else:
        e2e, detail, attempted, failed, problems = analysis.pipeline_metrics(raw, streams)
    env = raw["env"]
    conditions = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": env["cpus"],
        "git_commit": source_commit(), "source_sha256": stamp,
        "java": env["java"], "spark": env["spark"],
        "steal_ticks_delta": env["steal_ticks"][1] - env["steal_ticks"][0]
        if min(env["steal_ticks"]) >= 0 else None,
        "calib_s": [round(x, 4) for x in env["calib_s"]],
    }
    print(json.dumps({"run_conditions": conditions}))
    print(json.dumps({"workload_metrics": {k: {"value": v, "unit": u}
                                           for k, (v, u) in detail.items()}}))
    for p in problems:
        print("perfbench: " + p, file=sys.stderr)

    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    e2e_names = [m["name"] for m in BENCH["end_to_end"]]
    missing = [k for k in e2e_names if e2e.get(k) is None]
    if missing and not failed:
        fail("metrics not measurable in this run: %s" % ", ".join(missing), 1)
    last = os.path.join(build_dir, "untraced-%s.json" % a.workload)
    if a.trace == 0:
        # A failed operation can leave a percentile short of samples; the
        # result line is still printed, without it, with correct: false.
        metrics = {k: {"value": float(e2e[k]), "unit": units[k]}
                   for k in e2e_names if e2e.get(k) is not None}
        if not failed:
            with open(last, "w") as f:
                json.dump({"seed": a.seed, "metrics": e2e}, f)
    else:
        layers = analysis.layer_metrics(raw, all_families(), streams)
        names = [m["name"] for m in BENCH["per_layer"]]
        metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k in names}
        wall = layers["wall_ms"] or 1.0
        shares = {
            "plan_and_idle": (layers["plan.analysis_ms"] + layers["plan.optimizer_ms"] +
                              layers["plan.planning_ms"] + layers["engine.driver_idle_ms"]) / wall,
            "task_cpu": layers["engine.task_cpu_ms"] / wall,
            "txtable_and_stream": (layers["self.txtable_ms"] + layers["self.stream_ms"]) / wall,
        }
        untraced = json.load(open(last)) if os.path.exists(last) else None
        overhead = {k: {"traced": e2e[k],
                        "untraced": untraced["metrics"].get(k) if untraced else None}
                    for k in e2e_names}
        print(json.dumps({"wall_shares": shares}))
        print(json.dumps({"tracing_overhead": overhead,
                          "untraced_seed": untraced["seed"] if untraced else None}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
