"""Steady-state benchmark of graft: builds the program from source, runs one
workload in one JVM on local[nproc], checks its answers and prints the
metrics as the last line of standard output.

Usage (from the root of the repository):
  python3 graftbench/run.py --workload kv_mixed --seed 1 --seconds 14 --trace 0

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
from a separate, instrumented run. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gendata  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
EXPECTED = os.path.join(BENCH, "expected", "analytics_mix.json")

WORKLOADS = ("kv_mixed", "analytics_mix")
# the class whose p50 is the gated read_ms.p50 of each workload
READ_CLASS = {"kv_mixed": "read", "analytics_mix": "query"}
END_TO_END = (("setup_s", "s"), ("ops_per_s", "1/s"), ("read_ms.p50", "ms"),
              ("live_heap_mb", "MB"))
PER_LAYER = (
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.driver_ms", "ms"),
    ("spark.task_ms", "ms"), ("spark.task_cpu_ms", "ms"), ("spark.core_busy_frac", "frac"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("fs.read_ops", "count"), ("fs.list_ops", "count"), ("fs.write_ops", "count"),
    ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes"),
    ("core.segments", "count"), ("core.l0_segments", "count"), ("core.compactions", "count"),
    ("core.write_amp", "ratio"), ("core.manifest_bytes", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.alloc_mb", "MB"), ("jvm.jit_ms", "ms"),
    ("env.calib_ms", "ms"), ("env.steal_frac", "frac"), ("trace.overhead_frac", "frac"))
# steady-state guard: the halves of the timed phase agree on ops/s within
# this share of their mean, and JIT compile time inside the timed phase
# stays under this share of its wall time
HALVES_TOLERANCE = 0.15
JIT_FRAC_MAX = 0.25
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
    "-XX:+PerfDisableSharedMem",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home, os.path.join(home, "jars")


def source_stamp():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(BENCH, "src"), BENCH):
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            if base == BENCH:
                dirnames[:] = []
            for f in sorted(files):
                if f.endswith((".scala", ".sbt")):
                    p = os.path.join(dirpath, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(spark_home):
    """Compiles the program and the benchmark's workload code with sbt, unless the
    sources are unchanged since the last build in this checkout."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC)}")
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found")
    env = dict(os.environ, SPARK_HOME=spark_home)
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        tmp = os.path.join(BENCH, "target", "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                       "compile"], BENCH, env, out, BUILD_TIMEOUT_S)
    if r != 0:
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {r}); log in {os.path.relpath(log)}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_child(cmd, cwd, env, out, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def metric(value, unit):
    return {"value": value, "unit": unit}


def summarize(rec):
    """The detail record: every figure the run measured, end-to-end and by
    op class and op type."""
    calls = rec["calls"]
    wl = rec["workload"]
    n_calls = len(calls)
    failed_calls = sum(1 for c in calls if not c["ok"])
    checks = rec["checks"]
    failed_checks = sum(1 for c in checks if not c["ok"])
    # every call is checked, warm-up included; the final checks count too
    attempted = n_calls + rec["warm_calls"] + len(checks)
    failed = failed_calls + rec["warm_failed"] + failed_checks
    classes = sorted({c["c"] for c in calls})
    by_class = {}
    for cls in classes:
        p50, counts = stats.class_percentile(calls, cls, 50)
        p90, _ = stats.class_percentile(calls, cls, 90, need_tail=True)
        tail_p = [stats.tail_percentile(n) for n in counts.values()]
        by_class[cls] = {"p50_ms": p50, "p90_ms": p90, "samples": counts,
                         "tail_percentile": None if None in tail_p else min(tail_p)}
    samples = stats.latency_samples(calls)
    by_type = {t: {"n": len(v), "p50_ms": stats.percentile(v, 50)} for t, v in samples.items()}
    steady_halves, half_rates = stats.halves_agree(rec["half_s"], rec["half_calls"],
                                                   HALVES_TOLERANCE)
    jit_frac = rec["jit_ms"] / (rec["timed_s"] * 1000.0)
    report = rec["report"]
    calib = [rec["calib_before"], rec["calib_after"]]
    d = {
        "workload": wl, "seed": rec["seed"], "trace": rec["trace"], "cores": rec["cores"],
        "setup_s": rec["setup_s"], "warm_calls": rec["warm_calls"], "warm_s": rec["warm_s"],
        "timed_calls": n_calls, "timed_s": rec["timed_s"],
        "ops_per_s": n_calls / rec["timed_s"],
        "fail_frac": failed / attempted, "attempted": attempted, "failed": failed,
        "checks": checks, "by_class": by_class, "by_type": by_type,
        "live_heap_mb": rec["live_heap_mb"],
        "space_amp": (report["disk_bytes"] / report["live_bytes"]
                      if report.get("live_bytes") else None),
        "steady": {"ok": steady_halves and jit_frac <= JIT_FRAC_MAX,
                   "halves_ops_per_s": half_rates, "jit_ms": rec["jit_ms"],
                   "jit_frac": jit_frac},
        "env": {"calib_before": calib[0], "calib_after": calib[1],
                "steal_frac": rec["steal_frac"]},
        "report": {k: v for k, v in report.items() if k != "observed"},
    }
    if rec["trace"]:
        d["layers_by_type"] = layers_by_type(calls)
    return d


LAYER_FIELDS = ("jobs", "tasks", "task_ms", "task_cpu_ms", "shuffle_bytes", "spill_bytes",
                "fs_read_ops", "fs_list_ops", "fs_write_ops", "fs_bytes_read",
                "fs_bytes_written")


def layers_by_type(calls):
    """Per op type: the mean of each traced counter per call."""
    out = {}
    for t in sorted({c["t"] for c in calls}):
        cs = [c for c in calls if c["t"] == t]
        row = {f: sum(c[f] for c in cs) / len(cs) for f in LAYER_FIELDS}
        row["driver_ms"] = sum(stats.driver_ms(c) for c in cs) / len(cs)
        row["calls"] = len(cs)
        out[t] = row
    return out


def end_to_end(rec, d):
    read = d["by_class"][READ_CLASS[rec["workload"]]]["p50_ms"]
    values = {"setup_s": stats.percentile(rec["setup_s"], 50), "ops_per_s": d["ops_per_s"],
              "read_ms.p50": read, "live_heap_mb": rec["live_heap_mb"]}
    return {name: metric(values[name], unit) for name, unit in END_TO_END}


def per_layer(rec):
    calls = rec["calls"]
    tot = {f: sum(c[f] for c in calls) for f in LAYER_FIELDS}
    timed_ms = rec["timed_s"] * 1000.0
    report = rec["report"]
    user = report.get("user_bytes_written", 0)
    calib = [rec["calib_before"], rec["calib_after"]]
    overhead_ns = rec["trace_ns"] + sum(c["listener_ns"] for c in calls)
    values = {
        "spark.jobs": tot["jobs"], "spark.tasks": tot["tasks"],
        "spark.driver_ms": sum(stats.driver_ms(c) for c in calls),
        "spark.task_ms": tot["task_ms"], "spark.task_cpu_ms": tot["task_cpu_ms"],
        "spark.core_busy_frac": tot["task_ms"] / (timed_ms * rec["cores"]),
        "spark.shuffle_bytes": tot["shuffle_bytes"], "spark.spill_bytes": tot["spill_bytes"],
        "fs.read_ops": tot["fs_read_ops"], "fs.list_ops": tot["fs_list_ops"],
        "fs.write_ops": tot["fs_write_ops"], "fs.bytes_read": tot["fs_bytes_read"],
        "fs.bytes_written": tot["fs_bytes_written"],
        "core.segments": report.get("segments_mean", 0),
        "core.l0_segments": report.get("l0_segments_mean", 0),
        "core.compactions": report.get("compactions", 0),
        "core.write_amp": tot["fs_bytes_written"] / user if user else 0,
        "core.manifest_bytes": report.get("manifest_bytes", 0),
        "jvm.gc_ms": rec["gc_ms"], "jvm.alloc_mb": rec["alloc_bytes"] / 1048576.0,
        "jvm.jit_ms": rec["jit_ms"],
        "env.calib_ms": sum(c["cpu_ms"] + c["job_ms"] for c in calib) / 2,
        "env.steal_frac": rec["steal_frac"],
        "trace.overhead_frac": overhead_ns / 1e6 / timed_ms,
    }
    return {name: metric(values[name], unit) for name, unit in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="analytics_mix: record this run's query results as the expected ones")
    a = ap.parse_args()
    # a SIGTERM ends the run like an exception: run_child kills the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spark_home, jars = spark_jars()
    build(spark_home)
    work = os.path.join(BENCH, "target", f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        if a.workload == "analytics_mix":
            gendata.generate(data)
        out = os.path.join(work, "record.json")
        log = os.path.join(work, "jvm.log")
        cmd = ["java"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dgraftbench.expected={EXPECTED}",
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
            "graftbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            work, data, out]
        t0 = time.time()
        with open(log, "w") as f:
            r = run_child(cmd, work, dict(os.environ, SPARK_HOME=spark_home), f, JVM_TIMEOUT_S)
        if r != 0 or not os.path.exists(out):
            sys.stderr.write(tail(log))
            fail(f"JVM exited with {r}")
        with open(out) as f:
            rec = json.load(f)
        if a.write_expected:
            with open(EXPECTED, "w") as f:
                json.dump(rec["report"]["observed"], f, indent=1, sort_keys=True)
                f.write("\n")
        d = summarize(rec)
        d["jvm_wall_s"] = time.time() - t0
        if not d["steady"]["ok"]:
            print(f"graftbench: STEADY-STATE GUARD FAILED on {a.workload}: halves "
                  f"{d['steady']['halves_ops_per_s']} ops/s, jit {d['steady']['jit_ms']} ms "
                  f"({d['steady']['jit_frac']:.1%} of the timed phase)", file=sys.stderr)
        for c in rec["checks"]:
            if not c["ok"]:
                print(f"graftbench: check failed: {c['name']}", file=sys.stderr)
        metrics = per_layer(rec) if a.trace else end_to_end(rec, d)
        print(json.dumps({"detail": d}))
        print(json.dumps({"correct": d["failed"] == 0, "attempted": d["attempted"],
                          "failed": d["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
