#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload dml_mix --seed 1 --seconds 15 --trace 0

Builds the engine and the JVM harness with sbt on first use, generates the
fixture once, generates the workload's statement stream and its expected
results from --seed, and runs the harness in one JVM (a Spark master of
local[<cores>], one client), which measures a fixed number of whole passes
of the workload's mix (about --seconds on a 4-core host). It prints one
JSON object as the last line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the spans
are written to perfbench/out/. Exits nonzero when any result is wrong.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import fixture  # noqa: E402
import pipeline  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ["dml_mix", "pipeline_ops"]

# A run warms up for a fixed number of passes (a DML batch, or one pass of
# the operator mix) and then measures round(--seconds / pass seconds)
# passes, at least one. The pass count depends only on the arguments, so
# every run with the same --seconds measures the same number of statements.
# Pass seconds are nominal, measured on a 4-core host.
PASS_SECONDS = {"dml_mix": 15.0, "pipeline_ops": 7.5}
WARMUP_PASSES = {"dml_mix": 1, "pipeline_ops": 2}

# fixture size: TPC-H row counts times this scale; pipeline tables fixed
SCALE = 0.02
DOCS = 500
EVENTS = 10_000

SETUP_REPS = 3
JVM_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s", "stmts_per_s": "1/s", "latency_p50_ms": "ms",
    "latency_tail_ms": "ms", "peak_rss_mb": "MB",
}

# per-layer metrics of a traced run, name -> unit; counts and times are
# per measured statement unless the name says otherwise
PER_LAYER = {
    "write_p50_ms": "ms", "write_tail_ms": "ms", "disk_mb": "MB",
    "sqlfront.sql_call_ms": "ms", "sqlfront.rewrite_ms": "ms",
    "sqlfront.plan_after_write_ms": "ms",
    "wire.roundtrip_ms": "ms", "wire.overhead_ms": "ms", "wire.bytes_per_stmt": "bytes",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.exchanges": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.busy_cores": "cores",
    "exec.driver_only_ms": "ms", "exec.input_rows_per_result_row": "ratio",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "catalog.open_ms": "ms",
    "storage.bytes_written_per_row": "bytes", "storage.files_per_stmt": "count",
    "storage.snapshot_versions": "count",
    "streaming.refresh_ms": "ms",
    "operators.shared_build_ms": "ms", "operators.build_df_ms": "ms",
    **{f"operators.{f}_ms": "ms"
       for f in ["dedup", "similarity", "text", "graph", "multimodal", "layout"]},
    "host.calib_par_s": "s", "host.calib_ser_s": "s",
    **{f"{layer}.self_ms": "ms"
       for layer in ["bench", "sqlfront", "wire", "exec", "operators", "streaming"]},
    "trace.spans_per_stmt": "count", "trace.stmts_per_s": "1/s",
}

ENGINE_SOURCES = ["build.sbt", "src/main/scala/graft/sqlfront/GraftSession.scala"]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; cache the runtime classpath."""
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as f:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspathAsJars"],
                       800, f, subprocess.STDOUT, cwd=HERE)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        die("build failed:\n" + "\n".join(lines[-30:]), 3)
    cp = lines[-1].strip()
    if os.path.exists(os.path.join(out, "oracles.json")):  # the previous build's
        os.remove(os.path.join(out, "oracles.json"))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, tmp, args):
    # a fixed heap and young generation keep peak RSS from following the
    # collector's resizing decisions from run to run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp}/spark-warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


_child = None


def _stop_child(signum=None, frame=None):
    """Kill the running child's process group and wait for it to end."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_child(cmd, timeout, out, err, **kw):
    """Run a child in its own process group; stop it on timeout or when
    this process is told to stop. Returns its exit code, None on timeout."""
    global _child
    _child = subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL,
                              start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _stop_child()
        return None
    finally:
        _child = None


def run_java(cmd, env, log_dir, timeout):
    with open(os.path.join(log_dir, "jvm.out"), "w") as o, \
            open(os.path.join(log_dir, "jvm.err"), "w") as e:
        return run_child(cmd, timeout, o, e, env=env, cwd=log_dir)


def oracles(cp):
    """SparkEntry.oracleSql for the pipeline_ops queries, read once per build."""
    out = os.path.join(WORK, "build", "oracles.json")
    names = [n for n, _, _ in pipeline.OPS]
    if os.path.exists(out) and all(n in json.load(open(out)) for n in names):
        return json.load(open(out))
    tmp = os.path.join(WORK, "build", "oracle-tmp")
    os.makedirs(tmp, exist_ok=True)
    if run_java(java_cmd(cp, tmp, ["oracles", ",".join(names), out]),
                dict(os.environ), tmp, 120) != 0:
        die("could not read the operator oracles:\n"
            + open(os.path.join(tmp, "jvm.err")).read()[-3000:], 3)
    return json.load(open(out))


def duck(fx):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in fixture.table_sql(SCALE, DOCS, EVENTS):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")
    return con


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)

    missing = [s for s in ENGINE_SOURCES if not os.path.exists(os.path.join(ROOT, s))]
    if missing:
        die(f"engine sources not found next to the benchmark: {', '.join(missing)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    t_start = time.time()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    fx = fixture.build(os.path.join(WORK, f"fixture-v{fixture.VERSION}"), SCALE, DOCS, EVENTS)
    warmup = WARMUP_PASSES[a.workload]
    passes = max(1, round(a.seconds / PASS_SECONDS[a.workload]))
    rng = random.Random(a.seed)
    con = duck(fx)
    if a.workload == "pipeline_ops":
        p = pipeline.pipeline_ops(rng, con, fx, oracles(cp))
    else:
        p = workloads.dml_mix(rng, con, fx, warmup + passes)
    con.close()
    stream_hash = hashlib.sha256(json.dumps(
        [{k: v for k, v in s.items() if k != "expect"} for s in p["stream"]],
        sort_keys=True).encode()).hexdigest()[:16]

    cores = os.cpu_count()
    tmp = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.makedirs(OUT, exist_ok=True)
    try:
        p.update({
            "workload": a.workload, "trace": a.trace, "cores": cores,
            "fixture": fx, "work": tmp, "setup_reps": SETUP_REPS,
            "warmup_passes": warmup, "passes": passes,
            "trace_out": os.path.join(OUT, f"trace-{a.workload}-{a.seed}.jsonl"),
        })
        plan_file = os.path.join(tmp, "plan.json")
        res_file = os.path.join(tmp, "result.json")
        with open(plan_file, "w") as f:
            json.dump(p, f)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                   SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
        t_jvm = time.time()
        rc = run_java(java_cmd(cp, tmp, ["run", plan_file, res_file]), env, tmp,
                      JVM_TIMEOUT_S)
        t_end = time.time()
        if rc != 0 or not os.path.exists(res_file):
            err = open(os.path.join(tmp, "jvm.err")).read().splitlines()
            die(f"harness {'timed out' if rc is None else f'exited with {rc}'}:\n"
                + "\n".join(err[-40:]), 4)
        res = json.load(open(res_file))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    info = res["info"]
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload={a.workload} seed={a.seed} stream_sha256={stream_hash} "
          f"cores={cores} master={info['master']}")
    print(f"host.calib_par_s={info['host.calib_par_s']:.4f} "
          f"host.calib_ser_s={info['host.calib_ser_s']:.4f}")
    print(f"window_s={info['window_s']:.2f} passes={info['passes']} "
          f"statements={info['statements']} reads={info['reads']} writes={info['writes']}")
    print(f"latency_tail: {info['latency_tail']}; write_tail: {info['write_tail']}; "
          f"error_rate={failed / max(attempted, 1):.4f}")
    print(f"setup: session_start_s={info['session_start_s']:.3f} reps_s="
          + ",".join(f"{x:.3f}" for x in info["setup_reps_s"]))
    print(f"wall: prepare_s={t_jvm - t_start:.1f} jvm_s={t_end - t_jvm:.1f} "
          f"warmup_s={info['warmup_s']:.1f}")
    for e in res["errors"]:
        print(f"failure: {e}")
    units = PER_LAYER if a.trace else END_TO_END
    out = {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()}
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
