"""Run one workload of the federation benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale <x>]

Run from the root of a checkout. The first run builds the engine and the
benchmark from source into .bench_build/ (a direct scalac compile against
$SPARK_HOME/jars, the jars the project builds against) and generates the
data set; later runs reuse both while the sources are unchanged.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The line before it carries the run's context: machine load,
sample counts, the tail percentile and the set-up phases.
"""

import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402


# Ops generated per timed second: about one and a half times the rate each
# workload reaches on 4 cores, so the loop does not run out of ops.
OPS_PER_SECOND = {"fed_read": 9, "fed_ingest": 3}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def units(trace):
    """Name -> unit of the metrics a run prints, as BENCHMARK.json lists
    them: the end-to-end metrics untraced, the per-layer metrics traced."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "*.jar")):
        fail("SPARK_HOME must point at a Spark install with jars/")
    return os.path.join(home, "jars", "*")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        fail(f"no engine sources under {root}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(root, out):
    """Compile engine + benchmark into out/classes unless the sources are
    unchanged since the last build; dump the operator gates' oracle SQL."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(gen.GATES)).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
         "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    oracles = os.path.join(out, "gate_oracles.json")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep + jars,
         "perfbench.GateOracles",
         oracles] + sorted(gen.GATES),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("gate oracle dump failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def data(out, scale):
    d = os.path.join(out, f"data-{scale}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.gen_data(tmp, scale)
        os.rename(tmp, d)
    return d


def calibration_ms():
    """One fixed CPU-bound query, timed as load context only."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 1")
    t0 = time.perf_counter()
    con.execute("SELECT SUM(i * i % 7) FROM range(3000000) t(i)").fetchone()
    return (time.perf_counter() - t0) * 1000


def cpu_ticks():
    """(steal, total) jiffies of the machine from /proc/stat; zeros where
    it is missing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except (OSError, ValueError):
        return 0, 0


def run_jvm(cmd, cwd, log):
    with open(log, "w") as lf:
        # child processes of the JVM (DuckDB's python3 servers) keep their
        # temporary files inside the run directory too
        env = dict(os.environ, TMPDIR=os.path.join(cwd, "tmp"))
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            # the JVM ends its own children; reap any it left behind
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)
    data_dir = data(out, a.scale)
    n = gen.sizes(a.scale)
    with open(os.path.join(out, "gate_oracles.json")) as f:
        gate_oracles = json.load(f)

    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        count = int(OPS_PER_SECOND[a.workload] * a.seconds) + 20
        spec = gen.build(a.workload, a.seed, data_dir, n, count, gate_oracles)
        ops_path = os.path.join(run_dir, "ops.json")
        gen.write_ops(ops_path, spec)

        load_before = os.getloadavg()
        calib = calibration_ms()
        result_path = os.path.join(run_dir, "result.json")
        spans_dir = os.path.join(out, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{a.workload}-{a.seed}.jsonl")
        tmp = os.path.join(run_dir, "tmp")
        cmd = (["java", "-XX:-UsePerfData", "-Xms1536m", "-Xmx1536m",
                f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={tmp}",
                f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
                f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
               + [x for p in JVM_OPENS for x in ("--add-opens",
                                                  f"{p}=ALL-UNNAMED")]
               + ["-cp", classes + os.pathsep + spark_jars(),
                  "perfbench.PerfBench", ops_path, data_dir, str(a.seconds),
                  str(a.trace), result_path, spans_path])
        log = os.path.join(run_dir, "jvm.log")
        ticks_before = cpu_ticks()
        rc = run_jvm(cmd, run_dir, log)
        ticks_after = cpu_ticks()
        children = resource.getrusage(resource.RUSAGE_CHILDREN)
        if rc != 0 or not os.path.exists(result_path):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"benchmark JVM exited with {rc}")
        with open(result_path) as f:
            r = json.load(f)
        load_after = os.getloadavg()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = int(r["attempted"])
    failed = int(r["failed"])
    metrics = {name: {"value": r[name], "unit": unit}
               for name, unit in units(a.trace).items()}
    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": os.cpu_count(), "loadavg_before": load_before,
        "loadavg_after": load_after, "calibration_ms": round(calib, 3),
        # share of the machine's CPU time the hypervisor gave to others
        "steal_share": round((ticks_after[0] - ticks_before[0]) /
                             max(1, ticks_after[1] - ticks_before[1]), 4),
        "cpu_s": round(children.ru_utime + children.ru_stime, 2),
        "samples": attempted, "cycles": r["cycles"],
        "op_tail_pct": r["op_tail_pct"], "op_tail_beyond": r["op_tail_beyond"],
        "error_rate": r["error_rate"], "context_s": r["context_s"],
        "setup_phases_s": r["setup_phases_s"], "timed_wall_s": r["timed_wall_s"],
        "family_p50_ms": {k.split(".", 1)[1]: round(v, 3) for k, v in r.items()
                          if k.startswith("family_p50_ms.")},
        "failures": r["failures"], "op_ms": r["op_ms"]}
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))



if __name__ == "__main__":
    main()
