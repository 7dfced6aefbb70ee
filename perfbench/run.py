#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

Run from the root of a graft checkout:

  python3 perfbench/run.py --workload slice_restore --seed 1 --seconds 5 --trace 0

Steps (everything it writes goes under .graftbench/ in the checkout):

  1. build  - compile graft's sources and the benchmark's JVM side with scalac
              against the Spark jars (rebuilt when a source changes);
  2. inputs - generate the workload's seeded inputs and compute the DuckDB
              references once per (workload, seed), outside timed runs;
  3. run    - one JVM runs the workload (graft.perfbench.Main) for
              --seconds seconds and writes what it measured;
  4. check  - compare every operation's output with its reference.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"} with every end-to-end metric (--trace 0) or every per-layer
metric (--trace 1). The line before it carries the run's context: nproc,
seed, input sizes, the CPU calibration probe and failed checks.

`--selftest` instead plants a sleep in the Slicer's table loader and
checks that the trace alone names slicer.run.idle_s as the slow layer.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".graftbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles
    against (build.sbt's unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s of its start, build aside
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
END_TO_END = [("setup_s", "s"), ("flow_s", "s"), ("write_s", "s"), ("read_s", "s")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, log, timeout):
    """Run a child in its own process group; on timeout kill the group
    and wait, so nothing outlives the benchmark."""
    with open(log, "ab") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"timed out after {timeout:.0f} s; see {log}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


# ---- 1. build ------------------------------------------------------------

def scalac(out, classpath, sources, log):
    os.makedirs(out)
    args = os.path.join(out + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(sources))
    rc = run_proc(["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
                   "scala.tools.nsc.Main", "-nowarn", "-d", out,
                   "-cp", classpath, f"@{args}"], log, 900)
    if rc != 0:
        fail(f"scalac failed; see {log}")


def build():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at '{SPARK_JARS}': set SPARK_HOME")
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    h = hashlib.sha1()
    for f in graft + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(STATE, "build", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(os.path.join(STATE, "build"), ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "build.log")
    scalac(os.path.join(out, "graft"), f"{SPARK_JARS}/*", graft, log)
    scalac(os.path.join(out, "bench"), f"{out}/graft:{SPARK_JARS}/*", bench, log)
    oracles = [os.path.join(out, "oracles.json")] + layers.VECTOR_ENTRIES
    rc = run_proc(java_cmd(out, "graft.perfbench.Oracles", oracles), log, 120)
    if rc != 0:
        fail(f"oracle export failed; see {log}")
    open(os.path.join(out, "ok"), "w").close()
    return out


def java_cmd(build_dir, main, args, props=()):
    return (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseParallelGC", *OPENS, "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", *props, "-cp",
             f"{build_dir}/bench:{build_dir}/graft:{SPARK_JARS}/*", main] + list(args))


# ---- 2. inputs and references ------------------------------------------

def norm_rows(df):
    """tools/check.py's canonical form: columns by name, values as strings,
    rows sorted."""
    def canon(x):
        if x is None:
            return "NULL"
        try:
            import pandas as pd
            if pd.isna(x):
                return "NULL"
        except (TypeError, ValueError):
            pass
        return str(x)
    cols = sorted(df.columns)
    rows = sorted(tuple(canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    return cols, rows


def rows_digest(cols, rows):
    h = hashlib.sha1(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return f"{len(rows)}:{h.hexdigest()}"


def duck(full):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(glob.glob(os.path.join(full, "*.parquet"))):
        t = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def references(workload, full, oracles):
    """What every checked output must equal, from DuckDB on the same input."""
    if workload == "slice_restore":
        return {}  # checked inside the JVM against the source tables
    con = duck(full)
    return {name: rows_digest(*norm_rows(con.sql(oracles[name]).df()))
            for name in layers.VECTOR_ENTRIES}


def inputs(workload, seed, build_dir):
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    d = os.path.join(STATE, "inputs", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "ready")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, os.path.join(d, "full"))
        gen.generate(workload, seed, os.path.join(d, "warm"), warm=True)
        with open(os.path.join(build_dir, "oracles.json")) as fh:
            oracles = json.load(fh)
        ref = references(workload, os.path.join(d, "full"), oracles)
        with open(os.path.join(d, "ref.json"), "w") as fh:
            json.dump(ref, fh)
        open(os.path.join(d, "ready"), "w").close()
    os.utime(os.path.join(d, "ready"))
    # keep the inputs of the few most recent (workload, seed) pairs
    ready = sorted(glob.glob(os.path.join(STATE, "inputs", "*", "ready")),
                   key=os.path.getmtime, reverse=True)
    for old in ready[4:]:
        shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    with open(os.path.join(d, "ref.json")) as fh:
        return d, json.load(fh)


# ---- 3. run ----------------------------------------------------------------

def run_jvm(build_dir, workload, d, seconds, trace, deadline, plant_ms=0):
    tag = f"{workload}-{os.getpid()}"
    work = os.path.join(STATE, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    args = ["--workload", workload, "--input", os.path.join(d, "full"),
            "--warm", os.path.join(d, "warm"),
            "--work", work, "--out", out, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--plant-ms", str(plant_ms)]
    props = [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.stream.error.file={work}/derby.log"]
    log = os.path.join(work, "jvm.log")
    rc = run_proc(java_cmd(build_dir, "graft.perfbench.Main", args, props), log,
                  max(10, deadline - time.time()))
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM exited {rc}:\n{tail}")
    with open(out) as fh:
        return work, json.load(fh)


# ---- 4. check ----------------------------------------------------------------

def check(workload, result, ref):
    """Every operation's own verdict, plus the harness-side reference
    comparisons. Returns (attempted, failures)."""
    attempted, failures = 0, []
    for it in result["iterations"]:
        for op in it["ops"]:
            attempted += 1
            why = None if op["ok"] else op["detail"] or "failed"
            out = op["output"]
            if why is None and workload == "vector_index" and op["name"] in ref:
                files = sorted(glob.glob(os.path.join(out["path"], "*.parquet")))
                digest = rows_digest(*norm_rows(pq.read_table(files).to_pandas()))
                if digest != ref[op["name"]]:
                    why = f"result {digest} != oracle {ref[op['name']]}"
            if why is not None:
                failures.append(f"iteration {it['i']} {op['name']}: {why}")
    return attempted, failures


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result):
    its = [it for it in result["iterations"] if not it["traced"]]
    m = {"setup_s": result["setup"]["setup_s"],
         "flow_s": med([it["flow_s"] for it in its]),
         "write_s": med([it["phases"]["write_s"] for it in its]),
         "read_s": med([it["phases"]["read_s"] for it in its])}
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END}


def main():
    # a terminated harness must take its JVM down with it (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest(a)
    if not a.workload:
        ap.error("--workload is required")
    build_dir = build()
    deadline = time.time() + RUN_LIMIT_S
    d, ref = inputs(a.workload, a.seed, build_dir)
    work, result = run_jvm(build_dir, a.workload, d, a.seconds, a.trace == 1, deadline)
    attempted, failures = check(a.workload, result, ref)
    metrics = (layers.per_layer(result, attempted, len(failures)) if a.trace
               else end_to_end(result))
    with open(os.path.join(d, "full", "inputs.json")) as fh:
        sizes = json.load(fh)
    print(json.dumps({"context": {
        "workload": a.workload, "seed": a.seed, "nproc": result["nproc"],
        "iterations": len(result["iterations"]), "inputs": sizes,
        "env.calib_cpu_s": result["calib_cpu_s"], "setup": result["setup"],
        "failed_checks": failures[:20]}}))
    if a.trace:  # keep the spans of the latest traced run
        shutil.copy(os.path.join(work, "result.json"),
                    os.path.join(STATE, f"trace-{a.workload}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


def selftest(a):
    """Plant a sleep in every Slicer table load; the layer whose idle time
    grew most, read from the traces alone, must be slicer.run."""
    build_dir = build()
    d, _ = inputs("slice_restore", a.seed, build_dir)
    traces = {}
    for plant in (0, 250):
        work, result = run_jvm(build_dir, "slice_restore", d, 4, True,
                               time.time() + RUN_LIMIT_S, plant_ms=plant)
        traces[plant] = layers.per_layer(result, 1, 0)
        shutil.rmtree(work, ignore_errors=True)
    deltas = {k: v["value"] - traces[0][k]["value"] for k, v in traces[250].items()
              if k.endswith((".idle_s", ".cpu_s"))}
    slowest = max(deltas, key=deltas.get)
    ok = slowest == "slicer.run.idle_s"
    print(json.dumps({"selftest": "ok" if ok else "FAILED", "slowest": slowest,
                      "deltas_s": dict(sorted(deltas.items(), key=lambda kv: -kv[1])[:5])}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
