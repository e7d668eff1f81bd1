#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload blueprint_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and this
benchmark from source (one scalac run) and generates the fixed input tables;
later runs reuse both. Everything it writes lives under
``perfbench/.work``. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``, the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``
(see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import gen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
HEAP = "3g"
# Set-ups a run times: set-up-only processes, then the measuring
# process. A third set-up would cost 7-12 s a run, which the run budget
# does not have (perfbench/README.md, "Seed-commit numbers").
SETUPS = 2
# Seconds a run may take after the build and the fixed inputs: the
# processes are killed at RUN_LIMIT, and the measuring process starts no
# warm pass beyond its minimum that could end after STOP_BY.
RUN_LIMIT = 165
STOP_BY = 140
# Warm passes a run makes even when they outlast --seconds. A warm
# llm_ops pass is shorter and its time varies more from pass to pass;
# a blueprint_etl run has no time left for another pass.
MIN_WARM = {"blueprint_etl": 3, "llm_ops": 4}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
GEN_VERSION = "2"  # bump when gen.fixtures changes its output


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ── build ───────────────────────────────────────────────────────────────
def spark_jars():
    """The Spark distribution's jars: the program's whole classpath (the
    repository's build.sbt names them as its unmanagedBase), including the
    Scala compiler and library of the version build.sbt compiles with."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME")
    return jars


def _sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _fingerprint(sources, jars):
    h = hashlib.sha256(jars.encode())
    for f in sources + [os.path.join(ROOT, "build.sbt")]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program's main sources and the benchmark's in one scalac
    run (no sbt: nothing is resolved and nothing is written outside the
    checkout); returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources not found: run from the repository root")
    jars = spark_jars()
    classes = os.path.join(WORK, "classes")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    stamp_file = os.path.join(WORK, "build.stamp")
    sources = _sources()
    fp = _fingerprint(sources, jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == fp:
        return cp
    log(f"building {len(sources)} files (scalac) ...")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(WORK, "scalac-tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(WORK, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, f"@{args_file}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=780)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ── processes ────────────────────────────────────────────────────────────
def jvm(cp, plan, name, deadline):
    """Start one benchmark JVM on `plan` and kill it if it is still running
    at `deadline` (a time.time() value); returns (seconds from process
    start to READY, result dict)."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan = dict(plan, out=os.path.join(run_dir, "result.json"), work=run_dir)
    plan_file = os.path.join(WORK, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/tmp",
              "-cp", cp, "graftbench.Main", plan_file])
    # loopback only: no host name lookup, nothing bound to an outside address
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    errlog = open(os.path.join(WORK, f"{name}.log"), "w")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                         stderr=errlog, text=True)
    ready = None
    watchdog = threading.Timer(max(1.0, deadline - time.time()), p.kill)
    watchdog.start()
    try:
        for line in p.stdout:
            if ready is None and line.strip() == "READY":
                ready = time.perf_counter() - t0
        p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        errlog.close()
    if p.returncode != 0 or (ready is None and plan["mode"] != "oracles"):
        sys.stderr.write(open(os.path.join(WORK, f"{name}.log")).read()[-4000:])
        fail(f"benchmark process '{name}' failed (exit {p.returncode})")
    with open(plan["out"]) as f:
        return ready, json.load(f)


# ── inputs and expected values ───────────────────────────────────────────
def prepare(cp):
    """Fixed tables and fixed expected values, made once per checkout."""
    fx = os.path.join(WORK, "fixtures")
    stamp = os.path.join(fx, ".done")
    if not (os.path.exists(stamp) and open(stamp).read() == GEN_VERSION):
        shutil.rmtree(fx, ignore_errors=True)
        gen.fixtures(fx)
        with open(stamp, "w") as f:
            f.write(GEN_VERSION)
        # expected values of the old tables are stale
        shutil.rmtree(os.path.join(WORK, "seeds"), ignore_errors=True)
        if os.path.exists(os.path.join(WORK, "expected.json")):
            os.remove(os.path.join(WORK, "expected.json"))
    exp_file = os.path.join(WORK, "expected.json")
    if not os.path.exists(exp_file):
        _, oracles = jvm(cp, {"mode": "oracles"}, "oracles", time.time() + RUN_LIMIT)
        exp = workloads.fixed_expected(fx, oracles)
        with open(exp_file, "w") as f:
            json.dump(exp, f)
    return fx, json.load(open(exp_file))


def seed_inputs(fx, seed):
    d = os.path.join(WORK, "seeds", str(seed))
    done = os.path.join(d, "expected.json")
    if not os.path.exists(done):
        # keep one seed's inputs at a time
        shutil.rmtree(os.path.join(WORK, "seeds"), ignore_errors=True)
        spec = gen.seed_inputs(fx, d, seed)
        exp = workloads.seed_expected(fx, spec)
        with open(done, "w") as f:
            json.dump(exp, f)
    return json.load(open(os.path.join(d, "spec.json"))), json.load(open(done))


# ── metrics ──────────────────────────────────────────────────────────────
def metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(setups, res):
    pass_s = [sum(o.get("s", 0) for o in p["ops"]) for p in res["passes"][1:]]
    log(f"warm passes (s): {[round(x, 3) for x in pass_s]}")
    return {
        "setup_s": metric(statistics.median(setups), "s"),
        "first_pass_s": metric(sum(o.get("s", 0) for o in res["passes"][0]["ops"]), "s"),
        "pass_s": metric(statistics.median(pass_s), "s"),
        # over a fixed amount of work (the cold and first warm passes), so
        # a faster program that fits more passes in does not read higher
        "heap_peak_mb": metric(max(res["heap_mb"]), "MB"),
    }


def per_layer(setups_detail, res, ops):
    kinds = {o["name"]: o["kind"] for o in ops}
    layers = res["layers"]
    traced = [p for p in res["passes"][1:] if p["traced"]]
    plain = [p for p in res["passes"][1:] if not p["traced"]]
    wall = lambda p: sum(o.get("s", 0) for o in p["ops"])  # noqa: E731
    keys = {k for v in layers.values() for k in v}
    keys |= {f"jobs_s.{f}" for f in workloads.LAYER_FILES + ["client", "other"]}
    keys |= {f"jobs.{f}" for f in workloads.LAYER_FILES + ["client", "other"]}
    keys |= {"sql.rewrite_s", "sql.rewrite_calls", "io.discover_s"}
    warm = [layers.get(str(p["pass"]), {}) for p in traced]
    out = {}
    for k in sorted(keys):
        if k.startswith("codegen."):
            continue
        out[k] = statistics.mean(w.get(k, 0.0) for w in warm)
    out["codegen.compiles"] = layers.get("0", {}).get("codegen.compiles", 0.0)
    out["codegen.compile_s"] = layers.get("0", {}).get("codegen.compile_s", 0.0)
    out["codegen.warm_compiles"] = statistics.mean(w.get("codegen.compiles", 0.0) for w in warm)
    out["exec.busy_ratio"] = out["exec.run_s"] / (CORES * statistics.mean(map(wall, traced)))
    out["jvm.start_s"] = statistics.median(s["jvm_s"] for s in setups_detail)
    out["session.start_s"] = statistics.median(s["session_s"] for s in setups_detail)
    out["tables.load_s"] = statistics.median(s["tables_s"] for s in setups_detail)
    for kind, name in (("upload", "cli.upload_s"), ("execute", "cli.execute_s"),
                       ("store", "cli.store_s")):
        out[name] = statistics.mean(
            sum(o.get("s", 0) for o in p["ops"] if kinds[o["op"]] == kind) for p in traced)
    out["trace.overhead_ratio"] = (statistics.mean(map(wall, traced))
                                   / statistics.mean(map(wall, plain)) - 1)
    return out


def throughput(res, ops, exp, kind):
    """Rows per second of `kind` (upload/store) calls over warm passes."""
    names = {o["name"] for o in ops if o["kind"] == kind}
    rows = secs = 0.0
    for p in res["passes"][1:]:
        for o in p["ops"]:
            if o["op"] in names and "s" in o:
                rows += exp[f"rows.{o['op']}"]
                secs += o["s"]
    return rows / secs if secs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["blueprint_etl", "llm_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    fx, exp = prepare(cp)
    t0 = time.time()
    spec = {}
    if a.workload == "blueprint_etl":
        spec, seed_exp = seed_inputs(fx, a.seed)
        exp = dict(exp, **seed_exp)
    ops = workloads.ops(a.workload, spec)
    plan = {"mode": "setup", "fixtures": fx, "trace": a.trace,
            "seconds": a.seconds, "ops": ops, "tables": workloads.TABLES_OF[a.workload],
            "min_warm": 4 if a.trace else MIN_WARM[a.workload], "layer_files": workloads.LAYER_FILES,
            # a traced run needs an untraced and two traced warm passes
            "min_warm_hard": 3 if a.trace else 1,
            "stop_by_ms": int((t0 + STOP_BY) * 1000)}
    deadline = t0 + RUN_LIMIT
    setups, details = [], []
    for i in range(SETUPS - 1):
        ready, r = jvm(cp, plan, f"setup{i}", deadline)
        setups.append(ready)
        details.append(r["setup"])
    ready, res = jvm(cp, dict(plan, mode="run"), "run", deadline)
    setups.append(ready)
    details.append(res["setup"])

    attempted = failed = 0
    for p in res["passes"]:
        for o in p["ops"]:
            attempted += 1
            if "error" in o:
                failed += 1
                log(f"pass {p['pass']} {o['op']}: {o['error']}")
            elif o.get("check") != exp[o["op"]]:
                failed += 1
                log(f"pass {p['pass']} {o['op']}: wrong output")
    if a.trace:
        layers = per_layer(details, res, ops)
        layers["cli.upload_rows_per_s"] = throughput(res, ops, exp, "upload")
        layers["cli.store_rows_per_s"] = throughput(res, ops, exp, "store")
        metrics = {k: metric(v, unit_of(k)) for k, v in sorted(layers.items())}
        spans = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(spans, "w") as f:
            json.dump(res["spans"], f)
        log(f"spans written to {spans}")
    else:
        metrics = end_to_end(setups, res)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith(("_s", ".s")) or name.startswith("jobs_s."):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_rows"):
        return "rows"
    return "count"


if __name__ == "__main__":
    main()
