#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload quake_tick --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  quake_tick   back-to-back QuakeRunner.run ticks over a seeded GeoNet feed
  lake         sf0.1 registry queries in seeded order, non-streaming and
               streaming (each streaming query drains its spool)

The run builds the JVM harness on first use (sbt, offline), generates its
inputs from the seed under perfbench/.work, sets the engine up several
times, measures passes of the workload for --seconds, checks every
operation's output (DuckDB oracle for queries, the generator's expected
snapshot for ticks) and prints one JSON object as the last line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything it writes stays under perfbench/.work and perfbench/.build;
the run's own directory is removed when it ends.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import registry  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("quake_tick", "lake")
SETUP_REPS = 3
HEAP = "4g"
RUN_LIMIT_S = 170          # the whole run, build excluded
QUAKE_URL = "https://api.geonet.org.nz/quake?MMI=-1"
SUBMIT_URL = "http://localhost/layer/feature"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("latency_p50_ms", "ms"),
              ("latency_tail_ms", "ms"), ("retained_heap_mb", "MB")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run ``cmd`` in its own process group and wait for it; on timeout,
    or when this process is told to stop, kill the whole group (a
    launcher script's JVM included) and wait for it. Returns the exit
    code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


# ------------------------------------------------------------------ build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found: set SPARK_HOME")
    return home


def _source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HARNESS, "src"),
                 os.path.join(HARNESS, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(env):
    """Compile the harness with the engine's sources; return its runtime
    classpath. The build is skipped when no source changed since the
    last one."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die(f"engine sources not found under {ENGINE_SRC}")
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building the harness (sbt, offline)")
    sbt_env = dict(env)
    sbt_env.setdefault("COURSIER_MODE", "offline")
    sbt_env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"], 840,
                         cwd=HARNESS, env=sbt_env, stdout=out,
                         stderr=subprocess.STDOUT)
    with open(build_log) as f:
        output = f.read()
    lines = [ln for ln in output.splitlines()
             if ln.startswith(os.sep) and ".jar" in ln]
    if code != 0 or not lines:
        sys.stderr.write(output[-3000:])
        die("harness build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, seconds, data):
    """Write the run's seeded inputs under ``data``; return the feed's
    ticks (only the fixture tick for ``lake``)."""
    sfs = [0.001] if workload == "quake_tick" else [0.001, 0.1]
    for sf in sfs:
        base = os.path.join(data, f"sf{sf}", "base")
        gen.write_tables(base, sf, seed)
        # one alias per set-up repetition, so each builds its stores anew
        for r in range(SETUP_REPS):
            alias = os.path.join(data, f"sf{sf}", f"r{r}")
            os.makedirs(alias)
            for f in os.listdir(base):
                os.link(os.path.join(base, f), os.path.join(alias, f))
    ticks = [gen.FIXTURE_TICK]
    if workload == "quake_tick":
        ticks += gen.quake_ticks(seed, int(seconds * 20) + 100)
    with open(os.path.join(data, "ticks.jsonl"), "w") as f:
        for t in ticks:
            f.write(json.dumps({"now_ms": t["now_ms"], "body": t["body"]}))
            f.write("\n")
    return ticks


# ----------------------------------------------------------------- checks

def check_ticks(ops, posts, ticks):
    """``{op: reason}`` for every tick whose submitted snapshot is not the
    generator's kept set with its callsigns and coordinates."""
    by_op = {p["op"]: p for p in posts}
    wrong = {}
    for op in ops:
        if op["error"]:
            continue
        post = by_op.get(op["op"])
        tick = ticks[op["tick"]]
        if post is None:
            wrong[op["op"]] = "nothing submitted"
            continue
        if post["get_url"] != QUAKE_URL or post["post_url"] != SUBMIT_URL:
            wrong[op["op"]] = f"urls {post['get_url']} {post['post_url']}"
            continue
        fc = json.loads(post["body"])
        got = {f["id"]: f for f in fc["features"]}
        want = tick["expected"]
        if fc["type"] != "FeatureCollection" or \
                len(fc["features"]) != len(want) or got.keys() != want.keys():
            wrong[op["op"]] = (f"submitted {len(fc['features'])} ids, "
                               f"expected {len(want)}")
            continue
        if op["tick"] == 0 and set(got) != gen.FIXTURE_KEPT:
            wrong[op["op"]] = "fixture kept set differs"
            continue
        for fid, exp in want.items():
            f = got[fid]
            if f["properties"]["callsign"] != exp["callsign"]:
                wrong[op["op"]] = f"{fid} callsign {f['properties']['callsign']!r}"
                break
            if f["geometry"]["coordinates"] != exp["coordinates"]:
                wrong[op["op"]] = f"{fid} coordinates {f['geometry']['coordinates']}"
                break
    return wrong


def check_queries(ops, run_dir, sf_dir):
    """``{op: reason}`` for every query whose result differs from DuckDB's
    answer to its oracle SQL over the same tables."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = oracle.connect(sf_dir)
    verdict = {}
    for op in ops:
        if op["error"] or not op.get("dump"):
            continue
        q = op["name"]
        if q not in sql:
            verdict[op["dump"]] = "no oracle SQL"
        else:
            verdict[op["dump"]] = oracle.compare(
                con, sql[q], os.path.join(run_dir, "dumps", op["dump"]))
    wrong = {}
    for op in ops:
        if op["error"]:
            continue
        reason = verdict.get(op.get("dump") or op["name"])
        if reason:
            wrong[op["op"]] = f"{op['name']}: {reason}"
    return wrong


# ---------------------------------------------------------------- metrics

def end_to_end(run, ops):
    untraced = [p["wall_s"] for p in run["passes"] if not p["traced"]]
    lat = [o["latency_ms"] for o in ops if not o["traced"]]
    tail_v, tail_pct, beyond = metrics.tail(lat)
    values = {
        "setup_s": statistics.median(s["total_s"] for s in run["setups"]),
        "wall_s": statistics.median(untraced),
        "latency_p50_ms": metrics.percentile(lat, 0.5),
        "latency_tail_ms": tail_v,
        "retained_heap_mb": run["retained_heap_mb"]}
    return values, {"tail_percentile": tail_pct, "tail_samples_beyond": beyond,
                    "latency_samples": len(lat), "passes": len(untraced)}


def _per_layer_metrics():
    # name -> unit, in the order of perfbench/layers.json, which also
    # records the end-to-end metric and workload each layer should move
    with open(os.path.join(HERE, "layers.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["metrics"]]


PER_LAYER = _per_layer_metrics()


def per_layer(run, ops, spans):
    """Each per-layer metric: summed over a traced pass (percentiles over
    all traced samples), then the median over traced passes."""
    traced = [o for o in ops if o["traced"]]
    by_pass = {}
    for o in traced:
        by_pass.setdefault(o["pass"], []).append(o)
    selfs = metrics.self_times(spans)
    span_by_id = {s["id"]: s for s in spans}
    pass_of_op = {o["op"]: o["pass"] for o in traced}
    self_by_pass = {}
    covered = []
    for sid, ms in selfs.items():
        s = span_by_id[sid]
        p = pass_of_op.get(s["op"])
        key = f"self.{metrics.layer_of(s['name'])}_ms"
        self_by_pass.setdefault(p, {}).setdefault(key, 0.0)
        self_by_pass[p][key] += ms
        if s["name"].startswith("op:"):
            dur = s["endMs"] - s["startMs"]
            covered.append(ms <= 0.1 * dur)
    sums = {}
    for p, pops in by_pass.items():
        acc = dict(self_by_pass.get(p, {}))
        for o in pops:
            for k, v in o.get("layers", {}).items():
                acc[k] = acc.get(k, 0.0) + v
        sums[p] = acc
    out = {}
    for name, _ in PER_LAYER:
        vals = [sums[p].get(name, 0.0) for p in sums]
        out[name] = statistics.median(vals) if vals else 0.0
    trig = [t for o in traced for t in o.get("trigger_ms", [])]
    n_trig = sum(o.get("layers", {}).get("stream.triggers", 0) for o in traced)
    n_empty = sum(o.get("layers", {}).get("stream.empty_triggers", 0)
                  for o in traced)
    out["stream.empty_trigger_ratio"] = n_empty / n_trig if n_trig else 0.0
    out["stream.trigger_p50_ms"] = metrics.percentile(trig, 0.5) if trig else 0.0
    out["stream.trigger_tail_ms"] = metrics.tail(trig)[0] if trig else 0.0
    setups = run["setups"]
    out["setup.session_s"] = statistics.median(s["session_s"] for s in setups)
    out["setup.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
    out["setup.stores_s"] = statistics.median(s["stores_s"] for s in setups)
    for name, _ in PER_LAYER:
        if name.startswith("setup.store."):
            store = name[len("setup.store."):-2]
            vals = [s["stores"].get(store, 0.0) for s in setups]
            out[name] = statistics.median(vals)
    out["core.conf_drift_ops"] = float(len(run["conf_drift"]))
    walls = {True: [], False: []}
    for p in run["passes"]:
        walls[p["traced"]].append(p["wall_s"])
    out["trace.overhead_s"] = (statistics.median(walls[True]) -
                               statistics.median(walls[False]))
    out["trace.covered_op_share"] = (sum(covered) / len(covered)
                                     if covered else 0.0)
    out["trace.spans"] = float(len(spans))
    return out


# ------------------------------------------------------------------- main

def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, main_class, args, run_dir, deadline):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = shutil.which("java") or die("no java found")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main_class] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; both stay in
        # the run directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        code = run_child(cmd, deadline - time.time(), cwd=run_dir, env=env,
                         stdout=out, stderr=subprocess.STDOUT)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die("harness timed out" if code is None else
            f"harness exited with {code}", 1)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    # a stop request unwinds through the finally blocks, which end the
    # child processes and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, dumps, spans)")
    a = ap.parse_args()

    env = dict(os.environ, SPARK_HOME=spark_home())
    lake = registry.lake_workload(registry.load_sweep())
    cp = classpath(env)
    start = time.time()
    deadline = start + RUN_LIMIT_S
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        ticks = make_inputs(a.workload, a.seed, a.seconds, data)
        cpus = nproc()
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", run_dir, "--cpus", str(cpus),
                "--reps", str(SETUP_REPS)]
        if a.workload == "lake":
            args += ["--queries", ",".join(lake["queries"]),
                     "--ensures", ",".join(lake["ensures"])]
        run_jvm(cp, "graft.perfbench.PerfBench", args, run_dir, deadline)
        with open(os.path.join(run_dir, "run.json")) as f:
            run = json.load(f)
        ops = read_jsonl(os.path.join(run_dir, "ops.jsonl"))
        failed = {o["op"]: o["error"] for o in ops if o["error"]}
        if a.workload == "quake_tick":
            wrong = check_ticks(ops, read_jsonl(
                os.path.join(run_dir, "posts.jsonl")), ticks)
        else:
            wrong = check_queries(ops, run_dir,
                                  os.path.join(data, "sf0.1", "base"))
        attempted = len(ops)
        header = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": cpus, "nproc": os.cpu_count(),
            "master": run["master"],
            "shuffle_partitions": int(run["shuffle_partitions"]),
            "heap_max_mb": round(run["heap_max_mb"]), "heap_flag": HEAP,
            "spark_version": run["spark_version"], "git_sha": git_sha(),
            "setup_reps": SETUP_REPS, "callers": 1, "loop": "closed"}
        print("config " + json.dumps(header))
        for s in run["setups"]:
            print("setup " + json.dumps(s))
        for op, why in sorted({**failed, **wrong}.items()):
            print(f"error op {op}: {why}")
        rate = metrics.error_rate(attempted, len(failed), len(wrong))
        if a.trace:
            spans = read_jsonl(os.path.join(run_dir, "spans.jsonl"))
            kept = os.path.join(WORK, "spans", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), kept)
            print(f"spans {len(spans)} written to {os.path.relpath(kept, ROOT)}")
            values = per_layer(run, ops, spans)
            units = dict(PER_LAYER)
            print("conf_drift " + json.dumps(run["conf_drift"]))
        else:
            values, detail = end_to_end(run, ops)
            units = dict(END_TO_END)
            print("latency " + json.dumps(detail))
        print(f"error_rate {rate} ({len(failed)} raised, {len(wrong)} wrong, "
              f"{attempted} attempted)")
        result = {"correct": not failed and not wrong, "attempted": attempted,
                  "failed": len(failed) + len(wrong),
                  "metrics": {k: {"value": values[k], "unit": u}
                              for k, u in units.items()}}
        print(json.dumps(result, separators=(",", ":")))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
