#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.sbt) when
the sources changed, writes the fixture tables once per checkout, runs one
JVM with `graft.perfbench.PerfBench`, checks every op's output, and prints
as its last line one JSON object with `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). The full result, with environment, samples and
spans, is saved under .bench_build/perfbench/results/ for compare.py and
trace_summary.py. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("catalog", "weather_etl")
# the fixture is the same for every seed: the seed orders the catalog ops
# and feeds the synthetic weather generator
FIXTURE_SCALE = 0.01
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = []
    for pat in ("src/main/**/*", "perfbench/src/**/*", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        files += [f for f in glob.glob(os.path.join(ROOT, pat), recursive=True)
                  if os.path.isfile(f)]
    return sorted(files)


def build():
    """Compile with sbt when the sources differ from the last build, and
    record the runtime classpath sbt resolved. Returns the classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = h.hexdigest()
    if (os.path.isdir(CLASSES) and os.path.exists(cp_file) and os.path.exists(stamp)
            and open(stamp).read() == digest and open(cp_file).read().startswith(CLASSES)):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=HERE, env=env,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait()
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    text = open(log).read()
    cp = [ln for ln in text.splitlines() if ln.startswith(CLASSES)]
    if rc != 0 or not cp:
        sys.stderr.write(text[-4000:])
        fail(f"build failed (rc={rc}); log at {log}", 1)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp[-1].strip()


def fixture():
    import fixture as fx
    d = os.path.join(BUILD, f"fixture-{FIXTURE_SCALE}")
    if not os.path.isdir(d):
        fx.write(d, FIXTURE_SCALE)
    return d


def cpus():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, classpath, fixture_dir):
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("warehouse", "tmp", "local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    n = cpus()
    # program defaults only: drop every SPARK_GRAFT_* knob, then pin cores
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(n),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dspark.local.dir={os.path.join(work, 'local')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath,
              "graft.perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--fixture", fixture_dir, "--work", work, "--out", out])
    log = os.path.join(work, "jvm.log")
    spawn = time.time()
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                # also on SIGTERM (see main): never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        text = open(log, errors="replace").read()
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(text[-6000:])
            fail(f"benchmark JVM failed (rc={rc})", 1)
        result = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["failure_lines"] = [ln for ln in text.splitlines() if "[perfbench]" in ln]
    result["spawn_ms"] = spawn * 1000.0
    return result


def check(result):
    """Count attempted and failed ops; a catalog op fails when it threw or
    its fingerprint differs from the one pinned in expected.json."""
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    pinned = expected.get(result["workload"], {})
    attempted = failed = 0
    bad = []
    for s in result["samples"]:
        attempted += 1
        want = pinned.get(s["op"]) if s["hash"] else None
        if s["error"] is not None:
            failed += 1
            bad.append(f"{s['op']}: {s['error']}")
        elif s["hash"] and want != [s["rows"], s["hash"]]:
            failed += 1
            bad.append(f"{s['op']}: fingerprint {[s['rows'], s['hash']]} != pinned {want}")
    for p in result["passes"]:
        attempted += p["checks"]
        failed += p["checks_failed"]
    bad += result["checks_failed"]
    return attempted, failed, bad


def pin(result):
    """Record this run's fingerprints in expected.json (development aid)."""
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    got = {}
    for s in result["samples"]:
        if s["hash"] and s["error"] is None:
            prev = got.setdefault(s["op"], [s["rows"], s["hash"]])
            if prev != [s["rows"], s["hash"]]:
                fail(f"{s['op']} is not deterministic: {prev} vs {[s['rows'], s['hash']]}", 1)
    expected[result["workload"]] = got
    with open(EXPECTED, "w") as fh:
        fh.write("{\n" + ",\n".join(
            f" {json.dumps(w)}: {{\n" + ",\n".join(
                f"  {json.dumps(op)}: {json.dumps(v)}" for op, v in sorted(ops.items()))
            + "\n }" for w, ops in sorted(expected.items())) + "\n}\n")


def _steady(result, traced):
    passes = [p for p in result["passes"] if p["pass"] >= 0 and p["traced"] == traced]
    ids = {p["pass"] for p in passes}
    return passes, [s for s in result["samples"] if s["pass"] in ids]


def end_to_end(result):
    """The end-to-end metrics, plus op-level figures for the result file."""
    passes, samples = _steady(result, False)
    first = next(p for p in result["passes"] if p["pass"] == -1)
    walls = [s["wall_s"] for s in samples]
    steady_wall = sum(p["wall_s"] for p in passes)
    setup = ((result["session_ready_ms"] - result["spawn_ms"]) / 1000.0
             + result["warm_s"] + result["setup_builds_s"])
    m = {
        "setup_s": (setup, "s"),
        "first_pass_s": (first["wall_s"], "s"),
        "wall_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
        "live_heap_mb": (first["live_heap_mb"], "MB"),
    }
    # op latency over every op the run executed, cold ones included
    every = [s["wall_s"] for s in result["samples"]]
    t = stats.tail(every)
    info = {"op_p50_s": stats.median(every),
            "op_tail_s": t[0] if t else None,
            "op_tail_percentile": t[1] if t else None, "op_samples": len(every),
            "steady_op_p50_s": stats.median(walls), "steady_passes": len(passes),
            "ops_per_s": len(samples) / steady_wall,
            "rows_written_per_s": sum(s["written"] for s in samples) / steady_wall,
            "peak_rss_mb": result["peak_rss_mb"]}
    return m, info


# per-layer metric -> sample layer whose op wall time it sums
OP_LAYERS = {
    "retrieval.bm25_s": "retrieval.bm25", "dedup.pairs_s": "dedup.pairs",
    "bpe.apply_s": "bpe.apply", "ann.probe_s": "ann.probe",
    "manifest.delta_s": "manifest.delta", "stream.neardup_s": "stream.neardup",
    "weather.etl_s": "weather.etl", "weather.latest_s": "weather.latest",
    "weather.query_s": "weather.query", "ml.train_s": "ml.train",
    "ml.predict_s": "ml.predict", "ml.eval_s": "ml.eval",
    "ml.promote_s": "ml.promote",
}
# query families of the SQL rows `catalog` runs (Workloads.familyOf)
FAMILIES = ("asof", "setpivot")
# setup-time layers, once per run
SETUP_LAYERS = {"bpe.build_s": "bpe.build", "source.gen_s": "source.gen"}
SINKS = {"weather.sink_csv_s": "/csv/", "weather.sink_raw_s": "/raw_weather_data",
         "weather.sink_current_s": "/current_weather",
         "weather.sink_batches_s": "/weather_batches",
         "weather.sink_stats_s": "/weather_statistics"}
SPARK_SUMS = ("jobs", "stages", "tasks", "failed_tasks", "job_s", "sched_delay_s",
              "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "input_mb", "output_mb")
COUNT_METRICS = {"spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
                 "store.files", "weather.files_written", "dedup.pairs_out"}


def per_layer(result):
    passes, samples = _steady(result, True)
    plain, _ = _steady(result, False)
    n = len(passes)
    ids = {p["pass"] for p in passes}
    m = {}

    def put(name, value):
        m[name] = (value, "count" if name in COUNT_METRICS else
                   "MB" if name.endswith("_mb") else
                   "B" if name == "store.bytes" else
                   "ratio" if name == "store.write_amp" else "s")

    put("session.build_s", result["session_s"])
    put("session.warm_s", result["warm_s"])
    for k in SPARK_SUMS:
        put(f"spark.{k}", sum(s[k] for s in samples) / n)
    put("spark.driver_s", sum(s["wall_s"] - s["job_s"] for s in samples) / n)
    for k in ("gc_s", "alloc_mb"):
        put(f"jvm.{k}", sum(p[k] for p in passes) / n)
    put("io.read_mb", sum(p["io_read_mb"] for p in passes) / n)
    put("io.write_mb", sum(p["io_write_mb"] for p in passes) / n)
    put("env.foreign_cpu_s", sum(p["box_cpu_s"] - p["cpu_s"] for p in passes) / n)

    spans = [s for s in result["spans"] if s["op"] and int(s["op"].split("/")[0][1:]) in ids]
    for name in ("build", "action"):
        put(f"queries.{name}_s", sum(s["end_s"] - s["start_s"] for s in spans
                                    if s["name"] == f"queries.{name}") / n)
    for f in FAMILIES:
        put(f"queries.{f}_s", sum(s["wall_s"] for s in samples
                                 if s["layer"] == f"queries.{f}") / n)
    for name, layer in OP_LAYERS.items():
        put(name, sum(s["wall_s"] for s in samples if s["layer"] == layer) / n)
    put("dedup.pairs_out", sum(s["rows"] for s in samples if s["layer"] == "dedup.pairs") / n)
    setup_spans = [s for s in result["spans"] if not s["op"]]
    for name, span in SETUP_LAYERS.items():
        d = [s["end_s"] - s["start_s"] for s in setup_spans if s["name"] == span]
        put(name, sum(d))
    ends = [s for s in samples if "store_bytes" in s]
    put("store.bytes", sum(s["store_bytes"] for s in ends) / n)
    put("store.files", sum(s["store_files"] for s in ends) / n)
    input_mb = m["spark.input_mb"][0]
    put("store.write_amp", m["io.write_mb"][0] / input_mb if input_mb else 0.0)
    put("weather.stats_s", sum(s["end_s"] - s["start_s"] for s in spans
                               if s["name"] == "weather.stats") / n)
    for name, frag in SINKS.items():
        put(name, sum(t for s in samples for p, t in s["writes_s"].items()
                      if frag in p) / n)
    put("weather.files_written", sum(s["weather_files"] for s in ends) / n)
    traced_wall = stats.median([p["wall_s"] for p in passes])
    put("trace.overhead_s", traced_wall - stats.median([p["wall_s"] for p in plain]))
    return m


def environment(load_before):
    return {"nproc": cpus(), "spark_graft_cpus": cpus(),
            "loadavg_before": load_before, "loadavg_after": list(os.getloadavg()),
            "git_commit": git_commit()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's output fingerprints in expected.json")
    args = ap.parse_args()
    # a terminated run unwinds through the finally blocks that stop children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 1)

    load_before = list(os.getloadavg())
    classpath = build()
    result = run_jvm(args, classpath, fixture())
    if args.pin:
        pin(result)
    attempted, failed, bad = check(result)
    for b in bad:
        print(f"perfbench: FAILED {b}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(result)
        info = {}
    else:
        metrics, info = end_to_end(result)
    env = environment(load_before)
    env.update(java_version=result["java_version"], spark_version=result["spark_version"],
               cores=result["cores"])
    # other processes' CPU over the steady region: a polluted run shows here
    env["foreign_cpu_s"] = sum(p["box_cpu_s"] - p["cpu_s"]
                               for p in result["passes"] if p["pass"] >= 0)
    saved = dict(result, metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                 info=info, environment=env, attempted=attempted, failed=failed,
                 error_rate=failed / attempted, failures=bad)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(BUILD, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json")
    with open(path, "w") as fh:
        json.dump(saved, fh)
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={attempted} failed={failed} env={json.dumps(env)} info={json.dumps(info)} "
          f"result={os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
