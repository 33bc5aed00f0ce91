#!/usr/bin/env python3
"""graft benchmark: one workload per run, in one JVM at local[cores].

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds graft and the harness
from source with sbt (into .bench_build/ and target/); later runs reuse the
build while the sources are unchanged. Each run gets a private, empty
scratch root (.bench_run/) for java.io.tmpdir, the graft.ann.cache.dir
index cache, the Spark warehouse and spark.local.dir, and removes it at
the end. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1). The
line before it ("report") prints every end-to-end metric by name.

Other modes:
    --all          every workload in turn, untraced, then their reports
    --selftest     planted-failure accounting and scratch-root isolation
    --pin          print the row counts of the current code, to pin them
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(ROOT, ".bench_run")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850

# the units of the metrics reported beside the contract's
REPORT_UNITS = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "query_geomean_s": "s", "ops_failed_ratio": "ratio",
    "eppa_frames_per_s": "1/s", "peak_rss_mb": "MB",
}


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_files():
    """Everything the build reads: graft's sources and build, the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources match the last build's stamp.
    Returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not here; "
             "run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.isfile(cp_file):
        fail(f"build failed (sbt exit {p.returncode})")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def jvm_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in pkgs]


def make_scratch():
    """The run's private scratch root: refuse to start unless it is empty."""
    if os.path.exists(SCRATCH) and os.listdir(SCRATCH):
        fail(f"scratch root {SCRATCH} is not empty (left by another run?); "
             "remove it to run", code=4)
    for sub in ("tmp", "cache", "warehouse", "local"):
        os.makedirs(os.path.join(SCRATCH, sub), exist_ok=True)


def make_inputs(workload, seed):
    """Generate the workload's inputs three times, each into a fresh
    directory; the last one is kept as <scratch>/data. Returns the median
    generation time."""
    sys.path.insert(0, HERE)
    import inputs
    times, data = [], os.path.join(SCRATCH, "data")
    for _ in range(3):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "eppa_season":
            inputs.season(data, seed)
        else:
            inputs.tables(data)
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def run_jvm(cp, workload, seed, seconds, trace, queries, extra=()):
    wl = load_json("workloads.json")[workload]
    trace_out = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")
    make_scratch()
    proc = None
    try:
        inputs_s = make_inputs(workload, seed)
        # a fixed young generation, so the heap's footprint does not depend
        # on when the collector chose to grow it
        cmd = (["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:+UseParallelGC",
                "-XX:-UsePerfData"] + jvm_opens() + [
            f"-Djava.io.tmpdir={SCRATCH}/tmp",
            f"-Dgraft.ann.cache.dir={SCRATCH}/cache",
            f"-Dspark.local.dir={SCRATCH}/local",
            f"-Dspark.sql.warehouse.dir={SCRATCH}/warehouse",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--root", SCRATCH,
            "--trace-out", trace_out, "--inputs-s", repr(inputs_s),
            "--queries", ",".join(queries if queries is not None else wl["queries"]),
            "--pinned", os.path.join(HERE, "pinned.txt")] + list(extra))
        env = {k: v for k, v in os.environ.items() if k != "GRAFT_ANN_CACHE_DIR"}
        proc = subprocess.Popen(cmd, cwd=SCRATCH, env=env, stdout=subprocess.PIPE,
                                stderr=sys.stderr, stdin=subprocess.DEVNULL,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload}: the JVM ran past {JVM_TIMEOUT_S} s", code=5)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(SCRATCH, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"{workload}: the JVM exited with {proc.returncode}", code=6)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    return json.loads(lines[-1])


def contract_result(res, trace):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    metrics, correct = {}, bool(res["correct"])
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None and m["name"].startswith("lifecycle.leg."):
            v = 0.0  # a leg this workload does not run
        if v is None:
            print(f"[perfbench] metric {m['name']} not measured", file=sys.stderr)
            correct, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def report(workload, res):
    m = res["metrics"]
    rows = {k: {"value": m.get(k), "unit": u} for k, u in REPORT_UNITS.items()}
    rows["query_p90_s"]["samples"] = m.get("query_samples")
    rows["query_p50_s"]["samples"] = m.get("query_samples")
    return "report " + json.dumps({"workload": workload, "correct": res["correct"],
                                   "metrics": rows})


def selftest(cp):
    """A throwing query and a miscounting one are failures, are not timed,
    and two back-to-back runs each start from an empty scratch root."""
    for i in range(2):
        if os.path.exists(SCRATCH):
            fail(f"selftest: scratch root present before run {i}", code=7)
        res = run_jvm(cp, "sql_ingest", 1, 0, False,
                      ["q6_forecast_revenue", "q1_pricing_summary"], ["--plant-failures", "1"])
        m = res["metrics"]
        checks = {
            "both planted queries failed": res["failed"] == 2,
            "four executions attempted": res["attempted"] == 4,
            "only the two good executions were timed": m["query_samples"] == 2,
            "failures are booked in ops_failed_ratio": m["ops_failed_ratio"] == 0.5,
            "the run is marked incorrect": res["correct"] is False,
            "scratch root removed": not os.path.exists(SCRATCH),
        }
        for k, ok in checks.items():
            print(f"[selftest run {i}] {'ok  ' if ok else 'FAIL'} {k}", file=sys.stderr)
        if not all(checks.values()):
            fail("selftest failed", code=7)
    print("selftest ok")


def main():
    # on SIGTERM, unwind so that the JVM is stopped and the scratch root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    workloads = load_json("workloads.json")
    if not (a.all or a.selftest or a.pin) and a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {sorted(workloads)}")
    cp = build()
    if a.selftest:
        return selftest(cp)
    if a.pin:
        for w in workloads:
            res = run_jvm(cp, w, a.seed, 0, False, None, ["--pin", "1"])
            for k, v in sorted(res["metrics"]["observed"].items()):
                print(f"{k} {v}")
        return
    if a.all:
        reports = [report(w, run_jvm(cp, w, a.seed, a.seconds, False, None)) for w in workloads]
        print("\n".join(reports))
        return
    res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), None)
    print(report(a.workload, res))
    print(json.dumps(contract_result(res, bool(a.trace))))


if __name__ == "__main__":
    main()
