#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload events-batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine's main
sources together with the benchmark's Scala program (perfbench/build.sbt)
into `.bench_build/`; later runs reuse that build while the sources are
unchanged. Each run then

  1. generates the workload's input tables from --seed (gen.py), three
     times, keeping the median generation time as part of set-up;
  2. starts one JVM (perfbench.Main) that drives the engine through its
     public entry points for --seconds of measured work and writes the
     outputs to check;
  3. checks the outputs: batch and served queries against DuckDB over
     the generated files (`SparkEntry.oracleSql`, the `tools/check.py`
     compare rule); streaming results were checked inside the JVM
     against each operator's batch form;
  4. prints one JSON object as its last line of output: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

Everything a run writes stays under `.bench_work/` (removed at the end)
and, for traced runs, the span sidecar under `.bench_trace/`.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
RUN_LIMIT_S = 170          # a run must end well inside 180 s
BUILD_LIMIT_S = 850
GEN_REPEATS = 3
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    opt for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(str(ROOT / "src/main/scala/**/*.scala"),
                             recursive=True))
    files += sorted(glob.glob(str(HERE / "src/**/*.scala"), recursive=True))
    files += [str(HERE / "build.sbt"), str(HERE / "project/build.properties")]
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine plus perfbench.Main; returns the classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    want = source_stamp()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text()
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = str(Path(shutil.which("spark-submit")).resolve()
                         .parent.parent)
    if not spark_home:
        fail("no Spark installation found (set SPARK_HOME)")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(tmp),
               SPARK_HOME=spark_home)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True,
                           text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(want)
    return lines[-1].strip()


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1))]


def typical_median(lat, shapes):
    """Median latency. When the samples come from a mix of query shapes
    (store-serving), the median is taken per shape and the shapes are
    combined by geometric mean: a pooled median of a few samples from
    shapes hundreds of ms apart jumps between shapes from run to run."""
    if not shapes:
        return statistics.median(lat)
    by_shape = {}
    for x, q in zip(lat, shapes):
        by_shape.setdefault(q, []).append(x)
    return statistics.geometric_mean(
        statistics.median(xs) for xs in by_shape.values())


def load_check_rule():
    spec = importlib.util.spec_from_file_location("check",
                                                  ROOT / "tools/check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_check(data, out, checks):
    """tools/check.py's rule: columns sorted by name, exact multiset of
    row reprs. Returns the names that did not match."""
    import duckdb
    import pandas as pd
    rule = load_check_rule()
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        if (data / f"{t}.parquet").exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data / t}.parquet'")
    bad = []
    for name, sql in sorted(checks.items()):
        files = glob.glob(f"{out}/{name}/*.parquet")
        got = (pd.concat([pd.read_parquet(f) for f in files])
               if files else pd.DataFrame())
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle error is a failed check
            print(f"[perfbench] {name}: oracle error {e}", file=sys.stderr)
            bad.append(name)
            continue
        g, e = rule.norm(got), rule.norm(exp)
        if list(g.columns) != list(e.columns) or rule.key(g) != rule.key(e):
            bad.append(name)
    return bad


def run_jvm(classpath, args, work, deadline):
    log = open(work / "jvm.log", "w")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}",
                                  "-cp", classpath, "perfbench.Main"]
           + [str(a) for a in args] + [str(int(time.time() * 1000))])
    env = dict(os.environ, TMPDIR=str(work / "tmp"))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         cwd=work)
    try:
        code = p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        code = "timeout"
    log.close()
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        fail(f"benchmark JVM failed ({code})")
    return json.loads((work / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "src/main/scala/graft/SparkEntry.scala").exists() or \
            not (ROOT / "tools/check.py").exists() or not spec_file.exists():
        fail("run from the root of a full checkout (engine sources missing)")
    spec = json.loads(spec_file.read_text())
    classpath = build()

    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = work / "data"
    data.mkdir()
    try:
        gen_s = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            shape = gen.generate(a.workload, a.seed, str(data))
            gen_s.append(time.perf_counter() - t0)
        t_jvm = time.perf_counter()
        r = run_jvm(classpath, [a.workload, data, work, a.seconds, a.trace,
                                a.seed], work, t_start + RUN_LIMIT_S - 15)
        t_check = time.perf_counter()
        bad = duckdb_check(data, work / "out", r["checks"]) \
            if r["checks"] else []
        walls = {"gen_s": sum(gen_s), "jvm_s": t_check - t_jvm,
                 "check_s": time.perf_counter() - t_check}
        if a.trace:
            trace_dir = ROOT / ".bench_trace"
            trace_dir.mkdir(exist_ok=True)
            side = trace_dir / f"{a.workload}-seed{a.seed}.spans.jsonl"
            if (work / "spans.jsonl").exists():
                shutil.copyfile(work / "spans.jsonl", side)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass

    lat = r["latencies_ms"]
    if not lat:
        fail("no latency samples")
    tail = r["tail_pct"]
    e2e = {
        "setup_s": statistics.median(gen_s) + r["jvm_setup_s"],
        "cold_s": r["cold_s"],
        "peak_rss_mb": r["peak_rss_mb"],
        "throughput_per_s": r["throughput_per_s"],
        "p50_ms": typical_median(lat, r["latency_shapes"]),
        "tail_ms": percentile(lat, tail),
    }
    failed = r["failed"] + len(bad)
    attempted = r["attempted"] + len(r["checks"])
    info = {"workload": a.workload, "seed": a.seed, "shape": shape,
            "latency_samples": len(lat), "tail_pct": tail,
            "shape_p50_ms": {q: statistics.median(
                [x for x, s in zip(lat, r["latency_shapes"]) if s == q])
                for q in sorted(set(r["latency_shapes"]))},
            "samples_beyond_tail": sum(1 for x in lat if x > e2e["tail_ms"]),
            "error_rate": failed / attempted,
            "mismatches": r["mismatches"] + bad, **walls, **r["info"]}
    if a.trace:
        layers = dict(r["layers"])
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        names = spec["per_layer"]
        # layers this workload measures beyond the declared ones (the
        # events-batch per-query times) ride on the info line
        declared = {m["name"] for m in names}
        info["layers"] = {k: v for k, v in layers.items()
                          if k not in declared}
    else:
        layers = e2e
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": layers.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in names}
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
