#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload tracking|analytics|curation \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles `src/main/scala` and
the benchmark's own Scala sources with the Scala compiler shipped in the
Spark distribution (`$SPARK_HOME/jars`, else the one whose spark-submit is
on PATH) into
`.bench_build/`; later runs reuse that build while the sources are
unchanged. Each run gets a fresh state directory under `.bench_build/`
(warehouse, ANN index root, store root, Spark scratch), removed at exit.

The registry workloads read the sf0.1 tables (`$PERFBENCH_DATA`, else the
directory TESTDATA.md lists; 17 MB, read-only). Their delivered rows are checked
against DuckDB running `SparkEntry.oracleSql` over the same parquet (78
queries) and against the pinned schema and row count in
`rows_only_pins.json` (29 queries); DuckDB's time is in no metric.

The last stdout line is {"correct", "attempted", "failed", "metrics"};
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones and writes the span file under `.bench_build/perfbench/traces/`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import lib  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_home():
    """$SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


def sf01_dir():
    """$PERFBENCH_DATA, else the sf0.1 directory TESTDATA.md lists."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
        return m.group(1).rstrip("/") if m else ""
    except OSError:
        return ""


SPARK_HOME = spark_home()
DATA = sf01_dir()
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_HOME, "jars", "*.jar")))
    if not jars:
        fail(f"no Spark jars under {SPARK_HOME}/jars")
    return jars


def build():
    """Compile the engine and the benchmark; returns the classes dir."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no src/main/scala in the working directory; run from the repository root")
    sources += sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(sources)} Scala sources")
    t = time.monotonic()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", os.pathsep.join(jars)] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    log(f"compiled in {time.monotonic() - t:.1f}s")
    return out


def jvm(classes, main, args, run_dir, timeout_s):
    """Run one JVM main to completion (or kill it at the limit)."""
    cpus = min(4, os.cpu_count() or 1)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    env.pop("SPARK_GRAFT_AQE", None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                          os.path.join(SPARK_HOME, "jars", "*")])
    cmd = (["java", "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + ADD_OPENS + ["-cp", cp, main] + args)
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, env=env, cwd=run_dir,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            return None
        finally:  # also on SIGTERM or Ctrl-C: no JVM outlives this process
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def verify_registry(result, run_dir):
    """Oracle verdicts (name -> None or reason) for the cold answers."""
    import duckdb
    cache_path = os.path.join(WORK, "oracle-cache.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    # keyed by the tables, the canonical form and the SQL
    with open(lib.__file__, "rb") as f:
        canon_version = hashlib.sha256(f.read()).hexdigest()
    stamp = json.dumps([canon_version] + [(t, os.path.getsize(f"{DATA}/{t}.parquet"),
                        int(os.path.getmtime(f"{DATA}/{t}.parquet"))) for t in lib.TABLES])
    con = None
    verdicts = {}
    for name, sql in sorted(result["oracle_sql"].items()):
        dump = os.path.join(run_dir, "dumps", f"{name}.jsonl")
        if not os.path.exists(dump):
            verdicts[name] = "no answer: every execution failed"
            continue
        key = hashlib.sha256((stamp + sql).encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                con.execute("SET TimeZone='UTC'")
                for t in lib.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
            try:
                cache[key] = lib.oracle_key(con, sql)
            except Exception as e:  # an oracle that cannot run is a failed check
                verdicts[name] = f"oracle SQL error: {e}"
                continue
        cols = lib.schema_columns(result["queries"][name]["schema"])
        got = lib.answer_key(cols, lib.canon(cols, lib.read_dump(dump)))
        verdicts[name] = lib.compare_answers(got, cache[key])
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return verdicts


def self_test():
    r = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_lib"], cwd=HERE)
    if r.returncode != 0:
        sys.exit(r.returncode)
    classes = build()
    run_dir = os.path.join(WORK, f"selftest-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        rc = jvm(classes, "graft.PerfSelfTest", [], run_dir, 120)
        sys.stdout.write(tail(os.path.join(run_dir, "jvm.out"), 50))
        sys.stderr.write(tail(os.path.join(run_dir, "jvm.err"), 20))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(0 if rc == 0 else 1)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["tracking", "analytics", "curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
    if not a.workload:
        ap.error("--workload is required")
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("no BENCHMARK.json in the working directory")
    with open(bench_path) as f:
        bench = json.load(f)
    if a.workload != "tracking" and not os.path.exists(f"{DATA}/lineitem.parquet"):
        fail(f"no sf0.1 tables at {DATA!r} (set PERFBENCH_DATA)")

    classes = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    try:
        budget = RUN_LIMIT_S - (time.monotonic() - T0)
        rc = jvm(classes, "graft.PerfBench",
                 ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--out", run_dir, "--data", DATA],
                 run_dir, budget)
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            shutil.copy(os.path.join(run_dir, "jvm.err"), os.path.join(WORK, "last-failure.err"))
            sys.stderr.write(tail(os.path.join(run_dir, "jvm.err")))
            fail("the benchmark process " + ("timed out" if rc is None else f"exited with {rc}"), 1)
        with open(result_path) as f:
            result = json.load(f)
        report(a, bench, result, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, bench, result, run_dir):
    wrong = {}
    if result["kind"] == "registry":
        with open(os.path.join(HERE, "rows_only_pins.json")) as f:
            pins = json.load(f)
        wrong = lib.failed_queries(result, verify_registry(result, run_dir), pins)
        e2e, attempted, failed, samples = lib.registry_metrics(result, wrong)
    else:
        e2e, attempted, failed, samples = lib.tracking_metrics(result)
    tail = lib.tail_metrics(samples)
    for name, reason in sorted(wrong.items()):
        log(f"WRONG ANSWER {name}: {reason}")
    for e in result.get("execs", []) + result.get("reads", []) + result.get("flushes", []):
        if not e["ok"] and e.get("err"):
            log(f"FAILED {e.get('name', e.get('route', 'flush'))}: {e['err']}")
    for c in result.get("checks", []):
        if not c["ok"]:
            log(f"FAILED read-back {c['check']}: {c['err']}")
    if not lib.tail_ok(len(samples), lib.TAIL):
        log(f"only {len(samples)} timed samples: fewer than ten lie beyond the p70")
    log(f"tail: p70 {tail['tail.op_p70_ms']:.1f} ms over {len(samples)} timed operations")
    for note in result.get("notes", []):
        log(f"note: {note}")
    if result.get("artifact_builds_timed") or result.get("plan_builds_timed"):
        log(f"note: {result['artifact_builds_timed']} artifact and {result['plan_builds_timed']} "
            "plan builds inside the timed laps (expected 0)")
    log(f"host {result['host']}")

    if any(math.isnan(v) or math.isinf(v) for v in e2e.values()):
        fail(f"no successful operation to time: {e2e}", 1)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"end_to_end": e2e, "tail": tail, "extra": result.get("tracking", {}),
                   "host": result["host"]}, f)
    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        metrics, unobserved = lib.layer_metrics(result, names, samples)
        if unobserved:
            log(f"not observable on {a.workload} (reported as 0): {', '.join(unobserved)}")
        # the analytics modules' operator metrics: only the hand-run
        # analytics workload measures them, so BENCHMARK.json omits them
        for n, v in sorted(result.get("layers", {}).items()):
            if n not in metrics and v:
                log(f"  {n:42s} {v:14.4f} (not in BENCHMARK.json)")
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.spans.json")
        shutil.copy(os.path.join(run_dir, "spans.json"), spans)
        overhead = tracing_overhead(a, e2e)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.overhead.json"), "w") as f:
            json.dump(overhead, f)
        log(f"spans: {os.path.relpath(spans, ROOT)}")
        log(f"tracing overhead (traced - untraced): {json.dumps(overhead)}")
    else:
        metrics = e2e
    if "tracking" in result:
        log("tracking detail: " + json.dumps(result["tracking"]))
    for n, v in metrics.items():
        log(f"  {n:42s} {v:14.4f} {units[n]}")
    print(json.dumps({
        "correct": not wrong and all(c["ok"] for c in result.get("checks", []))
        and not any(e["wrong"] for e in result.get("reads", []) + result.get("execs", [])),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))


def tracing_overhead(a, traced):
    """Traced minus untraced end-to-end metrics, against the untraced run of
    the same workload and seed in this checkout (else the latest untraced
    run of the workload)."""
    d = os.path.join(WORK, "results")
    same = os.path.join(d, f"{a.workload}-seed{a.seed}-trace0.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(d, f"{a.workload}-seed*-trace0.json")), key=os.path.getmtime)
    if not cands:
        return {"note": "no untraced run of this workload in this checkout"}
    with open(cands[-1]) as f:
        base = json.load(f)["end_to_end"]
    return {"against": os.path.basename(cands[-1]),
            **{k: traced[k] - base[k] for k in traced if k in base}}


if __name__ == "__main__":
    main()
