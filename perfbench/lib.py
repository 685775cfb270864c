"""Pure helpers of the benchmark front end: percentiles, answer
canonicalisation, the DuckDB oracle check and metric assembly.

Nothing here starts a process or touches the network; `run.py` does the
orchestration and `test_lib.py` covers these functions.
"""
import datetime as dt
import hashlib
import json
import math
import statistics
from decimal import Decimal

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)
# the reported tail: a run holds one lap of 64 queries or 40 reads, and
# p70 keeps ten samples beyond it at both counts
TAIL = 0.70


def tail_metrics(samples):
    """The timed operations' tail and its sample count (per-layer: the
    tracking tail is too unsteady between runs to carry a bound)."""
    return {"tail.op_p70_ms": pct(samples, TAIL) if samples else 0.0,
            "tail.op_samples": float(len(samples))}


# ---- statistics ---------------------------------------------------------

def pct(values, p):
    """Nearest-rank percentile, p in (0, 1]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - math.ceil(p * n)


def tail_ok(n, p):
    """The reporting rule: a percentile is reported only when at least ten
    samples lie beyond it."""
    return beyond(n, p) >= 10


# ---- answers ------------------------------------------------------------

def decode_cell(d):
    """json object_hook for the JVM's tagged cells."""
    if "$ts" in d:
        return EPOCH + dt.timedelta(microseconds=d["$ts"])
    if "$date" in d:
        return dt.date.fromisoformat(d["$date"])
    if "$dec" in d:
        return Decimal(d["$dec"])
    if "$bin" in d:
        return bytes.fromhex(d["$bin"])
    if "$map" in d:
        return {tuple(k) if isinstance(k, list) else k: v for k, v in d["$map"]}
    return d


def canon_value(v):
    """One value as tools/local_verify.py's `canon` renders it: floats
    rounded to nine places and nine significant digits, NaN spelled out,
    everything else by str(). As in the pandas frames local_verify reads,
    decimals compare as floats and dates as midnight timestamps;
    timestamps compare as naive UTC."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else f"{round(f, 9):.9g}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, dt.date):  # pandas carries dates as midnight timestamps
        return str(dt.datetime.combine(v, dt.time()))
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{canon_value(k)}: {canon_value(x)}"
                               for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def canon(columns, rows):
    """Rows with columns sorted by name, each row one '|'-joined string."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ["|".join(canon_value(r[i]) for i in order) for r in rows]


def answer_key(columns, lines):
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(lines), "sha256": h}


def read_dump(path):
    with open(path) as f:
        return [json.loads(line, object_hook=decode_cell) for line in f]


def schema_columns(schema):
    """Column names of a `name:type,...` schema string."""
    return [c.split(":", 1)[0] for c in schema.split(",")] if schema else []


def compare_answers(spark_key, oracle_key):
    """None when the answers agree, else a one-line reason."""
    if spark_key["columns"] != oracle_key["columns"]:
        return f"columns {spark_key['columns']} != oracle {oracle_key['columns']}"
    if spark_key["rows"] != oracle_key["rows"]:
        return f"{spark_key['rows']} rows != oracle {oracle_key['rows']}"
    if spark_key["sha256"] != oracle_key["sha256"]:
        return "row values differ from the oracle"
    return None


def oracle_key(con, sql):
    cur = con.execute(sql)
    columns = [d[0] for d in cur.description]
    return answer_key(columns, canon(columns, cur.fetchall()))


# ---- metrics ------------------------------------------------------------

def failed_queries(result, oracle_verdicts, pins):
    """Queries whose answer is wrong: an oracle mismatch, or a rows-only
    query off its pinned schema and row count. Returns name -> reason."""
    bad = {}
    for name, meta in result["queries"].items():
        if meta["oracle"]:
            reason = oracle_verdicts.get(name, "no answer to check")
            if reason:
                bad[name] = reason
        else:
            pin = pins.get(name)
            rows = [e["rows"] for e in result["execs"] if e["name"] == name and e["ok"]]
            if pin is None:
                bad[name] = "no pin"
            elif meta["schema"] != pin["schema"]:
                bad[name] = f"schema {meta['schema']} != pinned {pin['schema']}"
            elif rows and rows[0] != pin["rows"]:
                bad[name] = f"{rows[0]} rows != pinned {pin['rows']}"
    return bad


def registry_metrics(result, wrong):
    """End-to-end metrics of a registry workload. An execution of a query
    with a wrong answer counts as failed and leaves every timing."""
    execs = [dict(e, ok=e["ok"] and e["name"] not in wrong) for e in result["execs"]]
    attempted = len(execs)
    failed = sum(1 for e in execs if not e["ok"])
    seq = [e["ms"] for e in execs if e["phase"] == "seq" and e["ok"]]
    failed_laps = {e["lap"] for e in execs if e["phase"] == "seq" and not e["ok"]}
    # a lap holding a failure is no lap time, unless no lap was clean
    laps = ([l["wall_s"] for l in result["seq_laps"] if l["lap"] not in failed_laps]
            or [l["wall_s"] for l in result["seq_laps"]])
    metrics = {
        "setup_s": result["setup_s"],
        "op_p50_ms": pct(seq, 0.5) if seq else float("nan"),
        "ops_per_s": len(seq) / result["seq_wall_s"],
        "pass_s": statistics.median(laps) if laps else float("nan"),
        "heap_live_mb": result["heap_live_mb"],
        "ok_rate": (attempted - failed) / attempted,
    }
    return metrics, attempted, failed, seq


def tracking_metrics(result):
    reads = result["reads"]
    ops = ([r["ok"] for r in reads] + [f["ok"] for f in result["flushes"]]
           + [result["compact"]["ok"]] + [c["ok"] for c in result["checks"]])
    attempted = len(ops)
    failed = sum(1 for ok in ops if not ok)
    ok_ms = [r["ms"] for r in reads if r["ok"]]
    passes = ([p["wall_s"] for p in result["passes"] if p["ok"]]
              or [p["wall_s"] for p in result["passes"]])
    metrics = {
        "setup_s": result["setup_s"],
        "op_p50_ms": pct(ok_ms, 0.5) if ok_ms else float("nan"),
        "ops_per_s": len(ok_ms) / result["window_s"],
        "pass_s": statistics.median(passes) if passes else float("nan"),
        "heap_live_mb": result["heap_live_mb"],
        "ok_rate": (attempted - failed) / attempted,
    }
    return metrics, attempted, failed, ok_ms


def layer_metrics(result, names, samples):
    """Every per-layer metric named in BENCHMARK.json; one the workload
    cannot observe reads 0 and gets a reason."""
    layers = dict(result.get("layers", {}))
    layers.update(tail_metrics(samples))
    layers.update({
        "api." + k: v for k, v in result.get("tracking", {}).items()
        if k in ("ingest_rows_per_s", "compact_s", "store_bytes_per_row")})
    if "tracking" in result:
        layers["streaming.live_lag_ms"] = result["tracking"]["live_lag_ms"]
    out, unobserved = {}, []
    for n in names:
        v = layers.get(n)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            out[n] = 0.0
            unobserved.append(n)
        else:
            out[n] = float(v)
    return out, unobserved

