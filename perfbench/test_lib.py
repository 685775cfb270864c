"""Self-tests of the benchmark's own rules (run: python3 perfbench/run.py --self-test)."""
import datetime as dt
import json
import os
import re
import unittest
from decimal import Decimal

import lib

HERE = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_names(bench):
    """Problems with the metric and workload names of a BENCHMARK.json."""
    problems = []
    seen = set()
    for section in ("workloads", "end_to_end", "per_layer"):
        for m in bench[section]:
            if not NAME_RE.match(m["name"]):
                problems.append(f"bad name {m['name']!r}")
            if m["name"] in seen:
                problems.append(f"duplicate name {m['name']!r}")
            seen.add(m["name"])
            if "unit" in m and not UNIT_RE.match(m["unit"]):
                problems.append(f"bad unit {m['unit']!r}")
    return problems


def registry_result(execs, queries):
    return {"kind": "registry", "setup_s": 1.0, "heap_live_mb": 10.0, "seq_wall_s": 2.0,
            "seq_laps": [{"lap": 1, "wall_s": 3.0, "ok": True}],
            "execs": execs, "queries": queries}


def ex(name, phase, ms, ok=True, lap=1, rows=1):
    return {"name": name, "phase": phase, "lap": lap, "ok": ok, "wrong": False,
            "ms": ms if ok else None, "rows": rows if ok else 0, "err": "" if ok else "boom"}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(lib.pct(xs, 0.5), 50)
        self.assertEqual(lib.pct(xs, 0.75), 75)
        self.assertEqual(lib.pct(xs, 0.9), 90)
        self.assertEqual(lib.pct([7.0], 0.75), 7.0)

    def test_ten_beyond_the_reported_tail(self):
        # the tail is reported only with ten or more samples beyond it:
        # one lap of 64 queries and the 40 reads of a tracking run qualify
        self.assertFalse(lib.tail_ok(39, 0.75))
        self.assertTrue(lib.tail_ok(40, 0.75))
        self.assertTrue(lib.tail_ok(34, lib.TAIL))
        self.assertFalse(lib.tail_ok(33, lib.TAIL))
        self.assertTrue(lib.tail_ok(40, lib.TAIL))
        self.assertTrue(lib.tail_ok(64, lib.TAIL))
        for n in range(1, 300):
            xs = list(range(n))
            if lib.tail_ok(n, lib.TAIL):
                self.assertGreaterEqual(sum(1 for x in xs if x > lib.pct(xs, lib.TAIL)), 10)


class FailureAccounting(unittest.TestCase):
    def test_a_throwing_query_is_failed_and_absent_from_timings(self):
        execs = [ex("q_a", "seq", 10.0), ex("q_b", "seq", 20.0),
                 ex("q_c", "seq", None, ok=False), ex("q_a", "cold", 5.0)]
        queries = {q: {"module": "M", "oracle": False, "schema": "x:int"} for q in ("q_a", "q_b", "q_c")}
        m, attempted, failed, samples = lib.registry_metrics(registry_result(execs, queries), {})
        self.assertEqual((attempted, failed, samples), (4, 1, [10.0, 20.0]))
        self.assertEqual(m["op_p50_ms"], 10.0)
        self.assertEqual(lib.tail_metrics(samples)["tail.op_p70_ms"], 20.0)
        self.assertEqual(m["ops_per_s"], 1.0)  # two successes in the 2 s of laps
        self.assertAlmostEqual(m["ok_rate"], 0.75)
        # the lap holding the failure gives a lap time only when no lap was clean
        self.assertEqual(m["pass_s"], 3.0)
        res = registry_result(execs + [ex("q_a", "seq", 9.0, lap=2)], queries)
        res["seq_laps"].append({"lap": 2, "wall_s": 4.0, "ok": True})
        self.assertEqual(lib.registry_metrics(res, {})[0]["pass_s"], 4.0)

    def test_an_oracle_mismatch_fails_every_execution_of_the_query(self):
        execs = [ex("q_a", "cold", 50.0), ex("q_a", "seq", 1.0), ex("q_b", "seq", 30.0),
                 ex("q_a", "seq", 1.0, lap=2)]
        queries = {"q_a": {"module": "M", "oracle": True, "schema": "x:int"},
                   "q_b": {"module": "M", "oracle": True, "schema": "x:int"}}
        good = lib.answer_key(["x"], lib.canon(["x"], [(1,)]))
        bad = lib.answer_key(["x"], lib.canon(["x"], [(2,)]))
        verdicts = {"q_a": lib.compare_answers(bad, good), "q_b": lib.compare_answers(good, good)}
        self.assertEqual(verdicts["q_b"], None)
        wrong = lib.failed_queries(registry_result(execs, queries), verdicts, {})
        self.assertEqual(list(wrong), ["q_a"])
        m, attempted, failed, samples = lib.registry_metrics(registry_result(execs, queries), wrong)
        self.assertEqual((attempted, failed, samples), (4, 3, [30.0]))
        self.assertEqual(m["op_p50_ms"], 30.0)  # the wrong answer's fast time is gone

    def test_rows_only_pins(self):
        queries = {"q_r": {"module": "M", "oracle": False, "schema": "x:int"}}
        execs = [ex("q_r", "cold", 1.0, rows=5)]
        res = registry_result(execs, queries)
        self.assertEqual(lib.failed_queries(res, {}, {"q_r": {"schema": "x:int", "rows": 5}}), {})
        self.assertIn("rows", lib.failed_queries(res, {}, {"q_r": {"schema": "x:int", "rows": 6}})["q_r"])
        self.assertIn("schema", lib.failed_queries(res, {}, {"q_r": {"schema": "y:int", "rows": 5}})["q_r"])


class Canonical(unittest.TestCase):
    def test_jvm_cells_decode_to_duckdb_values(self):
        line = ('[1,0.30000000000000004,NaN,null,{"$ts":1704067200500000},'
                '{"$date":"2024-01-30"},{"$dec":"12.50"},"a|b",[1.0,2.5]]')
        got = lib.canon([f"c{i}" for i in range(9)], [json.loads(line, object_hook=lib.decode_cell)])
        duck = lib.canon([f"c{i}" for i in range(9)], [(
            1, 0.3, float("nan"), None, dt.datetime(2024, 1, 1, 0, 0, 0, 500000),
            dt.date(2024, 1, 30), 12.5, "a|b", [1.0, 2.5])])
        self.assertEqual(got, duck)

    def test_columns_compare_sorted_by_name(self):
        self.assertEqual(lib.canon(["b", "a"], [(1, 2)]), lib.canon(["a", "b"], [(2, 1)]))

    def test_aware_timestamps_compare_as_utc(self):
        aware = dt.datetime(2024, 1, 1, 1, 0, tzinfo=dt.timezone(dt.timedelta(hours=1)))
        self.assertEqual(lib.canon_value(aware), lib.canon_value(dt.datetime(2024, 1, 1)))
        self.assertEqual(lib.canon_value(Decimal("0.1")), lib.canon_value(0.1))

    def test_a_date_equals_its_midnight_timestamp(self):
        # DuckDB's date_trunc('day', ts) is a DATE where Spark's is a TIMESTAMP
        self.assertEqual(lib.canon_value(dt.date(2024, 1, 5)),
                         lib.canon_value(dt.datetime(2024, 1, 5)))
        self.assertNotEqual(lib.canon_value(dt.date(2024, 1, 5)),
                            lib.canon_value(dt.datetime(2024, 1, 5, 0, 0, 1)))


class Names(unittest.TestCase):
    def test_benchmark_json_names_and_units(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(check_names(bench), [])
        self.assertEqual(set(bench), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertIn("setup_s", [m["name"] for m in bench["end_to_end"]])
        for m in bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_charset_is_enforced(self):
        bad = {"workloads": [{"name": "ok-1"}],
               "end_to_end": [{"name": "lat ms", "unit": "ms"}, {"name": "a.b_c-d", "unit": "m s"}],
               "per_layer": [{"name": "ok-1", "unit": "count"}]}
        problems = check_names(bad)
        self.assertIn("bad name 'lat ms'", problems)
        self.assertIn("bad unit 'm s'", problems)
        self.assertIn("duplicate name 'ok-1'", problems)

    def test_layer_metrics_cover_every_name(self):
        names = ["spark.jobs", "api.compact_s", "streaming.live_lag_ms", "sources.index_mb"]
        res = {"layers": {"spark.jobs": 3.0, "sources.index_mb": float("nan")},
               "tracking": {"compact_s": 2.0, "live_lag_ms": 400.0}}
        out, unobserved = lib.layer_metrics(res, names + ["tail.op_p70_ms"], [5.0])
        self.assertEqual(list(out), names + ["tail.op_p70_ms"])
        self.assertEqual(out["tail.op_p70_ms"], 5.0)
        self.assertEqual(out["api.compact_s"], 2.0)
        self.assertEqual(unobserved, ["sources.index_mb"])


if __name__ == "__main__":
    unittest.main()
