"""Self-tests of the benchmark; no engine needed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import re
import sys
import types
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import oracle as O  # noqa: E402
import run as R  # noqa: E402
import runner  # noqa: E402
import workloads as W  # noqa: E402
from client import Result  # noqa: E402

SPEC = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
KEYS = W.Keys(list(range(1, 3000, 3)), list(range(1, 200)), list(range(25)))
TPCH = [(f"q{i}_x", f"SELECT {i} AS v") for i in range(1, 23)]


def result(sql, kind, rows, columns=(("v", "integer"),), start=0.0, end=1.0, qid="q"):
    r = Result(sql, kind)
    r.rows, r.columns, r.start, r.end, r.query_id = [list(x) for x in rows], list(columns), start, end, qid
    r.get_ms, r.submit_ms, r.queued_ms = [5.0, 6.0], 3.0, 1.0
    return r


def fake_run(workload, trace, results, con=None):
    """A Run in the state it has after its window, without an engine."""
    run = runner.Run.__new__(runner.Run)
    run.args = types.SimpleNamespace(workload=workload, seed=1, seconds=8.0, trace=trace)
    run.spec, run.workload, run.seconds, run.trace = SPEC, workload, 8.0, bool(trace)
    run.cores, run.results, run.failures, run.replays, run.jvm_spans = 4, results, [], [], []
    run.warm_results = []
    run.t_launch, run.t_first, run.t_end, run.setup_s, run.rss_mb = 0.0, 10.0, 20.0, 10.0, 900.0
    run.phases = {"session_s": 4.0, "register_s": 3.0, "partsupp_s": 2.0,
                  "server_start_s": 0.1, "warmup_s": 0.9}
    group = {"jobs": 2, "stages": 3, "tasks": 9, "cpu_ns": 10 ** 9, "run_ms": 900, "gc_ms": 5,
             "shuffle_read": 10, "shuffle_write": 10, "spill": 0, "input_rows": 100}
    # "" holds jobs outside any statement (set-up, warm-up tails)
    run.stats = {"groups": {"q": group, "": dict(group, cpu_ns=5 * 10 ** 9)},
                 "gc_ms": 12, "heap_peak_mb": 512.0, "cached_bytes": 1000}
    run.files_start = run.files_end = run.bytes_end = run.rows_inserted = 0
    run.tpch, run.llm, run.con = [], [], con
    run.llm_writes, run.llm_results = [], []
    if con is not None:
        run.oracle = O.Oracle(con)
    return run


class Names(unittest.TestCase):
    def test_every_name_and_unit_is_well_formed(self):
        names = [w["name"] for w in SPEC["workloads"]]
        names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)), "names are used once")
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT)

    def test_every_workload_is_runnable(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], R.WORKLOADS)


class Metrics(unittest.TestCase):
    def assemble(self, workload, trace):
        rs = [result("SELECT 1 AS v", "orders_by_key", [[1]], start=10.0 + i, end=10.5 + i)
              for i in range(12)]
        run = fake_run(workload, trace, rs)
        computed = run.end_to_end()
        if trace:
            computed.update(run.per_layer())
        return run.assemble(computed)

    def test_every_metric_is_printed_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                out = self.assemble(w["name"], trace)
                self.assertEqual(set(out), {m["name"] for m in SPEC[section]})
                for m in SPEC[section]:
                    self.assertEqual(out[m["name"]]["unit"], m["unit"])
                    self.assertIsInstance(out[m["name"]]["value"], (int, float))

    def test_engine_totals_cover_timed_statements_only(self):
        out = self.assemble("ingest_mixed", 1)
        self.assertAlmostEqual(out["engine.executor_cpu_s"]["value"], 1.0)

    def test_llm_metrics_are_the_timed_calls(self):
        rs = [result("SELECT 1 AS v", "orders_by_key", [[1]], start=10.0, end=10.5)]
        run = fake_run("ingest_mixed", 1, rs)
        timed = result(W.LLM_QUERIES[0], W.LLM_QUERIES[0], [], start=30.0, end=32.5)
        timed.extra = {"cpu_ns": 4 * 10 ** 9}
        run.llm_results = [timed]
        m = run.per_layer()
        self.assertAlmostEqual(m[f"llm.{W.LLM_QUERIES[0]}.wall_s"][0], 2.5)
        self.assertAlmostEqual(m[f"llm.{W.LLM_QUERIES[0]}.cpu_s"][0], 4.0)

    def test_trace_overhead_compares_a_kind_with_itself(self):
        def r(kind, lat, traced):
            x = result("", kind, [], start=0.0, end=lat)
            x.traced = traced
            return x
        # the traced side holds only the slow kind; tracing itself costs 10%
        rs = [r("slow", 2.2, True), r("slow", 2.0, False), r("fast", 0.1, False),
              r("fast", 0.11, True), r("fast", 0.1, False), r("alone", 5.0, True)]
        self.assertAlmostEqual(runner.trace_overhead(rs), 0.1)

    def test_tail_has_ten_samples_beyond(self):
        value, pct, beyond = runner.tail([float(i) for i in range(30)])
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        # the (n-10)/n quantile of 0..29 lies between the 20th and 21st values
        self.assertTrue(18.5 < value < 20.5, value)

    def test_harrell_davis_median(self):
        self.assertAlmostEqual(runner.hd_quantile([1.0, 2.0, 3.0], 0.5), 2.0)
        self.assertAlmostEqual(runner.hd_quantile([float(i) for i in range(101)], 0.5), 50.0)
        # one outlier barely moves it
        self.assertLess(runner.hd_quantile([1.0] * 20 + [100.0], 0.5), 1.1)


class Correctness(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT * FROM range(10) r(v)")

    def test_planted_wrong_answer_is_counted_as_failed(self):
        sql = "SELECT count(*)::INTEGER AS v FROM t"
        good = result(sql, "orders_by_key", [[10]])
        planted = result(sql, "orders_by_key", [[11]])
        run = fake_run("ingest_mixed", 0, [good, planted], self.con)
        run.check_statements()
        self.assertEqual(len(run.failures), 1)
        self.assertTrue(good.ok)
        self.assertFalse(planted.ok)

    def test_planted_wrong_llm_result_is_counted_as_failed(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            run = fake_run("ingest_mixed", 1, [], self.con)
            run.agent = types.SimpleNamespace(out_dir=Path(d))
            for name, sql in (("same", "SELECT 3 AS v"), ("planted", "SELECT 4 AS v"),
                              ("pipeline", "SELECT 1 AS v"), ("empty", "SELECT 1 AS v LIMIT 0")):
                (Path(d) / name).mkdir()
                self.con.execute(f"COPY ({sql}) TO '{d}/{name}/part-0.parquet' (FORMAT parquet)")
            run.llm = [dict(name="same", oracle="SELECT 3 AS v", own_bench=False),
                       dict(name="planted", oracle="SELECT 3 AS v", own_bench=False),
                       dict(name="pipeline", oracle="SELECT true AS ok", own_bench=True),
                       dict(name="empty", oracle="SELECT true AS ok", own_bench=True)]
            run.llm_writes = [result(q["name"], q["name"], []) for q in run.llm]
            run.check_llm()
        self.assertEqual([r.ok for r in run.llm_writes], [True, False, True, False])
        self.assertEqual(len(run.failures), 2)

    def test_cached_answer_is_the_computed_one(self):
        import tempfile
        sql = "SELECT v FROM t WHERE v < 3"
        with tempfile.TemporaryDirectory() as d:
            first = O.Oracle(self.con, Path(d)).expected(sql, persist=True)
            self.con.execute("DELETE FROM t")  # a second run must not recompute
            self.assertEqual(O.Oracle(self.con, Path(d)).expected(sql, persist=True), first)
        self.assertEqual(first, (["v"], ["0", "1", "2"]))

    def test_growing_read_must_see_a_committed_prefix(self):
        w1 = result("INSERT", "insert", [], start=0.0, end=1.0)
        w2 = result("INSERT", "insert", [], start=1.0, end=2.0)
        w1.extra, w2.extra = (4, 10.0), (3, 5.0)
        cols = (("n", "bigint"), ("qty", "double"))
        read = lambda rows, s, e: result("SELECT", "growing_read", rows, cols, s, e)
        self.assertTrue(runner.check_prefix(read([[4, 10.0]], 1.5, 1.8), [w1, w2]))
        self.assertTrue(runner.check_prefix(read([[7, 15.0]], 1.5, 2.5), [w1, w2]))
        # the second batch had not started before this read ended
        self.assertFalse(runner.check_prefix(read([[7, 15.0]], 0.5, 0.8), [w1, w2]))
        self.assertFalse(runner.check_prefix(read([[4, 11.0]], 1.5, 1.8), [w1, w2]))


class Seeds(unittest.TestCase):
    def sequence(self, workload, seed, client=1):
        return W.Stream(workload, seed, client, KEYS, TPCH).take(60)

    def test_same_seed_same_statements_other_seed_other_statements(self):
        for name in R.WORKLOADS:
            for client in (0, 1):
                a, b = self.sequence(name, 7, client), self.sequence(name, 8, client)
                self.assertEqual(a, self.sequence(name, 7, client))
                self.assertNotEqual(a, b)

    def test_tpch_passes_cover_all_22_texts(self):
        seq = self.sequence("tpch_analytic", 3)
        self.assertEqual(sorted(s[0] for s in seq[:22]), sorted(n for n, _ in TPCH))


if __name__ == "__main__":
    unittest.main()
