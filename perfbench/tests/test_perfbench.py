"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)

    def test_highest_reportable(self):
        self.assertEqual(stats.highest_reportable(1000), 0.99)
        self.assertEqual(stats.highest_reportable(100), 0.9)
        self.assertEqual(stats.highest_reportable(50), 0.75)
        self.assertIsNone(stats.highest_reportable(15))

    def test_median_is_not_restricted(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        # nearest rank picks a sample, never the midpoint of a gap
        self.assertEqual(stats.nearest_rank([1.0, 1.0, 5.0, 5.0], 0.5), 1.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 100.0},
            {"id": 2, "parent": 1, "start_ms": 10.0, "end_ms": 40.0},
            # overlaps its sibling: covered time counts once
            {"id": 3, "parent": 1, "start_ms": 30.0, "end_ms": 60.0},
            {"id": 4, "parent": 2, "start_ms": 15.0, "end_ms": 20.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 50.0)
        self.assertAlmostEqual(st[2], 25.0)
        self.assertAlmostEqual(st[3], 30.0)
        self.assertAlmostEqual(st[4], 5.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 2, "parent": 1, "start_ms": 5.0, "end_ms": 20.0}]
        self.assertAlmostEqual(stats.self_times(spans)[1], 5.0)

    def test_steal_frac(self):
        before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
        after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
        self.assertAlmostEqual(stats.steal_frac(before, after), 10 / 100)
        self.assertEqual(stats.steal_frac(None, after), 0.0)

    def test_idle_time(self):
        self.assertAlmostEqual(stats.idle_time(0, 100, [(10, 30), (20, 50), (90, 120)]), 50)


class Generators(unittest.TestCase):
    def test_same_seed_gives_byte_identical_csv(self):
        a, ea = gen.encounter_files(7, 3, 500, 0.05)
        b, eb = gen.encounter_files(7, 3, 500, 0.05)
        self.assertEqual(a, b)
        self.assertEqual(ea, eb)
        c, _ = gen.encounter_files(8, 3, 500, 0.05)
        self.assertNotEqual(a, c)

    def test_expected_routing_adds_up(self):
        files, e = gen.encounter_files(3, 2, 1000, 0.1)
        self.assertEqual(e["rows"], 2000)
        self.assertEqual(e["valid"] + e["unparseable"] + e["missing_required"], 2000)
        self.assertGreater(e["unparseable"], 0)
        self.assertGreater(e["missing_required"], 0)
        lines = b"".join(files).decode().splitlines()
        self.assertEqual(sum(1 for ln in lines if ln == gen.ENCOUNTER_HEADER), 2)

    def test_same_seed_gives_identical_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(os.path.join(d, "a"), 0.001, 5)
            gen.write_tables(os.path.join(d, "b"), 0.001, 5)
            for t in gen.TABLE_NAMES:
                with open(os.path.join(d, "a", f"{t}.parquet"), "rb") as fa, \
                        open(os.path.join(d, "b", f"{t}.parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)


def _op(i, kind, phase="timed", error=None, **kw):
    return dict(id=i, kind=kind, name=kind, phase=phase, error=error, traced=False,
                latency_s=None if error else 0.1, **kw)


class FailureAccounting(unittest.TestCase):
    def test_errors_and_mismatches_fail_and_keep_no_timing(self):
        ops = [_op(1, "query"), _op(2, "query", error="boom"), _op(3, "query")]
        attempted, failures, ok = stats.account(ops, lambda op: "wrong" if op["id"] == 3 else None)
        self.assertEqual(attempted, 3)
        self.assertEqual([op["id"] for op, _ in failures], [2, 3])
        self.assertEqual([op["id"] for op in ok], [1])

    def test_etl_checks(self):
        expect = {"rows": 10, "valid": 8, "unparseable": 1, "missing_required": 1,
                  "arrival_rows": 5}
        check = run.etl_check(expect)
        self.assertIsNone(check(_op(1, "ingest", rows=10, rows_back=10)))
        self.assertIsNotNone(check(_op(2, "ingest", rows=10, rows_back=9)))
        self.assertIsNone(check(_op(3, "quarantine", valid_back=8, rejects_unparseable=1,
                                    rejects_missing_required=1)))
        self.assertIsNotNone(check(_op(4, "quarantine", valid_back=9, rejects_unparseable=0,
                                       rejects_missing_required=1)))
        self.assertIsNone(check(_op(5, "arrival", landed=3, rows_seen=15, partitions_seen=3)))
        self.assertIsNotNone(check(_op(6, "arrival", landed=3, rows_seen=15, partitions_seen=1)))
        batch = dict(_op(7, "publish", landed=2, rows_seen=20, partitions_seen=2), name="encounters_batch")
        self.assertIsNone(check(batch))
        self.assertIsNotNone(check(dict(batch, rows_seen=0, partitions_seen=0)))

    def test_known_defect_fails_but_keeps_run_correct(self):
        check = run.etl_check({"rows": 10, "arrival_rows": 5})
        batch = dict(_op(2, "publish", landed=2, rows_seen=0, partitions_seen=0),
                     name="encounters_batch")
        ops = [_op(1, "arrival", landed=1, rows_seen=5, partitions_seen=1), batch,
               dict(_op(3, "publish", landed=1, rows_seen=5, partitions_seen=1), name="encounters")]
        attempted, failures, ok, correct = run.summarize(ops, check)
        self.assertEqual((attempted, len(failures), len(ok), correct), (3, 1, 2, True))

    def test_other_failures_of_the_defect_step_are_real(self):
        check = run.etl_check({"rows": 10, "arrival_rows": 5})
        batch = dict(_op(1, "publish", landed=2, rows_seen=0, partitions_seen=0),
                     name="encounters_batch")
        for wrong in (dict(batch, rows_seen=10, partitions_seen=1),   # a wrong non-zero count
                      dict(batch, rows_seen=20, partitions_seen=1),   # right rows, wrong partitions
                      dict(batch, error="boom", latency_s=None),      # an exception
                      dict(batch, name="encounters")):                # the streamed table
            attempted, failures, ok, correct = run.summarize([wrong], check)
            self.assertEqual((len(failures), correct), (1, False), wrong)


def _query(i, name, latency, cycle, error=None):
    return dict(_op(i, "query", error=error), name=name,
                latency_s=None if error else latency, cycle_s=cycle)


class QueryMetrics(unittest.TestCase):
    RUN = {"setup_rounds_s": [1.0, 2.0, 3.0], "warmup_s": 1.0, "retained_heap_mb": 80.0,
           "oracles": {"a": None, "b": None}}

    def metrics(self, ops, check=lambda op: None):
        _, _, ok, _ = run.summarize(ops, check)
        m = layers.end_to_end(dict(self.RUN, ops=ops), ok, "queries")
        return {k: v["value"] for k, v in m.items()}

    def test_per_query_medians(self):
        ops = [_query(1, "a", 1.0, 1.5), _query(2, "a", 1.0, 1.5), _query(3, "a", 9.0, 9.5),
               _query(4, "b", 4.0, 4.5), _query(5, "b", 4.0, 4.5), _query(6, "b", 4.0, 4.5)]
        m = self.metrics(ops)
        self.assertAlmostEqual(m["op_p50_s"], 2.0)   # sqrt(1 * 4)
        self.assertAlmostEqual(m["pass_s"], 6.0)     # 1.5 + 4.5
        self.assertAlmostEqual(m["setup_s"], 3.0)

    def test_failed_query_cycles_do_not_reach_pass_s(self):
        ops = [_query(1, "a", 1.0, 1.5), _query(2, "a", None, 0.01, error="boom"),
               _query(3, "a", None, 0.02, error="boom"), _query(4, "a", 1.0, 0.03),
               _query(5, "b", 4.0, 4.5)]
        wrong = lambda op: "differs" if op["id"] == 4 else None  # noqa: E731
        m = self.metrics(ops, wrong)
        self.assertAlmostEqual(m["pass_s"], 6.0)
        self.assertAlmostEqual(m["op_p50_s"], 2.0)

    def test_query_without_a_success_leaves_latency_unreported(self):
        ops = [_query(1, "a", 1.0, 1.5), _query(2, "b", None, 0.01, error="boom")]
        m = self.metrics(ops)
        self.assertNotIn("pass_s", m)
        self.assertNotIn("op_p50_s", m)
        self.assertIn("setup_s", m)


class EtlMetrics(unittest.TestCase):
    def test_backfill_pass_is_the_sum_of_step_medians_over_successes(self):
        def step(i, kind, lat, error=None):
            return dict(_op(i, kind, error=error), latency_s=None if error else lat, landed=1,
                        rows_seen=5, partitions_seen=1)
        ops = [step(1, "ingest", 1.0), step(2, "quarantine", 2.0),
               step(3, "ingest", 3.0), step(4, "quarantine", 0.01, error="boom"),
               step(5, "ingest", 1.0), step(6, "quarantine", 2.0),
               step(7, "arrival", 0.5), step(8, "arrival", 0.7), step(9, "arrival", 0.6)]
        _, failures, ok, _ = run.summarize(ops, lambda op: None)
        self.assertEqual(len(failures), 1)
        run_ = {"setup_rounds_s": [1.0], "warmup_s": 0.0, "retained_heap_mb": 1.0, "ops": ops}
        m = layers.end_to_end(run_, ok, "etl")
        self.assertAlmostEqual(m["pass_s"]["value"], 3.0)
        self.assertAlmostEqual(m["op_p50_s"]["value"], 0.6)


class Oracle(unittest.TestCase):
    def _dump(self, d, cols, rows):
        p = os.path.join(d, "r.jsonl")
        with open(p, "w") as f:
            f.write(json.dumps(cols) + "\n")
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return p

    def test_compare_normalises_like_check_oracle(self):
        import duckdb
        con = duckdb.connect()
        sql = ("SELECT 2 AS b, 1.5::DOUBLE AS a, TIMESTAMP '2024-01-01 00:00:01' AS t, "
               "[1.0::FLOAT, 2.5::FLOAT] AS v, 'NaN'::DOUBLE AS n")
        with tempfile.TemporaryDirectory() as d:
            cols = [["a", "double"], ["b", "int"], ["t", "timestamp"], ["v", "array<float>"],
                    ["n", "double"]]
            good = self._dump(d, cols, [[1.5, 2, {"$ts": 1704067201000000}, [1.0, 2.5], "NaN"]])
            self.assertIsNone(oracle.compare(good, con, sql))
            bad = self._dump(d, cols, [[1.5, 3, {"$ts": 1704067201000000}, [1.0, 2.5], "NaN"]])
            self.assertIn("row 0 differs", oracle.compare(bad, con, sql))
            typed = self._dump(d, [["a", "double"], ["b", "double"], ["t", "timestamp"],
                                   ["v", "array<float>"], ["n", "double"]],
                               [[1.5, 2.0, {"$ts": 1704067201000000}, [1.0, 2.5], "NaN"]])
            self.assertIn("declared types", oracle.compare(typed, con, sql))


class Declaration(unittest.TestCase):
    def test_benchmark_json_matches_the_metric_lists(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         layers.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [(n, u, bt) for n, u, bt, _ in layers.PER_LAYER])
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
