"""Tests of the benchmark's own parts; no Spark session is started.

Run from the root of a checkout::

    python3 -m pytest perfbench -q

``testdata/`` holds an uncompressed rolling event log recorded on Spark
4.1.2 (``local[2]``) and the benchmark-side windows of its four calls:
``count`` and ``shuffle`` (two jobs each, tagged ``bench:demo:<call>``),
``driver_only`` (a 0.3 s sleep, no job) and ``threaded`` (three jobs
submitted from another thread, so untagged). Bulky events and
accumulables were stripped; the log is split in two rolled parts.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import ledger  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog")


def _calls():
    with open(os.path.join(HERE, "testdata", "calls.json")) as fh:
        return [ledger.Call(c["name"], c["start"], c["end"])
                for c in json.load(fh)]


class LedgerTest(unittest.TestCase):
    def setUp(self):
        self.jobs, self.stages = ledger.read_log(LOG)
        self.calls = _calls()
        self.spare = ledger.attribute(self.jobs, self.calls)
        self.rows = {c.name: ledger.call_costs(c, self.stages)
                     for c in self.calls}

    def test_reads_both_rolled_parts(self):
        self.assertEqual(sorted(self.jobs), list(range(7)))
        self.assertTrue(all(j.end_ms for j in self.jobs.values()))
        # stages 1 and 4 were skipped (shuffle reuse): no task ran
        self.assertEqual(sorted(self.stages), [0, 2, 3, 5, 6, 8, 11])

    def test_stage_job_description_mapping(self):
        got = {c.name: [j.job_id for j in c.jobs] for c in self.calls}
        self.assertEqual(got, {"count": [0, 1], "shuffle": [2, 3],
                               "driver_only": [], "threaded": [4, 5, 6]})
        self.assertEqual(self.spare, [])
        self.assertEqual(self.jobs[0].description, "bench:demo:count")
        self.assertIsNone(self.jobs[4].description)

    def test_task_metrics_per_call(self):
        count = self.rows["count"]
        self.assertEqual(count["tasks"], 3)
        self.assertEqual(count["first_stage_tasks"], 2)
        self.assertAlmostEqual(count["exec_run_s"], 0.325)
        self.assertAlmostEqual(count["exec_cpu_s"], 0.233022809)
        self.assertAlmostEqual(count["shuffle_write_mb"], 118 / 2**20)
        self.assertEqual(self.rows["shuffle"]["tasks"], 3)
        self.assertEqual(self.rows["threaded"]["tasks"], 4)

    def test_driver_time_is_wall_minus_job_union(self):
        count = self.rows["count"]
        busy = (211.984 - 211.483) + (212.268 - 212.103)
        self.assertAlmostEqual(count["driver_s"], count["wall_s"] - busy,
                               places=6)
        threaded = self.rows["threaded"]
        busy = (214.398 - 214.291) + (214.552 - 214.481) \
            + (214.654 - 214.601)
        self.assertAlmostEqual(threaded["driver_s"],
                               threaded["wall_s"] - busy, places=6)
        sleep = self.rows["driver_only"]
        self.assertEqual(sleep["jobs"], 0)
        self.assertEqual(sleep["driver_s"], sleep["wall_s"])

    def test_tag_naming_another_call_is_not_attributed(self):
        for c in self.calls:
            c.jobs.clear()
            if c.name == "shuffle":
                c.name = "renamed"
        spare = ledger.attribute(self.jobs, self.calls)
        self.assertEqual([j.job_id for j in spare], [2, 3])

    def test_union_length(self):
        self.assertEqual(ledger.union_length([]), 0.0)
        self.assertEqual(ledger.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(ledger.union_length([(0, 4), (1, 2)]), 4)

    def test_rolled_parts_in_numeric_order(self):
        with tempfile.TemporaryDirectory() as d:
            roll = os.path.join(d, "eventlog_v2_app")
            os.makedirs(roll)
            for name in ("events_10_app", "events_2_app",
                         "appstatus_app"):
                open(os.path.join(roll, name), "w").close()
            self.assertEqual(
                [os.path.basename(p) for p in ledger.event_files(d)],
                ["events_2_app", "events_10_app"])


class InputsTest(unittest.TestCase):
    def test_interleaved_matches_generator_twin(self):
        import inputs
        from schematic_spark.generator import GeneratorConfig, expected_doc

        seed = inputs.generator_seed(3)
        rows = inputs.interleaved_table(400, seed, 50).to_pylist()
        cfg = GeneratorConfig(n_docs=400, seed=seed, n_media=50)
        for i, row in enumerate(rows):
            self.assertEqual(row, expected_doc(i, cfg), f"row {i}")

    def test_documents_are_seeded(self):
        import inputs

        a = inputs.documents_table(200, 5)
        self.assertTrue(a.equals(inputs.documents_table(200, 5)))
        self.assertFalse(a.equals(inputs.documents_table(200, 6)))
        self.assertEqual(a.num_rows, 200)


class OraclesTest(unittest.TestCase):
    def test_fast_sql_equals_repo_oracles(self):
        import inputs
        import oracles
        from __spark_entry__ import oracle_sql

        with tempfile.TemporaryDirectory() as d:
            path = inputs.materialize(d, "documents", 9, 300, 1,
                                      inputs.build_documents(300, 9))
            con = oracles._connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{path}/documents/*.parquet')")
            for key, sql in oracles.FAST_SQL.items():
                fast = sorted(map(tuple, oracles._rows(con, sql)["rows"]))
                slow = oracle_sql()[key]
                ref = sorted(map(tuple, oracles._rows(con, slow)["rows"]))
                self.assertEqual(fast, ref, key)
                self.assertTrue(fast, key)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        import run
        from workloads import WORKLOADS

        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
