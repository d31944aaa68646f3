#!/usr/bin/env python3
"""The benchmark's own tests: every correctness check rejects a wrong
output, the comparator's verdicts follow their rules, and the metric list
matches BENCHMARK.json. Needs no build.

Run: python3 perfbench/test_perfbench.py
"""
import gzip
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import compare  # noqa: E402
import metrics  # noqa: E402
from avro_writer import _zigzag  # noqa: E402

HEADER = "key.projectId,key.userId,key.sourceId,value.time,value.timeReceived,value.light"


class Workdir(unittest.TestCase):
    def setUp(self):
        self.work = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.work)


class BulkCheck(Workdir):
    EXP = {"topic": "sensor", "records": 3, "distinct": 3,
           "dirs": {"proj0/user00/20200128_0000": 2, "proj0/user00/20200128_0100": 1},
           "state": {"sensor/0": [[0, 2]]}}

    def write_pass(self, rows_by_bin, ranges=((0, 2),), name="p"):
        root = os.path.join(self.work, name)
        for b, rows in rows_by_bin.items():
            d = os.path.join(root, "out", "sensor", "_project=proj0", "_user=user00", f"_bin={b}")
            os.makedirs(d, exist_ok=True)
            with gzip.open(os.path.join(d, "part-00000.csv.gz"), "wt") as f:
                f.write("\n".join([HEADER] + rows) + "\n")
        os.makedirs(os.path.join(root, "state"), exist_ok=True)
        state = {"partitions": [{"topic": "sensor", "partition": 0, "ranges": [
            {"from": a, "to": b, "lastProcessed": "2020-01-01T00:00:00Z"} for a, b in ranges]}]}
        with open(os.path.join(root, "state", "offsets.json"), "w") as f:
            json.dump(state, f)
        return {"root": name, "records": 3}

    GOOD = {"20200128_0000": ["proj0,user00,src0,1.5,2.0,0.0", "proj0,user00,src0,2.5,3.0,1.0"],
            "20200128_0100": ["proj0,user00,src0,3601.5,3602.0,2.0"]}

    def verdict(self, op):
        ok, msgs = check.check_bulk(self.work, self.EXP, [op])
        return ok[0], msgs

    def test_correct_output_passes(self):
        self.assertEqual(self.verdict(self.write_pass(self.GOOD)), (True, []))

    def test_missing_row_fails(self):
        bad = dict(self.GOOD, **{"20200128_0100": []})
        self.assertFalse(self.verdict(self.write_pass(bad))[0])

    def test_duplicated_row_fails(self):
        bad = dict(self.GOOD, **{"20200128_0000": [self.GOOD["20200128_0000"][0]] * 2})
        self.assertFalse(self.verdict(self.write_pass(bad))[0])

    def test_row_in_wrong_bin_fails(self):
        bad = {"20200128_0000": self.GOOD["20200128_0000"][:1],
               "20200128_0100": self.GOOD["20200128_0000"][1:] + self.GOOD["20200128_0100"]}
        self.assertFalse(self.verdict(self.write_pass(bad))[0])

    def test_wrong_state_fails(self):
        self.assertFalse(self.verdict(self.write_pass(self.GOOD, ranges=((0, 1),)))[0])

    def test_wrong_reported_count_fails(self):
        op = self.write_pass(self.GOOD)
        op["records"] = 2
        self.assertFalse(self.verdict(op)[0])


class CleanCheck(unittest.TestCase):
    EXP = {"deleted": ["s/p=0/a.avro", "s/p=0/b.avro"], "readmitted": ["s/p=0/c.avro"]}

    def op(self, **kw):
        base = {"deleted": ["s/p=0/b.avro", "s/p=0/a.avro"], "reprocess": ["s/p=0/c.avro"],
                "replanned": ["s/p=0/c.avro"]}
        base.update(kw)
        return base

    def test_prediction_met_passes(self):
        self.assertEqual(check.check_clean(self.EXP, [self.op()])[0], [True])

    def test_each_wrong_set_fails(self):
        for field, wrong in (("deleted", ["s/p=0/a.avro"]),
                             ("deleted", ["s/p=0/a.avro", "s/p=0/b.avro", "s/p=0/c.avro"]),
                             ("reprocess", []),
                             ("replanned", ["s/p=0/c.avro", "s/p=0/a.avro"])):
            with self.subTest(field=field, wrong=wrong):
                self.assertEqual(check.check_clean(self.EXP, [self.op(**{field: wrong})])[0],
                                 [False])


class CatalogCheck(Workdir):
    SQL = {"q": "SELECT user_id, max(value) AS v FROM events GROUP BY user_id"}

    def setUp(self):
        super().setUp()
        import duckdb
        self.con = duckdb.connect()
        os.makedirs(os.path.join(self.work, "tables"))
        os.makedirs(os.path.join(self.work, "results"))
        self.con.execute(f"COPY (SELECT range AS doc_id, 'x' AS text FROM range(3)) "
                         f"TO '{self.work}/tables/documents.parquet' (FORMAT PARQUET)")
        self.con.execute(f"COPY (SELECT range AS event_id, range % 2 AS user_id, range * 1.5 AS value "
                         f"FROM range(6)) TO '{self.work}/tables/events.parquet' (FORMAT PARQUET)")
        with open(os.path.join(self.work, "results", "oracle_sql.json"), "w") as f:
            json.dump(self.SQL, f)

    def write_result(self, sql):
        d = os.path.join(self.work, "results", "q")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                         f"read_parquet('{self.work}/tables/events.parquet')")
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")

    def test_matching_result_passes(self):
        self.write_result(self.SQL["q"])
        ops = [{"queries": {"q": 0.1}}]
        self.assertEqual(check.check_catalog(self.work, ["q"], ops)[0], [{"q": True}])

    def test_wrong_results_fail(self):
        for wrong in ("SELECT user_id, max(value) AS v FROM events WHERE user_id = 0 GROUP BY user_id",
                      "SELECT user_id, max(value) + 1 AS v FROM events GROUP BY user_id",
                      "SELECT user_id, max(value) AS w FROM events GROUP BY user_id"):
            with self.subTest(sql=wrong):
                self.write_result(wrong)
                ops = [{"queries": {"q": 0.1}}]
                self.assertEqual(check.check_catalog(self.work, ["q"], ops)[0], [{"q": False}])

    def test_failed_execution_fails_even_with_a_good_result(self):
        self.write_result(self.SQL["q"])
        ops = [{"queries": {"q": 0.1}}, {"queries": {"q": "error"}}]
        self.assertEqual(check.check_catalog(self.work, ["q"], ops)[0],
                         [{"q": True}, {"q": False}])

    def test_cached_oracle_answer_is_reused(self):
        self.write_result(self.SQL["q"])
        cache = os.path.join(self.work, "cache.json")
        ops = [{"queries": {"q": 0.1}}]
        self.assertEqual(check.check_catalog(self.work, ["q"], ops, cache)[0], [{"q": True}])
        self.write_result("SELECT 1 AS user_id, 2.0 AS v")
        self.assertEqual(check.check_catalog(self.work, ["q"], ops, cache)[0], [{"q": False}])


class Comparator(unittest.TestCase):
    A = {s: 10.0 + 0.05 * (s % 3) for s in range(10)}

    def test_clear_gain_is_improved(self):
        b = {s: v * 0.8 for s, v in self.A.items()}
        self.assertEqual(compare.verdict("warm_pass_s", self.A, b)[0], "improved")

    def test_same_is_no_worse(self):
        self.assertEqual(compare.verdict("warm_pass_s", self.A, dict(self.A))[0], "no worse")

    def test_regression_beyond_bound_is_worse(self):
        b = {s: v * 1.5 for s, v in self.A.items()}
        self.assertEqual(compare.verdict("warm_pass_s", self.A, b)[0], "worse")

    def test_higher_is_better_metric(self):
        b = {s: v * 1.5 for s, v in self.A.items()}
        self.assertEqual(compare.verdict("records_per_s", self.A, b)[0], "improved")

    def test_noisy_parent_is_unresolved(self):
        a = {s: 10.0 * (1 + (s % 5)) for s in range(10)}
        b = {s: v * 1.01 for s, v in a.items()}
        self.assertEqual(compare.verdict("warm_pass_s", a, b)[0], "unresolved")

    def test_detail_gives_ratio_with_base(self):
        detail = compare.verdict("warm_pass_s", self.A, dict(self.A))[1]
        self.assertIn("B/A = 1.0000 (base A = ", detail)


class MetricList(unittest.TestCase):
    def test_benchmark_json_matches(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], metrics.WORKLOADS)
        self.assertEqual(bench["end_to_end"], metrics.END_TO_END)
        self.assertEqual([[m["name"], m["unit"], m["better"]] for m in bench["per_layer"]],
                         [list(m) for m in metrics.PER_LAYER_SPEC])


class AvroEncoding(unittest.TestCase):
    def test_zigzag_varints(self):
        self.assertEqual(_zigzag(0), b"\x00")
        self.assertEqual(_zigzag(-1), b"\x01")
        self.assertEqual(_zigzag(1), b"\x02")
        self.assertEqual(_zigzag(64), b"\x80\x01")


if __name__ == "__main__":
    unittest.main()
