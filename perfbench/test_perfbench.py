"""Benchmark-local tests: generator determinism and the output checks.

    python3 perfbench/test_perfbench.py
"""
import copy
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(HERE, "config.json")) as fh:
    CFG = json.load(fh)
SMALL = dict(CFG, generator=dict(CFG["generator"], events_per_batch=2000))


def sink_lines(truth):
    """A sink snapshot in the captured format, rendered from `truth`."""
    return sorted("date=%s\t%s" % (d, json.dumps(r)) for d, r in truth.items())


def stream_inputs(seed):
    with tempfile.TemporaryDirectory() as d:
        truth, tables = gen.write_stream_input(seed, d, 4, SMALL)
        return truth, gen.table_digest(tables), sorted(os.listdir(d))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_data_other_seed_other_data(self):
        t1, h1, files = stream_inputs(7)
        t2, h2, _ = stream_inputs(7)
        t3, h3, _ = stream_inputs(8)
        self.assertEqual(h1, h2)
        self.assertEqual(t1, t2)
        self.assertNotEqual(h1, h3)
        self.assertEqual(files, ["b%05d.parquet" % b for b in range(4)])

    def test_stream_input_is_sized(self):
        with tempfile.TemporaryDirectory() as d:
            _, tables = gen.write_stream_input(3, d, 4, SMALL)
        self.assertEqual(sum(t.num_rows for t in tables), 4 * 2000)

    def test_fixed_shares(self):
        p = SMALL["generator"]
        rows, trips = gen.generate(5, 20000, 3, p)
        ts = rows["ts"]
        self.assertEqual(len(ts), 20000)
        n_invalid = round(20000 * p["invalid_share"])
        self.assertEqual(sum(t is None for t in ts), len(range(0, n_invalid, 5)))
        self.assertEqual(sum(e == "teleport" for e in rows["event_type"]),
                         len(range(2, n_invalid, 5)))
        ids = rows["event_id"]
        self.assertEqual(len(ids) - len(set(ids.tolist())), round(20000 * p["duplicate_share"]))
        n_valid = 20000 - n_invalid - round(20000 * p["duplicate_share"])
        n_trips = int(n_valid * p["trips_per_valid_event"])
        self.assertEqual(len(trips["end_us"]), round(n_trips * p["completion_share"]))

    def test_stream_truth_grows_with_the_landed_prefix(self):
        truth, _, _ = stream_inputs(11)
        counts = [sum(r["count_trips"] for r in t.values()) for t in truth]
        self.assertEqual(counts, sorted(counts))
        self.assertGreater(counts[0], 0)


class MixSampleTest(unittest.TestCase):
    def test_one_recorded_key_per_family_in_a_seeded_rotation(self):
        with open(run.ORACLE) as fh:
            oracle = json.load(fh)
        self.assertEqual(sorted(k[0] for k in run.MIX_KEYS), list("abdegmpqstx"))
        self.assertTrue(all(k in oracle for k in run.MIX_KEYS))
        fields, _, rows = run.prepare("query_mix", 5, 20, CFG, None)
        again, _, _ = run.prepare("query_mix", 5, 20, CFG, None)
        self.assertEqual(fields, again)
        self.assertEqual(sorted(fields["keys"]), sorted(run.MIX_KEYS))
        start = fields["keys"].index(run.MIX_KEYS[0])
        self.assertEqual(fields["keys"][start:] + fields["keys"][:start], run.MIX_KEYS)
        self.assertEqual(rows[run.MIX_KEYS[0]], oracle[run.MIX_KEYS[0]]["oracle_rows"])


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.truth = {"2024-01-01": {"total_fare": 30.5, "count_trips": 2, "average_fare": 15.25,
                                     "max_fare": 20.25, "min_fare": 10.25},
                      "2024-01-02": {"total_fare": 7.0, "count_trips": 1, "average_fare": 7.0,
                                     "max_fare": 7.0, "min_fare": 7.0}}
        good = sink_lines(self.truth)
        bad = copy.deepcopy(self.truth)
        bad["2024-01-02"]["total_fare"] = 7.01
        # one landed batch: its prefix truth is the whole KPI set
        self.prefixes = [self.truth]
        self.result = {"ops": [{"i": i, "key": "batch", "ms": 10.0, "events": 100, "cpu_ms": 5.0,
                                "traced": False, "out": "good", "batch": 0} for i in range(4)],
                       "outputs": {"good": good, "bad": sink_lines(bad)}, "heap_mb": 1.0}

    def ok_ratio(self, workload, result, truth=None, oracle=None):
        ok = [v for v, _ in check.judge(workload, result, truth, oracle)]
        return run.end_to_end(workload, result, ok, 1.0)["ok_ratio"]

    def test_clean_output_passes(self):
        self.assertEqual(self.ok_ratio("trip_stream", self.result, self.prefixes), 1.0)

    def test_corrupted_output_lowers_ok_ratio(self):
        self.result["ops"][1]["out"] = "bad"
        self.assertEqual(self.ok_ratio("trip_stream", self.result, self.prefixes), 0.75)

    def test_missing_date_missing_output_and_error_fail(self):
        self.result["outputs"]["short"] = self.result["outputs"]["good"][:1]
        self.result["ops"][0]["out"] = "short"
        self.result["ops"][1]["out"] = "never-captured"
        self.result["ops"][2] = {"i": 2, "key": "batch", "ms": 1.0, "events": 100, "cpu_ms": 1.0,
                                 "traced": False, "error": "boom", "batch": 0}
        verdicts = check.judge("trip_stream", self.result, self.prefixes)
        self.assertEqual([v for v, _ in verdicts], [False, False, False, True])

    def test_stream_op_is_judged_against_its_prefix(self):
        for i, op in enumerate(self.result["ops"]):
            op["batch"] = i % 2
        prefixes = [{"2024-01-01": self.truth["2024-01-01"]}, self.truth]
        # the full KPI set is right only for batch 1
        self.assertEqual(self.ok_ratio("trip_stream", self.result, prefixes), 0.5)

    def test_query_mix_row_count_and_hash(self):
        result = {"ops": [], "outputs": {}, "heap_mb": 1.0,
                  "warm": {"q1_x": {"rows": 3, "hash": "1:2"}, "q2_y": {"error": "boom"}}}
        for key, rows, h in (("q1_x", 3, "1:2"), ("q1_x", 4, "1:2"), ("q1_x", 3, "9:9"),
                             ("q2_y", 3, "1:2")):
            result["ops"].append({"key": key, "rows": rows, "hash": h, "ms": 1.0, "cpu_ms": 1.0,
                                  "events": 0, "traced": False})
        oracle = {"q1_x": 3, "q2_y": 3}
        verdicts = check.judge("query_mix", result, None, oracle)
        self.assertEqual([v for v, _ in verdicts], [True, False, False, False])
        self.assertEqual(self.ok_ratio("query_mix", result, None, oracle), 0.25)


if __name__ == "__main__":
    unittest.main()
