"""End-to-end checks of the harness (builds on first use; about four minutes):

    python3 -m unittest graftbench/tests/test_harness.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import run as R  # noqa: E402


class Checksum(unittest.TestCase):
    def test_order_independent_and_content_sensitive(self):
        sums = R.selftest("checksum")
        for reordered in ("sorted_desc", "repartitioned", "coalesced"):
            self.assertEqual(sums[reordered], sums["base"], reordered)
        for changed in ("changed", "dropped_row", "swapped_columns"):
            self.assertNotEqual(sums[changed], sums["base"], changed)
        self.assertTrue(sums["base"].startswith("2000:"))


def traced_run(workload, seed):
    """(result line, per-execution layers, spans) of one traced run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "..", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=R.ROOT, capture_output=True, text=True, timeout=900, check=True)
    trace = R.BUILD / "traces"
    layers = json.loads((trace / ("%s-seed%d.layers.json" % (workload, seed))).read_text())
    spans = [json.loads(line) for line in
             (trace / ("%s-seed%d.spans.jsonl" % (workload, seed))).read_text().splitlines()]
    return json.loads(out.stdout.strip().splitlines()[-1]), layers, spans


class TracedRun(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.result, cls.layers, cls.spans = traced_run("analytics", 7)

    def test_reports_every_per_layer_metric(self):
        self.assertTrue(self.result["correct"])
        names = {n for n, _ in R.per_layer_names()}
        self.assertEqual(set(self.result["metrics"]), names)
        self.assertGreater(self.result["metrics"]["trace.overhead_x"]["value"], 0)

    def test_q1_agg_reads_all_of_lineitem(self):
        import pyarrow.parquet as pq
        rows = pq.read_metadata(str(R.inputs() / "lineitem.parquet")).num_rows
        q1 = [m for m in self.layers.values() if m["query"] == "q1_agg"]
        self.assertTrue(q1)
        for m in q1:
            self.assertEqual(m["input_rows"], rows)

    def test_shuffle_written_exactly_when_plan_has_exchange(self):
        self.assertTrue(self.layers)
        for tag, m in self.layers.items():
            self.assertEqual(m.get("shuffle_write_bytes", 0) > 0, m.get("exchanges", 0) > 0, tag)

    def test_spans_form_the_layer_tree(self):
        kinds = {s["id"]: s["kind"] for s in self.spans}
        parent_kind = {"pass": "run", "query": "pass", "build": "query", "exec": "query",
                       "stage": "job"}
        for s in self.spans:
            self.assertLessEqual(s["start_us"], s["end_us"], s["id"])
            if s["kind"] == "job":
                self.assertIn(kinds[s["parent"]], ("build", "exec"))
            elif s["kind"] != "run":
                self.assertEqual(kinds[s["parent"]], parent_kind[s["kind"]], s["id"])
        self.assertTrue({"run", "pass", "query", "build", "exec", "job", "stage"} <= set(kinds.values()))


class TracedStream(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.result, cls.layers, _ = traced_run("curation", 7)

    def test_stream_and_write_layers_are_measured(self):
        self.assertTrue(self.result["correct"])
        sess = [m for m in self.layers.values() if m["query"] == "q_stream_sessionize"]
        self.assertTrue(sess)
        for m in sess:
            # its micro-batch, its state store and the parquet fixture it writes
            self.assertGreater(m.get("stream_batches", 0), 0)
            self.assertGreater(m.get("stream_state_rows", 0), 0)
            self.assertGreater(m.get("output_rows", 0), 0)
            self.assertGreater(m.get("files_written", 0), 0)


if __name__ == "__main__":
    unittest.main()
