"""Tests of the benchmark's own code (no Spark, no build).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
SMALL = {"fused": 300, "stream": 300}


def digest(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        gen.generate(workload, seed, SMALL[workload], d)
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                h.update(name.encode() + f.read())
        return h.hexdigest()


class Generators(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in SMALL:
            self.assertEqual(digest(w, 7), digest(w, 7), w)

    def test_different_seed_gives_different_inputs(self):
        for w in SMALL:
            self.assertNotEqual(digest(w, 7), digest(w, 8), w)

    def test_transcripts_have_exact_size_and_record_their_mentions(self):
        rows, convs = gen.transcripts(3, 500)
        self.assertEqual(len(rows), 500)
        gaz = gen.gazetteer()
        by_turn = {(c, t): ms for c, ts in convs for t, ms in ts}
        for r in rows:
            words = [w.strip(".").lower() for w in r["text"].split()]
            self.assertEqual([w for w in words if w in gaz],
                             [w for _, w in by_turn[(r["conv_id"], r["turn_idx"])]])

    def test_every_stream_batch_has_turns(self):
        _, convs = gen.transcripts(5, 600)
        batches = set(gen.stream_batches(5, convs).values())
        self.assertEqual(batches, set(range(gen.STREAM_BATCHES)))

    def test_fused_inputs_carry_a_documents_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("fused", 1, 100, d)
            self.assertIn("documents.parquet", os.listdir(d))

    def test_documents_plant_near_duplicates(self):
        docs = gen.documents(1, 400)
        texts = {d["text"] for d in docs}
        dups = [d for d in docs if d["text"].endswith(" dup")]
        self.assertTrue(dups)
        for d in dups:
            self.assertIn(d["text"][:-len(" dup")], texts)
        self.assertTrue(all(d["n_chars"] == len(d["text"]) for d in docs))


class ExpectedTriples(unittest.TestCase):
    def test_hand_checked_three_conversations(self):
        op, obj = gen.OP_CLASS, gen.OBJ_CLASS
        convs = [
            # same-turn pair, and an op whose obj arrives one turn later
            ("a", [(0, [(op, "merge"), (obj, "table")]),
                   (1, [(op, "scan")]),
                   (2, [(obj, "vector")])]),
            # obj before op in the same turn still pairs; a turn-earlier
            # obj does not; a two-turn gap does not
            ("b", [(0, [(obj, "stream")]),
                   (1, [(obj, "table"), (op, "sort")]),
                   (2, []),
                   (3, [(obj, "batch")])]),
            # a key repeated in later turns keeps its minimal turn
            ("c", [(0, [(op, "merge")]),
                   (1, [(obj, "table"), (op, "merge")]),
                   (2, [(op, "merge"), (obj, "table")])]),
        ]
        k = gen.triple_key
        self.assertEqual(k("merge", "table"), "r_op_obj|e_obj|table|e_op|merge")
        self.assertEqual(gen.expected_triples(convs), {
            ("a", k("merge", "table")): 0,
            ("a", k("scan", "vector")): 1,
            ("b", k("sort", "table")): 1,
            ("c", k("merge", "table")): 0,
        })


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            {"id": 1, "parent": 0, "name": "conv", "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "name": "tag", "start_ns": 10, "end_ns": 30},
            {"id": 3, "parent": 1, "name": "tag", "start_ns": 50, "end_ns": 60},
            {"id": 4, "parent": 3, "name": "inner", "start_ns": 52, "end_ns": 55},
            {"id": 5, "parent": 0, "name": "conv", "start_ns": 200, "end_ns": 250},
        ]
        self.assertEqual(metrics.self_times(spans), {1: 70, 2: 20, 3: 7, 4: 3, 5: 50})

    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "p", "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "name": "c", "start_ns": 10, "end_ns": 40},
            {"id": 3, "parent": 1, "name": "c", "start_ns": 30, "end_ns": 50},
            {"id": 4, "parent": 1, "name": "c", "start_ns": 90, "end_ns": 120},
        ]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 40 - 10)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_pct(19))
        self.assertEqual(metrics.tail_pct(100), 90)
        self.assertEqual(metrics.tail_pct(1000), 99)


def fake_result(traced):
    spark = {k: 1.0 for k in metrics.SPARK + ["cpu_s", "shuffle_mb"]}
    rep = {"wall_s": 2.0, "heap_peak_mb": 500.0, "spark": spark, "rows": 10,
           "batch_ms": [5.0] * 30, "batches": 30, "state_rows": 4.0, "state_mb": 0.1,
           "evicted_rows": 2.0}
    res = {"turns": 100, "cpus": 4, "setup_s": 3.0, "session_scan_s": [2.0, 0.5, 0.4],
           "reps": [rep]}
    if traced:
        mat = {"wall_s": 9.0, "spark": spark, "rows": 30, "resume_s": 1.0,
               "resume_skipped": 22, "resume_reports": 22,
               "routes": {r: 1.0 for r in metrics.ROUTES},
               "stages": {s: {"task_s": 0.5, "rows": 3} for s in metrics.STAGES}}
        res.update({"traced_reps": [rep], "replay": {}, "wall_1core_s": [6.0],
                    "materialize": mat, "crf": {"crf.sentences": 5.0}})
    return res


class MetricNames(unittest.TestCase):
    def test_printed_metrics_are_exactly_those_declared(self):
        with open(BENCHMARK) as f:
            bench = json.load(f)
        name = re.compile(r"^[A-Za-z0-9_.-]+$")
        spans = [{"id": 1, "parent": 0, "name": "kgpipeline.conv", "trace": "t",
                  "start_ns": 0, "end_ns": 10}]
        for printed, declared in [
                (metrics.end_to_end(fake_result(False)), bench["end_to_end"]),
                (metrics.per_layer(fake_result(True), spans, 0.1), bench["per_layer"])]:
            for k in printed:
                self.assertRegex(k, name)
            self.assertEqual(list(printed), [m["name"] for m in declared])
            self.assertEqual([u for _, u in printed.values()], [m["unit"] for m in declared])

    def test_end_to_end_metrics_are_nonzero(self):
        for k, (v, _) in metrics.end_to_end(fake_result(False)).items():
            self.assertGreater(v, 0, k)


if __name__ == "__main__":
    unittest.main()
