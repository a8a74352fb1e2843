"""Self-tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The card-existence test builds the program (cached under .bench_build)
and asks it for its card table.
"""
import json
import os
import statistics
import subprocess
import tempfile
import unittest

import pyarrow as pa

import build
import check
import plan
import stats


class PercentileRule(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [0.9, 0.1, 0.5, 0.3, 0.7, 1.3, 0.2]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 0.25), q[0])
        self.assertAlmostEqual(stats.percentile(xs, 0.5), q[1])
        self.assertAlmostEqual(stats.percentile(xs, 0.75), q[2])

    def test_ten_beyond_p75(self):
        self.assertEqual(stats.samples_beyond(40, 0.75), 10)
        self.assertEqual(stats.samples_beyond(37, 0.75), 9)
        self.assertEqual(stats.min_samples_for(0.75), 38)
        self.assertEqual(stats.min_samples_for(0.5), 20)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([2.0], 0.75), 2.0)
        self.assertEqual(stats.samples_beyond(1, 0.75), 0)


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        kids = [(1, 3), (2, 5), (8, 12)]
        self.assertAlmostEqual(stats.union_length(kids, 0, 10), 6)
        self.assertAlmostEqual(stats.self_time((0, 10), kids), 4)

    def test_no_children_and_full_cover(self):
        self.assertAlmostEqual(stats.self_time((2, 5), []), 3)
        self.assertAlmostEqual(stats.self_time((2, 5), [(0, 9)]), 0)

    def test_per_layer_construct_self(self):
        ev = [
            {"k": "session", "t0": 0, "t1": 1, "cores": 2},
            {"k": "warmup", "t0": 1, "t1": 2, "passes": 3, "pass_s": [], "converged": True},
            {"k": "timed", "t0": 2, "t1": 9, "first_pass": 3, "passes": 1,
             "pass_s": [6], "steal": [0.0], "rss_peak_kb": 1024},
            {"k": "artifacts", "disk_b": 0},
            {"k": "op", "id": "o1", "name": "qa", "kind": "card", "phase": "run",
             "pass": 3, "t0": 2, "t1": 8, "ok": True},
            {"k": "span", "id": "o1", "parent": None, "op": "o1", "name": "qa", "t0": 2, "t1": 8},
            {"k": "span", "id": "o1.c", "parent": "o1", "op": "o1", "name": "construct", "t0": 2, "t1": 5},
            {"k": "span", "id": "o1.p", "parent": "o1", "op": "o1", "name": "plan", "t0": 5, "t1": 6},
            {"k": "span", "id": "o1.e", "parent": "o1", "op": "o1", "name": "exec", "t0": 6, "t1": 8},
            {"k": "job", "id": 1, "parent": "o1.c", "t0": 3, "stages": [1]},
            {"k": "job_end", "id": 1, "t1": 4, "ok": True},
            # no span property: attributed by time to the exec span
            {"k": "job", "id": 2, "parent": None, "t0": 6.5, "stages": [2]},
            {"k": "job_end", "id": 2, "t1": 7.5, "ok": True},
            {"k": "stage", "id": 1, "attempt": 0, "t0": 3, "t1": 4, "tasks": 2, "run_s": 1.0,
             "cpu_s": 1.0, "gc_s": 0.0, "input_b": 0, "shuffle_r_b": 0, "shuffle_w_b": 0, "spill_b": 0},
            {"k": "stage", "id": 2, "attempt": 0, "t0": 6.5, "t1": 7.5, "tasks": 4, "run_s": 3.0,
             "cpu_s": 3.0, "gc_s": 0.5, "input_b": 0, "shuffle_r_b": 0, "shuffle_w_b": 0, "spill_b": 0},
        ]
        m, _, jobs = stats.per_layer(stats.Run(ev), 0.0, ["qa_card"])
        self.assertAlmostEqual(m["construct_s"][0], 3)
        self.assertAlmostEqual(m["construct.self_s"][0], 2)
        self.assertAlmostEqual(m["construct.jobs"][0], 1)
        self.assertAlmostEqual(m["exec.jobs"][0], 1)
        self.assertAlmostEqual(m["exec.task_s"][0], 3)
        self.assertAlmostEqual(m["exec.par_eff"][0], 3 / (2 * 2))
        self.assertEqual({j["parent"] for j in jobs}, {"o1.c", "o1.e"})


class PassChoice(unittest.TestCase):
    def test_least_steal_passes_spanning_the_run(self):
        # passes 4..8; 5 and 7 are clean, 8 has the least steal of the rest
        chosen = stats.choose_passes(4, [3, 3, 3, 3, 3],
                                     [0.10, 0.01, 0.20, 0.0, 0.05], 8)
        self.assertEqual(chosen, [5, 7, 8])

    def test_ties_keep_the_earlier_pass(self):
        self.assertEqual(stats.choose_passes(0, [5, 5, 5], [0.0] * 3, 6), [0, 1])

    def test_too_little_time_keeps_all(self):
        self.assertEqual(stats.choose_passes(2, [1, 1], [0.3, 0.1], 10), [2, 3])

    def test_end_to_end_uses_the_chosen_passes(self):
        ev = [{"k": "timed", "t0": 10, "t1": 30, "first_pass": 1, "passes": 2,
               "pass_s": [8, 10], "steal": [0.2, 0.0], "rss_peak_kb": 2048}]
        for p, t0, lat in ((1, 10, 4), (1, 14, 4), (2, 18, 3), (2, 21, 7)):
            ev.append({"k": "op", "id": f"o{t0}", "name": "qa", "kind": "card",
                       "pass": p, "t0": t0, "t1": t0 + lat, "ok": True})
        run = stats.Run(ev, seconds=9)
        self.assertEqual(run.passes, [2])
        m, attempted, failed = stats.end_to_end(run, 0.0)
        self.assertEqual((attempted, failed), (2, 0))
        self.assertAlmostEqual(m["setup_s"][0], 10)
        self.assertAlmostEqual(m["ops_per_s"][0], 2 / 10)
        self.assertAlmostEqual(m["op_p50_s"][0], 5)
        self.assertEqual(len(stats.Run(ev).timed), 4)


class Seeds(unittest.TestCase):
    def test_card_order_repeats_per_seed(self):
        cards = ["qa", "qb", "qc", "qd"]
        plan.WORKLOADS["four"] = {"kind": "cards", "cards": cards}
        try:
            a, b = plan.card_passes("four", 7), plan.card_passes("four", 7)
            self.assertEqual(a, b)
            self.assertNotEqual(a, plan.card_passes("four", 8))
            for p in a:
                self.assertEqual(sorted(p), cards)
        finally:
            del plan.WORKLOADS["four"]

    def test_lifecycle_batches_repeat_per_seed(self):
        ids = list(range(5000))
        base, epochs = plan.lifecycle_epochs(3, ids)
        self.assertEqual((base, epochs), plan.lifecycle_epochs(3, list(reversed(ids))))
        self.assertNotEqual(base, plan.lifecycle_epochs(4, ids)[0])
        # q312's crawl, each epoch cut in eight: 1/64 of the corpus per
        # batch, a fifth of that erased, half the corpus as the base
        self.assertEqual(len(base), 2496)
        self.assertEqual(len(epochs), 32)
        live = set(base)
        for arrive, erase in epochs:
            self.assertEqual((len(arrive), len(erase)), (78, 15))
            self.assertTrue(set(erase) <= live)
            live -= set(erase)
            self.assertFalse(live & set(arrive))
            live |= set(arrive)

    def test_plan_file_repeats_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            texts = []
            for _ in range(2):
                p = os.path.join(d, "plan.txt")
                plan.write_plan(p, "lifecycle", 5, 10, 0, "data", range(200))
                with open(p) as fh:
                    texts.append(fh.read())
            self.assertEqual(texts[0], texts[1])


class Digest(unittest.TestCase):
    def test_row_and_column_order_free(self):
        a = pa.table({"x": [1, 2], "y": [3, None]})
        b = pa.table({"y": [None, 3], "x": [2, 1]})
        self.assertEqual(check.digest(a), check.digest(b))

    def test_values_and_names_matter(self):
        a = pa.table({"x": [1, 2]})
        self.assertNotEqual(check.digest(a), check.digest(pa.table({"x": [1, 3]})))
        self.assertNotEqual(check.digest(a), check.digest(pa.table({"z": [1, 2]})))

    def test_other_types_are_refused(self):
        with self.assertRaises(TypeError):
            check.digest(pa.table({"x": [0.5]}))


class ProbeOracle(unittest.TestCase):
    # documents 1..5 with two bands each; 1, 2 and 4 share band (0, "a")
    BANDS = {1: [(0, "a"), (1, "p")], 2: [(0, "a"), (1, "q")],
             3: [(0, "b"), (1, "q")], 4: [(0, "a"), (1, "r")],
             5: [(0, "c"), (1, "s")]}

    def test_counts_follow_the_live_set(self):
        # base {1, 3}; epoch 0 probes 2 (shares a with 1, q with 3) and
        # 5 (clean); epoch 1 erases 1, then probes 4 (a: only 2 is live)
        epochs = [([2, 5], []), ([4], [1])]
        got = check.probe_answers(self.BANDS, [1, 3], epochs)
        self.assertEqual(got, [{2: 2, 5: 0}, {4: 1}])

    def test_bad_probes(self):
        answers = [{2: 2, 5: 0}]
        checks = [{"op": "o1", "epoch": 0, "counts": [[2, 2], [5, 0]]},
                  {"op": "o2", "epoch": 0, "counts": []},
                  {"op": "o3", "epoch": 0, "counts": [[2, 1], [5, 0]]}]
        self.assertEqual(check.bad_probes(checks, answers), {"o2", "o3"})


class Cards(unittest.TestCase):
    def test_every_card_exists_with_oracle(self):
        cards = plan.CHAINS
        classes = build.build()
        out = subprocess.run(
            ["java", "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
             "perfbench.OracleSql", ",".join(cards)],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        sql = json.loads(out.strip().splitlines()[-1])
        for c in cards:
            self.assertTrue(sql.get(c), f"{c} has no oracle SQL")
        answers = check.load_oracle()
        self.assertEqual(sorted(answers), sorted(cards))


if __name__ == "__main__":
    unittest.main()
