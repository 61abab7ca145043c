"""Tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import registry  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        for n in (20, 40, 100, 1000):
            q = metrics.tail_quantile(n)
            self.assertAlmostEqual(n * (1 - q), 10)

    def test_highest_such_percentile(self):
        self.assertAlmostEqual(metrics.tail_quantile(100), 0.90)
        self.assertAlmostEqual(metrics.tail_quantile(1000), 0.99)

    def test_small_samples_fall_back_to_median(self):
        for n in (1, 5, 19, 20):
            self.assertEqual(metrics.tail_quantile(n), 0.5)

    def test_value_and_reported_position(self):
        value, pct, beyond = metrics.tail(list(range(1, 101)))
        self.assertAlmostEqual(pct, 90.0)
        self.assertAlmostEqual(beyond, 10.0)
        self.assertAlmostEqual(value, metrics.percentile(range(1, 101), 0.9))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([7], 0.9), 7)


class ErrorRate(unittest.TestCase):
    def test_wrong_result_counts(self):
        self.assertEqual(metrics.error_rate(10, 0, 1), 0.1)
        self.assertEqual(metrics.error_rate(10, 1, 1), 0.2)
        self.assertEqual(metrics.error_rate(10, 0, 0), 0.0)

    def test_wrong_snapshot_is_counted(self):
        tick = dict(gen.FIXTURE_TICK)
        body = {"type": "FeatureCollection", "features": [
            {"id": fid, "type": "Feature",
             "properties": {"callsign": exp["callsign"]},
             "geometry": {"type": "Point", "coordinates": exp["coordinates"]}}
            for fid, exp in tick["expected"].items()]}
        good = {"op": 1, "tick": 0, "get_url": run.QUAKE_URL,
                "post_url": run.SUBMIT_URL, "body": json.dumps(body)}
        op = {"op": 1, "tick": 0, "error": None}
        self.assertEqual(run.check_ticks([op], [good], [tick]), {})
        body["features"][0]["properties"]["callsign"] = "M9.9 nowhere"
        bad = dict(good, body=json.dumps(body))
        wrong = run.check_ticks([op], [bad], [tick])
        self.assertIn(1, wrong)
        self.assertEqual(metrics.error_rate(1, 0, len(wrong)), 1.0)

    def test_missing_feature_is_counted(self):
        tick = gen.FIXTURE_TICK
        body = {"type": "FeatureCollection", "features": []}
        post = {"op": 1, "tick": 0, "get_url": run.QUAKE_URL,
                "post_url": run.SUBMIT_URL, "body": json.dumps(body)}
        wrong = run.check_ticks([{"op": 1, "tick": 0, "error": None}],
                                [post], [tick])
        self.assertIn("expected 3", wrong[1])


def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "op": 1, "name": name,
            "startMs": start, "endMs": end}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(metrics.self_times([_span(1, 0, 0, 5)]), {1: 5})

    def test_children_subtracted(self):
        s = metrics.self_times([_span(1, 0, 0, 100), _span(2, 1, 10, 40),
                                _span(3, 1, 50, 70)])
        self.assertEqual(s[1], 50)
        self.assertEqual(s[2], 30)

    def test_overlapping_children_counted_once(self):
        s = metrics.self_times([_span(1, 0, 0, 100), _span(2, 1, 10, 60),
                                _span(3, 1, 40, 80)])
        self.assertEqual(s[1], 30)

    def test_children_clipped_to_parent(self):
        s = metrics.self_times([_span(1, 0, 10, 20), _span(2, 1, 0, 15)])
        self.assertEqual(s[1], 5)

    def test_grandchildren_belong_to_child(self):
        s = metrics.self_times([_span(1, 0, 0, 100), _span(2, 1, 0, 100),
                                _span(3, 2, 0, 60)])
        self.assertEqual((s[1], s[2], s[3]), (0, 40, 60))

    def test_layers(self):
        self.assertEqual(metrics.layer_of("op:q05_semi_join"), "op")
        self.assertEqual(metrics.layer_of("queries.build"), "queries")
        self.assertEqual(metrics.layer_of("quakes.snapshot"), "quakes")
        self.assertEqual(metrics.layer_of("exec.stage"), "stage")


class QuakeGenerator(unittest.TestCase):
    def test_deterministic_per_seed(self):
        self.assertEqual(gen.quake_ticks(5, 30), gen.quake_ticks(5, 30))

    def test_seeds_differ(self):
        self.assertNotEqual(gen.quake_ticks(5, 30)[-1]["body"],
                            gen.quake_ticks(6, 30)[-1]["body"])

    def test_feed_shape(self):
        ticks = gen.quake_ticks(1, 60)
        clocks = [t["now_ms"] for t in ticks]
        self.assertEqual(clocks, sorted(set(clocks)))  # the clock advances
        ids = [{f["properties"]["publicID"]
                for f in json.loads(t["body"])["features"]} for t in ticks]
        self.assertTrue(all(len(i) <= gen.MAX_FEATURES for i in ids))
        # consecutive snapshots share part, not all, of their ids
        shared = [len(a & b) for a, b in zip(ids, ids[1:])]
        self.assertTrue(all(s > 0 for s in shared))
        self.assertTrue(any(a != b for a, b in zip(ids, ids[1:])))

    def test_every_branch_appears(self):
        quakes = [f["properties"] for t in gen.quake_ticks(1, 60)
                  for f in json.loads(t["body"])["features"]]
        self.assertIn("deleted", {q["quality"] for q in quakes})
        self.assertTrue({-1, 0, 10} <= {q["mmi"] for q in quakes})
        kept = sum(len(t["expected"]) for t in gen.quake_ticks(1, 60))
        live = sum(1 for q in quakes if q["quality"] != "deleted")
        self.assertLess(kept, live)  # the age filter drops some

    def test_fixture_kept_set(self):
        self.assertEqual(set(gen.FIXTURE_TICK["expected"]), gen.FIXTURE_KEPT)

    def test_callsign_rounds_like_the_engine(self):
        self.assertEqual(gen.fmt1(3.95), "4.0")
        self.assertEqual(gen.fmt1(5.05), "5.1")
        self.assertEqual(gen.fmt1(6.82), "6.8")


class TableGenerator(unittest.TestCase):
    def test_deterministic_per_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(os.path.join(d, "a"), 0.001, 9)
            gen.write_tables(os.path.join(d, "b"), 0.001, 9)
            for t in ("lineitem", "events", "documents", "embeddings"):
                a = pq.read_table(os.path.join(d, "a", f"{t}.parquet"))
                b = pq.read_table(os.path.join(d, "b", f"{t}.parquet"))
                self.assertTrue(a.equals(b), t)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_what_the_run_prints(self):
        root = os.path.dirname(run.HERE)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]},
                         set(run.WORKLOADS))


def _q(name, ms, triggers=0, stateful=0, writes=(), stores=(), oracle=True,
       rows=10, error=None):
    return {"name": name, "build_ms": ms / 4, "action_ms": ms * 3 / 4,
            "triggers": triggers, "stateful_triggers": stateful,
            "writes": list(writes),
            "stores": list(stores), "oracle": oracle, "rows": rows,
            "error": error}


class LakePick(unittest.TestCase):
    def test_nearest_the_median_of_each_stratum(self):
        qs = [_q(f"q{i:02d}", ms) for i, ms in
              enumerate([1, 2, 3, 10, 11, 50, 100, 101, 900])]
        picks = registry.stratified_pick(qs, 3)
        self.assertEqual([q["name"] for q in picks], ["q01", "q04", "q07"])

    def test_pick_is_deterministic_and_order_free(self):
        qs = [_q(f"q{i:02d}", (i * 37) % 23 + 1) for i in range(40)]
        a = registry.stratified_pick(qs, 5)
        b = registry.stratified_pick(list(reversed(qs)), 5)
        self.assertEqual(a, b)

    def test_groups_and_ensures(self):
        sweep = {"ensure_order": ["sigstore", "bandstore", "doc_spool"],
                 "queries": (
                     [_q(f"r{i}", 100 + i, stores=["sigstore"])
                      for i in range(registry.BATCH_READ_STRATA)] +
                     [_q("w0", 300, writes=["t_<d>"], stores=["bandstore"]),
                      _q("s0", 2000, triggers=3, stores=["doc_spool"]),
                      _q("s1", 3000, triggers=4, stateful=4,
                         stores=["doc_spool"]),
                      _q("noora", 1, oracle=False),
                      _q("big", 1, rows=registry.ROW_CAP + 1),
                      _q("bad", 1, error="boom")])}
        w = registry.lake_workload(sweep)
        self.assertEqual(w["batch"][-1], "w0")
        self.assertEqual(w["stream"], ["s0", "s1"])
        self.assertEqual(w["ensures"], ["sigstore", "bandstore", "doc_spool"])
        self.assertFalse({"noora", "big", "bad"} & set(w["queries"]))

    def test_committed_sweep_gives_the_workload(self):
        w = registry.lake_workload(registry.load_sweep())
        self.assertEqual(len(w["queries"]), registry.BATCH_READ_STRATA +
                         registry.BATCH_WRITE_STRATA +
                         registry.STREAM_STATELESS_STRATA +
                         registry.STREAM_STATEFUL_STRATA)
        self.assertNotIn("q26_approx_distinct", w["queries"])


class Spread(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertEqual(metrics.quartile_spread([10] * 10), 0.0)
        self.assertGreater(metrics.quartile_spread(list(range(1, 11))), 0.5)


if __name__ == "__main__":
    unittest.main()
