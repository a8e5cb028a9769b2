"""The benchmark's own tests: the tail rule, open-loop timing, failure
counting, the stream-mor model replay and the kv read check.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves exactly 10 above
        value, q, n = stats.tail(xs)
        self.assertEqual((q, n), (95, 200))
        self.assertEqual(value, 190)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_every_size_keeps_ten_beyond(self):
        for n in range(20, 400):
            value, q, _ = stats.tail(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > value), 10, n)
            self.assertGreaterEqual(q, 50)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(stats.tail([]), (0.0, 0, 0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 7.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time_and_lag_from_send(self):
        reqs = [{"due_ms": 0.0, "sent_ms": 0.0, "end_ms": 40.0},
                # a stall: sent 100 ms late, served in 5 ms
                {"due_ms": 50.0, "sent_ms": 150.0, "end_ms": 155.0}]
        lat, lag = stats.open_loop(reqs)
        self.assertEqual(lat, [40.0, 105.0])
        self.assertEqual(lag, [0.0, 100.0])


class FailedFraction(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(stats.failed_frac(200, 3), 0.015)
        self.assertEqual(stats.failed_frac(0, 0), 1.0)

    def _query(self, i, ok):
        return {"kind": "query", "name": "q", "module": "plans", "req": i, "traced": False,
                "start_ms": i * 10.0, "end_ms": i * 10.0 + 5, "ok": ok, "rows": 1, "error": ""}

    def test_failed_operations_count_against_attempted(self):
        res = {"setup": {"session_s": [1.0, 2.0, 3.0], "table_s": [1.0, 1.0, 1.0]},
               "info": {"fixture_bytes": 1, "cores": 4},
               "ops": [self._query(i, i % 4 != 0) for i in range(40)]}
        named, e2e, _, attempted, failed = metrics.compute("query-mix", {}, res, None)
        self.assertEqual((attempted, failed), (40, 10))
        self.assertEqual(named["failed_frac"][0], 0.25)
        self.assertEqual(e2e["setup_s"][0], 3.0)  # median of 2, 3, 4


class StreamModel(unittest.TestCase):
    CFG = {"initial_buckets": 4, "points_per_bucket": 30, "updates": 6, "deletes": 4,
           "travel_back": 2, "range_seconds": 2 * gen.BUCKET_S}

    def _write(self, path, rows):
        with open(path, "w") as f:
            f.writelines("\t".join(r) + "\n" for r in rows)

    def _outputs(self, d, epochs, seed):
        """What a correct program writes: the model's own answers."""
        feed = gen.TsFeed(seed, self.CFG["initial_buckets"], self.CFG["points_per_bucket"])
        hist = [feed.snapshot()]
        for e in range(1, epochs + 1):
            feed.epoch(self.CFG["updates"], self.CFG["deletes"])
            hist.append(feed.snapshot())
            head = (self.CFG["initial_buckets"] + e) * gen.BUCKET_S
            want = checks.model_reads(hist[-2], hist[-1], hist[max(0, e - self.CFG["travel_back"])],
                                      head, self.CFG["range_seconds"])
            for kind, rows in want.items():
                self._write(f"{d}/{kind}-{e:05d}.tsv", rows)
        self._write(f"{d}/final.tsv", checks._full(hist[-1]))

    def _feed(self, seed):
        return gen.TsFeed(seed, self.CFG["initial_buckets"], self.CFG["points_per_bucket"])

    def test_feed_is_seeded(self):
        a, b, c = self._feed(7), self._feed(7), self._feed(8)
        self.assertEqual(a.epoch(6, 4), b.epoch(6, 4))
        self.assertNotEqual(a.snapshot(), c.snapshot())

    def test_epoch_changes_are_inserts_updates_and_deletes_of_distinct_keys(self):
        feed = self._feed(3)
        before = feed.snapshot()
        ch = feed.epoch(6, 4)
        ops = [op for op, _, _ in ch]
        self.assertEqual(len({k for _, k, _ in ch}), len(ch))
        self.assertTrue({"i", "u", "d"} <= set(ops))
        for op, k, v in ch:
            if op == "d":
                self.assertIn(k, before)
                self.assertNotIn(k, feed.rows)
            else:
                self.assertEqual(feed.rows[k], v)

    def test_replay_accepts_the_model_and_rejects_a_wrong_read(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            self._outputs(d, 5, seed=11)
            self.assertEqual(checks.stream_model(d, self._feed(11), 5, set(range(1, 6)), self.CFG), [])
            # a time-travel read that returns the head instead of v - k
            shutil.copy(f"{d}/agg-00004.tsv", f"{d}/timetravel-00004.tsv")
            problems = checks.stream_model(d, self._feed(11), 5, set(range(1, 6)), self.CFG)
            self.assertEqual(problems, ["epoch 4: timetravel differs from the model"])

    def test_cdf_pairs_an_update_as_removed_plus_added(self):
        prev = {(1, 10): 5, (2, 20): 6}
        cur = {(1, 10): 7, (3, 30): 8}
        got = checks._cdf(prev, cur)
        self.assertEqual([r[0] for r in got].count("removed"), 2)
        self.assertEqual([r[0] for r in got].count("added"), 2)


class KvReads(unittest.TestCase):
    COLD = {("c0", "k1"): "v0"}

    def _op(self, kind, value, sent, end, req=0):
        return {"kind": kind, "coll": "c0", "key": "k1", "value": value, "sent_ms": sent, "end_ms": end,
                "ok": True, "req": req}

    def test_cold_value_before_any_put(self):
        self.assertEqual(checks.kv_reads(self.COLD, [self._op("get", "v0", 0, 1)]), [])
        self.assertEqual(len(checks.kv_reads(self.COLD, [self._op("get", "x", 0, 1)])), 1)

    def test_last_acknowledged_put_wins(self):
        ops = [self._op("put", "a", 0, 1), self._op("put", "b", 2, 3), self._op("get", "b", 4, 5)]
        self.assertEqual(checks.kv_reads(self.COLD, ops), [])
        ops[-1] = self._op("get", "a", 4, 5)
        self.assertEqual(len(checks.kv_reads(self.COLD, ops)), 1)
        ops[-1] = self._op("get", "v0", 4, 5)
        self.assertEqual(len(checks.kv_reads(self.COLD, ops)), 1)

    def test_a_put_in_flight_may_or_may_not_be_seen(self):
        ops = [self._op("put", "a", 0, 1), self._op("put", "b", 3, 9)]
        for seen in ("a", "b"):
            self.assertEqual(checks.kv_reads(self.COLD, ops + [self._op("get", seen, 4, 5)]), [])


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 100.0},
                 {"id": 2, "parent": 1, "start_ms": 10.0, "end_ms": 40.0},
                 {"id": 3, "parent": 1, "start_ms": 30.0, "end_ms": 50.0},  # overlaps 2
                 {"id": 4, "parent": 2, "start_ms": 15.0, "end_ms": 20.0}]
        got = stats.self_times(spans)
        self.assertEqual(got[1], 60.0)
        self.assertEqual(got[2], 25.0)
        self.assertEqual(got[4], 5.0)


if __name__ == "__main__":
    unittest.main()
