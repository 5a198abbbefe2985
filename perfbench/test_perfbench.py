"""Tests of the benchmark's own code.

Run from the checkout root: python3 -m unittest discover -s perfbench
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import refs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileSelection(unittest.TestCase):
    def samples_beyond(self, xs, p):
        v = stats.percentile(xs, p)
        return sum(1 for x in xs if x > v)

    def test_chosen_percentile_keeps_ten_samples_beyond(self):
        for n in range(1, 400):
            xs = list(range(n))
            p = stats.tail_percentile(n)
            if p is None:
                self.assertLess(self.samples_beyond(xs, 50), stats.MIN_BEYOND, n)
                continue
            self.assertGreaterEqual(self.samples_beyond(xs, p), stats.MIN_BEYOND, n)

    def test_chosen_percentile_is_the_highest_supported(self):
        for n in range(1, 400):
            xs = list(range(n))
            p = stats.tail_percentile(n)
            higher = [c for c in (99, 95, 90, 75, 50) if p is None or c > p]
            for c in higher:
                self.assertLess(self.samples_beyond(xs, c), stats.MIN_BEYOND, (n, c))

    def test_known_sizes(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(50), 75)
        self.assertEqual(stats.tail_percentile(22), 50)
        self.assertIsNone(stats.tail_percentile(10))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertAlmostEqual(stats.percentile(range(11), 90), 9.0)


class MedianAndQuartiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [0.9, 1.3, 1.1, 1.0, 1.2, 0.95, 1.05, 1.15, 1.25, 1.02]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(range(1, 11)), (2.75, 5.5, 8.25))

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread(range(1, 11)), (8.25 - 2.75) / 5.5)


class OpenLoopTiming(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        due = [0, 100, 200]
        sent = [0, 150, 200]        # the second send ran 50 late
        done = [30, 180, 260]
        lat, late = stats.open_loop(due, sent, done)
        self.assertEqual(lat, [30, 80, 60])
        self.assertEqual(late, [0, 50, 0])

    def test_a_stall_is_charged_to_every_waiting_item(self):
        # one commit at t=500 releases items due at 0, 100, ..., 400
        due = [0, 100, 200, 300, 400]
        lat, _ = stats.open_loop(due, due, [500] * 5)
        self.assertEqual(lat, [500, 400, 300, 200, 100])

    def test_early_send_is_not_negative_lateness(self):
        _, late = stats.open_loop([100], [90], [150])
        self.assertEqual(late, [0])

    def test_backlog(self):
        sent = [0, 10, 20, 30]
        done = [15, 15, 40, -1]
        # at t=15 all of 0,10 sent, 2 committed -> 0; at t=40 4 sent, 3 done
        self.assertEqual(stats.backlog(sent, done, [15, 40]), 1)


class IngestWarmUp(unittest.TestCase):
    def test_latency_counts_timed_segments_and_failures_count_all(self):
        def seg(due, commit, timed):
            return {"due": due, "sent": due, "commit": commit, "timed": timed}
        ms = 1_000_000
        segs = [seg(0, 9000 * ms, False), seg(100, -1, False)]
        segs += [seg(1000 + i, 1000 + i + (i + 1) * ms, True) for i in range(20)]
        res = {"setup_s": 1.0, "segments": segs, "reads": [],
               "drains": [{"s": 2.0, "traced": False}]}
        metrics, attempted, failed = run.ingest_metrics(res)
        # the warm-up segment's 9000 ms is not a sample; 1..20 ms are
        self.assertAlmostEqual(metrics["lat_p50_ms"][0], 10.5)
        self.assertEqual((attempted, failed), (22, 1))


class References(unittest.TestCase):
    def test_components_take_the_smallest_id(self):
        got = sorted(refs.components([(5, 3), (3, 9), (7, 8)]))
        self.assertEqual(got, [(3, 3), (5, 3), (7, 7), (8, 7), (9, 3)])

    def test_bpe_rounds_merge_left_to_right(self):
        rows = refs.bpe_rounds(["aaa ab", "ab"], rounds=1)
        # pairs: (a,a) x2 from "aaa", (a,b) x2 from the two "ab"; ties by symbols
        self.assertEqual(rows[0][:5], (1, "a", "a", "aa", 2))
        # "aaa" folds greedily to [aa, a]: 2 + 1 + 1 symbols over the corpus
        self.assertEqual(rows[0][6], 2 + 2 * 2)

    def test_digest_ignores_row_and_column_order(self):
        a = refs.digest([(1, "x"), (2, "y")], ["id", "name"])
        b = refs.digest([("y", 2), ("x", 1)], ["name", "id"])
        self.assertEqual(a, b)
        self.assertNotEqual(a, refs.digest([(1, "x"), (2, "z")], ["id", "name"]))


class Inputs(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.tables(7, 0.001), gen.tables(7, 0.001)
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(gen.tables(8, 0.001)["lineitem"].equals(a["lineitem"]))

    def test_late_variants_stay_near_duplicates(self):
        # word-trigram Jaccard, as the x02 oracle computes it
        def shingles(t):
            w = t.split(" ")
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

        def jaccard(x, y):
            a, b = shingles(x), shingles(y)
            return len(a & b) / len(a | b)

        text = " ".join(f"w{i}" for i in range(60))
        self.assertGreaterEqual(jaccard(text, gen.variant(text, 9)), 0.5)
        self.assertLess(jaccard(text, gen.variant(text, 5)), 0.5)

    def test_page_log_entry_share(self):
        segs = gen.page_log(5, 30, 100, 50_000)
        share = sum(e for seg in segs for _, _, e in seg) / 3000
        self.assertAlmostEqual(share, gen.ENTRY_SHARE, delta=0.03)

    def test_first_visits_keep_latest_day(self):
        day = 86_400_000
        segs = [[("m1", 10, True), ("m1", 20, True), ("m2", 30, False)],
                [("m1", day + 5, True), ("m2", day + 6, True)]]
        self.assertEqual(gen.first_visits(segs), {"m1": day + 5, "m2": day + 6})

    def test_page_log_event_time_rises(self):
        segs = gen.page_log(3, 4, 50, 1000)
        ts = [t for seg in segs for _, t, _ in seg]
        self.assertEqual(ts, sorted(set(ts)))


if __name__ == "__main__":
    unittest.main()
