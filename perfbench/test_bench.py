"""Tests for the benchmark's own logic: percentiles, failure accounting,
span self time, the carbon generator's expected outcome and the corpus
generator's fit to the sf0.1 testdata.

    python3 perfbench/test_bench.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import gen  # noqa: E402
import stats  # noqa: E402


def op(start, end, ok=True):
    return {"startMs": start, "endMs": end, "ok": ok}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_above(self):
        self.assertIsNone(stats.tail_percentile(list(range(99))))
        self.assertEqual(stats.tail_percentile(list(range(100))), 89)
        # exactly ten above the 90th of 100: 90..99
        s = list(range(100))
        i = stats.rank_index(len(s), 0.9)
        self.assertEqual(len(s) - 1 - i, stats.TAIL_MIN_ABOVE)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 0.5), 3)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertIsNone(stats.percentile([], 0.5))


class FailedOperations(unittest.TestCase):
    ops = [op(0, 10), op(0, 1000, ok=False), op(0, 30), op(-5, 20)]

    def test_a_failure_has_no_time(self):
        self.assertEqual(sorted(stats.op_latencies(self.ops)), [10, 25, 30])

    def test_failures_count_against_attempts(self):
        self.assertEqual(stats.failed_frac(self.ops), 0.25)
        self.assertEqual(stats.failed_frac([]), 0.0)


class SelfTime(unittest.TestCase):
    def span(self, sid, parent, name, a, b):
        return {"id": sid, "parent": parent, "op": 0, "name": name,
                "startMs": a, "endMs": b}

    def test_overlapping_and_clipped_children(self):
        spans = [self.span(1, -1, "op", 0, 100),
                 self.span(2, 1, "a", 10, 30),
                 self.span(3, 1, "b", 20, 50),     # overlaps a by 10
                 self.span(4, 1, "c", 90, 120),    # sticks out past the parent
                 self.span(5, 3, "d", 25, 45)]
        s = stats.self_times(spans)
        self.assertEqual(s["op"], 100 - (40 + 10))
        self.assertEqual(s["a"], 20)
        self.assertEqual(s["b"], 30 - 20)
        self.assertEqual(s["c"], 30)
        self.assertEqual(s["d"], 20)

    def test_self_times_add_up_to_the_root(self):
        spans = [self.span(1, -1, "op", 0, 60), self.span(2, 1, "x", 0, 40),
                 self.span(3, 2, "y", 5, 15), self.span(4, 2, "y", 30, 60)]
        s = stats.self_times(spans)
        self.assertEqual(sum(s.values()), 60 + 20)  # y's 20 ms past x's end
        self.assertEqual(s["x"], 40 - 10 - 10)

    def test_union_of_intervals(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)], 0, 100), 10)
        self.assertEqual(stats.covered([(0, 5)], 2, 3), 1)
        self.assertEqual(stats.covered([], 0, 1), 0)


def classify(line, now):
    """Carbon's rules, restated: three fields, a number, an integer time;
    then whisper's retention gate."""
    f = line.split()
    if len(f) != 3:
        return "dropped"
    try:
        float(f[1])
        ts = int(f[2])
    except ValueError:
        return "dropped"
    age = now - ts
    return "rejected" if age < 0 or age >= gen.MAX_RETENTION_S else "accepted"


class CarbonGenerator(unittest.TestCase):
    batches = gen.carbon_batches(7, 4)

    def test_expected_counts_match_the_lines(self):
        for b in self.batches:
            got = {"dropped": 0, "rejected": 0, "accepted": 0}
            for line in b["lines"]:
                got[classify(line, b["now"])] += 1
            e = b["expected"]
            self.assertEqual(got["dropped"], e["dropped"])
            self.assertEqual(got["rejected"], e["rejected"])
            self.assertEqual(got["accepted"], e["accepted"])
            self.assertEqual(e["lines"], len(b["lines"]))
            self.assertEqual(e["parsed"], e["lines"] - e["dropped"])

    def test_shares(self):
        series = len(gen.series_names())
        fresh = series * gen.SLICE_S // 60
        first, later = self.batches[0]["expected"], self.batches[1]["expected"]
        self.assertEqual(first["accepted"], fresh)  # nothing to rewrite yet
        self.assertEqual(later["accepted"], fresh + int(fresh * gen.SHARE_REWRITE))
        self.assertEqual(later["dropped"], int(fresh * gen.SHARE_MALFORMED))
        self.assertEqual(later["rejected"], int(fresh * gen.SHARE_OLD))

    def test_rewrites_hit_earlier_buckets(self):
        for prev, b in zip(self.batches, self.batches[1:]):
            lo = b["now"] - gen.SLICE_S
            old = [(m, t - t % 60) for m, t, _ in b["points"] if t < lo]
            self.assertEqual(len(old), int(len(gen.series_names()) * 5 * gen.SHARE_REWRITE))
            self.assertTrue(all(t < prev["now"] for _, t in old))

    def test_later_batch_wins(self):
        b1 = {"points": [("m", 60, 1.0), ("m", 61, 2.0), ("m", 125, 3.0)]}
        b2 = {"points": [("m", 119, 4.0)]}
        self.assertEqual(gen.lww_model([b1]), {("m", 60): 2.0, ("m", 120): 3.0})
        self.assertEqual(gen.lww_model([b1, b2])[("m", 60)], 4.0)

    def test_same_seed_same_lines(self):
        self.assertEqual(gen.carbon_batches(7, 2)[1]["lines"], self.batches[1]["lines"])
        self.assertNotEqual(gen.carbon_batches(8, 2)[1]["lines"], self.batches[1]["lines"])


# corpus_stats of the sf0.1 testdata tables (`python3 perfbench/gen.py <dir>`)
SF01 = {
    "documents": 5000, "vocab": 30, "words_min": 10, "words_p50": 54.0,
    "words_max": 99, "near_dup_share": 0.05, "exact_dup_rows": 8,
    "en_share": 0.4118, "sources": 20, "embeddings": 2000, "dim": 64,
    "labels": 10, "label_resultant_x_sqrt_n": 0.99985, "events": 100000,
    "event_types": 5, "users": 1500, "value_mean": 49.868, "value_std": 49.559,
    "days": 29.9995,
}


class CorpusFit(unittest.TestCase):
    """The generated corpus has the sf0.1 figures: counts exactly, the
    rest within what one seed's draw moves them by."""
    EXACT = ["documents", "vocab", "words_min", "words_max", "near_dup_share",
             "sources", "embeddings", "dim", "labels", "events", "event_types", "users"]
    NEAR = {"words_p50": 2, "exact_dup_rows": 8, "en_share": 0.03,
            "label_resultant_x_sqrt_n": 0.25, "value_mean": 2, "value_std": 2,
            "days": 0.01}

    def test_generated_corpus_matches_sf01(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_corpus(d, 3)
            got = gen.corpus_stats(d)
        self.assertEqual(set(got), set(SF01))
        for k in self.EXACT:
            self.assertEqual(got[k], SF01[k], k)
        for k, tol in self.NEAR.items():
            self.assertAlmostEqual(got[k], SF01[k], delta=tol, msg=k)


if __name__ == "__main__":
    unittest.main()
