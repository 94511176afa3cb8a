"""Specs for ``bench_pairs.verdict``, the rule that decides every A/B.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import unittest

from bench_pairs import verdict

LOWER = {"name": "wall_s", "better": "lower", "bound": 0.25}
HIGHER = {"name": "rows_per_s", "better": "higher", "bound": 0.25}

# median 10.0, quartiles 9.9125 / 10.0875: IQR 0.175, 1.75% of the median
PARENT = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.05, 9.95]


def shifted(xs, d):
    return [x + d for x in xs]


class ClaimTest(unittest.TestCase):
    def test_gain_when_every_pair_won_by_more_than_the_parent_iqr(self):
        self.assertEqual(verdict(LOWER, PARENT, shifted(PARENT, -1.0), True, 10),
                         (10, 0, "GAIN"))

    def test_median_gap_within_the_parent_iqr_is_not_a_gain(self):
        # every pair won, but by 0.05 s against an IQR of 0.175 s
        won, lost, status = verdict(LOWER, PARENT, shifted(PARENT, -0.05), True, 10)
        self.assertEqual((won, lost, status), (10, 0, "claim not met"))

    def test_nine_of_ten_pairs_is_enough(self):
        change = shifted(PARENT, -1.0)
        change[0] = PARENT[0] + 0.5
        self.assertEqual(verdict(LOWER, PARENT, change, True, 10), (9, 1, "GAIN"))

    def test_eight_of_ten_pairs_is_not(self):
        change = shifted(PARENT, -1.0)
        change[0] = PARENT[0] + 0.5
        change[1] = PARENT[1] + 0.5
        self.assertEqual(verdict(LOWER, PARENT, change, True, 10),
                         (8, 2, "claim not met"))

    def test_a_failed_pair_counts_as_not_won(self):
        # nine complete pairs, all won, of ten attempted: 9 >= 0.9 * 10
        self.assertEqual(verdict(LOWER, PARENT[:9], shifted(PARENT[:9], -1.0), True, 10),
                         (9, 0, "GAIN"))
        # one of those nine lost as well: 8 of the 10 attempted pairs won
        change = shifted(PARENT[:9], -1.0)
        change[0] = PARENT[0] + 0.5
        self.assertEqual(verdict(LOWER, PARENT[:9], change, True, 10),
                         (8, 1, "claim not met"))

    def test_ties_count_for_neither_side(self):
        change = shifted(PARENT, -1.0)
        change[0] = PARENT[0]
        self.assertEqual(verdict(LOWER, PARENT, change, True, 10), (9, 0, "GAIN"))

    def test_higher_better_metric(self):
        parent = [100 * x for x in PARENT]
        self.assertEqual(verdict(HIGHER, parent, shifted(parent, 100.0), True, 10),
                         (10, 0, "GAIN"))
        self.assertEqual(verdict(HIGHER, parent, shifted(parent, -100.0), True, 10),
                         (0, 10, "claim not met"))


class BoundTest(unittest.TestCase):
    def test_ok_when_worse_within_the_bound(self):
        won, lost, status = verdict(LOWER, PARENT, shifted(PARENT, 0.1), False, 10)
        self.assertEqual((won, lost), (0, 10))
        self.assertTrue(status.startswith("ok (worse by 0.010"), status)

    def test_regressed_when_worse_past_the_bound(self):
        _, _, status = verdict(LOWER, PARENT, shifted(PARENT, 3.0), False, 10)
        self.assertTrue(status.startswith("REGRESSED (worse by 0.300"), status)

    def test_regressed_higher_better(self):
        parent = [100 * x for x in PARENT]
        _, _, status = verdict(HIGHER, parent, [0.5 * x for x in parent], False, 10)
        self.assertTrue(status.startswith("REGRESSED (worse by 0.500"), status)
        _, _, status = verdict(HIGHER, parent, [1.5 * x for x in parent], False, 10)
        self.assertTrue(status.startswith("ok (better by 0.500"), status)

    def test_unresolved_when_a_side_spreads_past_the_bound(self):
        wide = [float(x) for x in range(1, 11)]  # IQR 4.5 on a median of 5.5
        _, _, status = verdict(LOWER, wide, shifted(wide, 0.1), False, 10)
        self.assertTrue(status.startswith("unresolved (spread 0.818"), status)
        # the change's spread counts too
        _, _, status = verdict(LOWER, PARENT, shifted(wide, 4.5), False, 10)
        self.assertTrue(status.startswith("unresolved"), status)

    def test_separated_runs_resolve_a_wide_spread(self):
        wide = [float(x) for x in range(11, 21)]
        better = [x - 10.5 for x in wide]  # every change run beats every parent run
        _, _, status = verdict(LOWER, wide, better, False, 10)
        self.assertTrue(status.startswith("ok (better by"), status)
        worse = [x + 10.5 for x in wide]  # separated, but on the wrong side
        _, _, status = verdict(LOWER, wide, worse, False, 10)
        self.assertTrue(status.startswith("unresolved"), status)


if __name__ == "__main__":
    unittest.main()
