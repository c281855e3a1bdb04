"""Tests of the benchmark's pure logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import batch_check, canon, gen_incremental, gen_tables, gen_votes, votes_check  # noqa: E402
from pb.stats import beta_cdf, driver_gap, percentile, self_times, union_length  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class PercentileTest(unittest.TestCase):
    def test_estimates_and_counts(self):
        value, n = percentile(range(1, 11), 50)
        self.assertAlmostEqual(value, 5.5)
        self.assertEqual(n, 10)
        self.assertAlmostEqual(percentile([3.0, 1.0, 2.0], 50)[0], 2.0)
        self.assertAlmostEqual(percentile([4.0] * 7, 90)[0], 4.0)
        p90 = percentile(range(1, 11), 90)[0]
        self.assertTrue(9.0 < p90 < 10.0, p90)

    def test_one_sample_moving_moves_it_less_than_a_plain_median(self):
        # the 5th sample moving from 0.8 to 1.0 moves a plain median of these
        # ten from 0.9 to 1.0
        base = [0.1, 0.2, 0.3, 0.5, 0.8, 1.0, 1.2, 2.0, 3.0, 5.0]
        before = percentile(base, 50)[0]
        after = percentile([0.1, 0.2, 0.3, 0.5, 1.0, 1.0, 1.2, 2.0, 3.0, 5.0], 50)[0]
        self.assertLess(after - before, 0.06)

    def test_beta_cdf_closed_forms(self):
        self.assertAlmostEqual(beta_cdf(0.7, 1, 1), 0.7)
        x = 0.3  # I_x(2, 3) = 6x^2 - 8x^3 + 3x^4
        self.assertAlmostEqual(beta_cdf(x, 2, 3), 6 * x ** 2 - 8 * x ** 3 + 3 * x ** 4)
        self.assertAlmostEqual(beta_cdf(0.5, 11.5, 11.5), 0.5)
        self.assertAlmostEqual(beta_cdf(0.9, 0.6, 5.4) + beta_cdf(0.1, 5.4, 0.6), 1.0)

    def test_single_and_empty(self):
        self.assertEqual(percentile([7.0], 90), (7.0, 1))
        with self.assertRaises(ValueError):
            percentile([], 50)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(union_length([(1, 3), (2, 5), (7, 8), (7.5, 7.6)]), 5)
        self.assertEqual(union_length([]), 0)

    def test_union_clips_to_window(self):
        self.assertEqual(union_length([(0, 4), (6, 12)], 2, 10), 6)

    def test_driver_gap_is_window_minus_jobs(self):
        self.assertEqual(driver_gap((0, 10), [(1, 3), (2, 5), (7, 8)]), 5)
        self.assertEqual(driver_gap((0, 10), [(-5, 20)]), 0)
        self.assertEqual(driver_gap((0, 10), []), 10)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
            {"id": 3, "parent": 2, "start": 3.0, "end": 5.0},
        ]
        self.assertEqual(self_times(spans), {0: 5.0, 1: 3.0, 2: 1.0, 3: 2.0})


class CanonTest(unittest.TestCase):
    def test_numbers_round_to_twelve_digits(self):
        self.assertEqual(canon.value(0.1), "1e-1")
        self.assertEqual(canon.value(1.0), "1")
        self.assertEqual(canon.value(-2500.0), "-2500")
        self.assertEqual(canon.value(1 / 3), "333333333333e-12")
        self.assertEqual(canon.value(decimal.Decimal("12.50")), "125e-1")
        self.assertEqual(canon.value(0.30000000000000004), canon.value(0.3))

    def test_table_hash_ignores_row_and_column_order(self):
        a = canon.table_hash(["x", "y"], [(1, "a"), (2, None)])
        b = canon.table_hash(["y", "x"], [(None, 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, canon.table_hash(["x", "y"], [(1, "a"), (3, None)]))


class GeneratorTest(unittest.TestCase):
    def test_vote_corpus_is_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            digests = []
            for i, seed in enumerate([5, 5, 6]):
                out = os.path.join(t, str(i))
                gen_votes.write(gen_votes.sample_files(gen_votes.generate(seed), seed), out)
                digests.append(tree_digest(out))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])

    def test_vote_corpus_matches_published_scale(self):
        self.assertEqual(gen_votes.scale_problems(gen_votes.generate(5)), [])

    def test_sample_cuts_whole_days_and_restricts_truth(self):
        for seed in range(5, 25):
            cut = gen_votes.sample_files(gen_votes.generate(seed), seed)
            self.assertEqual(len(cut.matrices), 4)
            self.assertTrue(850 <= cut.rolls <= 900)
            keys = {(m.year, m.chamber) for m in cut.matrices}
            self.assertTrue(all((t[0], t[1]) in keys for t in cut.truth_matches))
            full = {(m.year, m.chamber): m for m in gen_votes.generate(seed).matrices}
            for m in cut.matrices:
                rest = full[(m.year, m.chamber)].rolls[len(m.rolls):]
                self.assertNotEqual(m.rolls[-1][2][:10], rest[0][2][:10])

    def test_tables_and_incremental_inputs_are_deterministic(self):
        self.assertTrue(gen_tables.table("lineitem", 0.001, 3).equals(
            gen_tables.table("lineitem", 0.001, 3)))
        self.assertFalse(gen_tables.table("lineitem", 0.001, 3).equals(
            gen_tables.table("lineitem", 0.001, 4)))
        with tempfile.TemporaryDirectory() as t:
            for i in (0, 1):
                gen_incremental.write(os.path.join(t, str(i)), 0.01, 9)
            self.assertEqual(tree_digest(os.path.join(t, "0")), tree_digest(os.path.join(t, "1")))


class CheckTest(unittest.TestCase):
    def test_wrong_expected_batch_value_fails(self):
        ops = [{"id": 0, "name": "q1", "ok": True, "info": {"rows": 3, "hash": "abc"}},
               {"id": 1, "name": "q2", "ok": True, "info": {"rows": 4, "hash": "def"}}]
        right = {"q1": {"rows": 3, "hash": "abc"}, "q2": {"rows": 4, "hash": "def"}}
        self.assertEqual(batch_check.failures(ops, right), {})
        wrong_hash = dict(right, q1={"rows": 3, "hash": "abd"})
        self.assertEqual(list(batch_check.failures(ops, wrong_hash)), [0])
        wrong_rows = dict(right, q2={"rows": 5, "hash": "def"})
        self.assertEqual(list(batch_check.failures(ops, wrong_rows)), [1])

    def test_wrong_vote_truth_fails(self):
        corpus = gen_votes.sample_files(gen_votes.generate(5), 5, 50, 20, 1)
        matches = [list(t) for t in sorted(corpus.truth_matches)]
        ops = [{"id": 0, "kind": "match", "ok": True,
                "info": {"matches": matches, "names": len(matches)}},
               {"id": 1, "kind": "find_duplicates", "ok": True,
                "info": {"merges": [[s, list(a)] for s, a in corpus.truth_merges]}}]
        failed, quality = votes_check.check(corpus, ops, "")
        self.assertEqual(failed, {})
        self.assertEqual(quality["votes.match_precision"], 1.0)
        ops[0]["info"]["matches"][0][3] += 1
        ops[1]["info"]["merges"] = ops[1]["info"]["merges"][1:]
        failed, quality = votes_check.check(corpus, ops, "")
        self.assertEqual(sorted(failed), [0, 1])
        self.assertLess(quality["votes.merge_recall"], 1.0)

    def test_wrong_rename_count_fails(self):
        corpus = gen_votes.sample_files(gen_votes.generate(5), 5, 200, 100, 1)
        renamed = gen_votes.renamed_votes(corpus)
        ops = [{"id": 0, "kind": "apply_edits", "ok": True,
                "info": {"service_rows": votes_check.expected_service_rows(corpus),
                         "renamed": dict(renamed)}}]
        self.assertEqual(votes_check.check(corpus, ops, "")[0], {})
        # a ranged rename applied to every roll renames more votes
        ranged = gen_votes.vote_renames(corpus)[1][1]
        ops[0]["info"]["renamed"][ranged] += 1
        self.assertEqual(list(votes_check.check(corpus, ops, "")[0]), [0])
        # a rename that is not applied leaves its new name on no vote
        del ops[0]["info"]["renamed"][ranged]
        self.assertEqual(list(votes_check.check(corpus, ops, "")[0]), [0])


if __name__ == "__main__":
    unittest.main()
