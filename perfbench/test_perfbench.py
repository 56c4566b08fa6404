"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import hashlib
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(range(1, 101)), (90, 90.0, 100))
        self.assertEqual(stats.tail(range(1, 21)), (10, 50.0, 20))
        value, pct, n = stats.tail([5.0] * 3 + list(range(11)))
        self.assertEqual((value, n), (3, 14))
        self.assertAlmostEqual(pct, 100 * 4 / 14)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(range(10)))
        self.assertEqual(stats.tail(range(11)), (0, 100 / 11, 11))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b, name="x", trace="t"):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b, "name": name, "trace": trace}

    def test_overlapping_and_clipped_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 90, 120), self.span(5, 2, 12, 14)]
        st = stats.self_times(spans)
        # children cover [10, 50] and [90, 100] of the parent
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 18)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 2)

    def test_by_name_sums_within_trace_then_median(self):
        spans = [self.span(1, 0, 0, 1000, "a", "t1"), self.span(2, 0, 0, 3000, "a", "t1"),
                 self.span(3, 0, 0, 2000, "a", "t2"), self.span(4, 0, 0, 6000, "a", "t3")]
        self.assertEqual(stats.self_by_name(spans), {"a": 4.0})

    def test_union(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.covered([]), 0)


class Scripted:
    """A stand-in for random.Random: lowest value, first choice, no shuffle."""

    def randint(self, a, b):
        return a

    def choice(self, seq):
        return seq[0]

    def shuffle(self, seq):
        pass


class ExpectedCounts(unittest.TestCase):
    def test_hand_checked_page(self):
        # 8 besluiten, unshuffled flags: dates 0-3 need repair, besluit 0
        # has the unrepairable decimal, besluiten 0-5 have an HTML body
        html, counts = gen.page_html(Scripted(), "p", 8, p_html=0.8)
        self.assertEqual(html.count('typeof="besluit:Besluit"'), 8)
        self.assertEqual(html.count('content="Jan 1, 2015"'), 4)
        self.assertEqual(html.count('content="2015-01-01"'), 4)
        self.assertEqual(html.count('datatype="xsd:decimal"'), 1)
        self.assertEqual(html.count('datatype="rdf:HTML"'), 6)
        # valid: 8 x (type, title, cites, provenance) + 4 valid dates + 6 bodies
        self.assertEqual(counts, {"valid": 42, "corrected": 4, "invalid": 1, "html": 6})
        self.assertEqual(gen.ttl_lines(counts),
                         {"valid": 46, "original": 47, "invalid": 5, "corrected": 4})
        e = gen.expected_task([counts, {"valid": 0, "corrected": 0, "invalid": 0, "html": 0}], True)
        self.assertEqual((e["html_files"], e["registered_files"], e["pages"]), (6, 8, 2))
        self.assertEqual(gen.expected_task([counts], False)["ttl_lines"], {"valid": 46})

    def test_poison_pages_carry_no_rdfa(self):
        for kind in gen.POISON_KINDS:
            page = gen.poison_html(random.Random(1), kind)
            self.assertNotIn("property=", page)
            self.assertNotIn("typeof=", page)


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a = gen.gen_delta(5, os.path.join(t, "a"))
            b = gen.gen_delta(5, os.path.join(t, "b"))
            c = gen.gen_delta(6, os.path.join(t, "c"))
            self.assertEqual(tree_digest(os.path.join(t, "a")), tree_digest(os.path.join(t, "b")))
            self.assertNotEqual(tree_digest(os.path.join(t, "a")), tree_digest(os.path.join(t, "c")))
            self.assertEqual(a["expected"], b["expected"])

    def test_corpus_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            gen.gen_corpus(5, os.path.join(t, "a"))
            gen.gen_corpus(5, os.path.join(t, "b"))
            gen.gen_corpus(6, os.path.join(t, "c"))
            self.assertEqual(tree_digest(os.path.join(t, "a")), tree_digest(os.path.join(t, "b")))
            self.assertNotEqual(tree_digest(os.path.join(t, "a")), tree_digest(os.path.join(t, "c")))


if __name__ == "__main__":
    unittest.main()
