#!/usr/bin/env python3
"""The benchmark's own test: regenerate every pinned digest with DuckDB
and diff it against perfbench/digests.json, pin the rendering rules the
Scala harness must share, and re-measure the duplicate mix that sets
dedup_ingest's batches against perfbench/dedup_mix.json.

    python3 perfbench/test_digest.py
"""
import datetime
import decimal
import json
import os
import unittest

import dedup_mix
import digest


class DigestTest(unittest.TestCase):
    def test_pinned_digests_regenerate(self):
        with open(digest.DIGESTS) as f:
            pinned = json.load(f)["texts"]
        fresh = digest.generate()["texts"]
        self.assertEqual(sorted(pinned), sorted(fresh))
        for name in fresh:
            self.assertEqual(pinned[name], fresh[name], name)

    def test_every_text_returns_rows(self):
        with open(digest.DIGESTS) as f:
            pinned = json.load(f)["texts"]
        self.assertEqual(len(pinned), 37)
        for name, entry in pinned.items():
            self.assertNotEqual(entry["digest"].split(":")[0], "0", name)

    def test_dedup_mix_regenerates(self):
        with open(dedup_mix.MIX) as f:
            pinned = json.load(f)
        self.assertEqual(pinned, dedup_mix.measure())
        # the batches' near duplicates append a word: the edit must be
        # the one every near pair of the corpus shows
        self.assertEqual(pinned["near_pairs_trailing_append"], pinned["near_pairs"])
        self.assertGreater(pinned["near_dup_docs"], 0)

    def test_rendering(self):
        self.assertEqual(digest.cell(None), "\\N")
        self.assertEqual(digest.cell(3), "3.000000")
        self.assertEqual(digest.cell(3.0), "3.000000")
        self.assertEqual(digest.cell(-0.0), "0.000000")
        self.assertEqual(digest.cell(decimal.Decimal("1.23")), "1.230000")
        # half-even on the exact binary value: 0.0000005 is stored below the tie
        self.assertEqual(digest.cell(0.0000005), "0.000000")
        self.assertEqual(digest.cell(2.0000015), "2.000002")
        self.assertEqual(digest.cell(True), "true")
        self.assertEqual(digest.cell(datetime.date(1996, 1, 2)), "1996-01-02")
        self.assertEqual(digest.cell("MAIL"), "MAIL")

    def test_row_order_does_not_matter(self):
        a = [(1, "x", 2.5), (2, "y", None)]
        self.assertEqual(digest.digest(a), digest.digest(list(reversed(a))))
        self.assertNotEqual(digest.digest(a), digest.digest(a[:1]))


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.abspath(__file__)))
    unittest.main()
