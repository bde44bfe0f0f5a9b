"""Generator determinism and planted-fact consistency.

    python3 -m unittest discover perfbench/tests
"""

import csv
import io
import os
import sys
import unittest
from datetime import datetime

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def expected_facts(csv_text):
    """Re-derive the kept rows from the CSV text with the reference's rules,
    independently of how the generator planted them."""
    out = []
    reader = csv.reader(io.StringIO(csv_text), skipinitialspace=True)
    next(reader)
    for ts, vt, events in reader:
        if "206" not in events.split(","):
            continue
        pieces = vt.split("|")
        if len(pieces) < 2:
            continue
        try:
            t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        except ValueError:
            continue
        head = pieces[0]
        platform = next((p for p in ("Android", "iPhone", "iPad") if p in head),
                        "Desktop")
        words = head.split(" ")
        site = (gen.NONE_SITE if any(w in ("Android", "iPhone", "iPad", "Web")
                                     for w in words) else head)
        out.append((t.strftime("%Y%m%d%H%M"), platform, site, pieces[-1]))
    return out


class VideoStartBatchTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(gen.videostart_batch(7, 2000, 300),
                         gen.videostart_batch(7, 2000, 300))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(gen.videostart_batch(7, 2000, 300)[0],
                            gen.videostart_batch(8, 2000, 300)[0])

    def test_planted_facts_follow_the_rules(self):
        text, facts = gen.videostart_batch(3, 5000, 400)
        self.assertEqual(facts, expected_facts(text))

    def test_videostart_share_and_edge_rows(self):
        text, facts = gen.videostart_batch(5, 20000, 3000)
        share = len(facts) / 20000.0
        self.assertAlmostEqual(share, gen.VIDEOSTART_SHARE, delta=0.02)
        for needle in ('"1206,', "JustOnePiece", "not-a-date", "日本", "iPad App|",
                       "9news|"):
            self.assertIn(needle, text)

    def test_report_lines_deterministic(self):
        _, facts = gen.videostart_batch(9, 3000, 200)
        a = gen.report_lines(facts)
        self.assertEqual(a, gen.report_lines(list(facts)))
        self.assertEqual(len(a["top_titles"]), gen.REPORT_TOPN)
        self.assertEqual(sum(int(x.split("\t")[-1]) for x in a["hour_platform"]),
                         len(facts))


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        self.assertEqual(gen.corpus(4, 1500), gen.corpus(4, 1500))
        self.assertNotEqual(gen.corpus(4, 1500)[0], gen.corpus(5, 1500)[0])

    def test_planted_structure(self):
        docs, planted = gen.corpus(4, 3000)
        self.assertEqual(len(docs), 3000)
        text = dict(docs)
        self.assertEqual(sorted(text), list(range(1, 3001)))
        for i in planted["exact"]:  # a case-variant of a lower-id copy exists
            twins = [j for j, t in docs
                     if j < i and t.lower() == text[i].lower()]
            self.assertTrue(twins, i)
        self.assertTrue(any(len(c) >= 4 for c in planted["clusters"]))  # chains
        for i in planted["lowq"]:
            words = text[i].split(" ")
            stop = sum(w in gen.STOPWORDS for w in words) / float(len(words))
            self.assertTrue(len(words) < 30 or stop > 0.25, i)

    def test_served_batches(self):
        a = gen.served_batches(2, 500, 3, 100)
        self.assertEqual(a, gen.served_batches(2, 500, 3, 100))
        store, batches, planted = a
        ids = [i for i, _ in store] + [i for b in batches for i, _ in b]
        self.assertEqual(ids, sorted(ids))  # monotone with arrival
        stored = dict(store)
        for pairs, batch in zip(planted, batches):
            texts = dict(batch)
            for b, s in pairs:
                diff = sum(x != y for x, y in zip(texts[b].split(" "),
                                                  stored[s].split(" ")))
                self.assertLessEqual(diff, 3)


if __name__ == "__main__":
    unittest.main()
