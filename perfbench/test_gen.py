"""Tests of the seeded landing generator.

    python3 -m unittest perfbench/test_gen.py
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _tree(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def _write_all(root, seed):
    gen.write_history(os.path.join(root, "history"), seed, 400, days_per_file=100)
    return gen.write_payloads(os.path.join(root, "payloads"), seed, gen.history_end(400), 12)


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_gives_identical_files(self):
        a, b = os.path.join(self.root, "a"), os.path.join(self.root, "b")
        self.assertEqual(_write_all(a, 7), _write_all(b, 7))
        files = _tree(a)
        self.assertEqual(files, _tree(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_files(self):
        a, b = os.path.join(self.root, "a"), os.path.join(self.root, "b")
        _write_all(a, 7)
        _write_all(b, 8)
        files = _tree(a)
        self.assertEqual(files, _tree(b))  # same layout, other content
        match, _, _ = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual(match, [])

    def test_payload_shape(self):
        sched = gen.write_payloads(self.root, 3, gen.history_end(10), 11)
        with open(os.path.join(self.root, sched[0]["file"]), encoding="utf-8") as f:
            recs = json.load(f)
        self.assertGreaterEqual(len(recs), 55)
        self.assertEqual(set(recs[0]), {"r030", "txt", "rate", "cc", "exchangedate"})
        self.assertTrue(any("Ѐ" <= c <= "ӿ" for r in recs for c in r["txt"]))
        usd = [r for r in recs if r["cc"] == "USD"][0]
        self.assertRegex(usd["exchangedate"], r"^\d\d\.\d\d\.\d{4}$")

    def test_reruns_restate_the_previous_day(self):
        sched = gen.write_payloads(self.root, 3, gen.history_end(10), 11)
        reruns = [i for i, s in enumerate(sched) if s["rerun"]]
        self.assertEqual(reruns, [5, 10])
        for i in reruns:
            self.assertEqual(sched[i]["ingest_date"], sched[i - 1]["ingest_date"])
            self.assertGreater(sched[i]["ingest_ts"], sched[i - 1]["ingest_ts"])

    def test_some_dates_are_malformed(self):
        gen.write_history(self.root, 5, 20)
        bad = 0
        for f in _tree(self.root):
            with open(os.path.join(self.root, f), encoding="utf-8") as fh:
                for line in fh:
                    if json.loads(line)["exchangedate"] in gen.BAD_DATES:
                        bad += 1
        self.assertGreater(bad, 0)


if __name__ == "__main__":
    unittest.main()
