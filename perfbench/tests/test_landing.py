"""Determinism of the landing generator and the reference expectations.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import landing  # noqa: E402

FIXTURE = os.path.join(HERE, "..", "..", "src", "main", "scala", "graft", "etl", "AdFixture.scala")


def files_digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def test_same_seed_same_files_and_expectations(self):
        a = landing.generate(7, 3, 4, 200)
        b = landing.generate(7, 3, 4, 200)
        self.assertEqual(a, b)
        with tempfile.TemporaryDirectory() as tmp:
            digests = []
            for run in ("x", "y"):
                landing.write_batch(os.path.join(tmp, run), a[2][0])
                digests.append(files_digest(os.path.join(tmp, run)))
            self.assertEqual(digests[0], digests[1])

    def test_other_seed_other_batches(self):
        self.assertNotEqual(landing.generate(7, 1, 4, 200), landing.generate(8, 1, 4, 200))

    def test_batches_carry_every_branch(self):
        docs, exp = landing.generate(3, 1, 8, 400)[0]
        self.assertEqual(set(exp["quarantine"]), {
            "missing:ad_id", "missing:is_active", "missing:start_date_ts",
            "invalid_epoch:start_date_ts", "invalid_epoch:end_date_ts",
            "invalid_enum:display_format", "end_before_start"})
        self.assertEqual(len(exp["report"]), 10)
        self.assertLess(exp["curated"], exp["ads"])

    def test_later_batches_recollect_earlier_ads(self):
        (_, first), (_, second) = landing.generate(5, 2, 8, 400)
        self.assertTrue(set(first["curated_ids"]) & set(second["curated_ids"]))


class Reference(unittest.TestCase):
    def test_edge_batch_keeps_empty_cards_rows(self):
        exp = landing.expected(landing.edge_batch())
        self.assertIn("9000000000001", exp["curated_ids"])  # DCO with "cards": []
        self.assertEqual(sum(exp["quarantine"].values()), 7)

    @unittest.skipUnless(os.path.exists(FIXTURE), "engine fixture not present")
    def test_engine_fixture_outcomes(self):
        # The fixture's outcomes are pinned in AdPipelineSpec and by the
        # DuckDB oracle: 18 parsed ads, 8 curated, 7 report rows.
        with open(FIXTURE, encoding="utf-8") as f:
            text = re.search(r'val json: String = """(.*?)"""', f.read(), re.S).group(1)
        exp = landing.expected([json.loads(text)], now=1720000000)
        self.assertEqual(exp["ads"], 18)
        self.assertEqual(exp["curated"], 8)
        self.assertEqual(len(exp["report"]), 7)


if __name__ == "__main__":
    unittest.main()
