"""The build cache key: every source file counts, sbt's output does not.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


class SourceHash(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        for rel in ("build.sbt", "project/build.properties", "src/main/scala/graft/A.scala",
                    "src/main/resources/graft/bpe_merges.txt", "perfbench/harness/build.sbt",
                    "perfbench/harness/src/main/scala/perfbench/Harness.scala"):
            write(self.root, rel, rel)
        self.saved, run.ROOT = run.ROOT, self.root

    def tearDown(self):
        run.ROOT = self.saved
        self.tmp.cleanup()

    def test_a_resource_edit_changes_the_key(self):
        before = run.source_hash()
        write(self.root, "src/main/resources/graft/bpe_merges.txt", "other merges")
        self.assertNotEqual(before, run.source_hash())

    def test_a_new_source_file_changes_the_key(self):
        before = run.source_hash()
        write(self.root, "perfbench/harness/src/main/scala/perfbench/B.scala", "object B")
        self.assertNotEqual(before, run.source_hash())

    def test_sbt_output_does_not_change_the_key(self):
        before = run.source_hash()
        for rel in ("target/scala-2.13/classes/graft/A.class", "project/target/x.cache",
                    "project/project/target/y", "perfbench/harness/target/z.class",
                    "perfbench/harness/project/target/w", ".bsp/sbt.json"):
            write(self.root, rel, "built")
        self.assertEqual(before, run.source_hash())


if __name__ == "__main__":
    unittest.main()
