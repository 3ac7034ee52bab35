"""The cached build is reused only while the sources it was made from are
unchanged.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import run  # noqa: E402

SOURCES = {
    "src/main/scala/graft/Engine.scala": "object Engine",
    "perfbench/src/main/scala/graft/perfbench/Main.scala": "object Main",
    "perfbench/build.sbt": "name := \"perfbench\"",
    "perfbench/project/build.properties": "sbt.version=1.10.0",
}


class BuildCacheTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        self.build_dir = os.path.join(self.root, ".bench_build", "perfbench")
        for rel, text in SOURCES.items():
            self.write(rel, text)
        self.compiles = 0

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, rel, text):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)

    def compile(self, build_dir):
        self.compiles += 1

    def build(self):
        with mock.patch.object(run, "compile_harness", self.compile):
            run.build(self.root, self.build_dir)

    def test_unchanged_sources_reuse_the_build(self):
        self.build()
        self.build()
        self.assertEqual(self.compiles, 1)

    def test_changed_engine_source_builds_again(self):
        self.build()
        self.write("src/main/scala/graft/Engine.scala", "object Engine { }")
        self.build()
        self.assertEqual(self.compiles, 2)
        self.build()
        self.assertEqual(self.compiles, 2)

    def test_new_harness_source_builds_again(self):
        self.build()
        self.write("perfbench/src/main/scala/graft/perfbench/Extra.scala", "object X")
        self.build()
        self.assertEqual(self.compiles, 2)

    def test_failed_build_is_not_cached(self):
        self.build()
        self.write("perfbench/build.sbt", "name := \"changed\"")

        def fail(build_dir):
            raise RuntimeError("compile failed")
        with mock.patch.object(run, "compile_harness", fail):
            with self.assertRaises(RuntimeError):
                run.build(self.root, self.build_dir)
        self.build()
        self.assertEqual(self.compiles, 2)


if __name__ == "__main__":
    unittest.main()
