"""Tests of the benchmark's own inputs. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

- every seeded generator writes byte-identical files for the same seed
  (and different files for another seed);
- the synthetic DFT stand-in repeats byte for byte, and the library's
  parser reads its logs like the golden ones (perfbench.SelfTest).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_inputs  # noqa: E402
import run  # noqa: E402

WORK = os.path.abspath(os.path.join(".bench_work", "test"))


def digest(root):
    h = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                h[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return h


class GeneratorsTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def check(self, gen):
        for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen(os.path.join(WORK, tag), seed)
        a, b, c = (digest(os.path.join(WORK, t)) for t in "abc")
        self.assertTrue(a)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_dag(self):
        self.check(gen_inputs.gen_dag)

    def test_screen(self):
        self.check(lambda d, s: gen_inputs.gen_screen(d, s, 4))
        with open(os.path.join(WORK, "a", "preload.txt")) as f:
            keys = f.read().split()
        self.assertEqual(len(keys), 4 * 3 * 2 // 2)

    def test_curate(self):
        self.check(lambda d, s: gen_inputs.gen_curate(d, s, 0.2))

    def test_queries(self):
        self.check(lambda d, s: gen_inputs.gen_queries(d, s, 0.001))


class SyntheticExecTest(unittest.TestCase):
    def test_logs_repeat_and_parse_like_golden(self):
        cp = run.build()
        scratch = os.path.join(WORK, "selftest")
        os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
        try:
            r = subprocess.run(
                ["java", "-Xmx1g", "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp")]
                + run.java_opts()
                + ["-cp", os.pathsep.join(cp + [run.spark_jars()]), "perfbench.SelfTest", scratch],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=scratch,
                timeout=170)
            self.assertEqual(r.returncode, 0, r.stdout[-4000:])
        finally:
            shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
