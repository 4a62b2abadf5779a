"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The Scala half (SelfTest.scala: corpus fingerprint, seed windows, the
correctness check) is compiled against the benchmark's classes and run in
one JVM; the printer tests run in Python.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT / "perfbench"))
import build  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


class PrinterTest(unittest.TestCase):
    def measured(self, declared):
        return {m["name"]: (1.5, m["unit"]) for m in declared}

    def test_every_declared_metric_is_printed_with_its_unit(self):
        for kind in ("end_to_end", "per_layer"):
            declared = SPEC[kind]
            line = json.dumps(run.result(declared, self.measured(declared), 0, 10))
            out = json.loads(line)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(out["metrics"]), {m["name"] for m in declared})
            for m in declared:
                self.assertEqual(out["metrics"][m["name"]], {"value": 1.5, "unit": m["unit"]})

    def test_a_missing_metric_is_an_error(self):
        declared = SPEC["end_to_end"]
        metrics = self.measured(declared)
        del metrics[declared[0]["name"]]
        with self.assertRaises(run.BenchError):
            run.result(declared, metrics, 0, 10)

    def test_failures_make_the_run_incorrect(self):
        declared = SPEC["end_to_end"]
        out = run.result(declared, self.measured(declared), 1, 10)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)


class ScalaSelfTest(unittest.TestCase):
    def test_corpus_and_check(self):
        classpath = build.build(ROOT)
        tests = build.compile_to(ROOT, [Path("perfbench/tests")], classpath, "test-classes")
        scratch = ROOT / build.BUILD_DIR / "selftest"
        shutil.rmtree(scratch, ignore_errors=True)
        (scratch / "tmp").mkdir(parents=True)
        try:
            res = subprocess.run(
                ["java", *run.java_opts(scratch / "tmp"), "-Xmx2g",
                 "-cp", f"{tests}:{classpath}", "perfbench.SelfTest", str(scratch)],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        print(res.stdout)
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
