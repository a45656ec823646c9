"""The benchmark's own tests.

Run from the root of a checkout:  python3 -m unittest perfbench/test_perfbench.py

- SelfTest (Scala): the same seed gives the same input digest and a
  different seed a different one; every metric name matches
  [A-Za-z0-9_.-]+; the tracer records a well-formed span tree.
- BENCHMARK.json agrees with the benchmark's own metric catalogue.
- Without the program's sources the benchmark fails without a result.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build()
        cls.spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())

    def test_selftest(self):
        opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        proc = subprocess.run(
            ["java", *opens, "-Xmx1g", "-XX:-UsePerfData",
             f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
             "-cp", build.classpath(), "perfbench.SelfTest", str(build.ROOT)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        catalogue = json.loads(proc.stdout.strip().splitlines()[-1])
        for kind in ("end_to_end", "per_layer"):
            declared = [(m["name"], m["unit"]) for m in self.spec[kind]]
            emitted = [(m["name"], m["unit"]) for m in catalogue[kind]]
            self.assertEqual(declared, emitted, kind)

    def test_metric_names(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        names += [w["name"] for w in self.spec["workloads"]]
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(set(run.WORKLOADS)))

    def test_fails_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(build.ROOT / "BENCHMARK.json", d)
            shutil.copytree(build.BENCH, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0],
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"metrics"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
