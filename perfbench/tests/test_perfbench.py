"""Tests of the benchmark itself. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests -v

They build the harness (as perfbench/run.py does) and start JVMs, so
they take about three and a half minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402


def harness(cp, *args):
    out = subprocess.run(["java", "-Duser.timezone=UTC"]
                         + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                         + ["-cp", cp, "perfbench.SelfCheck", *args],
                         capture_output=True, text=True, timeout=300, check=True).stdout
    return out.strip().splitlines()[-1]


def bench(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "5", "--seconds", "5", "--trace", str(trace)],
                       capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        cls.tmp = tempfile.mkdtemp(dir=run.WORK)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def spool_digest(self, seed, name):
        events = os.path.join(self.tmp, f"events_{name}")
        gen.events(gen.SF0001, events, seed)
        return harness(self.cp, "spool-digest", events, os.path.join(self.tmp, f"spool_{name}"),
                       str(seed))

    def test_same_seed_same_spool_bytes(self):
        a, b, c = self.spool_digest(7, "a"), self.spool_digest(7, "b"), self.spool_digest(8, "c")
        self.assertTrue(a.startswith("DIGEST "))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_open_loop_generator_keeps_schedule_when_sink_stalls(self):
        line = harness(self.cp, "dropper", os.path.join(self.tmp, "dropper"))
        late = json.loads(line.split(" ")[1])
        self.assertTrue(line.endswith("MOVED 60"), line)
        self.assertEqual(len(late), 60)
        # 60 drops at 20/s run for 3 s, all while both cores are held by the stall
        self.assertLess(max(late), 250.0, late)

    def test_lake_predictions(self):
        """Only curate_lake stages artifacts; its serve phase builds none."""
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                r = bench(w, trace=1)
                self.assertTrue(r["correct"], r)
                m = {k: v["value"] for k, v in r["metrics"].items()}
                if w == "curate_lake":
                    self.assertGreater(m["staging.artifacts_built"], 0)
                    self.assertEqual(m["staging.serve_new_artifacts"], 0)
                    self.assertEqual(m["staging.hit_ratio"], 1.0)
                else:
                    self.assertEqual(m["staging.artifacts_built"], 0)
                self.assertGreater(m["trace.ab_ops"], 0)


if __name__ == "__main__":
    unittest.main()
