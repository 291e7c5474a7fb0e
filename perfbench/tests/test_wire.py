"""The generator's wire depends on the seed alone. Builds the harness on
first use and runs its JVM side in setup-only mode."""
import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


def wire_digest(workload, seed, name):
    work = os.path.join(run.WORK, "tests", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"workload": workload, "seed": seed, "seconds": 1, "trace": 0, "cpus": 2,
            "config": os.path.join(HERE, "config.json"), "work": work, "mode": "setup",
            "out": os.path.join(work, "raw.json"), "spans": os.path.join(work, "spans.jsonl")}
    run.run_jvm(args, work, "2g", float("inf"))
    h = hashlib.sha256()
    files = [os.path.join(d, f) for d, _, fs in os.walk(work) for f in fs
             if d.endswith(("staged-0", "templates"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, work).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    shutil.rmtree(work)
    return h.hexdigest(), len(files)


class WireDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(run.WORK, exist_ok=True)
        run.build()

    def check(self, workload):
        a, n = wire_digest(workload, 5, "a")
        b, _ = wire_digest(workload, 5, "b")
        c, _ = wire_digest(workload, 6, "c")
        self.assertGreater(n, 0)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_drain_backlog(self):
        self.check("drain-static")

    def test_live_templates(self):
        self.check("live-fleet")


if __name__ == "__main__":
    unittest.main()
