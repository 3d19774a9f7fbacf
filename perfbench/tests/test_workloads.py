"""JVM-side tests: they build the benchmark like a run does, then drive
graft.perfbench.Main at self-test scale."""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402
import run  # noqa: E402

WORKLOADS = ["log_churn", "lake_dml", "corpus_dedup"]


def digests(seed, name):
    lines = run.run_jvm(["--mode", "digest", "--seed", str(seed)],
                        build.BUILD / "work" / name, "jvm.log")
    return {x["workload"]: x["digest"] for x in lines}


class WorkloadTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build()

    def test_checkers_count_a_wrong_answer_as_a_failed_op(self):
        lines = run.run_jvm(["--mode", "selftest", "--seed", "5", "--cores", str(run.cores())],
                            build.BUILD / "work" / "selftest", "jvm.log", timeout=900)
        self.assertEqual([x["workload"] for x in lines], WORKLOADS)
        for x in lines:
            with self.subTest(workload=x["workload"]):
                self.assertEqual(x["clean_failed"], 0, x["errors"])
                self.assertGreater(x["corrupt_failed"], 0)

    def test_same_seed_gives_byte_identical_inputs(self):
        first, second, other = digests(5, "digest-a"), digests(5, "digest-b"), digests(6, "digest-c")
        self.assertEqual(sorted(first), sorted(WORKLOADS))
        self.assertEqual(first, second)
        for w in WORKLOADS:
            self.assertNotEqual(first[w], other[w])


if __name__ == "__main__":
    unittest.main()
