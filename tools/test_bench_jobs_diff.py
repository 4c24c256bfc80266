"""Tests of bench_jobs_diff over two hand-written bench artifacts.

    python3 -m unittest discover -s tools
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_jobs_diff  # noqa: E402


def artifact(jobs):
    return {"metric": "total", "value": 1.0, "unit": "sec",
            "timing": "best_of_2", "queries": {q: 0.1 for q in jobs},
            "jobs": jobs, "shuffle_bytes": {q: 0 for q in jobs}}


class BenchJobsDiffTest(unittest.TestCase):

    def run_main(self, a, b):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, doc in (("a.json", a), ("b.json", b)):
                p = os.path.join(d, name)
                with open(p, "w", encoding="utf-8") as f:
                    f.write(json.dumps(doc) + "\n")
                paths.append(p)
            out = io.StringIO()
            with contextlib.redirect_stdout(out), \
                    contextlib.redirect_stderr(io.StringIO()):
                rc = bench_jobs_diff.main(["bench_jobs_diff.py"] + paths)
            return rc, out.getvalue().splitlines()

    def test_prints_only_changed_queries(self):
        rc, lines = self.run_main(
            artifact({"q1_agg": 3, "g_pagerank": 6, "t_textrank": 5}),
            artifact({"q1_agg": 3, "g_pagerank": 4, "t_textrank": 7}))
        self.assertEqual(rc, 0)
        self.assertEqual(lines[:2], ["g_pagerank 6 4 -2", "t_textrank 5 7 +2"])
        self.assertEqual(lines[2], "2 of 3 shared queries differ in jobs, 0 missing")

    def test_missing_query_fails(self):
        rc, lines = self.run_main(artifact({"q1_agg": 3, "b3_filter": 2}),
                                  artifact({"q1_agg": 3, "x_tpch_q6": 2}))
        self.assertEqual(rc, 1)
        self.assertIn("b3_filter missing from B", lines)
        self.assertIn("x_tpch_q6 missing from A", lines)

    def test_artifact_without_jobs_is_an_error(self):
        old = artifact({"q1_agg": 3})
        del old["jobs"]
        rc, _ = self.run_main(old, artifact({"q1_agg": 3}))
        self.assertEqual(rc, 2)


if __name__ == "__main__":
    unittest.main()
