"""Unit tests for scripts/joblog.py.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""

import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import joblog  # noqa: E402

SITE = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
        "graft.queries.DedupQueries$.lshServe(DedupQueries.scala:10)\n"
        "graft.streaming.IndexMaintenance$.serve(IndexMaintenance.scala:20)\n"
        "perfbench.Harness$.main(Harness.scala:30)")
LISTING = ("org.apache.spark.util.HadoopFSUtils$.parallelListLeafFiles(X.scala:1)\n"
           "graft.operators.PersistedIndex$.artifactFrame(PersistedIndex.scala:5)")

# an application start, one SQL execution running two jobs (3 tasks), and a
# listing job outside any execution (2 tasks); times in ms
EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 1000},
    {"Event": joblog.SQL_START, "executionId": 0, "time": 1500, "details": SITE},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1510,
     "Stage IDs": [0], "Stage Infos": [{"Details": SITE}],
     "Properties": {"spark.sql.execution.id": "0"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1610,
     "Stage IDs": [1, 2], "Stage Infos": [{"Details": SITE}, {"Details": SITE}],
     "Properties": {"spark.sql.execution.id": "0"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
    {"Event": joblog.SQL_END, "executionId": 0, "time": 1750},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000,
     "Stage IDs": [3], "Stage Infos": [{"Details": LISTING}], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2250},
]


class JobTableTest(unittest.TestCase):
    def test_rows(self):
        rows = joblog.job_table(EVENTS, frames=2)
        self.assertEqual(len(rows), 2)
        sql, job = rows
        self.assertEqual((sql["kind"], sql["id"], sql["jobs"], sql["tasks"]), ("sql", 0, 2, 3))
        self.assertAlmostEqual(sql["start_s"], 0.5)
        self.assertAlmostEqual(sql["dur_s"], 0.25)
        self.assertEqual(sql["site"], [
            "graft.queries.DedupQueries$.lshServe(DedupQueries.scala:10)",
            "graft.streaming.IndexMaintenance$.serve(IndexMaintenance.scala:20)"])
        self.assertEqual((job["kind"], job["id"], job["jobs"], job["tasks"]), ("job", 2, 1, 2))
        self.assertAlmostEqual(job["start_s"], 1.0)
        self.assertAlmostEqual(job["dur_s"], 0.25)
        self.assertEqual(job["site"],
                         ["graft.operators.PersistedIndex$.artifactFrame(PersistedIndex.scala:5)"])

    def test_frames_limit(self):
        self.assertEqual(len(joblog.job_table(EVENTS, frames=1)[0]["site"]), 1)

    def test_unfinished_execution_has_no_duration(self):
        rows = joblog.job_table(EVENTS[:5])
        self.assertIsNone(rows[0]["dur_s"])
        self.assertEqual(rows[0]["tasks"], 2)

    def test_main_reads_rolled_parts_in_order(self):
        with tempfile.TemporaryDirectory() as d:
            # part 10 sorts before part 2 as text; the events must not
            for n, part in ((2, EVENTS[:10]), (10, EVENTS[10:])):
                with open(os.path.join(d, f"events_{n}_app-1"), "w") as fh:
                    fh.write("\n".join(json.dumps(e) for e in part) + "\n")
            paths = [os.path.join(d, f) for f in sorted(os.listdir(d))]
            buf = io.StringIO()
            with redirect_stdout(buf):
                self.assertEqual(joblog.main(paths), 0)
        out = buf.getvalue().splitlines()
        self.assertEqual(out[-1], "2 rows, 3 jobs, 5 tasks")
        self.assertIn("DedupQueries$.lshServe", out[1])
        self.assertIn(" job ", out[2])


if __name__ == "__main__":
    unittest.main()
