"""tools/trace_calls.py on a tiny synthetic trace.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import trace_calls as tc  # noqa: E402


def span(id_, start_ms, seconds, **attrs):
    return dict(type="span", id=id_, parent=0, name="engine.call",
                start_ms=start_ms, seconds=seconds, **attrs)


def job(id_, parent, site, start_ms, end_ms, *stages):
    return dict(type="job", job=id_, parent=parent, call_site=site,
                start_ms=start_ms, end_ms=end_ms,
                stages=[dict(stage=10 * id_ + i, cpu_s=cpu, shuffle_write_bytes=b)
                        for i, (cpu, b) in enumerate(stages)])


MB = 1048576

# A cold call (span 1) and two warm ones (2, 3). Span 3's edge job is
# slower; a result write outside the calls and a job still running (no
# end) are not counted.
TRACE = [
    span(1, 0, 5.0),
    job(1, 1, "count at SqlRunner.scala:375", 100, 4000, (3.0, 20 * MB), (2.0, 0)),
    span(2, 10000, 1.0),
    job(2, 2, "count at SqlRunner.scala:375", 10000, 10300, (0.4, 20 * MB), (0.5, 0)),
    job(3, 2, "count at SqlRunner.scala:495", 10350, 10400, (0.05, 0)),
    job(4, 2, "count at SqlRunner.scala:495", 10420, 10900, (0.02, 0)),
    dict(type="span", id=4, parent=0, name="result.write", start_ms=11000, seconds=0.1),
    job(5, 4, "save at Workloads.scala:70", 11000, 11050, (0.01, 0)),
    span(5, 20000, 2.0),
    job(6, 5, "count at SqlRunner.scala:380", 20000, 20500, (0.6, 10 * MB), (0.7, 0)),
    job(7, 5, "count at SqlRunner.scala:499", 20600, 20700, (0.07, 0)),
    job(8, 5, "count at SqlRunner.scala:499", 20800, 21000, (0.04, 0)),
    job(9, 5, "count at SqlRunner.scala:499", 21000, -1),
    dict(type="summary", workload="sssp-frontier", seed=5),
]


class TraceCallsTest(unittest.TestCase):
    def test_warm_calls_skip_the_first_call_of_each_query(self):
        calls = tc.warm_calls(TRACE)
        self.assertEqual([s["id"] for s, _ in calls], [2, 5])
        self.assertEqual([[j["job"] for j in js] for _, js in calls], [[2, 3, 4], [6, 7, 8]])
        per_query = [span(1, 0, 1.0, query="g1"), span(2, 10, 1.0, query="g2"),
                     span(3, 20, 1.0, query="g1")]
        self.assertEqual([s["id"] for s, _ in tc.warm_calls(per_query)], [3])

    def test_rows_give_wall_stage_cpu_shuffle_and_the_gap_to_the_next_job(self):
        s, js = tc.warm_calls(TRACE)[0]
        rs = tc.rows(s, js)
        self.assertEqual([r["key"] for r in rs], [
            "count at SqlRunner.scala #1", "count at SqlRunner.scala #2",
            "count at SqlRunner.scala #3"])
        self.assertEqual([r["wall_ms"] for r in rs], [300, 50, 480])
        self.assertEqual(rs[0]["cpu_s"], [0.4, 0.5])
        self.assertAlmostEqual(rs[0]["shuffle_mb"], 20.0)
        # The last job's gap runs to the call's end at 11000 ms.
        self.assertEqual([r["gap_ms"] for r in rs], [50, 20, 100])

    def test_medians_line_up_jobs_by_site_without_the_line_number(self):
        m = tc.medians(tc.warm_calls(TRACE))
        first = m["count at SqlRunner.scala #1"]
        self.assertEqual(first["calls"], 2)
        self.assertAlmostEqual(first["wall_ms"], 400)
        self.assertEqual([round(x, 3) for x in first["cpu_s"]], [0.5, 0.6])
        self.assertAlmostEqual(first["shuffle_mb"], 15.0)
        self.assertAlmostEqual(m["call"]["wall_ms"], 1500)

    def test_both_renderings_name_every_job_and_the_pair_shows_both_sides(self):
        one = tc.render_one("a.jsonl", TRACE)
        self.assertIn("2 warm engine.call spans", one)
        self.assertIn("count at SqlRunner.scala:499", one)
        faster = [dict(r, end_ms=r["start_ms"] + 100) if r.get("job") == 6 else r
                  for r in TRACE]
        pair = tc.render_pair("a.jsonl", TRACE, "b.jsonl", faster)
        edge = next(l for l in pair.splitlines() if l.startswith("count at SqlRunner.scala #1"))
        self.assertIn("400 → 200", edge)
        self.assertEqual(tc.main(["trace_calls.py"]), 2)


if __name__ == "__main__":
    unittest.main()
