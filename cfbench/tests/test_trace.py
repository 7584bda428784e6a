import unittest

from benchlib.trace import Trace, union_length


def span(i, parent, name, start, end, **attrs):
    return {"kind": "span", "id": i, "parent": parent, "name": name,
            "start": float(start), "end": float(end), "attrs": attrs}


def job(i, group, start, end):
    return {"kind": "job", "id": i, "group": group, "start": float(start),
            "end": float(end), "tasks": 1, "run_ms": 1, "cpu_ms": 1.0,
            "deser_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0}


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        # op [0,100] with a query [10,90]; under it two jobs that overlap
        # each other ([20,60] and [40,80]): they cover 60 ms of the query
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "query", 10, 90)]
        jobs = [job(1, "cfbench-2", 20, 60), job(2, "cfbench-2", 40, 80)]
        st = Trace(spans, jobs).self_times(1)
        self.assertAlmostEqual(st["op"], 20)
        self.assertAlmostEqual(st["query"], 20)
        self.assertAlmostEqual(st["spark.job"], 60)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_children_clipped_to_parent(self):
        # a job event that ends after its span closed counts only inside it
        spans = [span(1, 0, "op", 0, 50), span(2, 1, "execute", 10, 50)]
        jobs = [job(1, "cfbench-1", 20, 70)]
        st = Trace(spans, jobs).self_times(1)
        self.assertAlmostEqual(st["spark.job"], 30)
        self.assertAlmostEqual(sum(st.values()), 50)

    def test_job_overlapping_a_child_span_is_not_double_counted(self):
        # a job placed under the query (started before execute) that runs on
        # into execute: the overlap belongs to execute's own time
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "execute", 50, 100)]
        jobs = [job(1, "cfbench-1", 20, 70)]
        st = Trace(spans, jobs).self_times(1)
        self.assertAlmostEqual(st["spark.job"], 30)
        self.assertAlmostEqual(st["query"], 20)
        self.assertAlmostEqual(st["execute"], 50)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_driver_gap(self):
        spans = [span(1, 0, "op", 0, 100)]
        jobs = [job(1, "cfbench-1", 10, 30), job(2, "cfbench-1", 20, 40)]
        self.assertAlmostEqual(Trace(spans, jobs).driver_gap(1), 70)


class AttributionTest(unittest.TestCase):
    def test_interleaved_jobs_follow_their_group(self):
        # two ops' jobs interleave in time (a job of op 1 starts while op 4
        # is open and vice versa); the job group decides, not the clock
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "query", 0, 100),
                 span(3, 2, "execute", 0, 100),
                 span(4, 0, "op", 50, 150), span(5, 4, "query", 50, 150),
                 span(6, 5, "execute", 60, 150)]
        jobs = [job(1, "cfbench-2", 55, 70), job(2, "cfbench-5", 40, 120),
                job(3, "cfbench-2", 90, 95), job(4, "cfbench-5", 65, 80)]
        tr = Trace(spans, jobs)
        self.assertEqual(tr.unattributed, [])
        self.assertEqual(sorted(j["id"] for j in tr.jobs_under(1)), [1, 3])
        self.assertEqual(sorted(j["id"] for j in tr.jobs_under(4)), [2, 4])
        # placed under the deepest span open at the job's start
        self.assertEqual(tr.job_parent[1], 3)
        self.assertEqual(tr.job_parent[4], 6)
        # job 2 started before op 4's execute opened: it sits on the query
        self.assertEqual(tr.job_parent[2], 5)

    def test_foreign_group_falls_back_to_the_one_enclosing_root(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 0, "op", 200, 300)]
        jobs = [job(1, "stream-run-7", 210, 250)]
        tr = Trace(spans, jobs)
        self.assertEqual(tr.job_parent[1], 2)

    def test_jobs_of_untraced_units_are_dropped(self):
        # the listener records every job; an untraced op's job (group
        # cfbench-u<n>) that runs between traced ops is neither attributed
        # nor counted as unattributed
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "query", 0, 100),
                 span(3, 0, "op", 200, 300), span(4, 3, "query", 200, 300)]
        jobs = [job(1, "cfbench-2", 10, 20), job(2, "cfbench-u7", 120, 180),
                job(3, "cfbench-u8", 250, 260), job(4, "cfbench-4", 210, 220)]
        tr = Trace(spans, jobs)
        self.assertEqual(tr.unattributed, [])
        self.assertEqual([j["id"] for j in tr.jobs_under(1)], [1])
        self.assertEqual([j["id"] for j in tr.jobs_under(3)], [4])

    def test_job_outside_every_root_is_unattributed(self):
        spans = [span(1, 0, "op", 0, 100)]
        jobs = [job(1, "", 150, 160)]
        tr = Trace(spans, jobs)
        self.assertEqual([j["id"] for j in tr.unattributed], [1])


if __name__ == "__main__":
    unittest.main()
