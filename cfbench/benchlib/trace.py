"""Trace analysis: attribute Spark jobs to the benchmark's spans and split
each op's wall time into per-layer self times.

Spans come from the harness (op -> query -> queries.build /
connector.plan / execute); jobs come from a SparkListener and carry the
job group the harness set for the query that launched them. The listener
records every job of a traced run; those of untraced units (job group
"cfbench-u<n>") are dropped here.
"""

GROUP_PREFIX = "cfbench-"
UNTRACED_PREFIX = GROUP_PREFIX + "u"


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, within):
    s, e = interval
    ws, we = within
    return max(s, ws), min(e, we)


class Trace:
    """Spans and jobs of one traced run, with jobs placed into the span tree."""

    def __init__(self, spans, jobs):
        self.spans = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs = [j for j in jobs
                     if not (j.get("group") or "").startswith(UNTRACED_PREFIX)]
        self.job_parent = {}
        self.unattributed = []
        self._attribute()

    def root_of(self, span_id):
        s = self.spans[span_id]
        while s["parent"] in self.spans:
            s = self.spans[s["parent"]]
        return s["id"]

    def subtree(self, span_id):
        out, todo = [], [span_id]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children.get(i, []))
        return out

    def _unit_for(self, job):
        """The span whose job group launched `job`; else the one root span
        whose interval holds the job's start (the client runs one op at a
        time, so roots never overlap); else None."""
        group = job.get("group") or ""
        if group.startswith(GROUP_PREFIX):
            tail = group[len(GROUP_PREFIX):]
            if tail.isdigit() and int(tail) in self.spans:
                return int(tail)
        roots = [i for i in self.children.get(0, [])
                 if self.spans[i]["start"] <= job["start"] <= self.spans[i]["end"]]
        return roots[0] if len(roots) == 1 else None

    def _attribute(self):
        for job in self.jobs:
            unit = self._unit_for(job)
            if unit is None:
                self.unattributed.append(job)
                continue
            # the deepest span of the unit that was open when the job started
            best, depth = unit, 0
            todo = [(unit, 0)]
            while todo:
                i, d = todo.pop()
                s = self.spans[i]
                if s["start"] <= job["start"] <= s["end"] and d >= depth:
                    best, depth = i, d
                todo.extend((c, d + 1) for c in self.children.get(i, []))
            self.job_parent[job["id"]] = best

    def jobs_under(self, span_id):
        ids = set(self.subtree(span_id))
        return [j for j in self.jobs if self.job_parent.get(j["id"]) in ids]

    def self_times(self, root_id):
        """{layer name: self ms} over the subtree of `root_id`. A span's self
        time is its duration minus the part of it its children (spans, and
        jobs placed under it) cover; children are clipped to the parent, so
        the self times of a tree sum to the root's duration."""
        out = {}
        jobs_by_parent = {}
        for j in self.jobs:
            p = self.job_parent.get(j["id"])
            if p is not None:
                jobs_by_parent.setdefault(p, []).append(j)

        def visit(span_id, within):
            s = self.spans[span_id]
            iv = clip((s["start"], s["end"]), within)
            kids = []
            for c in self.children.get(span_id, []):
                cs = self.spans[c]
                kids.append(clip((cs["start"], cs["end"]), iv))
                visit(c, iv)
            jobs = [clip((j["start"], j["end"]), iv)
                    for j in jobs_by_parent.get(span_id, [])]
            covered = union_length(kids + jobs)
            # job time not already inside a child span is the jobs' own
            out["spark.job"] = out.get("spark.job", 0.0) + covered - union_length(kids)
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, iv[1] - iv[0]) - covered

        root = self.spans[root_id]
        visit(root_id, (root["start"], root["end"]))
        return out

    def driver_gap(self, root_id):
        """Op wall time during which none of its jobs was running."""
        s = self.spans[root_id]
        iv = (s["start"], s["end"])
        jobs = [clip((j["start"], j["end"]), iv) for j in self.jobs_under(root_id)]
        return (iv[1] - iv[0]) - union_length(jobs)
