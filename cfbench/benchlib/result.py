"""Turn one run's raw output into the benchmark's metrics."""
import json
import statistics

from .trace import Trace

MARKER = "CFBENCH_RESULT "
# prefixes a build tool's log relay may put in front of a child's output
# lines (sbt's forked run writes "[info] " on stdout, "[error] " on stderr)
RELAY_PREFIXES = ("[info] ", "[error] ", "[warn] ", "[success] ")

LAYERS = ("op", "query", "queries.build", "connector.plan", "execute",
          "spark.job")


def strip_relay(line):
    line = line.rstrip("\r\n")
    changed = True
    while changed:
        changed = False
        for p in RELAY_PREFIXES:
            if line.startswith(p):
                line = line[len(p):]
                changed = True
    return line


def parse_raw(text):
    """The raw result object of the last result line in `text`, or None."""
    found = None
    for line in text.splitlines():
        line = strip_relay(line)
        if line.startswith(MARKER):
            found = line[len(MARKER):]
    return json.loads(found) if found is not None else None


def unstolen(ms, steal_share):
    """Wall time scaled by the share of the CPU time it wanted that the host
    did not steal: the time on CPUs of its own."""
    return ms * (1.0 - steal_share)


def end_to_end(raw):
    """{name: (value, unit, samples)} of the end-to-end metrics. Times are
    unstolen times (see `unstolen`). Ops of a traced run that were traced
    are left out."""
    keep = [i for i, t in enumerate(raw["op_traced"]) if not t]
    ms = [unstolen(raw["op_ms"][i], raw["op_steal_share"][i]) for i in keep]
    rows = [raw["op_rows"][i] for i in keep]
    n = len(ms)
    return {
        "setup_s": (unstolen(raw["setup_s"], raw["setup_steal_share"]), "s", 1),
        "op_p50_ms": (statistics.median(ms), "ms", n),
        "rows_per_s": (statistics.median(r / (m / 1e3) for r, m in zip(rows, ms)),
                       "rows/s", n),
        "stored_bytes_per_row": (raw["stored_bytes"] / raw["stored_rows"],
                                 "bytes", 1),
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw, spans, jobs):
    """{name: (value, unit, samples)} of the per-layer metrics of a traced
    run: per traced op means, over the ops and their checks."""
    tr = Trace(spans, jobs)
    roots = [tr.spans[i] for i in tr.children.get(0, [])]
    ops = [r for r in roots if r["name"] == "op"]
    loop = [r for r in roots if r["name"] in ("op", "check")]
    n = len(ops)
    if n == 0:
        raise ValueError("traced run recorded no ops")

    def under(roots_, name):
        return [tr.spans[i] for r in roots_ for i in tr.subtree(r["id"])
                if tr.spans[i]["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    reads = [s for s in under(loop, "execute") if not s["attrs"].get("write")]
    writes = [s for r in roots for s in under([r], "execute")
              if s["attrs"].get("write")]
    op_jobs = [j for r in ops for j in tr.jobs_under(r["id"])]
    read_jobs = [j for s in reads for j in tr.jobs_under(s["id"])]
    build_jobs = [j for s in under(ops, "queries.build") for j in tr.jobs_under(s["id"])]

    def attr_sum(spans_, k):
        return sum(s["attrs"].get(k, 0) for s in spans_)

    chunks_total = raw["chunks_total"]
    run_ms = sum(j["run_ms"] for j in op_jobs)
    read_run_s = sum(j["run_ms"] for j in read_jobs) / 1e3
    traced_ms = [m for m, t in zip(raw["op_ms"], raw["op_traced"]) if t]
    plain_ms = [m for m, t in zip(raw["op_ms"], raw["op_traced"]) if not t]
    selfs = [tr.self_times(r["id"]) for r in ops]

    m = {
        "connector.plan_ms": (sum(map(dur, under(loop, "connector.plan"))) / n, "ms"),
        "connector.input_partitions": (attr_sum(reads, "input_partitions") / n, "count"),
        "connector.chunks_total": (chunks_total, "count"),
        "connector.chunks_read_share": (
            attr_sum(reads, "chunks_read") / attr_sum(reads, "scans") / chunks_total
            if chunks_total and attr_sum(reads, "scans") else 0.0, "ratio"),
        "scan.exec_ms": (sum(map(dur, reads)) / n, "ms"),
        "scan.chunks_read": (attr_sum(reads, "chunks_read") / n, "count"),
        "scan.chunks_skipped": (attr_sum(reads, "chunks_skipped") / n, "count"),
        "scan.decoded_bytes": (attr_sum(reads, "decoded_bytes") / n, "bytes"),
        "scan.decoded_mb_per_task_s": (
            attr_sum(reads, "decoded_bytes") / 1e6 / read_run_s if read_run_s else 0.0,
            "MB/s"),
        "write.ms": (_mean(map(dur, writes)), "ms"),
        "write.bytes": (_mean(s["attrs"].get("write_bytes", 0) for s in writes), "bytes"),
        "write.files": (_mean(s["attrs"].get("write_files", 0) for s in writes), "count"),
        "write.chunks": (_mean(s["attrs"].get("write_chunks", 0) for s in writes), "count"),
        "queries.build_ms": (sum(map(dur, under(ops, "queries.build"))) / n, "ms"),
        "queries.build_jobs": (len(build_jobs) / n, "count"),
        "spark.jobs": (len(op_jobs) / n, "count"),
        "spark.tasks": (sum(j["tasks"] for j in op_jobs) / n, "count"),
        "spark.executor_run_ms": (run_ms / n, "ms"),
        "spark.executor_cpu_ms": (sum(j["cpu_ms"] for j in op_jobs) / n, "ms"),
        "spark.cpu_share": (
            sum(j["cpu_ms"] for j in op_jobs) / run_ms if run_ms else 0.0, "ratio"),
        "spark.task_deser_ms": (sum(j["deser_ms"] for j in op_jobs) / n, "ms"),
        "spark.gc_ms": (_mean(g for g, t in zip(raw["op_gc_ms"], raw["op_traced"]) if t),
                        "ms"),
        "spark.shuffle_write_bytes": (
            sum(j["shuffle_write_bytes"] for j in op_jobs) / n, "bytes"),
        "spark.driver_gap_ms": (_mean(tr.driver_gap(r["id"]) for r in ops), "ms"),
        "jvm.peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
        "host.steal_share": (_mean(raw["op_steal_share"]), "ratio"),
        "trace.overhead_ms": (
            statistics.median(traced_ms) - statistics.median(plain_ms)
            if plain_ms else 0.0, "ms"),
        "trace.self_cover_share": (
            _mean(sum(s.values()) / dur(r) for s, r in zip(selfs, ops)), "ratio"),
        "trace.unattributed_jobs": (
            sum(1 for j in tr.unattributed if j["start"] >= raw["loop_start_ms"]),
            "count"),
    }
    for layer in LAYERS:
        m["self_ms." + layer] = (_mean(s.get(layer, 0.0) for s in selfs), "ms")
    for k, v in sorted(raw["format"].items()):
        unit = "ratio" if k.startswith("format.ratio.") else "MB/s"
        m[k] = (v, unit)
    return {k: (v[0], v[1], n) for k, v in m.items()}
