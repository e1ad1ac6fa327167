"""Turns one run's raw op records into the benchmark's metrics."""
import json
import math
import statistics


def tail(values):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, n). Below 21 samples that percentile is under the
    median, which is no tail; the median stands in (percentile 50)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0, 0
    if n < 21:
        return statistics.median(xs), 50, n
    k = n - 11
    return xs[k], (100 * (k + 1)) // n, n


def median(values):
    return statistics.median(values) if values else float("nan")


def mean(values):
    return sum(values) / len(values) if values else float("nan")


def end_to_end(res):
    """Every end-to-end metric of a run (measured untraced)."""
    walls = [r["wall_s"] for r in res["records"]]
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "op_p50_s": (median(walls), "s"),
        "op_mean_s": (mean(walls), "s"),
        "op_geomean_s": (math.exp(mean([math.log(w) for w in walls])) if walls else float("nan"), "s"),
        "peak_live_mb": (res["peak_live_mb"], "MB"),
    }


def _kind(res, kind, name=None):
    return [r for r in res["records"] if r["kind"] == kind and (name is None or r["name"] == name)]


def workload_summary(workload, res):
    """The workload's own metrics (per op kind), printed on a line of their
    own before the result line (in a traced run, with tracing on)."""
    failed = sum(1 for r in res["records"] if not r["ok"])
    out = {"failed_ratio": (failed / max(1, len(res["records"])), "ratio"),
           # the OS's view of memory: its high-water mark follows the
           # collector's heap sizing as much as the program
           "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    def lat(prefix, recs):
        walls = [r["wall_s"] for r in recs]
        t, pct, n = tail(walls)
        out[f"{prefix}_p50_s"] = (median(walls), "s")
        out[f"{prefix}_tail_s"] = (t, "s")
        out[f"{prefix}_tail_pct"] = (pct, "percentile")
        out[f"{prefix}_samples"] = (n, "count")
    if workload == "registry":
        lat("query", _kind(res, "query"))
    elif workload == "table-io":
        scans = _kind(res, "read", "scan_full")
        mb = sum(r["detail"]["table_bytes"] for r in scans if r.get("detail")) / 1e6
        out["scan_mb_per_s"] = (mb / sum(r["wall_s"] for r in scans) if scans else float("nan"), "MB/s")
        lat("read", _kind(res, "read"))
        lat("write", _kind(res, "write"))
    elif workload == "state":
        builds = _kind(res, "build")
        lifecycles = max(1, len(builds) // 4)
        out["state_build_s"] = (sum(r["wall_s"] for r in builds) / lifecycles, "s")
        out["append_p50_s"] = (median([r["wall_s"] for r in _kind(res, "append")]), "s")
        out["serve_p50_s"] = (median([r["wall_s"] for r in _kind(res, "serve")]), "s")
    return out


COUNTERS = ("analysis_s", "optimization_s", "planning_s", "exchanges", "executions",
            "jobs", "stages", "tasks", "sched_wait_s", "task_run_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "peak_exec_mem_bytes", "input_bytes", "output_bytes")
DRIVER = ("analysis_s", "optimization_s", "planning_s", "exchanges", "executions")


def self_times(spans):
    """Per span id: duration minus the part its child spans cover."""
    child = {}
    for s in spans:
        child.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = sum(c["end_s"] - c["start_s"] for c in child.get(s["id"], [])
                      if c["op"] == s["op"])
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def per_layer(res):
    """Every per-layer metric of a traced run: Spark and driver counters per
    op, session hygiene, GC, the box probe, and the tracer's own time."""
    recs = res["records"]
    m = {}
    for c in COUNTERS:
        vals = [r["counters"][c] for r in recs]
        v = max(vals, default=0.0) if c == "peak_exec_mem_bytes" else mean(vals)
        unit = "s" if c.endswith("_s") else ("bytes" if c.endswith("_bytes") else "count")
        m[("driver." if c in DRIVER else "spark.") + c] = (v, unit)
    busy = sum(r["counters"]["task_run_s"] for r in recs)
    wall = sum(r["wall_s"] for r in recs)
    m["spark.slot_busy_ratio"] = (busy / (wall * res["cores"]) if wall else 0.0, "ratio")
    m["session.pinned_bytes_after"] = (pinned(recs), "bytes")
    m["session.persistent_rdds_after"] = (
        (recs[-1]["persistent_after"] - recs[0]["persistent_before"]) if recs else 0, "count")
    m["session.conf_changes"] = (sum(r["conf_changes"] for r in recs), "count")
    m["jvm.gc_s"] = (mean([r["gc_s"] for r in recs]), "s")
    m["box.calib_s"] = (res["calib_s"], "s")
    m["trace.overhead_s"] = (mean([r["counters"]["trace_overhead_s"] for r in recs]), "s")
    selfs = self_times(res["spans"])
    roots = [s for s in res["spans"] if s["parent"] == -1]
    total = sum(s["end_s"] - s["start_s"] for s in roots)
    m["trace.unattributed_ratio"] = (sum(selfs[s["id"]] for s in roots) / total if total else 0.0,
                                     "ratio")
    m["checks.failed_ratio"] = (sum(1 for r in recs if not r["ok"]) / max(1, len(recs)), "ratio")
    return m


def pinned(recs):
    """Block-manager bytes held after the last op minus before the first."""
    return recs[-1]["storage_after"] - recs[0]["storage_before"] if recs else 0


def layer_detail(workload, res):
    """Module-named layer metrics of one workload's traced run, from op
    counters, spans, and the facts read back after each op (printed on the
    workload line, not gated)."""
    recs = res["records"]
    spans = res["spans"]
    selfs = self_times(spans)
    layer_self = {}
    for s in spans:
        key = "op" if s["parent"] == -1 else s["name"]
        layer_self[key] = layer_self.get(key, 0.0) + selfs[s["id"]]

    def c(rec, k, mark=None):
        src = rec.get("marks", {}).get(mark) if mark else rec["counters"]
        return (src or {}).get(k, 0.0)

    def avg(rs, f):
        return mean([f(r) for r in rs]) if rs else float("nan")

    def named(n):
        return [r for r in recs if r["name"] == n]

    def wall(n):
        return avg(named(n), lambda r: r["wall_s"])

    def last(n, k):
        d = [r["detail"] for r in named(n) if r.get("detail")]
        return d[-1][k] if d else float("nan")

    def totals(prefix, rs):
        return {f"{prefix}.jobs": avg(rs, lambda r: c(r, "jobs")),
                f"{prefix}.task_run_s": avg(rs, lambda r: c(r, "task_run_s")),
                f"{prefix}.pinned_bytes_after": pinned(rs),
                f"{prefix}.gc_s": sum(r["gc_s"] for r in rs)}

    out = {}
    if workload == "registry":
        q = [r for r in recs if r["kind"] == "query"]
        out["queries.build_s"] = avg(q, lambda r: sum(
            s["end_s"] - s["start_s"] for s in spans if s["op"] == r["id"] and s["name"] == "queries.build"))
        out["queries.build_jobs"] = avg(q, lambda r: c(r, "jobs", "build"))
        for k in ("analysis_s", "optimization_s", "planning_s", "exchanges", "stages", "tasks",
                  "sched_wait_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"queries.{k}"] = avg(q, lambda r, k=k: c(r, k))
        out["queries.peak_exec_mem_bytes"] = max([c(r, "peak_exec_mem_bytes") for r in q], default=0)
        busy = sum(r["wall_s"] for r in q) * res["cores"]
        out["queries.slot_busy_ratio"] = sum(c(r, "task_run_s") for r in q) / busy if busy else float("nan")
        out.update(totals("queries", q))
        out["queries.persistent_rdds_after"] = (q[-1]["persistent_after"] - q[0]["persistent_before"]
                                                if q else 0)
        out["queries.conf_changes"] = sum(r["conf_changes"] for r in q)
        out["queries.unattributed_s"] = layer_self.get("op", 0.0)
    elif workload == "table-io":
        scans = named("scan_full")
        out["api.scan_full_s"] = wall("scan_full")
        out["api.read_tasks"] = avg(scans, lambda r: c(r, "tasks"))
        out["api.input_bytes"] = avg(scans, lambda r: c(r, "input_bytes"))
        for n in ("scan_pruned", "read_typed", "tail", "stats", "write_partition",
                  "write_dynamic", "compact"):
            out[f"api.{n}_s"] = wall(n)
        out["api.pruned_ratio"] = avg([r for r in named("scan_pruned") if r.get("detail")],
                                      lambda r: r["detail"]["partitions_read"]
                                      / max(1, r["detail"]["table_partitions"]))
        writes = [r for r in recs if r["kind"] == "write"]
        out["api.write_jobs"] = avg(writes, lambda r: c(r, "jobs"))
        out["api.write_files"] = avg([r for r in writes if r.get("detail")],
                                     lambda r: r["detail"]["files_written"])
        out["api.files_per_partition"] = last("write_partition", "files_per_partition")
        out["api.table_partitions"] = last("write_partition", "table_partitions")
        out["api.bytes_written_per_input_byte"] = (
            sum(c(r, "output_bytes") for r in writes) / max(1.0, sum(c(r, "input_bytes") for r in writes)))
        out.update(totals("api", recs))
    elif workload == "state":
        appends = [r for r in named("compact.append") if r.get("detail")]
        out["compact.append_s"] = wall("compact.append")
        out["compact.jobs"] = avg(named("compact.append"), lambda r: c(r, "jobs"))
        out["compact.index_bytes"] = last("compact.append", "state_bytes")
        out["compact.classes"] = last("compact.append", "classes")
        out["compact.bytes_rewritten_per_batch_byte"] = (
            sum(r["detail"]["bytes_written"] for r in appends)
            / max(1, sum(r["detail"]["batch_bytes"] for r in appends)))
        out["dedup.serve_s"] = wall("dedup.serve")
        out["graphartifact.build_s"] = wall("graphartifact.build")
        out["graphartifact.append_s"] = wall("graphartifact.append")
        out["graphartifact.buckets"] = last("graphartifact.append", "buckets")
        out["graphartifact.bytes_written_per_append"] = avg(
            [r for r in named("graphartifact.append") if r.get("detail")],
            lambda r: r["detail"]["bytes_written"])
        out["annindex.build_s"] = wall("annindex.build")
        out["annindex.append_s"] = wall("annindex.append")
        out["annindex.topk_s"] = wall("annindex.topk")
        out["tolerantcompact.run_s"] = wall("tolerantcompact.append")
        out["tolerantcompact.serve_s"] = wall("tolerantcompact.serve")
        out["tolerantcompact.width"] = last("tolerantcompact.append", "width")
        out.update(totals("state", recs))
    out["layer_self_s"] = {k: round(v, 6) for k, v in sorted(layer_self.items())}
    return out


def declared(bench, key):
    """Metric names of one list of BENCHMARK.json, in order."""
    return [m["name"] for m in bench[key]]


def result_line(metrics, attempted, failed, correct):
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})
