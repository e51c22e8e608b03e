"""Per-layer metrics from the harness's raw spans.

Attribution rule: a Spark job belongs to the repository function that
issued it. For a job run by a SQL execution (its `spark.sql.execution.id`
property), that is the innermost repository frame of the execution's
call site, recorded on the thread that started the execution.
For any other job it is the innermost repository frame of the job's own
call site. A job whose call site names no repository frame falls back to
the job group the benchmark set around its call into the layer.

Stage names and a job's own call site cannot be used under adaptive
execution: AQE submits each query stage from its own thread, so those
jobs carry call sites such as `$anonfun$withThreadLocalCaptured$2 at
CompletableFuture` that name no repository code.
"""
import re
import statistics

# `graft.kmeans.KMeansFit$.step(KMeansFit.scala:90)`
_FRAME = re.compile(
    r"^\s*(?:at\s+)?((?:org\.apache\.spark\.sql\.)?graft\.[\w.$]+?)\.([\w$]+)\([\w.]+:\d+\)")

# the iterative operators of the operator slice, by issuing module
QUERY_MODULES = {
    "graph_pagerank": "GraphOps",
    "emb_knn_graph": "EmbeddingOps",
    "init_kmeansbb": "KMeansParallel",
}

SPARK = ["spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s",
         "spark.shuffle_write_mb", "spark.spill_mb", "spark.occupancy",
         "spark.driver_s"]
LAYERS = ["Tables.csv_scan_mb", "Tables.writeCsvSingle.s",
          "Tables.writeCsvSingle.tasks", "KMeansFit.step.s",
          "KMeansFit.step.jobs", "KMeansFit.step.task_s",
          "KMeansFit.step.ns_per_point", "KMeansFit.step.iter_s",
          "KMeansFit.fit.first_iter_s", "KMeansFit.sse.s", "KMeansFit.sse.jobs"]
QUERY_FIELDS = ["s", "jobs", "tasks", "occupancy"]
QUERIES = [f"{m}.{q}.{f}" for q, m in QUERY_MODULES.items() for f in QUERY_FIELDS]
RUN = ["serial_s", "trace_overhead", "ops"]

def unit(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s") or last == "s":
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("jobs", "tasks", "ops"):
        return "count"
    if last == "ns_per_point":
        return "ns"
    return "ratio"


def frame_label(callsite):
    """`Module.function` of the innermost repository frame, or None."""
    for line in (callsite or "").splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        module = m.group(1).rsplit(".", 1)[-1].rstrip("$")
        fn = m.group(2)
        if fn.startswith("$anonfun$"):
            fn = fn.split("$")[2]
        return f"{module}.{fn}"
    return None


def _union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Spans:
    def __init__(self, spans):
        fields = spans["task_fields"]
        self.tasks = [dict(zip(fields, t)) for t in spans["tasks"]]
        self.jobs = spans["jobs"]
        self.execs = {e["id"]: e for e in spans["executions"]}
        self.ops = spans["ops"]

    def label(self, job):
        e = self.execs.get(job.get("execution"))
        seen = set()
        while e is not None and e["id"] not in seen:
            seen.add(e["id"])
            lbl = frame_label(e.get("callsite"))
            if lbl:
                return lbl, e
            e = self.execs.get(e.get("root"))
        lbl = frame_label(job.get("callsite"))
        return (lbl or job.get("group") or "unattributed"), None

    def op_view(self, op):
        """Jobs (with label and execution) and tasks of one traced op:
        those started within one of the windows of its timed steps."""
        jobs = [j for j in self.jobs
                if any(a <= j["start_ms"] <= b for a, b in op["windows_ms"])
                and not (j.get("group") or "").startswith("perfbench.")]
        ids = {j["id"] for j in jobs}
        tasks = [t for t in self.tasks if t["job"] in ids]
        return [(j, *self.label(j)) for j in jobs], tasks


def _layer(jobs, tasks, pred):
    """Time, jobs, tasks and task seconds of the jobs matching `pred`.
    Time counts each SQL execution from its start to its end (planning
    included), and each job outside an execution from its start to end."""
    sel = [(j, lbl, e) for j, lbl, e in jobs if pred(j, lbl)]
    ids = {j["id"] for j, _, _ in sel}
    spans, seen = [], set()
    for j, _, e in sel:
        if e is not None:
            if e["id"] not in seen and "end_ms" in e:
                seen.add(e["id"])
                spans.append((e["start_ms"], e["end_ms"]))
        elif "end_ms" in j:
            spans.append((j["start_ms"], j["end_ms"]))
    ts = [t for t in tasks if t["job"] in ids]
    return {
        "s": sum(b - a for a, b in spans) / 1000.0,
        "spans": sorted(spans),
        "jobs": len(sel),
        "tasks": len(ts),
        "task_s": sum(t["run_ms"] for t in ts) / 1000.0,
    }


def op_metrics(view, op, cores, points):
    jobs, tasks = view
    windows = op["windows_ms"]
    wall_ms = max(1, sum(b - a for a, b in windows))
    run_ms = sum(t["run_ms"] for t in tasks)
    busy = sum(_union_ms([(max(t["launch_ms"], a), min(t["finish_ms"], b))
                          for t in tasks if min(t["finish_ms"], b) > max(t["launch_ms"], a)])
               for a, b in windows)
    m = {
        "spark.jobs": len(jobs),
        "spark.tasks": len(tasks),
        "spark.task_s": run_ms / 1000.0,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / 1e6,
        "spark.spill_mb": sum(t["disk_spill_bytes"] for t in tasks) / 1e6,
        "spark.occupancy": run_ms / (wall_ms * cores),
        "spark.driver_s": (wall_ms - busy) / 1000.0,
        "Tables.csv_scan_mb": op["file_read_bytes"] / 1e6,
    }
    w = _layer(jobs, tasks, lambda j, lbl: lbl == "Tables.writeCsvSingle")
    m["Tables.writeCsvSingle.s"] = w["s"]
    m["Tables.writeCsvSingle.tasks"] = w["tasks"]
    st = _layer(jobs, tasks, lambda j, lbl: lbl == "KMeansFit.step")
    m["KMeansFit.step.s"] = st["s"]
    m["KMeansFit.step.jobs"] = st["jobs"]
    m["KMeansFit.step.task_s"] = st["task_s"]
    iters = len(st["spans"])
    m["KMeansFit.step.ns_per_point"] = (
        st["task_s"] * 1e9 / (points * iters) if points and iters else 0.0)
    iter_s = [(b - a) / 1000.0 for a, b in st["spans"]]
    m["KMeansFit.step.iter_s"] = statistics.median(iter_s[1:]) if len(iter_s) > 1 else 0.0
    m["KMeansFit.fit.first_iter_s"] = iter_s[0] if iter_s else 0.0
    sse = _layer(jobs, tasks, lambda j, lbl: lbl == "KMeansFit.sse")
    m["KMeansFit.sse.s"] = sse["s"]
    m["KMeansFit.sse.jobs"] = sse["jobs"]
    for q, module in QUERY_MODULES.items():
        g = f"SparkEntry.queries.{q}"
        ql = _layer(jobs, tasks, lambda j, lbl: j.get("group") == g)
        sec = op.get("steps_s", {}).get(q, 0.0)
        m[f"{module}.{q}.s"] = sec
        m[f"{module}.{q}.jobs"] = ql["jobs"]
        m[f"{module}.{q}.tasks"] = ql["tasks"]
        m[f"{module}.{q}.occupancy"] = ql["task_s"] / (sec * cores) if sec else 0.0
    return m


def breakdown(view):
    """Time and job count per attributed label, for the report."""
    jobs, tasks = view
    out = {}
    for lbl in sorted({lbl for _, lbl, _ in jobs}):
        r = _layer(jobs, tasks, lambda j, l, lbl=lbl: l == lbl)
        out[lbl] = {"s": r["s"], "jobs": r["jobs"], "tasks": r["tasks"], "task_s": r["task_s"]}
    return out


def per_layer(spans_json, ops, cores, points, serial_s):
    """Median over traced ops of every per-layer metric, plus the run's
    serial time and tracing overhead, and the per-label breakdown of the
    first traced op."""
    sp = Spans(spans_json)
    by_tag = {o["tag"]: o for o in ops}
    per_op, report = [], None
    for op in sp.ops:
        full = by_tag[op["tag"]]
        view = sp.op_view(op)
        per_op.append(op_metrics(view, full, cores, points))
        if report is None:
            report = breakdown(view)
    names = SPARK + LAYERS + QUERIES
    out = {n: statistics.median(m[n] for m in per_op) if per_op else 0.0 for n in names}
    traced = [o["wall_s"] for o in ops if o["traced"]]
    plain = [o["wall_s"] for o in ops if not o["traced"]]
    out["trace_overhead"] = (statistics.median(traced) / statistics.median(plain) - 1.0
                             if traced and plain else 0.0)
    out["serial_s"] = serial_s or 0.0
    out["ops"] = len(ops)
    return out, report
