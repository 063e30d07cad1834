"""Turn the harness's raw record (spans, job records, query-execution phases)
into the benchmark's end-to-end and per-layer metrics.

Pure functions only; `run.py` does the I/O. Layer names are the program's
modules: `run`, `io`, `ops`, `catalog`, `queries`, `operators`, plus `sql`
(Catalyst phases) and `spark` (executor task metrics).
"""
import math
import re
import statistics

# (name, unit, better). Each workload reports every metric; a layer the
# workload never enters reads 0.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("query_p50_s", "s", "lower"),
    ("query_p90_s", "s", "lower"),
    ("retained_heap_mb", "MB", "lower"),
    ("stored_bytes_per_input_byte", "ratio", "lower"),
]

TABLES = ["customers", "products", "stores", "orders", "orderdetails"]
REGISTRIES = ["parity", "text", "vector", "event", "retrieval", "graph", "curation"]
OPERATORS = ["GraphRank", "TextDedup", "BpeVocab", "LangId", "Trend", "Skew",
             "RecordLinkage", "NaiveBayes", "Eval", "TextIndex", "VectorSearch",
             "ProductQuantizer", "KMeans", "EventStream"]

PER_LAYER = (
    [("run.day1_s", "s", "lower"), ("run.day2_s", "s", "lower")]
    + [(f"run.{t}_s", "s", "lower") for t in TABLES]
    + [("run.driver_s", "s", "lower"), ("run.self_frac", "ratio", "higher"),
       ("io.input_bytes_per_source_byte", "ratio", "lower"),
       ("io.jobs", "count", "lower"), ("io.job_s", "s", "lower"),
       ("ops.Validator.jobs", "count", "lower"), ("ops.Validator.job_s", "s", "lower"),
       ("ops.eager_jobs", "count", "lower"),
       ("catalog.jobs", "count", "lower"), ("catalog.job_s", "s", "lower"),
       ("catalog.bytes_written", "bytes", "lower"),
       ("catalog.versions_committed", "count", "lower"),
       ("queries.construct_s", "s", "lower"), ("queries.construct_jobs", "count", "lower"),
       ("queries.materialize_s", "s", "lower")]
    + [(f"{r}.wall_s", "s", "lower") for r in REGISTRIES]
    + [m for o in OPERATORS for m in ((f"operators.{o}.jobs", "count", "lower"),
                                      (f"operators.{o}.job_s", "s", "lower"))]
    + [("cache.bytes_held", "bytes", "lower"), ("cache.rdds_held", "count", "lower"),
       ("sql.analysis_s", "s", "lower"), ("sql.optimization_s", "s", "lower"),
       ("sql.planning_s", "s", "lower"),
       ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
       ("spark.tasks", "count", "lower"), ("spark.task_s", "s", "lower"),
       ("spark.busy_frac", "ratio", "higher"), ("spark.gc_s", "s", "lower"),
       ("spark.shuffle_write_bytes", "bytes", "lower"),
       ("spark.shuffle_read_bytes", "bytes", "lower"),
       ("spark.spill_bytes", "bytes", "lower"), ("spark.input_bytes", "bytes", "lower"),
       ("spark.output_bytes", "bytes", "lower"),
       ("spark.peak_exec_mem_bytes", "bytes", "lower"),
       ("trace.wall_s", "s", "lower"), ("trace.probe_s", "s", "lower"),
       ("tmp.bytes_left", "bytes", "lower")]
)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, pct):
    """Value at percentile `pct` (1 to 99) of the samples, interpolated
    linearly between the two nearest ranks (the inclusive method)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


def supported_percentile(n, want=90, beyond=10):
    """Highest whole percentile <= `want` with at least `beyond` of the `n`
    samples above its rank, or None when the sample is too small."""
    for pct in range(want, 0, -1):
        if n - math.ceil(pct / 100 * n) >= beyond:
            return pct
    return None


_GRAFT_FRAME = re.compile(r"(?:^|/)(graft\.[\w$.]+)\(")


def layer_of(callsite):
    """Layer of a Spark job: the innermost `graft.` frame of its call site.
    `ops` and `operators` frames name their object (`ops.Validator`);
    other modules are layers as a whole (`catalog`, `io`, `run`, ...).
    None when no program frame is on the stack (e.g. the harness's own
    materialization)."""
    for line in (callsite or "").splitlines():
        m = _GRAFT_FRAME.search(line.strip())
        if not m:
            continue
        parts = m.group(1).split(".")[:-1]  # drop the method name
        if len(parts) < 3:
            return "graft"
        module, obj = parts[1], parts[2].split("$")[0]
        return f"{module}.{obj}" if module in ("ops", "operators") else module
    return None


def union_seconds(intervals, lo, hi):
    """Seconds of [lo, hi] (ms) covered by the union of `intervals` (ms)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000


def self_seconds(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) / 1000 - union_seconds(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def op_spans(result, pass_no=None):
    return [s for s in result["spans"] if s["tags"].get("op")
            and (pass_no is None or s["pass"] == pass_no)]


def dur(s):
    return (s["end"] - s["start"]) / 1000


def pass_wall(result, p):
    """Seconds one pass spent inside operations (off-clock work between
    operations, such as cache clearing, is excluded)."""
    return sum(dur(s) for s in op_spans(result, p))


def end_to_end(result, setup_s):
    """End-to-end metrics of an untraced run."""
    lat = [dur(s) for s in op_spans(result)]
    return {
        "setup_s": setup_s,
        "wall_s": median([pass_wall(result, p["pass"]) for p in result["passes"]]),
        "query_p50_s": median(lat),
        "query_p90_s": percentile(lat, 90),
        "retained_heap_mb": result["retained_heap_mb"],
        "stored_bytes_per_input_byte": median(
            [p["stored_bytes"] / p["input_bytes"] for p in result["passes"]]),
    }


def latency_tail(result):
    """The percentile the latency sample supports, with the sample size."""
    lat = [dur(s) for s in op_spans(result)]
    pct = supported_percentile(len(lat))
    return {"n": len(lat), "pct": pct,
            "value_s": percentile(lat, pct) if pct else None}


def per_layer(result, cores, tmp_bytes_left):
    """Per-layer metrics of a traced run (its one pass is traced)."""
    spans = [s for s in result["spans"] if s["pass"] == 0]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs = [j for j in result["jobs"] if j["span"] in by_id]
    sql = [q for q in result["sql"] if q["span"] in by_id]
    ops = [s for s in spans if s["tags"].get("op")]
    info = result["passes"][0]
    wall = sum(dur(s) for s in ops)
    m = {name: 0.0 for name, _, _ in PER_LAYER}

    def job_s(j):
        return max(0, j["end"] - j["start"]) / 1000

    # pipeline spans: run.day<d> > run.<table> > Spark jobs
    for s in spans:
        if re.fullmatch(r"run\.day\d", s["name"]):
            m[f"{s['name']}_s"] = dur(s)
    for s in ops:
        if s["name"].startswith("run."):
            m[f"{s['name']}_s"] += dur(s)
            mine = [(j["start"], j["end"]) for j in jobs if _within(j["span"], s["id"], by_id)]
            m["run.driver_s"] += dur(s) - union_seconds(mine, s["start"], s["end"])
            m["catalog.versions_committed"] += s["tags"].get("versions", 0)
    pass_span = next(s for s in spans if s["name"] == "pass")
    run_spans = [s for s in spans if s["name"].startswith("run.")]
    m["run.self_frac"] = sum(self_seconds(s, kids.get(s["id"], [])) for s in run_spans) / max(
        dur(pass_span), 1e-9)

    # jobs by layer (innermost program frame)
    for j in jobs:
        layer = layer_of(j["callsite"])
        if layer == "io":
            m["io.jobs"] += 1
            m["io.job_s"] += job_s(j)
        elif layer == "ops.Validator":
            m["ops.Validator.jobs"] += 1
            m["ops.Validator.job_s"] += job_s(j)
        elif layer and layer.startswith("ops."):
            m["ops.eager_jobs"] += 1
        elif layer == "catalog":
            m["catalog.jobs"] += 1
            m["catalog.job_s"] += job_s(j)
            m["catalog.bytes_written"] += j["output"]
        elif layer and layer.startswith("operators.") and f"{layer}.jobs" in m:
            m[f"{layer}.jobs"] += 1
            m[f"{layer}.job_s"] += job_s(j)
        if by_id[j["span"]]["name"] == "queries.construct":
            m["queries.construct_jobs"] += 1
        m["spark.stages"] += j["stages"]
        m["spark.tasks"] += j["tasks"]
        m["spark.task_s"] += j["task_ms"] / 1000
        m["spark.gc_s"] += j["gc_ms"] / 1000
        m["spark.shuffle_write_bytes"] += j["shuffle_write"]
        m["spark.shuffle_read_bytes"] += j["shuffle_read"]
        m["spark.spill_bytes"] += j["spill"]
        m["spark.input_bytes"] += j["input"]
        m["spark.output_bytes"] += j["output"]
        m["spark.peak_exec_mem_bytes"] = max(m["spark.peak_exec_mem_bytes"], j["peak_mem"])
    m["spark.jobs"] = len(jobs)
    m["spark.busy_frac"] = m["spark.task_s"] / max(wall * cores, 1e-9)
    m["io.input_bytes_per_source_byte"] = m["spark.input_bytes"] / max(info["input_bytes"], 1)

    # query spans: queries.<name> > queries.construct | queries.materialize
    for s in spans:
        if s["name"] == "queries.construct":
            m["queries.construct_s"] += dur(s)
        elif s["name"] == "queries.materialize":
            m["queries.materialize_s"] += dur(s)
    for s in ops:
        reg = s["tags"].get("registry")
        if reg:
            m[f"{reg}.wall_s"] += dur(s)
    if ops:
        m["cache.bytes_held"] = statistics.mean(s["tags"].get("cache_bytes", 0) for s in ops)
        m["cache.rdds_held"] = statistics.mean(s["tags"].get("cache_rdds", 0) for s in ops)
    for q in sql:
        for k in ("analysis_s", "optimization_s", "planning_s"):
            m[f"sql.{k}"] += q[k]
    m["trace.wall_s"] = wall
    m["trace.probe_s"] = sum(s["tags"].get("probe_ms", 0) for s in ops) / 1000
    m["tmp.bytes_left"] = tmp_bytes_left
    return m


def _within(span_id, ancestor, by_id):
    while span_id in by_id:
        if span_id == ancestor:
            return True
        span_id = by_id[span_id]["parent"]
    return False
