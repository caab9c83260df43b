"""Pure reductions: latency percentiles, span self time, per-layer metrics.

Kept free of I/O so the self-tests exercise them on synthetic inputs.
"""
import math

LAYERS = ["extraction", "stores", "mapping", "transforms", "aggregations",
          "tables", "sql", "template_sql", "dedup", "curation", "artifacts",
          "pq"]
COMMON = [("calls", "count", "lower"), ("busy_s", "s", "lower"),
          ("self_s", "s", "lower"), ("jobs", "count", "lower"),
          ("outside_jobs_s", "s", "lower"), ("task_cpu_s", "s", "lower"),
          ("shuffle_bytes", "bytes", "lower"), ("failed", "count", "lower")]
SPECIFIC = [
    ("extraction.rows_out", "rows", "higher"),
    ("extraction.src_rows_read", "rows", "lower"),
    ("mapping.rows_in", "rows", "lower"),
    ("mapping.rows_out", "rows", "higher"),
    ("transforms.rows_in", "rows", "lower"),
    ("transforms.rows_out", "rows", "higher"),
    ("aggregations.specs_applied", "count", "higher"),
    ("aggregations.specs_skipped", "count", "lower"),
    ("tables.bytes_written", "bytes", "lower"),
    ("tables.files_written", "count", "lower"),
    ("tables.schema_jobs", "count", "lower"),
    ("sql.plan_s", "s", "lower"),
    ("sql.jobs_per_query", "count", "lower"),
    ("sql.error_frames", "count", "lower"),
    ("sql.result_rows", "rows", "higher"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.dups_found", "count", "higher"),
    ("curation.kept_frac", "fraction", "higher"),
    ("artifacts.index_rows", "rows", "higher"),
    ("artifacts.bytes_written", "bytes", "lower"),
    ("pq.knn_recall_at_10", "fraction", "higher"),
    ("trace.overhead_frac", "fraction", "lower"),
    ("trace.unattributed_s", "s", "lower"),
]


def per_layer_spec():
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [(f"{layer}.{m}", u, b) for layer in LAYERS for m, u, b in COMMON]
    return out + SPECIFIC


TAIL_PCTS = (50, 75, 90, 95, 99, 99.9)


def quantile(sorted_vals, p):
    """Nearest-rank p-th percentile of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail(samples, beyond=10):
    """Latency at the highest percentile of TAIL_PCTS with at least
    `beyond` samples above its rank; the median when no percentile has.
    Returns (value, percentile, samples beyond it)."""
    xs = sorted(samples)
    n = len(xs)
    best = 50
    for p in TAIL_PCTS:
        if n - math.ceil(p / 100.0 * n) >= beyond:
            best = p
    rank = max(1, math.ceil(best / 100.0 * n))
    return xs[rank - 1], best, n - rank


def union_length(intervals, lo, hi):
    """Length of the union of [s, e) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans):
    """span id -> wall time minus the wall time of its direct children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + \
                s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
            for s in spans}


def subtree(spans, roots):
    """Ids of `roots` and every span nested under them."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), list(roots)
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo += kids.get(i, [])
    return out


def layer_metrics(spans, jobs, counters):
    """The per-layer table from traced spans, their jobs and counters.
    Jobs count toward the innermost span open when they were submitted;
    outside_jobs_s is a span's self time not covered by its own jobs."""
    selfs = self_times(spans)
    by_span = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append(j)
    m = {k: 0.0 for k, _, _ in per_layer_spec()}
    for s in spans:
        layer = s["name"].split(".")[0]
        own = by_span.get(s["id"], [])
        if layer == "op":
            m["trace.unattributed_s"] += selfs[s["id"]]
            continue
        if layer not in LAYERS:
            continue
        p = layer + "."
        m[p + "calls"] += 1
        m[p + "busy_s"] += s["end"] - s["start"]
        m[p + "self_s"] += selfs[s["id"]]
        m[p + "jobs"] += len(own)
        covered = union_length([(j["start"], j["end"]) for j in own],
                               s["start"], s["end"])
        m[p + "outside_jobs_s"] += max(0.0, selfs[s["id"]] - covered)
        m[p + "task_cpu_s"] += sum(j["cpu_s"] for j in own)
        m[p + "shuffle_bytes"] += sum(j["shuffle_bytes"] for j in own)
        m[p + "failed"] += 1 if s["failed"] else 0
        if layer == "tables":
            m["tables.bytes_written"] += sum(j["bytes_written"] for j in own)
            m["tables.files_written"] += sum(j["files_written"] for j in own)
            if s["name"] in ("tables.load", "tables.table", "tables.open"):
                m["tables.schema_jobs"] += len(own)
        if layer == "artifacts":
            m["artifacts.bytes_written"] += sum(j["bytes_written"]
                                                for j in own)

    def tagged(tag):
        ids = subtree(spans, [s["id"] for s in spans if s.get("tag") == tag])
        return [j for j in jobs if j["span"] in ids]

    m["extraction.src_rows_read"] = sum(j["records_read"]
                                        for j in tagged("extraction"))
    for layer in ("mapping", "transforms"):
        js = tagged(layer)
        m[f"{layer}.rows_in"] = sum(j["records_read"] for j in js)
        m[f"{layer}.rows_out"] = sum(j["records_written"] for j in js)
    for k, v in counters.items():
        if k in m:
            m[k] += v
    queries = sum(1 for s in spans if s["name"] == "sql.runSql")
    if queries:
        sql_jobs = sum(len(by_span.get(s["id"], [])) for s in spans
                       if s["name"] == "sql.runSql")
        m["sql.jobs_per_query"] = sql_jobs / queries
    return m
