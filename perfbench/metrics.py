"""Arithmetic of the benchmark: order statistics, span self time, job
attribution and the metrics derived from one run's raw record.

The JVM side (perfbench/src) records raw samples, spans and Spark job/task
records; every number the benchmark reports is computed here, so it can be
checked by the self-tests in perfbench/tests.
"""
import math
import statistics

LAYERS = ("stream", "smt", "schema", "merge", "table", "sources")

# Names (and units) of the per-layer metrics every traced run reports.
LAYER_METRICS = (
    ("self_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_cpu_s", "s"), ("gc_s", "s"), ("core_util", "ratio"), ("shuffle_mb", "MB"),
    ("spill_mb", "MB"), ("task_skew", "ratio"),
)
EXTRA_LAYER_METRICS = (
    ("schema.infer_s", "s"), ("schema.classes", "count"), ("schema.union_failures", "count"),
    ("stream.source_reads_per_event", "ratio"), ("merge.winners_per_event", "ratio"),
    ("merge.carried_per_change", "ratio"), ("merge.stale", "count"),
    ("merge.rewritten_files", "count"), ("merge.touched_buckets", "count"),
    ("table.snapshot_ms", "ms"), ("table.versions", "count"), ("sources.scan_rows", "count"),
    ("sources.feed_rows", "count"), ("trace.overhead", "ratio"), ("trace.wall_s", "s"),
    ("trace.self_sum_ratio", "ratio"), ("trace.unattributed_jobs", "count"),
)
PER_LAYER = tuple((f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS) + EXTRA_LAYER_METRICS

# End-to-end metrics of the report; the gated subset is in BENCHMARK.json.
END_TO_END = (
    ("setup_s", "s"), ("events_per_s", "1/s"), ("epoch_ms_p50", "ms"), ("epoch_ms_p90", "ms"),
    ("read_ms_p50", "ms"), ("lookup_ms_p50", "ms"), ("lookup_ms_p90", "ms"), ("feed_ms_p50", "ms"),
    ("feed_ms_p90", "ms"), ("scan_rows_per_s", "1/s"), ("bytes_per_event", "B"),
    ("peak_rss_mb", "MB"), ("error_ratio", "ratio"), ("state_mismatch_rows", "count"),
    ("nested_drift_failed_epochs", "count"),
)


# ---- order statistics ------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median, third quartile (Python's default method)."""
    return statistics.quantiles(xs, n=4)


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def reportable(n, p):
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (100 - p) >= 10 * 100


def percentile(xs, p):
    """Nearest-rank percentile, or None when too few samples lie beyond it."""
    if not xs or not reportable(len(xs), p):
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


# ---- intervals ---------------------------------------------------------------

def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def subtract(intervals, cuts):
    """Parts of `intervals` not covered by `cuts`."""
    cuts = union(cuts)
    out = []
    for a, b in union(intervals):
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def length(intervals):
    return sum(b - a for a, b in intervals)


# ---- spans and jobs --------------------------------------------------------

def self_intervals(spans):
    """Map span id -> the part of its interval its child spans do not cover.
    Spans are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: subtract([(s["start"], s["end"])], children.get(s["id"], [])) for s in spans}


def attribute(jobs):
    """Map job id -> layer of the job group it was submitted under."""
    return {j["id"]: (j["group"] if j["group"] in LAYERS else None) for j in jobs}


def parse(raw):
    spans = [dict(zip(("id", "parent", "layer", "name", "epoch", "start", "end"), s)) for s in raw.get("spans", [])]
    jobs = [dict(zip(("id", "group", "start", "end"), j)) for j in raw.get("jobs", [])]
    tasks = [dict(zip(("job", "stage", "ms", "cpu_ns", "gc_ms", "shuffle_w", "shuffle_r", "spill", "records"), t))
             for t in raw.get("tasks", [])]
    return spans, jobs, tasks


def layer_metrics(spans, jobs, tasks, cores, iterations):
    """Per-layer totals divided by the number of traced iterations."""
    selfs = self_intervals(spans)
    job_iv = [(j["start"], j["end"]) for j in jobs if j["end"] == j["end"]]  # NaN-safe
    layer_of_job = attribute(jobs)
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        self_iv = [iv for s in mine for iv in selfs[s["id"]]]
        self_ms = length(self_iv)
        driver_ms = length(subtract(self_iv, job_iv))
        ts = [t for t in tasks if layer_of_job.get(t["job"]) == layer]
        by_stage = {}
        for t in ts:
            by_stage.setdefault(t["stage"], []).append(t["ms"])
        skew = 0.0
        if by_stage:
            slowest = max(by_stage.values(), key=sum)
            med = median(slowest)
            skew = max(slowest) / med if med > 0 else 1.0
        cpu_s = sum(t["cpu_ns"] for t in ts) / 1e9
        k = 1.0 / max(1, iterations)
        out[f"{layer}.self_s"] = self_ms / 1000 * k
        out[f"{layer}.driver_s"] = driver_ms / 1000 * k
        out[f"{layer}.jobs"] = sum(1 for j in jobs if layer_of_job[j["id"]] == layer) * k
        out[f"{layer}.tasks"] = len(ts) * k
        out[f"{layer}.task_cpu_s"] = cpu_s * k
        out[f"{layer}.gc_s"] = sum(t["gc_ms"] for t in ts) / 1000 * k
        out[f"{layer}.core_util"] = cpu_s / (self_ms / 1000 * cores) if self_ms > 0 else 0.0
        out[f"{layer}.shuffle_mb"] = sum(t["shuffle_w"] + t["shuffle_r"] for t in ts) / 1e6 * k
        out[f"{layer}.spill_mb"] = sum(t["spill"] for t in ts) / 1e6 * k
        out[f"{layer}.task_skew"] = skew
    out["trace.unattributed_jobs"] = sum(1 for j in jobs if layer_of_job[j["id"]] is None)
    return out


# ---- one run -----------------------------------------------------------------

def _sum(its, key):
    return sum(it.get(key, 0.0) for it in its)


def _samples(its, key):
    return [x for it in its for x in it.get(key, [])]


def outcome(raw):
    """(attempted, failed, mismatch rows) of the timed workload. An epoch
    that threw halts its stream: its events and all later ones failed. Any
    oracle mismatch marks all of the run's operations failed."""
    its = raw["warmup_iterations"] + raw["iterations"]
    attempted = int(_sum(its, "attempted"))
    failed = int(sum(it["attempted"] - it.get("events", 0.0) for it in its if "error" in it))
    mismatch = int(_sum(its, "mismatch_rows"))
    if mismatch:
        failed = attempted
    return attempted, failed, mismatch


def end_to_end(raw):
    """All end-to-end metrics of a run (None where a metric does not apply
    to the workload or has too few samples)."""
    its = [it for it in raw["iterations"] if not it["traced"]]
    attempted, failed, mismatch = outcome(raw)
    drift = raw.get("drift")
    epoch = _samples(its, "epoch_ms")
    lookup = _samples(its, "lookup_ms")
    feed = _samples(its, "feed_ms")
    scan = _samples(its, "scan_ms")
    read = _samples(its, "read_ms") or scan
    events = _sum(its, "events")
    return {
        "setup_s": median(raw["setup_s"]),
        "events_per_s": median([it["events"] / it["ingest_s"] for it in its]),
        "epoch_ms_p50": median(epoch),
        "epoch_ms_p90": percentile(epoch, 90),
        "read_ms_p50": median(read),
        "lookup_ms_p50": median(lookup) if lookup else None,
        "lookup_ms_p90": percentile(lookup, 90),
        "feed_ms_p50": median(feed) if feed else None,
        "feed_ms_p90": percentile(feed, 90),
        "scan_rows_per_s": its[0]["scan_rows"] / (median(scan) / 1000) if scan else None,
        "bytes_per_event": _sum(its, "bytes_added") / events,
        "peak_rss_mb": peak_memory_mb(raw),
        "error_ratio": (failed + (drift["failed_events"] if drift else 0))
                       / (attempted + (drift["events"] if drift else 0)),
        "state_mismatch_rows": mismatch,
        "nested_drift_failed_epochs": drift["failed_epochs"] if drift else None,
    }


def peak_memory_mb(raw):
    """Peak memory in use: the heap pools' peak use plus what is resident
    beyond the (pre-touched, hence always resident) committed heap."""
    return raw["heap_peak_mb"] + raw["vm_hwm_mb"] - raw["heap_committed_mb"]


def sample_summary(raw):
    """Count, quartiles and spread (IQR / median) of each timing sample set
    of the untraced iterations, for the report."""
    its = [it for it in raw["iterations"] if not it["traced"]]
    out = {}
    for key in ("epoch_ms", "read_ms", "lookup_ms", "feed_ms", "scan_ms"):
        xs = _samples(its, key)
        if len(xs) >= 2:
            out[key] = {"n": len(xs), "quartiles": quartiles(xs), "spread": spread(xs)}
    out["iteration_s"] = [it["wall_s"] for it in its]
    return out


def traced_jobs(jobs, traced_iterations):
    """Jobs of the traced iterations: those under a layer's group, the
    traced timed regions' base group, or a traced stream's run id."""
    groups = set(LAYERS) | {"traced"} | {g for it in traced_iterations for g in it.get("ingest_groups", [])}
    return [j for j in jobs if j["group"] in groups]


def source_reads_per_event(tasks, jobs, untraced_iterations):
    """Source records the untraced (fused) ingest reads per event: input
    records of the tasks of its jobs, less the table rows its merges read
    back (the rows of the files they replaced)."""
    groups = {g for it in untraced_iterations for g in it.get("ingest_groups", [])}
    ingest = {j["id"] for j in jobs if j["group"] in groups}
    records = sum(t["records"] for t in tasks if t["job"] in ingest)
    events = _sum(untraced_iterations, "events")
    return (records - _sum(untraced_iterations, "rows_replaced")) / events if events else 0.0


def per_layer(raw):
    """All per-layer metrics of a traced run."""
    spans, jobs, tasks = parse(raw)
    traced = [it for it in raw["iterations"] if it["traced"]]
    untraced = [it for it in raw["iterations"] if not it["traced"]]
    n = len(traced)
    m = layer_metrics(spans, traced_jobs(jobs, traced), tasks, raw["cores"], n)
    events = _sum(traced, "events")
    changes = _sum(traced, "inserted") + _sum(traced, "updated") + _sum(traced, "deleted")
    wall = _sum(traced, "wall_s")
    self_sum = sum(m[f"{l}.self_s"] for l in LAYERS) * n
    snap = _samples(traced, "snapshot_ms")
    m.update({
        "schema.infer_s": _sum(traced, "call_ms.json-deserialize") / 1000 / n,
        "schema.classes": _sum(traced, "schema_classes") / n,
        "schema.union_failures": _sum(traced, "union_failures") / n,
        "stream.source_reads_per_event": source_reads_per_event(tasks, jobs, untraced),
        "merge.winners_per_event": (changes + _sum(traced, "stale")) / events if events else 0.0,
        "merge.carried_per_change": _sum(traced, "carried") / changes if changes else 0.0,
        "merge.stale": _sum(traced, "stale") / n,
        "merge.rewritten_files": _sum(traced, "rewritten_files") / n,
        "merge.touched_buckets": _sum(traced, "touched_buckets") / n,
        "table.snapshot_ms": median(snap) if snap else 0.0,
        "table.versions": traced[-1].get("versions", 0.0),
        "sources.scan_rows": traced[-1].get("scan_rows", 0.0),
        "sources.feed_rows": _sum(traced, "feed_rows") / n,
        "trace.overhead": (wall / n) / (_sum(untraced, "wall_s") / len(untraced)),
        "trace.wall_s": wall,
        "trace.self_sum_ratio": self_sum / wall if wall else 0.0,
    })
    return m


def costliest(layer_values):
    """Layer with the largest self time."""
    return max(LAYERS, key=lambda l: layer_values[f"{l}.self_s"])
