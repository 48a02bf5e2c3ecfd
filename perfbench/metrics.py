"""Turns one run's raw samples (written by graftbench.Main) into the
benchmark's end-to-end and per-layer metrics. Pure functions only, so
`test_perfbench.py` can check them without Spark."""
import math
import statistics


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it.
    A run of 20 samples or fewer has no such percentile above the
    median; its tail is its slowest sample (100)."""
    if n <= 20:
        return 100
    p = math.floor(100 * (n - 10) / n)
    while n - math.ceil(p * n / 100) < 10:
        p -= 1
    return min(99, p)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        return 0.0
    k = max(math.ceil(p * len(s) / 100) - 1, 0)
    return s[min(k, len(s) - 1)]


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Each span's duration minus the part of its interval its child
    spans cover (children may nest, overlap or spill past the parent).
    Returns {span id: self time} in the spans' time unit."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


# Operation kinds whose latencies are the op_* metrics: a query, or a
# micro-batch of the incremental star.
UNIT_KINDS = ("query", "microbatch")


def end_to_end(raw):
    """setup_s, unit-operation latency median and tail, their
    throughput, batch wall time, CPU per pass, peak RSS."""
    ops = [o for o in raw["ops"] if o["ok"] and not o["traced"]]
    lat = [o["latency_s"] for o in ops if o["kind"] in UNIT_KINDS]
    p = tail_percentile(len(lat))
    batches = [o["latency_s"] for o in ops if o["kind"] == "batch"]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_ms": (1e3 * percentile(lat, 50), "ms"),
        "op_tail_ms": (1e3 * percentile(lat, p), "ms"),
        "ops_per_s": (len(lat) / raw["unit_wall_s"] if raw["unit_wall_s"] else 0.0, "1/s"),
        "batch_s": (_med(batches) if batches else raw["loop_s"] / raw["passes"], "s"),
        "cpu_s_per_pass": (raw["loop_cpu_s"] / raw["passes"], "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }, {"samples": len(lat), "tail_percentile": p}


def overhead(ops):
    """Tracing overhead of a traced run, whose operations come in
    traced/untraced twins: the geometric mean over operation names of
    the traced median latency over the untraced one, minus one."""
    by = {}
    for o in ops:
        if o["ok"]:
            by.setdefault((o["name"], o["traced"]), []).append(o["latency_s"])
    ratios = [_med(v) / _med(by[(n, False)]) for (n, t), v in by.items()
              if t and _med(by.get((n, False), [])) > 0]
    if not ratios:
        raise ValueError("no untraced twin of any traced operation")
    return math.exp(statistics.fmean(math.log(r) for r in ratios)) - 1


def per_layer(raw, manifest=None):
    """Per-layer metrics from a traced run's traced operations and their
    spans. Times and counts are per operation unless the name says
    otherwise; the untraced twins give the tracing overhead."""
    ops = [o for o in raw["ops"] if o["traced"]]
    n_ops = max(len(ops), 1)
    trace = raw.get("trace") or {"spans": [], "plans": []}
    spans = trace["spans"]
    kinds = {s["id"]: s["kind"] for s in spans}
    selfs = self_times(spans)
    stages = [s for s in spans if s["kind"] == "stage"]
    jobs = [s for s in spans if s["kind"] == "job"]
    op_spans = [s for s in spans if s["kind"] == "op"]

    def total(key):
        return sum(s.get(key, 0) for s in stages)

    # Wall time inside ops that no running stage covers.
    stage_iv = [(s["start"], s["end"]) for s in stages]
    op_ms = sum(s["end"] - s["start"] for s in op_spans)
    in_stage_ms = sum(covered(stage_iv, s["start"], s["end"]) for s in op_spans)
    build_jobs = sum(1 for j in jobs if j["parent"].endswith("/build"))
    q = [o for o in ops if o["kind"] == "query"]
    build_s = sum(o["build_s"] for o in q)
    lat_s = sum(o["latency_s"] for o in q)
    plans = trace["plans"]
    cpus = raw.get("cpus", 1)
    m = {
        "queries.build_s": (build_s / max(len(q), 1), "s"),
        "queries.build_jobs": (build_jobs / max(len(q), 1) if q else 0.0, "count"),
        "queries.build_share": (build_s / lat_s if lat_s else 0.0, "fraction"),
        "plans.analysis_s": (sum(p["analysis_ms"] for p in plans) / 1e3 / n_ops, "s"),
        "plans.optimization_s": (sum(p["optimization_ms"] for p in plans) / 1e3 / n_ops, "s"),
        "plans.planning_s": (sum(p["planning_ms"] for p in plans) / 1e3 / n_ops, "s"),
        "spark.jobs": (len(jobs) / n_ops, "count"),
        "spark.stages": (len(stages) / n_ops, "count"),
        "spark.tasks": (total("tasks") / n_ops, "count"),
        "spark.out_of_stage_s": ((op_ms - in_stage_ms) / 1e3 / n_ops, "s"),
        "spark.core_busy_frac": (total("task_ms") / (cpus * covered(stage_iv, -1, 1 << 62))
                                 if stages else 0.0, "fraction"),
        "spark.task_run_s": (total("run_ms") / 1e3 / n_ops, "s"),
        "spark.task_cpu_s": (total("cpu_ns") / 1e9 / n_ops, "s"),
        "spark.task_deser_s": (total("deser_ms") / 1e3 / n_ops, "s"),
        "spark.gc_s": (total("gc_ms") / 1e3 / n_ops, "s"),
        "spark.shuffle_write_mb": (total("shuffle_w") / 2**20 / n_ops, "MB"),
        "spark.shuffle_read_mb": (total("shuffle_r") / 2**20 / n_ops, "MB"),
        "spark.spill_mb": (total("spill") / 2**20 / n_ops, "MB"),
        "spark.input_mb": (total("in_bytes") / 2**20 / n_ops, "MB"),
        "spark.input_rows": (total("in_rows") / n_ops, "count"),
        "CacheRegistry.drain_s": (sum(o["drain_s"] for o in ops) / n_ops, "s"),
        "CacheRegistry.tracked_frames": (sum(o["tracked"] for o in ops) / n_ops, "count"),
    }
    for kind in ("op", "phase", "job", "stage"):
        m[f"trace.{kind}_self_s"] = (
            sum(v for k, v in selfs.items() if kinds[k] == kind) / 1e3 / n_ops, "s")
    m["trace.overhead_frac"] = (overhead(raw["ops"]), "fraction")
    m.update(_pipeline(raw, spans, manifest))
    return m


def _pipeline(raw, spans, manifest):
    """Stage times from the traced batch ops' phase spans, micro-batch
    counters from the traced micro-batch op spans."""
    def stage_med(name):
        return _med([(s["end"] - s["start"]) / 1e3 for s in spans
                     if s["kind"] == "phase" and s["name"] == name])
    batches = [s for s in spans if s["kind"] == "op" and s["name"] == "streaming.batch"]
    man = manifest or {}
    # Rows fed per micro-batch; the stream's own numInputRows counts a
    # batch once per re-read of its input inside foreachBatch.
    fed = man.get("incr_rows", 0) / max(man.get("incr_batches", 1), 1)
    raw_bytes = man.get("batch_bytes", 0)
    written = raw["extra"].get("bytes_written", 0)
    return {
        "pipeline.extract_s": (stage_med("pipeline.extract"), "s"),
        "pipeline.transform_s": (stage_med("pipeline.transform"), "s"),
        "pipeline.load_s": (stage_med("pipeline.load"), "s"),
        "star.build_s": (stage_med("star.build"), "s"),
        "pipeline.bytes_written_mb": (written / 2**20, "MB"),
        "pipeline.write_amp": (written / raw_bytes if raw_bytes else 0.0, "ratio"),
        "streaming.add_batch_s": (_med([b["add_batch_s"] for b in batches]), "s"),
        "streaming.commit_s": (_med([b["commit_s"] for b in batches]), "s"),
        "streaming.rows_per_batch": (fed if batches else 0.0, "count"),
        "streaming.batch_reads": (_med([b["rows"] for b in batches]) / fed if fed else 0.0,
                                  "count"),
    }
