"""Arithmetic of the benchmark: percentiles, interval unions, job
attribution, and the end-to-end and per-layer metrics built from the
harness's raw record.  Pure functions over plain data, so
`tests/test_metrics.py` can check them without Spark."""
import math
import re
import statistics

# job descriptions Pipeline sets: "pipeline <layer>.<model> <phase>"
PIPELINE_JOB = re.compile(r"^pipeline (\w+)\.(\w+) (.+)$")
MODELS = ("customers_latest", "orders_cleaned", "dim_customer")
DISCOVERY_PHASES = ("touched-discovery", "empty-check")

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "latency_p50_ms": "ms",
}

PER_LAYER = {
    "queries.plan_s": "s",
    "spark.idle_gap_s": "s",
    "spark.job_union_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "model.customers_latest_s": "s",
    "model.orders_cleaned_s": "s",
    "model.dim_customer_s": "s",
    "model.discovery_s": "s",
    "model.bootstrap_s": "s",
    "model.incremental_s": "s",
    "pipeline.bronze_s": "s",
    "pipeline.cdc_rows_per_s": "1/s",
    "io.fs_bytes_read": "bytes",
    "io.fs_bytes_written": "bytes",
    "io.store_files": "count",
    "io.store_bytes": "bytes",
    "io.index_bytes": "bytes",
    "io.artifact_builds": "count",
    "spark.one_task_stage_s": "s",
    "spark.core_busy": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "analytics.ingest_docs_per_s": "1/s",
    "analytics.dedup_batch_s": "s",
    "analytics.neardup_batch_s": "s",
    "analytics.ann_build_s": "s",
    "analytics.ann_append_s": "s",
    "analytics.search_s": "s",
    "analytics.ann_recall_at_10": "ratio",
    "jvm.heap_peak_bytes": "bytes",
}

def percentile(values, p):
    """Nearest-rank percentile: the smallest observed value with at
    least p% of the values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def union(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, windows):
    """The parts of `intervals` that lie inside `windows`."""
    out = []
    for s, e in intervals:
        for ws, we in windows:
            lo, hi = max(s, ws), min(e, we)
            if hi > lo:
                out.append((lo, hi))
    return out


def inside(t, windows):
    return any(ws <= t <= we for ws, we in windows)


def attribute(desc):
    """(layer, model, phase) of a Pipeline job description, else None."""
    m = PIPELINE_JOB.match(desc or "")
    return m.groups() if m else None


def ops_of(raw, kind):
    return [o for o in raw["ops"] if o["kind"] == kind]


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """The user-visible figures of one untraced run: set-up, the time of
    a whole round, and the median latency of the measured calls (olap:
    each query; ingest: each pipeline run, batch fold, index build or
    append, and search). A run holds fewer than forty calls, too few for
    a tail percentile to have ten samples beyond it, so none is given."""
    lat = [o["s"] for o in raw["ops"]]
    per_round = [0.0] * raw["rounds"]
    for o in raw["ops"]:
        per_round[o["round"]] += o["s"]
    return {
        "setup_s": raw["setup_s"],
        "round_s": statistics.median(per_round),
        "latency_p50_ms": percentile(lat, 50) * 1000.0,
    }


def per_layer(raw, recall=0.0):
    """The layer figures of one traced run, per round of the workload
    (medians per call where the name says so)."""
    tr, rounds, cores = raw["trace"], raw["rounds"], raw["cores"]
    windows = [(o["start"], o["end"]) for o in raw["ops"]]
    wall_ms = sum(e - s for s, e in windows)
    jobs = [j for j in tr["jobs"] if inside(j["start"], windows)]
    stages = [s for s in tr["stages"] if inside(s["start"], windows)]
    tasks = [t for t in tr["tasks"] if inside(t["start"], windows)]
    job_union_ms = union(clip([(j["start"], j["end"]) for j in tr["jobs"]],
                              windows))

    def model_ms(pred):
        spans = [(j["start"], j["end"]) for j in tr["jobs"]
                 if attribute(j["desc"]) and pred(*attribute(j["desc"]))]
        return union(clip(spans, windows))

    def tsum(key, scale=1.0):
        return sum(t[key] for t in tasks) * scale / rounds

    x = raw["extra"]
    fs = tr["fs"]

    def med(kind):
        return median_or_zero([o["s"] for o in ops_of(raw, kind)])

    def per_s(items, kinds):
        t = sum(o["s"] for o in raw["ops"] if o["kind"] in kinds)
        return items * rounds / t if t else 0.0

    m = {
        "queries.plan_s": union(clip(
            [(p["start"], p["end"]) for p in tr["phases"]], windows))
        / 1000.0 / rounds,
        "spark.idle_gap_s": (wall_ms - job_union_ms) / 1000.0 / rounds,
        "spark.job_union_s": job_union_ms / 1000.0 / rounds,
        "spark.jobs": len(jobs) / rounds,
        "spark.stages": len(stages) / rounds,
        "spark.tasks": len(tasks) / rounds,
        "model.discovery_s": model_ms(
            lambda _l, _m, ph: ph in DISCOVERY_PHASES) / 1000.0 / rounds,
        "model.bootstrap_s": med("bootstrap"),
        "model.incremental_s": med("incremental"),
        "pipeline.bronze_s": med("bronze"),
        "pipeline.cdc_rows_per_s": per_s(
            x.get("cdc_rows", 0), ("bootstrap", "incremental")),
        "io.fs_bytes_read": fs["bytes_read"] / rounds,
        "io.fs_bytes_written": fs["bytes_written"] / rounds,
        "io.store_files": median_or_zero(x.get("store_files", [])),
        "io.store_bytes": median_or_zero(x.get("store_bytes", [])),
        "io.index_bytes": median_or_zero(x.get("index_bytes", [])),
        "io.artifact_builds": raw["artifact_builds"] / rounds,
        "spark.one_task_stage_s": sum(
            s["end"] - s["start"] for s in stages if s["tasks"] == 1)
        / 1000.0 / rounds,
        "spark.core_busy": sum(t["run_ms"] for t in tasks)
        / (wall_ms * cores) if wall_ms else 0.0,
        "spark.task_run_s": tsum("run_ms", 1e-3),
        "spark.task_cpu_s": tsum("cpu_ns", 1e-9),
        "spark.gc_s": tsum("gc_ms", 1e-3),
        "spark.shuffle_write_bytes": tsum("shuffle_write"),
        "spark.shuffle_read_bytes": tsum("shuffle_read"),
        "spark.spill_bytes": tsum("spill"),
        "spark.input_bytes": tsum("input"),
        "spark.output_bytes": tsum("output"),
        "analytics.ingest_docs_per_s": per_s(
            x.get("docs", 0), ("dedup", "neardup")),
        "analytics.dedup_batch_s": med("dedup"),
        "analytics.neardup_batch_s": med("neardup"),
        "analytics.ann_build_s": med("ann_build"),
        "analytics.ann_append_s": med("ann_append"),
        "analytics.search_s": med("search"),
        "analytics.ann_recall_at_10": recall,
        "jvm.heap_peak_bytes": float(raw["heap_peak"]),
    }
    for model in MODELS:
        m[f"model.{model}_s"] = model_ms(
            lambda _l, mm, _p, model=model: mm == model) / 1000.0 / rounds
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return m


def gap_identity_error(raw):
    """|idle gap + job union - wall| / wall, with the wall taken from the
    harness's nanosecond timer and the rest from the listener's clock."""
    m = per_layer(raw)
    wall = sum(o["s"] for o in raw["ops"]) / raw["rounds"]
    return abs(m["spark.idle_gap_s"] + m["spark.job_union_s"] - wall) / wall


def result(raw, trace, correct, attempted, failed, recall):
    """The one JSON object the benchmark prints."""
    if trace:
        values, units = per_layer(raw, recall), PER_LAYER
    else:
        values, units = end_to_end(raw), END_TO_END
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }
