"""Turn one raw benchmark record (written by the JVM) into metrics.

Pure functions over plain data, so they are unit-tested without Spark
(test_report.py). Times are seconds, sizes MB.
"""
import statistics

# Layers of the per-layer metrics, named after the repository's modules.
LAYERS = ["extract", "mention", "link", "canon", "emit", "enrich",
          "ann_ivf", "meta"]
LAYER_FIELDS = ["self_s", "jobs", "shuffle_mb", "spill_mb", "peak_exec_mb",
                "task_skew", "busy_frac", "gc_frac"]
COUNTS = ["extract.kept_frac", "mention.cands_per_doc", "link.linked_frac",
          "emit.triples", "meta.mb_written"]
DRIVER = ["pipeline.jobs", "pipeline.driver_gap_s", "pipeline.cached_mb_peak",
          "pipeline.trace_overhead_frac", "ops.jobs", "ops.shuffle_mb"]

MB = 1e6

# Unit of each per-layer metric, by its last name component.
_UNITS = {"self_s": "s", "jobs": "count", "shuffle_mb": "MB",
          "spill_mb": "MB", "peak_exec_mb": "MB", "task_skew": "ratio",
          "busy_frac": "ratio", "gc_frac": "ratio", "kept_frac": "ratio",
          "cands_per_doc": "ratio", "linked_frac": "ratio",
          "triples": "count", "mb_written": "MB",
          "driver_gap_s": "s", "cached_mb_peak": "MB",
          "trace_overhead_frac": "ratio", "s": "s"}


def unit_of(name):
    return _UNITS[name.rsplit(".", 1)[-1]]


def per_layer_names(query_names):
    """Every per-layer metric name, in BENCHMARK.json order."""
    return ([f"{l}.{f}" for l in LAYERS for f in LAYER_FIELDS] + COUNTS
            + DRIVER + [f"query.{q}.s" for q in sorted(query_names)])


# ------------------------------------------------------------- statistics

def tail(samples):
    """(value, percentile, samples_beyond) of the highest percentile that
    has at least ten samples beyond it, by nearest rank. With fewer than
    21 samples no percentile at or above the median has ten beyond it;
    the median is returned then, with the count beyond it."""
    xs = sorted(samples)
    n = len(xs)
    i = max(n - 11, (n - 1) // 2)
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def union_ns(intervals, lo, hi):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: self seconds}: a span's duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        covered = union_ns(kids, s["start_ns"], s["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def error_rate(ops):
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return failed / attempted if attempted else 1.0, attempted, failed


# ------------------------------------------------------ end-to-end metrics

def rate(ops, key):
    """Median over the ops that carry count `key` of that count per second
    (run_dense: every run; query_mix: q29, whose pipeline builds a graph
    of 120 pages)."""
    xs = [o["counts"][key] / o["s"] for o in ops if o["s"] > 0 and key in o["counts"]]
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """End-to-end metrics of an untraced run, plus notes (sample counts,
    the tail's percentile) printed alongside."""
    ops = raw["ops"]
    good = [o for o in ops if o["ok"]] or ops
    lat = [o["s"] for o in good]
    p50 = statistics.median(lat)
    tail_v, tail_pct, beyond = tail(lat)
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "docs_per_s": (rate(good, "docs"), "1/s"),
        "triples_per_s": (rate(good, "triples"), "1/s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail_v, "s"),
        "pass_s": (statistics.median(raw["passes"]) if "passes" in raw else p50, "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    notes = {"samples": len(lat), "tail_percentile": round(tail_pct, 1),
             "tail_samples_beyond": beyond,
             "error_rate": error_rate(ops)[0]}
    return m, notes


# ------------------------------------------------------- per-layer metrics

def per_layer(raw, query_names):
    """Per-layer metrics of a traced run. A layer the workload does not
    reach reports 0."""
    tr = raw["trace"]
    spans, groups = tr["spans"], tr["groups"]
    cores = raw["cores"]
    selfs = self_times(spans)
    out = {n: 0.0 for n in per_layer_names(query_names)}

    def layer_stats(names):
        ids = [s["id"] for s in spans if s["name"] in names]
        gs = [groups[str(i)] for i in ids if str(i) in groups]
        run = [r for g in gs for r in g["run_ms"]]
        self_s = sum(selfs[i] for i in ids)
        return ids, gs, run, self_s

    for layer in LAYERS:
        ids, gs, run, self_s = layer_stats({layer})
        if not ids:
            continue
        med = statistics.median(run) if run else 0
        out.update({
            f"{layer}.self_s": self_s,
            f"{layer}.jobs": float(sum(g["jobs"] for g in gs)),
            f"{layer}.shuffle_mb": sum(g["shuffle_bytes"] for g in gs) / MB,
            f"{layer}.spill_mb": sum(g["spill_bytes"] for g in gs) / MB,
            f"{layer}.peak_exec_mb": max((g["peak_exec_bytes"] for g in gs), default=0) / MB,
            f"{layer}.task_skew": (max(run) / med) if med > 0 else 0.0,
            f"{layer}.busy_frac": (sum(run) / 1e3 / (self_s * cores)) if self_s > 0 else 0.0,
            f"{layer}.gc_frac": (sum(g["gc_ms"] for g in gs) / sum(run)) if sum(run) > 0 else 0.0,
        })
    for k, v in tr["counts"].items():
        out[k] = float(v)

    # the traced work: every root span and the jobs started inside it
    roots = [s for s in spans if s["parent"] == -1]
    jobs = [tuple(j) for j in tr["jobs"]]
    out["pipeline.jobs"] = float(sum(g["jobs"] for g in groups.values()))
    out["pipeline.driver_gap_s"] = sum(
        r["end_ns"] - r["start_ns"] - union_ns(jobs, r["start_ns"], r["end_ns"])
        for r in roots) / 1e9
    out["pipeline.cached_mb_peak"] = tr["cached_bytes_peak"] / MB
    out["pipeline.trace_overhead_frac"] = tr["traced_s"] / tr["untraced_s"] - 1.0

    qspans = [s for s in spans if s["name"].startswith("query.")]
    for s in qspans:
        out[f"{s['name']}.s"] = (s["end_ns"] - s["start_ns"]) / 1e9
    if qspans:
        qs = [groups[str(s["id"])] for s in qspans if str(s["id"]) in groups]
        out["ops.jobs"] = float(sum(g["jobs"] for g in qs))
        out["ops.shuffle_mb"] = sum(g["shuffle_bytes"] for g in qs) / MB
    return {k: (v, unit_of(k)) for k, v in out.items()}
