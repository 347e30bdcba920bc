"""Turns the JVM's per-op records into the benchmark's metrics.

Pure arithmetic over the raw JSON that `Main.scala` writes; no I/O, so
`test_metrics.py` can pin every formula.
"""

import math
import statistics

# Spans the benchmark opens around calls into the engine, by layer.
# A layer's figure is its self time: span time not covered by a child
# span. Together with trace.unattributed_s (the op's own glue) the
# self times add up to the traced op time.
LAYER_SPANS = [
    "sources.xlsx_read", "sources.read", "catalog.meta", "importer.init",
    "importer.count", "sink.write", "jdbc.batch", "jdbc.update",
    "jdbc.commit", "export.plan", "snapshot.publish",
]
COUNTS = [
    "staging.output_bytes", "staging.files", "jdbc.batches",
    "jdbc.rows_staged", "jdbc.commits", "snapshot.files", "snapshot.bytes",
]
TASK_SUMS = {
    "spark.task_cpu_s": "cpu_s",
    "spark.shuffle_bytes": "shuffle_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.output_bytes": "output_bytes",
}


def tail(values):
    """The tail op time and its percentile.

    Nearest-rank percentile p = max(90, 100*(n-10)/n) of n values. From
    100 values on, that is the highest percentile with at least ten
    values above it: the (n-10)th smallest. Below 100 values that
    percentile would fall with n (to p9 at 11 values), so the value
    would describe another part of the distribution whenever a faster
    or slower run fits in another op; p90 is held instead. With nine or
    fewer values p90 is the maximum.

    Returns (value, percentile).
    """
    xs = sorted(values)
    n = len(xs)
    p = max(90.0, 100.0 * (n - 10) / n)
    rank = max(1, math.ceil(round(p * n / 100.0, 9)))
    return xs[rank - 1], p


def union_length(intervals, lo, hi):
    """Length of the union of [s, e] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def gap(wall, jobs):
    """Op wall time during which no Spark job was running."""
    return wall - union_length(jobs, 0.0, wall)


def read_amp(records_read, scan_base):
    """Records the op's scans read per row a single pass must read."""
    return records_read / scan_base


def self_times(spans):
    """Self time per span name, summed: duration minus child cover.

    `spans` are [name, id, parent, start, end] records of one op.
    """
    children = {}
    for _, sid, parent, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for name, sid, _, s, e in spans:
        own = (e - s) - union_length(children.get(sid, []), s, e)
        out[name] = out.get(name, 0.0) + own
    return out


def jobs_within(jobs, spans, prefix):
    """Jobs that started inside a span whose name starts with `prefix`."""
    windows = [(s, e) for name, _, _, s, e in spans if name.startswith(prefix)]
    return sum(1 for js, _ in jobs if any(s <= js <= e for s, e in windows))


def end_to_end(raw):
    ops = raw["ops"]
    walls = [o["wall_s"] for o in ops if o["ok"]] or [o["wall_s"] for o in ops]
    ok = sum(1 for o in ops if o["ok"])
    tail_v, tail_p = tail(walls)
    setup = raw["setup"]
    metrics = {
        "op_s": (statistics.median(walls), "s"),
        "op_s_tail": (tail_v, "s"),
        "rows_per_s": (raw["rows_per_op"] * ok / sum(walls) if ok else 0.0, "1/s"),
        "ok_ratio": (ok / len(ops), "ratio"),
        "setup_s": (setup["session_s"] + statistics.median(setup["gen_s"])
                    + setup["warm_s"], "s"),
        "heap_peak_mb": (max(o["heap_mb"] for o in ops), "MB"),
    }
    return metrics, {"ops": len(ops), "tail_percentile": tail_p}


def per_layer(raw):
    ops = raw["ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    if not traced:
        raise ValueError("no traced op")

    def med(f):
        return statistics.median(f(o) for o in traced)

    metrics = {}
    for name in LAYER_SPANS:
        metrics[name + "_s"] = (med(lambda o: self_times(o["spans"]).get(name, 0.0)), "s")
    metrics["trace.unattributed_s"] = (med(lambda o: self_times(o["spans"]).get("op", 0.0)), "s")
    metrics["importer.jobs"] = (med(lambda o: jobs_within(o["jobs"], o["spans"], "importer.")), "count")
    metrics["spark.read_amp"] = (med(lambda o: read_amp(o["tasks"]["records_read"], raw["scan_base"])), "ratio")
    for name in COUNTS:
        metrics[name] = (med(lambda o: o["counts"].get(name, 0.0)), "count" if not name.endswith("bytes") else "B")
    metrics["spark.jobs"] = (med(lambda o: len(o["jobs"])), "count")
    metrics["spark.tasks"] = (med(lambda o: o["tasks"]["n"]), "count")
    metrics["spark.job_s"] = (med(lambda o: union_length(o["jobs"], 0.0, o["wall_s"])), "s")
    metrics["spark.gap_s"] = (med(lambda o: gap(o["wall_s"], o["jobs"])), "s")
    for name, key in TASK_SUMS.items():
        metrics[name] = (med(lambda o: o["tasks"][key]), "s" if name.endswith("_s") else "B")
    metrics["jvm.gc_s"] = (med(lambda o: o["gc_s"]), "s")
    traced_op = med(lambda o: o["wall_s"])
    metrics["trace.op_s"] = (traced_op, "s")
    if not untraced:
        raise ValueError("no untraced op to compare the traced ones with")
    metrics["trace.overhead"] = (
        traced_op / statistics.median(o["wall_s"] for o in untraced), "ratio")
    return metrics
