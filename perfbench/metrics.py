"""The benchmark's arithmetic: turns a run record (raw.json written by the
JVM harness) into end-to-end and per-layer metrics."""
import math
import statistics

MB = 1048576.0
FAMILIES = ["Relational", "Events", "TextAnalysis", "Dedup", "Similarity", "Other"]
CATALYST = {"analysis": "catalyst.analyze_s", "optimization": "catalyst.optimize_s",
            "planning": "catalyst.plan_s"}


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    the (beyond+1)-th largest value. Returns (percentile, value), or None
    when there are not enough samples."""
    n = len(values)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, sorted(values)[n - beyond - 1]


def busy_share(run_ms, wall_s, cores):
    """Executor time over the core time the wall interval offered."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return run_ms / 1000.0 / (wall_s * cores)


def replication_rate(shuffle_write_bytes, input_bytes):
    """MapReduce communication cost: bytes shuffled per byte read."""
    return shuffle_write_bytes / input_bytes if input_bytes > 0 else 0.0


def self_time(span, children):
    """A span's duration minus the part of its interval that its
    children cover (overlapping children count once)."""
    lo, hi = span["start_us"], span["end_us"]
    covered, cur_lo, cur_hi = 0, None, None
    for c in sorted(children, key=lambda c: c["start_us"]):
        a, b = max(c["start_us"], lo), min(c["end_us"], hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo - covered) / 1e6


def attach_phases(spans, phases):
    """Catalyst phases become child spans of the innermost span whose
    interval holds the phase's midpoint."""
    out = list(spans)
    next_id = max((s["id"] for s in spans), default=-1) + 1
    for p in phases:
        mid = (p["start_us"] + p["end_us"]) / 2
        holders = [s for s in spans if s["start_us"] <= mid <= s["end_us"]]
        if not holders:
            continue
        parent = min(holders, key=lambda s: s["end_us"] - s["start_us"])
        out.append({"id": next_id, "parent": parent["id"], "name": "catalyst." + p["name"],
                    "op": parent["op"], "start_us": p["start_us"], "end_us": p["end_us"],
                    "gc_ms": 0, "codegen": 0})
        next_id += 1
    return out


def op_latencies(ops):
    """Operation times with every failed operation counted as missing any
    latency limit (infinitely slow)."""
    return [o["s"] if o["ok"] else math.inf for o in ops]


def kind_medians(ops):
    """Median latency of each kind of operation (its label)."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["label"], []).append(o)
    return {k: statistics.median(op_latencies(v)) for k, v in kinds.items()}


def end_to_end(raw):
    """Medians per kind of operation (one query of the mix, one classify
    job), so that where the pooled median falls between two kinds does
    not decide the figure. `op_p50_s` is the median of those medians;
    `items_per_s` is the work in one pass over the mix over the sum of
    them. The pooled tail goes to the record only: with a few dozen
    samples per run it sits near p60, not in the tail."""
    ops = raw["ops"]
    med = kind_medians(ops)
    sweep = sum(med.values())
    items = sum({o["label"]: o["items"] for o in ops}.values())
    wall = sum(o["s"] for o in ops)
    lat = op_latencies(ops)
    t = tail(lat)
    cap = lambda v: v if math.isfinite(v) else wall
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "op_p50_s": (cap(statistics.median(med.values())), "s"),
        "items_per_s": (items / sweep if math.isfinite(sweep) and sweep > 0 else 0.0, "1/s"),
    }, {"ops": len(ops), "kinds": len(med), "pooled_p50_s": cap(statistics.median(lat)),
        "tail_percentile": t[0] if t else None, "tail_s": cap(t[1]) if t else None}


def per_layer(raw):
    tr = raw["trace"]
    spans = attach_phases(tr["spans"], tr["phases"])
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    counters = {int(k): v for k, v in tr["counters"].items()}
    rec = raw["record"]
    cores = raw["cores"]

    op_spans = [s for s in spans if s["name"] == "op" and s["op"] >= 0]
    n = max(len(op_spans), 1)

    def tree(s):
        yield s
        for c in kids.get(s["id"], []):
            yield from tree(c)

    in_ops = [d for s in op_spans for d in tree(s)]

    def counter_sum(ss, key):
        return sum(counters.get(s["id"], {}).get(key, 0) for s in ss)

    def named(name, setup=False):
        return [s for s in spans if s["name"] == name and (s["op"] < 0) == setup]

    def per_op_self(name):
        return sum(self_time(s, kids.get(s["id"], [])) for s in in_ops if s["name"] == name) / n

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def mean_dur(ss):
        return sum(dur(s) for s in ss) / len(ss) if ss else 0.0

    images = rec.get("images", 0)
    sample = rec.get("sample", 0)
    m = {}
    # pipeline: calls into Sources / Infer / Sinks / Media / Centroid
    m["pipeline.Sources.manifest_s"] = (mean_dur(named("pipeline.Sources")), "s")
    media, cent = named("pipeline.Media"), named("pipeline.Centroid")
    m["pipeline.Media.features_us"] = (mean_dur(media) * 1e6 / sample if sample else 0.0, "us")
    m["pipeline.Centroid.score_us"] = (mean_dur(cent) * 1e6 / sample if sample else 0.0, "us")
    infer = named("pipeline.Infer")
    m["pipeline.Infer.busy_s"] = (counter_sum(infer, "run_ms") / 1000.0 / max(len(infer), 1), "s")
    recs = counter_sum(in_ops, "input_records")
    m["pipeline.Infer.scored_per_image"] = (recs / (images * n) if images else 0.0, "ratio")
    sent = rec.get("sentinels", [])
    m["pipeline.Infer.sentinels"] = (statistics.median(sent) if sent else 0, "count")
    sinks = named("pipeline.Sinks")
    m["pipeline.Sinks.sort_write_s"] = (mean_dur(sinks), "s")
    m["pipeline.Sinks.shuffle_bytes"] = (
        counter_sum(sinks, "shuffle_write") / max(len(sinks), 1), "bytes")
    # operators: the builder call and each module's execution, as self time per op
    m["operators.build_s"] = (per_op_self("operators.build"), "s")
    for f in FAMILIES:
        m[f"operators.{f}.wall_s"] = (per_op_self(f"operators.{f}"), "s")
    m["operators.Features.build_s"] = (mean_dur(named("operators.Features", setup=True)), "s")
    m["operators.Similarity.index_build_s"] = (
        mean_dur(named("operators.Similarity.index", setup=True)), "s")
    # catalyst: the phases of the queries each operation ran
    for phase, name in CATALYST.items():
        ph = [s for s in in_ops if s["name"] == "catalyst." + phase]
        m[name] = (sum(dur(s) for s in ph) / n, "s")
    # spark: scheduler, executors and shuffle under the timed operations
    for key, name in (("jobs", "spark.jobs"), ("stages", "spark.stages"), ("tasks", "spark.tasks")):
        m[name] = (counter_sum(in_ops, key) / n, "count")
    op_wall = sum(dur(s) for s in op_spans)
    m["spark.busy_share"] = (busy_share(counter_sum(in_ops, "run_ms"), op_wall, cores), "ratio")
    sw = counter_sum(in_ops, "shuffle_write")
    m["spark.shuffle_write_bytes"] = (sw / n, "bytes")
    m["spark.shuffle_read_bytes"] = (counter_sum(in_ops, "shuffle_read") / n, "bytes")
    m["spark.spill_bytes"] = (counter_sum(in_ops, "spill") / n, "bytes")
    m["spark.replication_rate"] = (
        replication_rate(sw, counter_sum(in_ops, "input_bytes")), "ratio")
    m["spark.peak_exec_mem_mb"] = (
        max((counters.get(s["id"], {}).get("peak_exec_mem", 0) for s in in_ops), default=0) / MB,
        "MB")
    m["spark.cache_mb"] = (raw["cache_mb"], "MB")
    # jvm
    m["jvm.heap_live_mb"] = (raw["heap_mb"], "MB")
    m["jvm.codegen_compiles"] = (sum(s["codegen"] for s in op_spans) / n, "count")
    m["jvm.gc_s"] = (sum(s["gc_ms"] for s in op_spans) / 1000.0 / n, "s")
    # tracing overhead: traced against untraced sweeps of the same run
    traced = kind_medians([o for o in raw["ops"] if o["traced"] and o["ok"]])
    plain = kind_medians([o for o in raw["ops"] if not o["traced"] and o["ok"]])
    both = traced.keys() & plain.keys()
    m["trace.overhead_share"] = (
        sum(traced[k] for k in both) / sum(plain[k] for k in both) - 1.0 if both else 0.0,
        "ratio")
    return m
