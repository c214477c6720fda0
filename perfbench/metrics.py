"""Arithmetic that turns the benchmark's raw run record into metrics.

Pure functions over plain lists and dicts, so that the tests in
test_metrics.py can check them without a JVM.
"""

import statistics

# A tail percentile must leave at least this many batches above it.
TAIL_ABOVE = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, above=TAIL_ABOVE):
    """The highest percentile that leaves at least `above` samples above it:
    the (above+1)-th largest sample. None when fewer than 2*above samples
    exist, where that percentile would be the median or below."""
    if len(xs) < 2 * above:
        return None
    return sorted(xs)[len(xs) - above - 1]


def tail_percentile(n, above=TAIL_ABOVE):
    """The percentile `tail` reports for n samples."""
    return 100.0 * (n - above) / n


def excess(values, flags):
    """Median of the flagged samples minus median of the rest."""
    on = [v for v, f in zip(values, flags) if f]
    off = [v for v, f in zip(values, flags) if not f]
    if not on or not off:
        return None
    return median(on) - median(off)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def children(spans):
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """Each span's duration minus the part of it its child spans cover."""
    kids = children(spans)
    return {
        s["id"]: (s["end_ms"] - s["start_ms"])
        - covered([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                  s["start_ms"], s["end_ms"])
        for s in spans
    }


def layer_self_ms(spans):
    """Self time summed per (layer, span name)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        key = f'{s["layer"]}:{s["name"]}'
        out[key] = out.get(key, 0) + st[s["id"]]
    return out


def descendants(span_id, kids):
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def batch_exec(spans):
    """Per trigger span, in batch order: the jobs under it and their totals,
    and the time in it with no job running."""
    kids = children(spans)
    rows = []
    for t in sorted((s for s in spans if s["name"] == "trigger"),
                    key=lambda s: s["start_ms"]):
        jobs = [s for s in descendants(t["id"], kids) if s["name"] == "job"]
        wall = t["end_ms"] - t["start_ms"]
        busy = covered([(j["start_ms"], j["end_ms"]) for j in jobs],
                       t["start_ms"], t["end_ms"])

        def total(k):
            return sum(j["attrs"][k] for j in jobs)
        rows.append({
            "batch": t["attrs"]["batch"], "wall_ms": wall, "jobs": len(jobs),
            "stages": total("stages"), "tasks": total("tasks"),
            "cpu_ns": total("cpu_ns"), "shuffle_write_bytes": total("shuffle_write_bytes"),
            "spill_bytes": total("spill_bytes"), "gap_ms": wall - busy,
        })
    return rows


def pass_setup_s(p):
    return (p["batches"][0]["start_ms"] - p["entry_ms"]) / 1000.0


def pass_stream_s(p):
    b = p["batches"]
    return (b[-1]["start_ms"] + b[-1]["wall_ms"] - b[0]["start_ms"]) / 1000.0


def throughput(passes):
    rows = sum(b["rows"] for p in passes for b in p["batches"])
    secs = sum(pass_stream_s(p) for p in passes)
    return rows / secs


def end_to_end(record):
    """The end-to-end metrics of the timed (untraced) passes."""
    passes = [p for p in record["passes"] if p["batches"]]
    lat = [b["wall_ms"] / 1000.0 for p in passes for b in p["batches"]]
    return {
        "setup_s": median([pass_setup_s(p) for p in passes]),
        "throughput_rows_per_s": throughput(passes),
        "batch_latency_p50_s": median(lat),
        "resident_state_mb": median(
            [(p["storage_bytes"] + p["root_bytes"]) / 1e6 for p in passes]),
    }


def per_layer(record):
    """The per-layer metrics of the traced pass and its probes. A layer the
    workload bypasses reads 0."""
    t = record["traced"]
    p = t["pass"]
    layers = p["layers"]
    batches = p["batches"]
    cores = record["cores"]
    wl = record["workload"]
    calls = {c["name"]: (c["end_ms"] - c["start_ms"]) / 1000.0 for c in p["setup_calls"]}
    walls = [b["wall_ms"] / 1000.0 for b in batches]
    cadence = [b["cadence"] for b in batches]
    stats = layers.get("batch_stats", [])
    ex = batch_exec(t["spans"])
    n = max(1, len(ex))
    wall_core_s = sum(r["wall_ms"] for r in ex) / 1000.0 * cores

    m = {
        "runtime.stage_s": calls.get("runtime.stage", t["stage_probe_ms"] / 1000.0),
        "runtime.trigger_overhead_s": median(
            [(b["wall_ms"] - b["durations"]["addBatch"]) / 1000.0 for b in batches]),
        "runtime.add_batch_s": median([b["durations"]["addBatch"] / 1000.0 for b in batches]),
        "kvstore.write_s": calls.get("kvstore.write", 0.0),
        "kvstore.keys_fetched": sum(s["missed"] for s in stats) if wl == "kv_join" else 0,
        "kvstore.buckets_opened": layers.get("buckets_opened", 0),
        "cache.hit_ratio": 0.0,
        "cache.update_s": sum(s["cache_ms"] for s in stats) / 1000.0,
        "cache.partitions_end": (layers.get("cache_partitions") or [0])[-1],
        "cache.checkpoint_excess_s": 0.0,
        "simjoin.candidates": 0,
        "simjoin.verified": 0,
        "simjoin.verify_yield": 0.0,
        "kernel.intersect_size_rows_per_s": t["kernels"]["intersect_size"],
        "kernel.minhash_bands_rows_per_s": t["kernels"]["minhash_bands"],
        "state.bytes_end": 0,
        "state.files_end": 0,
        "state.compact_excess_s": 0.0,
        "spark.jobs_per_batch": sum(r["jobs"] for r in ex) / n,
        "spark.stages_per_batch": sum(r["stages"] for r in ex) / n,
        "spark.tasks_per_batch": sum(r["tasks"] for r in ex) / n,
        "spark.shuffle_write_mb": sum(r["shuffle_write_bytes"] for r in ex) / 1e6 / n,
        "spark.spill_mb": sum(r["spill_bytes"] for r in ex) / 1e6 / n,
        "spark.cpu_share": sum(r["cpu_ns"] for r in ex) / 1e9 / wall_core_s if wall_core_s else 0.0,
        "spark.driver_gap_s": median([r["gap_ms"] / 1000.0 for r in ex]) or 0.0,
    }
    if wl == "kv_join":
        keys = layers["keys_per_batch"]
        m["cache.hit_ratio"] = (sum(keys) - m["kvstore.keys_fetched"]) / sum(keys)
    if wl in ("kv_join", "sim_join"):
        m["cache.checkpoint_excess_s"] = excess(walls, cadence)
    if wl == "sim_join":
        c, v = t["simjoin"]["candidates"], t["simjoin"]["verified"]
        m["simjoin.candidates"], m["simjoin.verified"] = c, v
        m["simjoin.verify_yield"] = v / c if c else 0.0
    if t["dedup"]:
        d = t["dedup"]
        m["state.bytes_end"] = d["layers"]["state_bytes"]
        m["state.files_end"] = d["layers"]["state_files"]
        m["state.compact_excess_s"] = excess(
            [b["wall_ms"] / 1000.0 for b in d["batches"]], [b["cadence"] for b in d["batches"]])
    untraced = throughput([q for q in record["passes"] if q["batches"]])
    m["trace.overhead_share"] = 1.0 - throughput([p]) / untraced
    return m
