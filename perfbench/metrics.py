"""Turn one run's raw record (samples, spans, listener events) into metrics.

Pure functions over plain data, so they are unit-tested without Spark
(tests/test_metrics.py).
"""
import statistics

# cycle-level stages of corpus_pipeline, in execution order
PIPELINE_STAGES = ["admission", "text", "classify", "dedup", "dsir", "pack", "shards"]
EXPR_KERNELS = ["pii_scrub", "trigram_langid", "shingle_hashes", "minhash_signature"]
N_CARDS = 14
# span-name prefix -> layer, for self time
LAYER_OF_PREFIX = [("card.", "model"), ("model.", "model"), ("storage.", "storage"),
                   ("lifecycle.", "storage"), ("ops.", "ops"), ("expr.", "expr")]
SELF_LAYERS = ["model", "storage", "ops", "harness"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n): the (beyond+1)-th largest sample, whose
    nearest-rank percentile is 100 * (n - beyond) / n. With `beyond` or
    fewer samples there is no such percentile and the result is None.
    """
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans):
    """Self time of each span (ns): its duration minus the part of its
    interval covered by its direct children. Returns {span id: ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_ms([(max(c["start_ns"], lo), min(c["end_ns"], hi))
                            for c in children.get(s["id"], [])])
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(name):
    for prefix, layer in LAYER_OF_PREFIX:
        if name.startswith(prefix):
            return layer
    return "harness"


def metric_block(values, specs):
    """The printed metrics: every metric of `specs` (one BENCHMARK.json
    section), in its order, with its unit. A metric missing from `values`
    is an error."""
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in specs}


def sampled(rec, name):
    """The samples of `name` from the loop, or from set-up when the loop
    has none (the ELT reload of ufc_dashboard happens in set-up only)."""
    return rec["samples"].get(name) or rec.get("setup_samples", {}).get(name, [])


def end_to_end(rec):
    """The end-to-end metrics of an untraced run, as {name: value}."""
    return {
        "setup_s": rec["session_s"] + median(rec["setup_rep_s"]) + rec["warmup_s"],
        "peak_live_mb": rec["peak_live_mb"],
        "op_p50_ms": median(sampled(rec, "op_ms")),
        "items_per_s": rec["counters"].get("items", 0.0) / rec["loop_s"],
        "stored_bytes_per_input_byte": median(sampled(rec, "stored_ratio")),
    }


def details(rec):
    """Workload-specific figures under the names of the workload's own
    operations, with each tail's percentile and sample count."""
    out = {}
    for name in ("op_ms", "card_ms", "write_ms"):
        xs = sampled(rec, name)
        if not xs:
            continue
        out[name.replace("_ms", "_p50_ms")] = median(xs)
        t = tail(xs)
        if t:
            out[name.replace("_ms", "_tail_ms")] = {"value": t[0], "percentile": t[1], "n": t[2]}
    out["failed_frac"] = rec["failed"] / max(1, rec["attempted"])
    return out


def per_layer(rec):
    """The per-layer metrics of a traced run, as {name: value}. Counts and
    times are per traced cycle; latencies are medians over traced spans."""
    tr = rec["trace"]
    spans = tr["spans"]
    off = tr["clock_offset_ns"]
    cores = rec["cores"]
    cycles = [s for s in spans if s["name"] == "cycle"]
    ncyc = max(1, len(cycles))
    # listener events carry wall-clock ms; put cycles on that clock
    windows = [((c["start_ns"] - off) / 1e6, (c["end_ns"] - off) / 1e6) for c in cycles]

    def inside(t):
        return any(lo <= t <= hi + 1 for lo, hi in windows)

    in_cycle_spans = [s for s in spans if s["op"] >= 0]
    jobs = [j for j in tr["jobs"] if inside(j["start_ms"])]
    stages = [st for st in tr["stages"] if inside(st["completed_ms"])]
    actions = [a for a in tr["actions"] if inside(a["planned_ms"])]

    def durs(name, where=in_cycle_spans):
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in where if s["name"] == name]

    wall_ms = sum(hi - lo for lo, hi in windows)
    run_ms = sum(st["run_ms"] for st in stages)
    gap = 0.0
    for lo, hi in windows:
        gap += (hi - lo) - union_ms([(max(j["start_ms"], lo), min(j["end_ms"], hi))
                                     for j in jobs if lo <= j["start_ms"] <= hi])
    m = {
        "driver.analysis_ms": sum(a["analysis_ms"] for a in actions) / ncyc,
        "driver.optimization_ms": sum(a["optimization_ms"] for a in actions) / ncyc,
        "driver.planning_ms": sum(a["planning_ms"] for a in actions) / ncyc,
        "driver.actions": len(actions) / ncyc,
        "driver.jobs": len(jobs) / ncyc,
        "driver.stages": len(stages) / ncyc,
        "driver.gap_ms": gap / ncyc,
        "exec.tasks": sum(st["tasks"] for st in stages) / ncyc,
        "exec.run_ms": run_ms / ncyc,
        "exec.core_util": run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "exec.single_task_stage_max_ms": max(
            [st["completed_ms"] - st["submitted_ms"] for st in stages if st["tasks"] == 1],
            default=0.0),
        "shuffle.write_bytes": sum(st["shuffle_write"] for st in stages) / ncyc,
        "shuffle.read_bytes": sum(st["shuffle_read"] for st in stages) / ncyc,
    }
    for n in range(N_CARDS):
        m[f"card.{n:02d}.p50_ms"] = median(durs(f"card.{n:02d}"))
    for st in PIPELINE_STAGES:
        m[f"ops.{st}_ms"] = median(durs(f"ops.{st}"))
        m[f"ops.{st}.rows_out"] = median(
            [s["attrs"].get("rows_out", 0.0) for s in in_cycle_spans if s["name"] == f"ops.{st}"])
    m["ops.dedup.survivor_ratio"] = median(
        [s["attrs"]["survivor_ratio"] for s in in_cycle_spans if s["name"] == "ops.dedup.survivor"])
    for k in EXPR_KERNELS:
        m[f"expr.{k}.ns_per_row"] = rec["counters"].get(f"expr.{k}.ns_per_row", 0.0)
    notes = rec["notes"]
    # documents admitted over documents offered by the pipeline's admission
    admitted = [s for s in in_cycle_spans if s["name"] == "ops.admission"]
    m.update({
        "storage.write_ms": median(sampled(rec, "write_ms")),
        "storage.bytes_written_per_input_byte": median(sampled(rec, "stored_ratio")),
        "storage.files_per_serve": float(notes.get("files_per_serve", 0)),
        "storage.index_bytes": float(notes.get("index_bytes", 0)),
        "lifecycle.build_ms": median(durs("lifecycle.build", spans)),
        "lifecycle.admitted_ratio": (
            sum(s["attrs"]["rows_out"] for s in admitted) /
            sum(s["attrs"]["rows_in"] for s in admitted)) if admitted else 0.0,
        "model.load_csv_ms": median(durs("model.load_csv", spans)),
        "model.register_views_ms": median(durs("model.register_views", spans)),
        "cache.rdds_live_max": float(max([s["live_rdds"] for s in in_cycle_spans], default=0)),
        "cache.mem_bytes_max": float(max([s["cached_bytes"] for s in in_cycle_spans], default=0)),
        "jvm.gc_ms": tr["gc_ms"] / ncyc,
        "jvm.jit_ms": tr["jit_ms"] / ncyc,
        "jvm.heap_used_max_mb": max([s["heap_mb"] for s in in_cycle_spans], default=0.0),
    })
    own = self_times(in_cycle_spans)
    by_layer = {layer: 0.0 for layer in SELF_LAYERS}
    for s in in_cycle_spans:
        layer = layer_of(s["name"])
        by_layer[layer if layer in by_layer else "harness"] += own[s["id"]] / 1e6
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = by_layer[layer] / ncyc
    m["trace.overhead_ms"] = (median(rec["samples"].get("traced_cycle_ms", [])) -
                              median(rec["samples"].get("untraced_cycle_ms", [])))
    return m
