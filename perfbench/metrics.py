"""Arithmetic over the raw record `perfbench.Main` writes: end-to-end
metrics from op latencies and rounds, per-layer metrics from spans,
Spark job/stage counters and streaming progress. Pure functions, no I/O;
tested by `perfbench/tests/test_metrics.py`."""
import math
import re
import statistics

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s"}

# the user-facing name and unit of each workload's throughput
THROUGHPUT = {
    "corpus_build": ("build_mtok_per_s", "Mtok/s", 1e-6),
    "corpus_build_hll": ("build_mtok_per_s", "Mtok/s", 1e-6),
    "sketch_queries": ("query_per_s", "queries/s", 1.0),
    "incremental_dedup": ("dedup_docs_per_s", "docs/s", 1.0),
    "stream_ingest": ("stream_rows_per_s", "rows/s", 1.0),
}

BOUNDARY_LAYERS = ("jobs", "ops", "entry", "streaming")
OPS_STAGES = ("control", "sign", "buckets", "candidates", "verify", "commit")
ENTRY_FAMILIES = ("cqf", "distinct", "freq", "quantile", "window")

# every per-layer metric of a traced run, with its unit
PER_LAYER_UNITS = {
    **{f"sketch.{k}": u for k, u in (
        ("cqf_builder_add_ns", "ns"), ("cqf_insert_ns", "ns"),
        ("cqf_merge_ns_per_entry", "ns"), ("cqf_serialize_ns_per_kb", "ns/KB"),
        ("cqf_deserialize_ns_per_kb", "ns/KB"), ("cqf_count_ns", "ns"),
        ("hll_add_ns", "ns"), ("cms_add_ns", "ns"), ("bloom_add_ns", "ns"),
        ("kmv_add_ns", "ns"), ("ss_add_ns", "ns"), ("kll_add_ns", "ns"),
        ("td_add_ns", "ns"), ("cqf_bytes_per_key", "B"), ("cqf_load_factor", "ratio"))},
    "agg.cqf_packed_update_ns_per_tok": "ns", "agg.cqf_merge_ns": "ns",
    "agg.serialize_ns": "ns", "agg.deserialize_ns": "ns", "agg.cqf_partial_bytes": "B",
    "functions.cqf_count_ns_per_row": "ns", "functions.cqf_union_ms": "ms",
    **{f"entry.{f}_s": "s" for f in ENTRY_FAMILIES},
    "jobs.run_s": "s", "jobs.merge_s": "s", "jobs.checkpoint_mb": "MB",
    "jobs.task_skew": "ratio",
    "ops.batch_first_s": "s", "ops.batch_last_s": "s",
    **{f"ops.stage.{s}_s": "s" for s in OPS_STAGES},
    "ops.pairs": "count", "util.state_mb": "MB", "util.state_files": "count",
    "streaming.batch_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms", "streaming.start_s": "s",
    **{f"{layer}.{k}": u for layer in BOUNDARY_LAYERS for k, u in (
        ("spark_jobs", "jobs/call"), ("tasks", "tasks/call"), ("driver_gap_frac", "ratio"),
        ("busy_frac", "ratio"), ("gc_frac", "ratio"), ("shuffle_write_mb", "MB/call"),
        ("shuffle_read_mb", "MB/call"), ("spill_mb", "MB/call"), ("self_s", "s"))},
    "trace.overhead_frac": "ratio",
}
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(latencies, beyond=10):
    """Highest percentile of TAIL_LADDER with at least `beyond` samples
    strictly above it (nearest-rank), as (percentile, value); None when
    too few samples exist."""
    xs = sorted(latencies)
    n = len(xs)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= beyond:
            return p, xs[k - 1]
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def driver_gap_frac(spans, jobs):
    """Share of span wall time not covered by any Spark job: each job
    interval is clipped to the span, overlapping jobs count once."""
    wall = gap = 0
    for sp in spans:
        s0, s1 = sp["start_ns"], sp["end_ns"]
        covered = union_length(
            (max(j["start_ns"], s0), min(j["end_ns"], s1)) for j in jobs)
        wall += s1 - s0
        gap += (s1 - s0) - covered
    return gap / wall if wall > 0 else 0.0


def self_times(spans):
    """Span id -> own wall time minus its direct children's wall time."""
    own = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end_ns"] - s["start_ns"]
    return own


_STAGE_RE = re.compile(r"^incdedup\[[^\]]*\]\s+([a-z]+)")


def stage_of(description):
    """The pipeline stage named by an `incdedup[<batch>] <stage>...` job
    description ("commit marker" is the commit stage), else None."""
    m = _STAGE_RE.match(description or "")
    return m.group(1) if m and m.group(1) in OPS_STAGES else None


def stage_seconds(jobs):
    """Stage -> summed job wall seconds, grouped by job description."""
    out = {s: 0.0 for s in OPS_STAGES}
    for j in jobs:
        st = stage_of(j["description"])
        if st:
            out[st] += (j["end_ns"] - j["start_ns"]) / 1e9
    return out


def top_spans(spans, layer):
    """Spans of `layer` whose parent is not of the same layer."""
    by_id = {s["id"]: s for s in spans}
    return [s for s in spans if s["layer"] == layer
            and by_id.get(s["parent"], {}).get("layer") != layer]


def jobs_within(spans, jobs):
    """Jobs that start inside one of `spans`."""
    return [j for j in jobs
            if any(s["start_ns"] <= j["start_ns"] < s["end_ns"] for s in spans)]


def stage_owner(jobs):
    """Stage id -> id of the first job that lists it (the job that ran it;
    later jobs list it as skipped)."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for st in j["stage_ids"]:
            owner.setdefault(st, j["id"])
    return owner


def ops_of(rounds):
    return [o for r in rounds for o in r["ops"]]


def checked_ops(rec):
    """Every op whose output the run checked: the measured rounds, and in
    a traced run also the traced rounds and the layer probe's round."""
    rounds = rec["rounds"] + rec.get("traced_rounds", [])
    rounds = rounds + [p["round"] for p in rec.get("probes", [])]
    return ops_of(rounds)


def net(took):
    """Wall seconds net of the stolen share (see `Took` in Workloads.scala)."""
    return took["wall_s"] * (1 - took["steal_frac"])


def end_to_end(rec):
    """(metrics for the result line, full record of the end-to-end
    figures, ops checked, ops failed). Gated times are net of steal; the
    full record keeps the raw wall figures beside them."""
    rounds = rec["rounds"]
    ops = ops_of(rounds)
    lat = [o["net_s"] for o in ops]
    wall = [o["s"] for o in ops]
    failed = sum(1 for o in ops if not o["ok"])
    checked = checked_ops(rec)
    setup = [net(s) for s in rec["setup"]]
    rate = median(r["units"] / net(r) for r in rounds if r["wall_s"] > 0)
    name, unit, scale = THROUGHPUT[rec["workload"]]
    metrics = {"setup_s": median(setup), "op_p50_s": median(lat), "items_per_s": rate}
    full = {
        "setup_s": {"value": metrics["setup_s"], "unit": "s", "samples": len(setup),
                    "wall": median(s["wall_s"] for s in rec["setup"])},
        name: {"value": rate * scale, "unit": unit, "rounds": len(rounds),
               "wall": median(r["units"] / r["wall_s"] for r in rounds) * scale},
        "op_p50_s": {"value": metrics["op_p50_s"], "unit": "s", "samples": len(lat),
                     "wall": median(wall)},
        "fail_frac": {"value": failed / len(ops) if ops else 1.0, "unit": "ratio"},
        "steal_frac": {"value": statistics.mean(r["steal_frac"] for r in rounds),
                       "unit": "ratio"},
    }
    t = tail(lat)
    if t:
        full["op_tail_s"] = {"value": t[1], "unit": "s", "percentile": t[0]}
    if rec["workload"] != "sketch_queries":
        full["stored_mb"] = {"value": median(r["stored_bytes"] for r in rounds) / 1e6,
                             "unit": "MB"}
    return metrics, full, len(checked), sum(1 for o in checked if not o["ok"])


def per_layer(rec):
    """Per-layer metrics of a traced run. Layers the workload does not
    call report 0 (no spans, no jobs, no time)."""
    tr = rec["trace"]
    spans, jobs, progress = tr["spans"], tr["jobs"], tr["progress"]
    stages = {s["id"]: s for s in tr["stages"]}
    owner = stage_owner(jobs)
    traced = rec["traced_rounds"]
    probe = [p["round"] for p in rec.get("probes", [])]
    cores = rec["cores"]
    own = self_times(spans)
    out = dict(rec["kernels"])

    for layer in BOUNDARY_LAYERS:
        top = top_spans(spans, layer)
        calls = max(1, len(top))
        js = jobs_within(top, jobs)
        ids = {j["id"] for j in js}
        sts = [s for sid, s in stages.items() if owner.get(sid) in ids]
        wall_ms = sum(s["end_ns"] - s["start_ns"] for s in top) / 1e6
        run_ms = sum(s["run_ms"] for s in sts)
        out[f"{layer}.spark_jobs"] = len(js) / calls
        out[f"{layer}.tasks"] = sum(s["tasks"] for s in sts) / calls
        out[f"{layer}.driver_gap_frac"] = driver_gap_frac(top, js)
        out[f"{layer}.busy_frac"] = run_ms / (wall_ms * cores) if wall_ms else 0.0
        out[f"{layer}.gc_frac"] = sum(s["gc_ms"] for s in sts) / run_ms if run_ms else 0.0
        for key, field in (("shuffle_write_mb", "shuffle_write_bytes"),
                           ("shuffle_read_mb", "shuffle_read_bytes"),
                           ("spill_mb", "spill_bytes")):
            out[f"{layer}.{key}"] = sum(s[field] for s in sts) / 1e6 / calls
        out[f"{layer}.self_s"] = median(own[s["id"]] / 1e9 for s in top)

    # jobs: BuildSketches.run / the collect of its result
    def span_s(layer, name):
        return median((s["end_ns"] - s["start_ns"]) / 1e9
                      for s in spans if s["layer"] == layer and s["name"] == name)
    out["jobs.run_s"] = span_s("jobs", "run")
    out["jobs.merge_s"] = span_s("jobs", "merge")
    is_build = rec["workload"].startswith("corpus_build")
    out["jobs.checkpoint_mb"] = (median(r["stored_bytes"] for r in traced) / 1e6
                                 if is_build else 0.0)
    skews = []
    for sp in (s for s in spans if s["layer"] == "jobs" and s["name"] == "run"):
        ids = {j["id"] for j in jobs_within([sp], jobs)}
        sts = [s for sid, s in stages.items() if owner.get(sid) in ids and s["task_ms"]]
        if sts:
            big = max(sts, key=lambda s: s["run_ms"])
            mid = median(big["task_ms"])
            skews.append(max(big["task_ms"]) / mid if mid > 0 else 1.0)
    out["jobs.task_skew"] = median(skews)

    # ops: IncrementalDedup batches and their labelled stages
    rounds = traced + probe
    batches = [r["layer"]["batch_s"] for r in rounds if "batch_s" in r["layer"]]
    out["ops.batch_first_s"] = median(b[0] for b in batches)
    out["ops.batch_last_s"] = median(b[-1] for b in batches)
    n_batches = max(1, sum(len(b) for b in batches))
    for st, secs in stage_seconds(jobs_within(top_spans(spans, "ops"), jobs)).items():
        out[f"ops.stage.{st}_s"] = secs / n_batches
    out["ops.pairs"] = max((r["layer"].get("pairs", 0) for r in rounds), default=0)
    out["util.state_mb"] = median(r["layer"]["state_mb"][-1] for r in rounds
                                  if "state_mb" in r["layer"])
    out["util.state_files"] = median(r["layer"]["state_files"][-1] for r in rounds
                                     if "state_files" in r["layer"])

    # entry: per-family sums of per-query medians
    per_query = {}
    for r in rounds:
        for q, s in r["layer"].get("query_s", {}).items():
            per_query.setdefault(q, []).append(s)
    fam = rec.get("families", {})
    for f in ENTRY_FAMILIES:
        out[f"entry.{f}_s"] = sum(median(v) for q, v in per_query.items()
                                  if fam.get(q) == f)

    # streaming: micro-batch progress seen by the listener
    def pmed(key, scale=1.0):
        return median(p[key] * scale for p in progress)
    out["streaming.batch_ms"] = pmed("trigger_ms")
    out["streaming.add_batch_ms"] = pmed("add_batch_ms")
    out["streaming.wal_commit_ms"] = pmed("wal_commit_ms")
    out["streaming.planning_ms"] = pmed("planning_ms")
    out["streaming.state_commit_ms"] = pmed("state_commit_ms")
    out["streaming.state_rows"] = max((p["state_rows"] for p in progress), default=0)
    out["streaming.state_mb"] = max((p["state_bytes"] for p in progress), default=0) / 1e6
    out["streaming.start_s"] = median(s for r in rounds
                                      for s in r["layer"].get("start_s", []))

    plain = median(o["net_s"] for o in ops_of(rec["rounds"]))
    with_trace = median(o["net_s"] for o in ops_of(traced))
    out["trace.overhead_frac"] = (with_trace - plain) / plain if plain else 0.0
    return out
