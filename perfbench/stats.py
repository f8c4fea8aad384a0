"""Metric arithmetic for the benchmark's raw run record.

Pure functions over plain numbers and dicts, so tests/test_stats.py can
exercise them on synthetic spans without a JVM.
"""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=TAIL_BEYOND):
    """The highest nearest-rank percentile with at least `beyond` samples
    above it: returns (value, percentile, samples_beyond).

    For N samples that is p = floor(100 * (N - beyond) / N) and the value
    at rank ceil(p * N / 100). With N <= beyond no percentile qualifies;
    the maximum is returned with 0 samples beyond it.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0, 0
    if n <= beyond:
        return s[-1], 100, 0
    p = 100 * (n - beyond) // n
    rank = max(1, -(-p * n // 100))  # ceil(p * n / 100) in integers
    return s[rank - 1], p, n - rank


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total = 0.0
    end = None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def driver_gap(pass_interval, job_intervals):
    """Time inside the pass during which no Spark job is running."""
    lo, hi = pass_interval
    return (hi - lo) - union_length(job_intervals, lo, hi)


def self_times(spans):
    """Self time of every span (its length minus the union of its
    children, clipped to it) and the sum per layer.

    `spans` are dicts with id, parent, layer, start and end. Returns
    ({span id: self time}, {layer: total self time}).
    """
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    own = {}
    per_layer = {}
    for sp in spans:
        kids = [(c["start"], c["end"]) for c in children.get(sp["id"], [])]
        t = (sp["end"] - sp["start"]) - union_length(kids, sp["start"], sp["end"])
        own[sp["id"]] = t
        per_layer[sp["layer"]] = per_layer.get(sp["layer"], 0.0) + t
    return own, per_layer


def build_spans(raw):
    """workload -> pass -> op -> job -> stage spans (times in seconds
    since the first timed operation) for the traced passes of a run.
    Jobs and stages are placed by time: the loop has one client, so
    operations never overlap. Every span under an operation carries that
    operation's id in `op`."""
    t0 = raw["first_op_ms"]

    def sec(ms):
        return (ms - t0) / 1000.0

    passes = [p for p in raw["passes"] if p["traced"]]
    spans = []
    if not passes:
        return spans
    spans.append({"id": "w", "parent": None, "layer": "workload",
                  "name": raw["workload"], "op": None,
                  "start": sec(passes[0]["start_ms"]),
                  "end": sec(passes[-1]["end_ms"])})
    ops = []
    for p in passes:
        pid = f"p{p['index']}"
        spans.append({"id": pid, "parent": "w", "layer": "pass",
                      "name": f"pass {p['index']}", "op": None,
                      "start": sec(p["start_ms"]), "end": sec(p["end_ms"])})
        for i, o in enumerate(x for x in raw["ops"] if x["pass"] == p["index"]):
            oid = f"{pid}.o{i}"
            ops.append((oid, o))
            spans.append({"id": oid, "parent": pid, "layer": "op",
                          "name": o["name"], "op": oid,
                          "start": sec(o["start_ms"]), "end": sec(o["end_ms"])})
    stage_by_id = {}
    for st in raw["stages"]:
        stage_by_id.setdefault(st["id"], []).append(st)
    placed = set()
    for j in raw["jobs"]:
        if not j["end_ms"]:
            continue
        # job times are whole milliseconds: allow one for truncation
        owner = next((oid for oid, o in ops
                      if o["start_ms"] - 1 <= j["start_ms"] <= o["end_ms"]), None)
        ppid = next((f"p{p['index']}" for p in passes
                     if p["start_ms"] - 1 <= j["start_ms"] <= p["end_ms"]), None)
        if owner is None and ppid is None:
            continue
        jid = f"j{j['id']}"
        spans.append({"id": jid, "parent": owner or ppid, "layer": "job",
                      "name": f"job {j['id']}", "op": owner,
                      "start": sec(j["start_ms"]), "end": sec(j["end_ms"])})
        for sid in j["stages"]:
            for st in stage_by_id.get(sid, []):
                key = (st["id"], st["attempt"])
                if key in placed or not st["submit_ms"]:
                    continue
                placed.add(key)
                spans.append({"id": f"s{st['id']}.{st['attempt']}", "parent": jid,
                              "layer": "stage", "name": st["name"], "op": owner,
                              "start": sec(st["submit_ms"]),
                              "end": sec(st["complete_ms"]), "stage": st})
    return spans


def end_to_end(raw):
    """The user-visible metrics of an untraced run, plus the facts the
    summary line states about them."""
    ops = raw["ops"]
    ok = [o for o in ops if o["ok"]]
    walls = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ops]
    op_secs = sum((o["end_ms"] - o["start_ms"]) / 1000.0 for o in ok)
    tail_v, tail_p, tail_n = tail(walls)
    metrics = {
        "setup_s": ((raw["first_op_ms"] - raw["launch_ms"]) / 1000.0, "s"),
        "pass_s": (median([(p["end_ms"] - p["start_ms"]) / 1000.0
                           for p in raw["passes"]]), "s"),
        "op_p50_s": (median(walls), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (sum(o["rows"] for o in ok) / op_secs if op_secs else 0.0, "1/s"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }
    facts = {
        "op_tail_percentile": tail_p,
        "op_tail_samples_beyond": tail_n,
        "ops": len(ops),
        "failed_frac": (len(ops) - len(ok)) / len(ops) if ops else 0.0,
        "passes": len(raw["passes"]),
    }
    return metrics, facts


JOIN_STRATEGIES = ("repartition", "broadcast", "merge", "decomposed")

# every per-layer metric with its unit, in report order
PER_LAYER_UNITS = {
    "queries.jobs": "count", "queries.stages": "count", "queries.tasks": "count",
    "queries.job_ms_p50": "ms", "queries.driver_gap_s": "s",
    "queries.task_run_s": "s", "queries.task_cpu_s": "s", "queries.sched_delay_ms": "ms",
    "queries.core_busy_frac": "fraction",
    "queries.persisted_rdds": "count", "queries.persisted_mb": "MB",
    "queries.gc_ms": "ms", "jvm.gc_ms": "ms",
    "joins.repartition_s": "s", "joins.broadcast_s": "s", "joins.merge_s": "s",
    "joins.decomposed_s": "s", "joins.decomposed_sort_s": "s", "joins.decomposed_merge_s": "s",
    "joins.shuffle_write_mb": "MB", "joins.shuffle_records": "count",
    "joins.fetch_wait_ms": "ms", "joins.spill_mb": "MB", "joins.peak_exec_mem_mb": "MB",
    "joins.task_skew": "ratio",
    "sources.read_mb": "MB", "sources.records_read": "count", "sources.write_mb": "MB",
    "datagen.gen_s": "s", "datagen.rows": "count",
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows_updated": "count",
    "streaming.state_mem_mb": "MB", "streaming.input_rows": "count",
    "trace.overhead_frac": "fraction",
}


def per_layer(raw, spans):
    """Per-layer metrics from the traced passes of a traced run, as
    {name: (value, unit)}."""
    cores = raw["env"]["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    tidx = {p["index"] for p in traced}
    jobs = [s for s in spans if s["layer"] == "job"]
    stages = [s for s in spans if s["layer"] == "stage"]
    ops = {s["id"]: s for s in spans if s["layer"] == "op"}
    op_recs = [o for o in raw["ops"] if o["pass"] in tidx]

    by_pass = {f"p{p['index']}": {"jobs": [], "stages": []} for p in traced}
    parent = {s["id"]: s["parent"] for s in spans}
    layer = {s["id"]: s["layer"] for s in spans}

    def owning_pass(sid):
        while layer[sid] != "pass":
            sid = parent[sid]
        return sid

    for j in jobs:
        by_pass[owning_pass(j["id"])]["jobs"].append(j)
    for st in stages:
        by_pass[owning_pass(st["id"])]["stages"].append(st)

    def per_pass(f):
        return median([f(v) for v in by_pass.values()]) if by_pass else 0.0

    def stage_sum(key, sts):
        return sum(s["stage"][key] for s in sts)

    pass_wall = {f"p{p['index']}": (p["end_ms"] - p["start_ms"]) / 1000.0 for p in traced}
    t0 = raw["first_op_ms"]
    gaps = []
    for p in traced:
        pid = f"p{p['index']}"
        gaps.append(driver_gap(((p["start_ms"] - t0) / 1000.0, (p["end_ms"] - t0) / 1000.0),
                               [(j["start"], j["end"]) for j in by_pass[pid]["jobs"]]))
    busy = [stage_sum("run_ms", v["stages"]) / 1000.0 / (cores * pass_wall[k])
            for k, v in by_pass.items() if pass_wall[k] > 0]

    m = {
        "queries.jobs": per_pass(lambda v: len(v["jobs"])),
        "queries.stages": per_pass(lambda v: len(v["stages"])),
        "queries.tasks": per_pass(lambda v: stage_sum("tasks", v["stages"])),
        "queries.job_ms_p50": median([(j["end"] - j["start"]) * 1000.0 for j in jobs]),
        "queries.driver_gap_s": median(gaps),
        "queries.task_run_s": per_pass(lambda v: stage_sum("run_ms", v["stages"]) / 1000.0),
        "queries.task_cpu_s": per_pass(lambda v: stage_sum("cpu_ns", v["stages"]) / 1e9),
        "queries.sched_delay_ms": per_pass(lambda v: stage_sum("sched_delay_ms", v["stages"])),
        "queries.core_busy_frac": median(busy),
        "queries.persisted_rdds": median([sum(o["persisted_rdds"] for o in op_recs
                                              if o["pass"] == i) for i in tidx]),
        "queries.persisted_mb": median([sum(o["persisted_mb"] for o in op_recs
                                            if o["pass"] == i) for i in tidx]),
        "queries.gc_ms": per_pass(lambda v: stage_sum("gc_ms", v["stages"])),
        "jvm.gc_ms": median([p["jvm_gc_ms"] for p in traced]),
    }

    # joins.*: the operators.Joins calls of join_skew (0 elsewhere)
    def strategy(o):
        return o["name"].split("@")[0]

    join_ops = [o for o in op_recs if strategy(o) in JOIN_STRATEGIES]
    for s in JOIN_STRATEGIES:
        m[f"joins.{s}_s"] = median([(o["end_ms"] - o["start_ms"]) / 1000.0
                                    for o in join_ops if strategy(o) == s])
    dec = [o for o in join_ops if strategy(o) == "decomposed"]
    m["joins.decomposed_sort_s"] = median([o["phases"].get("sort_s", 0.0) for o in dec])
    m["joins.decomposed_merge_s"] = median([o["phases"].get("merge_s", 0.0) for o in dec])
    join_op_ids = {k for k, s in ops.items() if s["name"].split("@")[0] in JOIN_STRATEGIES}
    jst = [s for s in stages if s["op"] in join_op_ids]

    def join_pass(f):
        return per_pass(lambda v: f([s for s in v["stages"] if s["op"] in join_op_ids]))

    m["joins.shuffle_write_mb"] = join_pass(lambda sts: stage_sum("shuffle_write_bytes", sts) / 1e6)
    m["joins.shuffle_records"] = join_pass(lambda sts: stage_sum("shuffle_write_records", sts))
    m["joins.fetch_wait_ms"] = join_pass(lambda sts: stage_sum("fetch_wait_ms", sts))
    m["joins.spill_mb"] = join_pass(lambda sts: stage_sum("spill_bytes", sts) / 1e6)
    m["joins.peak_exec_mem_mb"] = max([s["stage"]["peak_exec_mem_bytes"] for s in jst],
                                      default=0) / 1e6
    skews = []
    for oid in join_op_ids:
        own = [s["stage"] for s in jst if s["op"] == oid]
        if own:
            big = max(own, key=lambda s: s["run_ms"])
            if big["task_ms_median"] > 0:
                skews.append(big["task_ms_max"] / big["task_ms_median"])
    m["joins.task_skew"] = median(skews)

    m["sources.read_mb"] = per_pass(lambda v: stage_sum("input_bytes", v["stages"]) / 1e6)
    m["sources.records_read"] = per_pass(lambda v: stage_sum("input_records", v["stages"]))
    m["sources.write_mb"] = per_pass(lambda v: stage_sum("output_bytes", v["stages"]) / 1e6)
    m["datagen.gen_s"] = raw["datagen"]["gen_s"]
    m["datagen.rows"] = raw["datagen"]["rows"]

    # streaming.*: micro-batches whose trigger started inside a traced pass
    def batches_in(p):
        return [b for b in raw["batches"] if p["start_ms"] <= b["start_ms"] <= p["end_ms"]]

    bp = [batches_in(p) for p in traced]

    def bsum(key):
        return median([sum(b[key] for b in bs) for bs in bp]) if bp else 0.0

    allb = [b for bs in bp for b in bs]
    m["streaming.batches"] = median([len(bs) for bs in bp]) if bp else 0.0
    m["streaming.batch_ms_p50"] = median([b["duration_ms"] for b in allb])
    m["streaming.add_batch_ms"] = bsum("add_batch_ms")
    m["streaming.commit_ms"] = bsum("commit_ms")
    m["streaming.state_commit_ms"] = bsum("state_commit_ms")
    m["streaming.state_rows_updated"] = bsum("state_rows_updated")
    m["streaming.state_mem_mb"] = max([b["state_mem_bytes"] for b in allb], default=0) / 1e6
    m["streaming.input_rows"] = bsum("input_rows")

    tw = median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in traced])
    uw = median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in plain])
    m["trace.overhead_frac"] = tw / uw - 1.0 if uw else 0.0
    return {k: (m[k], unit) for k, unit in PER_LAYER_UNITS.items()}
