"""Metric arithmetic of the benchmark: percentiles, span self time, driver
gap, and the summary of one run's records. Pure functions over the JSON
records the harness JVM writes; run.py prints what `summarize` returns."""

import math
import statistics

# Span layers as the self-time table names them. "other" is the part of a
# flow's wall time no harness or listener span covers.
SELF_COLUMNS = ["build", "catalyst", "codegen", "jobs", "sink_write",
                "micro_batch", "other"]

# Micro-batch phases from StreamingQueryProgress.durationMs.
BATCH_PHASES = {"latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
                "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
                "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}

# Per-flow counters the JVM records in a traced flow, summed per pass.
SUMMED = ["lower.jobs_in_build", "lower.logical_nodes", "catalyst.codegen_compiles",
          "catalyst.codegen_ms", "catalyst.exchanges", "spark.jobs", "spark.stages",
          "spark.stages_skipped", "spark.tasks", "spark.task_failures",
          "spark.task_run_ms", "spark.task_cpu_ms", "spark.task_gc_ms",
          "spark.task_wait_ms", "spark.input_rows", "spark.input_bytes",
          "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
          "sources.files_written", "sources.bytes_written", "loops.rdds_leaked",
          "streaming.state_commit_ms", "streaming.state_rows"]


def percentile(values, p):
    """The p-th percentile (nearest rank) of `values`, or None when fewer
    than ten samples lie beyond it: a percentile is reported only where the
    samples support it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, -(-p * n // 100))  # ceil(p*n/100), at least 1
    if n - rank < 10 and p != 50:
        return None
    return sorted(values)[int(rank) - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(flow_start, flow_end, jobs):
    """Flow wall time minus the union of its job intervals (clipped to the
    flow): the time the driver ran no Spark job."""
    clipped = [(max(s, flow_start), min(e, flow_end)) for s, e in jobs]
    return (flow_end - flow_start) - union_length(clipped)


def build_tree(spans):
    """Parent index for each span of one flow. The harness spans are
    flow → {build, sink}; a stage belongs to its job; a listener span
    (Catalyst phase, micro-batch, job) belongs to the innermost micro-batch,
    build or sink span that contains its start, else to the flow."""
    idx = {s["name"]: i for i, s in enumerate(spans)}
    flow = idx["flow"]
    parents = [None] * len(spans)
    holders = [i for i, s in enumerate(spans) if s["name"] in ("build", "sink")]
    batches = [i for i, s in enumerate(spans) if s["layer"] == "micro_batch"]

    def inner(i, candidates):
        st = spans[i]["start_us"]
        best = flow
        for c in candidates:
            if c != i and spans[c]["start_us"] <= st < spans[c]["end_us"]:
                best = c
        return best

    for i, s in enumerate(spans):
        if i == flow:
            continue
        if s["name"] in ("build", "sink"):
            parents[i] = flow
        elif s.get("parent") and s["parent"] in idx:
            parents[i] = idx[s["parent"]]
        elif s["layer"] == "micro_batch":
            parents[i] = inner(i, holders)
        else:
            p = inner(i, batches)
            parents[i] = p if p != flow else inner(i, holders)
    return parents


def self_times(spans, parents):
    """Self time of every span: the part of its interval (clipped to its
    parent's) that none of its children covers. Where children overlap each
    other, the earlier-starting child owns the overlap, so the self times of
    one flow's spans add up to its wall time exactly."""
    n = len(spans)
    root = parents.index(None)
    depth = [0] * n
    clip = [None] * n

    def resolve(i):
        if clip[i] is not None:
            return
        if parents[i] is None:
            clip[i] = (spans[i]["start_us"], spans[i]["end_us"])
            return
        resolve(parents[i])
        ps, pe = clip[parents[i]]
        s = min(max(spans[i]["start_us"], ps), pe)
        e = max(min(spans[i]["end_us"], pe), s)
        clip[i] = (s, e)
        depth[i] = depth[parents[i]] + 1

    for i in range(n):
        resolve(i)
    points = sorted({p for iv in clip for p in iv})
    own = [0] * n
    # owner of a segment: the deepest span covering it, earliest start first
    order = sorted(range(n), key=lambda i: (-depth[i], clip[i][0], i))
    for a, b in zip(points, points[1:]):
        for i in order:
            if clip[i][0] <= a and b <= clip[i][1]:
                own[i] += b - a
                break
    assert sum(own) == clip[root][1] - clip[root][0]
    return own


def flow_self_ms(spans, codegen_ms=0.0):
    """Self time per column of SELF_COLUMNS for one flow, in ms. Codegen has
    no interval of its own (Spark reports compile time as a sum); it is
    carved out of the sink's and then the build's driver-side self time."""
    parents = build_tree(spans)
    own = self_times(spans, parents)
    out = dict.fromkeys(SELF_COLUMNS, 0.0)
    for s, t in zip(spans, own):
        out[s["layer"]] += t / 1000.0
    cg = min(codegen_ms, out["sink_write"] + out["build"])
    from_sink = min(cg, out["sink_write"])
    out["sink_write"] -= from_sink
    out["build"] -= cg - from_sink
    out["codegen"] = cg
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(records, input_rows):
    """End-to-end metrics over the untraced timed passes of one run. A pass
    is estimated robustly: each flow's median over the run's passes, summed
    over the workload's flows (one slow pass of one flow moves it little).
    `input_rows` maps each flow to the fixed number of input records it
    reads (stored with the expected digests), so that `rows_per_s` moves
    only with time."""
    setup = next((r for r in records if r["type"] == "setup"), None)
    passes = [r for r in records if r["type"] == "pass" and not r["traced"]]
    complete = {p["pass"] for p in passes if p["failed"] == 0}
    timed = [r for r in records if r["type"] == "flow" and r["phase"] == "timed"
             and not r["traced"] and r["pass"] in complete]
    by_flow = {}
    for r in timed:
        by_flow.setdefault(r["flow"], []).append(r)
    pass_ms = sum(_median([(r["end_us"] - r["start_us"]) / 1000.0 for r in rs])
                  for rs in by_flow.values())
    known = all(input_rows.get(f) is not None for f in by_flow)
    rows = sum(input_rows[f] for f in by_flow) if known else 0
    walls = [(r["end_us"] - r["start_us"]) / 1000.0 for r in timed]
    batches = [b for r in timed for b in r["batch_ms"]]
    flow_ms = [_median([(r["end_us"] - r["start_us"]) / 1000.0 for r in rs])
               for rs in by_flow.values()]
    return {
        "setup_s": (setup["session_ms"] + setup["warm_ms"]) / 1000.0 if setup else None,
        "pass_s": pass_ms / 1000.0 if timed else None,
        "passes": len(complete),
        # the typical flow, every flow weighing the same: geometric mean over
        # the flows of each flow's median
        "flow_geomean_ms": math.exp(statistics.fmean(math.log(x) for x in flow_ms))
        if flow_ms else None,
        "flow_p50_ms": percentile(walls, 50),
        "flow_p90_ms": percentile(walls, 90),
        "flow_samples": len(walls),
        "batch_p50_ms": percentile(batches, 50),
        "batch_p90_ms": percentile(batches, 90),
        "batch_samples": len(batches),
        "rows_per_s": rows / (pass_ms / 1000.0) if timed and known else None,
        "heap_retained_peak_mb": max((p["heap_retained_mb"] for p in passes
                                      if p["pass"] in complete), default=None),
    }


def per_layer(records, spans_by_flow):
    """Per-layer metrics over the traced timed passes: counters summed per
    pass, then the median over passes."""
    tpasses = [r for r in records if r["type"] == "pass" and r["traced"]]
    flows = [r for r in records if r["type"] == "flow" and r["phase"] == "timed"
             and r["traced"] and r["ok"]]
    setup = next((r for r in records if r["type"] == "setup"), {})
    per_pass = {}
    for p in tpasses:
        fs = [f for f in flows if f["pass"] == p["pass"]]
        m = {k: sum(f.get(k, 0) for f in fs) for k in SUMMED}
        m["lower.build_ms"] = sum(f["body_us"] for f in fs) / 1000.0
        m["sources.write_ms"] = sum(f["sink_us"] for f in fs) / 1000.0
        m["loops.cached_bytes_peak"] = max((f.get("loops.cached_bytes_peak", 0)
                                           for f in fs), default=0)
        skews = [f["spark.stage_skew"] for f in fs if "spark.stage_skew" in f]
        m["spark.stage_skew"] = _median(skews) or 1.0
        batches = [b for f in fs for b in f["batch_ms"]]
        m["streaming.batches"] = len(batches)
        for name, key in BATCH_PHASES.items():
            m["streaming." + name] = sum(f.get("streaming.phase_ms", {}).get(key, 0)
                                         for f in fs)
        m["streaming.outside_batch_ms"] = sum(
            (f["end_us"] - f["start_us"]) / 1000.0 - sum(f["batch_ms"])
            for f in fs if f["batch_ms"])
        cols = dict.fromkeys(SELF_COLUMNS, 0.0)
        catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        job_ms = gap_ms = 0.0
        for f in fs:
            spans = spans_by_flow.get((f["pass"], f["flow"]))
            if not spans:
                continue
            for k, v in flow_self_ms(spans, f.get("catalyst.codegen_ms", 0.0)).items():
                cols[k] += v
            for s in spans:
                if s["layer"] == "catalyst":
                    catalyst[s["name"]] += (s["end_us"] - s["start_us"]) / 1000.0
            jobs = [(s["start_us"], s["end_us"]) for s in spans
                    if s["name"].startswith("job ")]
            job_ms += sum(e - s for s, e in jobs) / 1000.0
            gap_ms += driver_gap(f["start_us"], f["end_us"], jobs) / 1000.0
        for k, v in catalyst.items():
            m["catalyst.%s_ms" % k] = v
        m["spark.job_ms"] = job_ms
        m["spark.driver_gap_ms"] = gap_ms
        for k, v in cols.items():
            m["self.%s_ms" % k] = v
        m["pass_s"] = p["pass_ms"] / 1000.0
        m["jvm.gc_ms"] = p["gc_ms"]
        m["batch_samples"] = batches
        per_pass[p["pass"]] = m
    if not per_pass:
        return {}
    keys = [k for k in next(iter(per_pass.values())) if k != "batch_samples"]
    out = {k: _median([m[k] for m in per_pass.values()]) for k in keys}
    batches = [b for m in per_pass.values() for b in m["batch_samples"]]
    out["streaming.batch_p50_ms"] = percentile(batches, 50) or 0.0
    out["streaming.batch_p90_ms"] = percentile(batches, 90)
    out["jvm.jit_ms"] = setup.get("jit_ms", 0)
    out.pop("pass_s")
    out["trace.overhead_ratio"] = overhead_ratio([r for r in records if r["type"] == "pass"])
    return out


def overhead_ratio(passes):
    """Traced over untraced pass time, summed over the complete blocks of
    four timed passes (untraced, traced, traced, untraced), so that a
    linear drift of pass time over the run cancels."""
    blocks = {}
    for p in passes:
        blocks.setdefault((p["pass"] - 1) // 4, []).append(p)
    whole = [p for b in blocks.values() if len(b) == 4 and all(p["failed"] == 0 for p in b)
             for p in b]
    traced = sum(p["pass_ms"] for p in whole if p["traced"])
    untraced = sum(p["pass_ms"] for p in whole if not p["traced"])
    return traced / untraced if untraced else 0.0
