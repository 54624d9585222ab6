"""Metrics of one run, computed from the JVM's record and the check
verdicts. Names, units and meanings are listed in METRICS.md."""
import statistics

# the catalog slice, by group; run.py hands the list to the JVM
PREFIX_SCAN = ["q81_concurrency", "q93_ks_drift", "q54_scalable_rownum",
               "q86_skyline", "d27_corpus_shuffle", "q78_winsorize",
               "q88_ntile_nth", "q91_mad_outliers"]
IVF = ["e8_embed_dedup_ivf", "e8b_embed_dedup_scaled", "e8c_embed_dedup_sharded",
       "e16_semantic_decontam", "e16b_decontam_scaled", "e16c_decontam_sharded",
       "e18_e2e_vector_pipeline", "e18c_e2e_sharded_pipeline"]
SCAN = ["q1_pricing_summary"]
SPREAD = ["q30_asof_join", "q42_salted_skew_agg", "d11_dedup_clusters",
          "d7_minhash_lsh", "d33_heavy_hitters", "g1_pagerank", "ev_trending",
          "ev_session_window", "mm13_shot_keyframes"]
CATALOG = PREFIX_SCAN + IVF + SCAN + SPREAD
OPS = ["pipeline", "synth", "filter"]
PIPELINE_SPANS = ["io.scan", "io.sink", "ops.grid", "ops.normalize",
                  "ops.tophits", "pipeline.build"]


def median(xs):
    """(median, sample count); the median of nothing is 0."""
    xs = list(xs)
    return (statistics.median(xs) if xs else 0.0), len(xs)


def union_length(intervals, lo, hi):
    """Total length of the union of [start, end) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans, aside=()):
    """{span id: duration minus the part of it its child spans or the
    set-aside intervals cover}"""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_length(
        children.get(s["id"], []) + list(aside), s["start_ms"], s["end_ms"])
        for s in spans}


def top_self_times(spans, aside=(), n=10):
    """[(name, median self ms per iteration, iterations)], largest first"""
    own = self_times(spans, aside)
    per = {}
    for s in spans:
        key = (s["name"], s["iter"])
        per[key] = per.get(key, 0.0) + own[s["id"]]
    by_name = {}
    for (name, _), ms in per.items():
        by_name.setdefault(name, []).append(ms)
    rows = [(name,) + median(v) for name, v in by_name.items()]
    return sorted(rows, key=lambda r: -r[1])[:n]


def skew(stage):
    t = sorted(stage["task_ms"])
    mid = statistics.median(t) if t else 0
    return t[-1] / mid if mid > 0 else 1.0


def iteration_layers(rec, it, cores):
    """Per-layer numbers of one traced iteration, its set-aside intervals
    (untraced twins, result writes for the checks) left out."""
    lo, hi = it["start_ms"], it["end_ms"]
    aside = [tuple(a) for a in it["aside"]]
    wall = ((hi - lo) - union_length(aside, lo, hi)) / 1e3
    jobs = [j for j in rec["jobs"] if j["iter"] == it["i"]]
    stages = [s for s in rec["stages"] if s["iter"] == it["i"]]
    spans = [s for s in rec["spans"] if s["iter"] == it["i"]]
    plans = [p for p in rec["plans"] if lo <= p["start_ms"] <= hi and
             not any(a <= p["start_ms"] <= b for a, b in aside)]

    def span_s(name):
        return sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name) / 1e3

    def in_span(name, key):
        return sum(s[key] for s in stages if s["span"] == name)

    busy = sum(sum(s["task_ms"]) for s in stages) / 1e3
    longest = max(stages, key=lambda s: s["end_ms"] - s["start_ms"], default=None)
    m = {f"{name}_s": span_s(name) for name in PIPELINE_SPANS}
    m.update({
        "io.scan_tasks": sum(len(s["task_ms"]) for s in stages if s["span"] == "io.scan"),
        "io.input_rows": in_span("io.scan", "input_rows"),
        "io.input_bytes": in_span("io.scan", "input_bytes"),
        "io.output_bytes": in_span("io.sink", "output_bytes"),
        "spark.plan_s": sum(p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]
                            for p in plans) / 1e3,
        "spark.driver_gap_s": wall - union_length(
            [(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi) / 1e3,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(len(s["task_ms"]) for s in stages),
        "spark.task_busy_s": busy,
        "spark.slot_util": busy / (wall * cores),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
        "spark.skew": skew(longest) if longest else 1.0,
        "spark.gc_s": it["gc_ms"] / 1e3,
        "spark.collect_bytes": sum(s["result_bytes"] for s in stages),
    })
    q = {name: span_s(f"catalog.{name}") for name in CATALOG}
    m.update({f"catalog.{name}_s": v for name, v in q.items()})
    m["catalog.build_s"] = sum(span_s(f"catalog.{n}.build") for n in CATALOG)
    m["catalog.exec_s"] = sum(span_s(f"catalog.{n}.exec") for n in CATALOG)
    m["catalog.prefix_scan_s"] = sum(q[n] for n in PREFIX_SCAN)
    m["catalog.ivf_s"] = sum(q[n] for n in IVF)
    m["catalog.scan_s"] = sum(q[n] for n in SCAN)
    return m


TWINS = (("ops", "failed", "timed"), ("plain_ops", "plain_failed", "plain"))


def failed_count(it, verdicts):
    """Timed executions of one iteration (both twins of a traced one) that
    threw or whose output failed its check. A catalog query whose result
    failed in any checked execution fails in every execution."""
    n = 0
    for ops, thrown, twin in TWINS:
        bad = set(it[thrown])
        if "queries" in verdicts:
            bad |= {q for q in it[ops] if verdicts["queries"].get(q)}
        else:
            v = verdicts["iterations"][str(it["i"])].get(twin, {})
            bad |= {op for op in it[ops] if v.get(op)}
        n += len(bad)
    return n


def untraced_ops(it):
    """{operation: seconds} of the iteration's untraced executions"""
    return it["plain_ops"] if it["traced"] else it["ops"]


def summarize(rec, verdicts, trace):
    """The result line: correct/attempted/failed and the metrics of BENCHMARK.json
    for this trace mode, plus details kept in the run record."""
    cores = rec["cores"]
    iters = rec["iterations"]
    attempted = sum(len(it["ops"]) + len(it["plain_ops"]) for it in iters)
    failed = sum(failed_count(it, verdicts) for it in iters)
    s = rec["setup"]

    def job_s(it):
        return sum(untraced_ops(it).values())

    e2e = {
        "setup_s": ((s["warm_ms"] - s["spawn_ms"]) / 1e3, "s"),
        "job_s": (median(map(job_s, iters))[0], "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    details = {"job_s_samples": [job_s(it) for it in iters]}
    if trace:
        layers = [iteration_layers(rec, it, cores) for it in iters]
        per = {k: (median(d[k] for d in layers)[0], unit_of(k)) for k in layers[0]}
        for op in OPS:
            per[f"{op}_s"] = (median(untraced_ops(it)[op] for it in iters
                                     if op in untraced_ops(it))[0], "s")
        per["catalog_s"] = (median(job_s(it) for it in iters
                                   if set(untraced_ops(it)) <= set(CATALOG))[0], "s")
        per["error_rate"] = (failed / attempted, "ratio")
        overhead = [sum(it["ops"].values()) - job_s(it) for it in iters]
        per["trace.overhead_s"] = (median(overhead)[0], "s")
        details["trace_overhead_s_samples"] = overhead
        per["spark.persisted_rdds"] = (median(it["persisted"] for it in iters)[0], "count")
        per["setup.jvm_s"] = ((s["main_ms"] - s["spawn_ms"]) / 1e3, "s")
        per["setup.session_s"] = ((s["session_ms"] - s["main_ms"]) / 1e3, "s")
        per["setup.warmup_s"] = ((s["warm_ms"] - s["session_ms"]) / 1e3, "s")
        metrics = per
        details["top_self_ms"] = top_self_times(
            rec["spans"], [tuple(a) for it in iters for a in it["aside"]])
    else:
        metrics = e2e
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "details": details}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("spark.slot_util", "spark.skew"):
        return "ratio"
    return "count"
