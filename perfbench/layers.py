"""Per-layer metrics of a traced run, computed from the spans and
counters graft.perfbench.Main recorded.

Every traced run reports every metric below; a span a workload never
opens reports 0 (its layer did no work there). Span metrics are medians
over the traced iterations of the per-iteration sums; probe spans
(iteration -1) run after a traced iteration, outside its timing.
"""
import statistics

# the registered entries vector_index runs, in cycle order
VECTOR_ENTRIES = ["s_index_build", "s_ivf_upsert", "s_tok_upsert", "st_ann_ingest",
                  "st_tok_ingest", "s_ivf_ann", "s_ivf_store_probe", "s_maxsim_tok"]
# spans the benchmark opens around its calls into graft (README.md maps
# each to its module)
SPANS = ["slicer.run", "scrub.eval", "dump.write", "dump.zip", "restore.unzip",
         "restore.apply", "restore.verify"] + [f"q.{e}" for e in VECTOR_ENTRIES]
BASIC = [("wall_s", "s", "lower"), ("jobs", "count", "lower"),
         ("cpu_s", "s", "lower"), ("idle_s", "s", "lower")]
EXTRA = [
    ("slicer.run.shuffle_mb", "MB", "lower"),
    ("dump.zip.output_mb", "MB", "lower"),
    ("restore.apply.rows", "rows", "higher"),
    ("restore.apply.overlap", "ratio", "higher"),
] + [(f"q.{e}.{k}", u, "lower") for e in (
    "s_maxsim_tok", "s_tok_upsert", "st_tok_ingest", "s_ivf_ann")
    for k, u in (("shuffle_mb", "MB"), ("join_rows", "rows"))]
RUN = [
    ("cachebook.builds", "count", "lower"),
    ("cachebook.hits", "count", "higher"),
    ("cachebook.hit_ratio", "ratio", "higher"),
    ("cachebook.held_mb", "MB", "lower"),
    ("cachebook.leak.rdds", "count", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("setup.session_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("env.calib_cpu_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.coverage_min", "ratio", "higher"),
    ("error_rate", "ratio", "lower"),
]
METRICS = ([(f"{s}.{k}", u, b) for s in SPANS for k, u, b in BASIC] + EXTRA + RUN)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def coverage(result, it):
    """Share of an iteration's wall that its top-level spans cover."""
    top = sorted((s["start_ms"], s["end_ms"]) for s in result["spans"]
                 if s["iter"] == it["i"] and s["parent"] < 0)
    covered, end = 0.0, float("-inf")
    for a, b in top:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return covered / max(it["end_ms"] - it["start_ms"], 1e-9)


def per_layer(result, attempted, failed):
    its = result["iterations"]
    traced = [it for it in its if it["traced"]]
    untraced = [it for it in its if not it["traced"]]
    values = {}
    # span metrics: per iteration, sum over same-named spans; median over
    # traced iterations. Probe spans (iter -1) count once.
    per_iter = {}
    for s in result["spans"]:
        for k, v in s["metrics"].items():
            key = (f"{s['name']}.{k}", s["iter"])
            per_iter[key] = per_iter.get(key, 0.0) + v
    names = {}
    for (name, it), v in per_iter.items():
        names.setdefault(name, []).append(v)
    for name, vs in names.items():
        values[name] = _med(vs)
    # counters of the whole iteration: summed over its spans
    def iteration_sums(counter):
        return [sum(s["metrics"].get(counter, 0.0) for s in result["spans"]
                    if s["iter"] == it["i"]) for it in traced]
    for counter in ("batches", "commit_ms"):
        values[f"streaming.{counter}"] = _med(iteration_sums(counter))
    hits, builds = iteration_sums("memo_hits"), iteration_sums("memo_builds")
    values.update({
        "cachebook.builds": _med(builds),
        "cachebook.hits": _med(hits),
        "cachebook.hit_ratio": sum(hits) / (sum(hits) + sum(builds)) if sum(hits) + sum(builds) else 0.0,
        "cachebook.held_mb": _med([it["held_mb"] for it in its]),
        "cachebook.leak.rdds": max([it["leak_rdds"] for it in its] or [0]),
        "setup.session_s": result["setup"]["session_s"],
        "setup.warmup_s": result["setup"]["warmup_s"],
        "jvm.gc_s": _med([it["gc_s"] for it in its]),
        "env.calib_cpu_s": result["calib_cpu_s"],
        "trace.overhead_s": (_med([it["flow_s"] for it in traced])
                             - _med([it["flow_s"] for it in untraced])),
        "trace.coverage_min": min([coverage(result, it) for it in traced] or [0.0]),
        "error_rate": failed / attempted if attempted else 0.0,
    })
    return {name: {"value": values.get(name, 0.0), "unit": unit}
            for name, unit, _ in METRICS}
