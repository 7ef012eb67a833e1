"""Pure helpers that turn a run's raw measurements into metrics."""
import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)

# per-layer spans by workload; `op` and `read` are the loop's own root
# spans and are not layers. catalog_daily's set-up runs the query
# subset (queries.*); admission_loop's set-up runs the corpus pipeline
# (text.quality .. text.finalize) and jobs.bootstrap.
SPANS = {
    "catalog_daily": ["queries.RelationalPack", "queries.CleaningPack", "queries.LlmPack",
                      "crawl.phaseA", "crawl.phaseB", "loadmerge.phaseC", "popularity.view"],
    "admission_loop": ["text.quality", "dedup.exact_dedupe", "dedup.near_dup",
                       "dedup.decontaminate", "text.finalize", "jobs.bootstrap",
                       "jobs.admitBatch", "jobs.appendDeltas", "text.search"],
}
COUNTERS = [("wall_s", "s"), ("exec_cpu_s", "s"), ("shuffle_write_mb", "MB"),
            ("spill_mb", "MB"), ("task_skew", "ratio"), ("codegen_compiles", "count"),
            ("planning_s", "s")]
EXTRAS = {
    "catalog_daily": [("loadmerge.changed_ratio", "ratio"), ("io.output_mb", "MB")],
    "admission_loop": [("jobs.admit_ratio", "ratio"), ("jobs.files_per_bucket_max", "count"),
                       ("jobs.index_mb", "MB")],
}


def rank(pct, n):
    """1-based nearest rank of percentile `pct` among n samples."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))  # round: 99.9 * 10000 / 100 > 9990


def tail(samples):
    """(percentile, value) for the highest percentile of the ladder
    that leaves at least ten samples above its rank; the maximum
    (percentile 100) when there are too few samples for any (fewer
    than 40)."""
    xs = sorted(samples)
    for pct in TAIL_LADDER:
        k = rank(pct, len(xs))
        if len(xs) - k >= 10:
            return pct, xs[k - 1]
    return 100.0, xs[-1]


def task_skew(task_ms):
    """Longest task over the median task; 1.0 for no tasks. Durations
    are whole milliseconds, so the median is floored at 1 ms."""
    if not task_ms:
        return 1.0
    return max(task_ms) / max(statistics.median(task_ms), 1.0)


def self_times(spans):
    """{span id: self time}: a span's wall time minus the wall time of
    its direct children."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    return {s["id"]: s["wall_s"] - child.get(s["id"], 0.0) for s in spans}


def end_to_end(raw, items, in_bytes, setup_s, n_ops):
    """End-to-end metrics of an untraced run, over its first `n_ops`
    operations and reads. `items[i]`/`in_bytes[i]` are the input items
    and bytes of operation i. The loop runs more operations the faster
    the program is, and later operations of a growing table cost more,
    so over all operations a faster program would read as a slower
    one; a fixed count keeps every run measuring the same work."""
    ops = raw["ops"][:n_ops]
    lat = [o["latency_s"] for o in ops]
    pct, tail_v = tail(lat)
    n_items = sum(items[o["index"]] for o in ops)
    m = {
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "items_per_s": (n_items / sum(lat), "items/s"),
        "cpu_per_op_s": (statistics.median(o["cpu_s"] for o in ops), "s"),
        "write_amp": (sum(o["wchar"] for o in ops) /
                      sum(in_bytes[o["index"]] for o in ops), "ratio"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
        "setup_s": (setup_s, "s"),
    }
    info = {"ops": len(raw["ops"]), "ops_measured": len(ops), "tail_pct": pct,
            "reads": len(raw["reads_s"]), "peak_rss_mb": raw["peak_rss_mb"]}
    if raw["reads_s"]:
        info["read_p50_s"] = statistics.median(raw["reads_s"][:n_ops])
    return m, info


def per_layer(workload, raw):
    """Per-layer metrics of a traced run: for every span of every
    workload, each counter as a per-call mean (task_skew: the median
    over calls), over the calls inside the timed loop, or over the
    set-up calls for a span that only runs in set-up; 0 for spans this
    workload does not run. Plus the workload extras and each
    workload's `other` remainder, the timed region's wall time not
    covered by any layer span, per operation."""
    spans = raw["spans"]
    selfs = self_times(spans)
    roots = [s for s in spans if s["name"] in ("op", "read")]
    root_ids = {s["id"] for s in roots}
    m = {}
    for w, names in SPANS.items():
        for name in names:
            calls = [s for s in spans if s["name"] == name] if w == workload else []
            calls = [s for s in calls if s["parent"] in root_ids] or calls
            for c, unit in COUNTERS:
                if not calls:
                    v = 0.0
                elif c == "task_skew":
                    v = statistics.median(task_skew(s["task_ms"]) for s in calls)
                elif c == "wall_s":
                    v = statistics.fmean(selfs[s["id"]] for s in calls)
                else:
                    v = statistics.fmean(s[c] for s in calls)
                m[f"{name}.{c}"] = (v, unit)
        other = sum(selfs[s["id"]] for s in roots) / max(len(raw["ops"]), 1)
        m[f"{w}.other_s"] = (other if w == workload else 0.0, "s")
    ops = raw["ops"]
    for w, extras in EXTRAS.items():
        for name, unit in extras:
            m[name] = (extra(name, ops) if w == workload and ops else 0.0, unit)
    return m


def extra(name, ops):
    if name == "loadmerge.changed_ratio":
        return sum(o["changed_rows"] for o in ops) / sum(o["loaded_rows"] for o in ops)
    if name == "io.output_mb":
        return statistics.fmean(o["output_bytes"] for o in ops) / 1e6
    if name == "jobs.admit_ratio":
        return statistics.fmean(len(o["admitted"]) / o["batch_docs"] for o in ops)
    if name == "jobs.files_per_bucket_max":
        return max(o["files_per_bucket_max"] for o in ops)
    if name == "jobs.index_mb":
        return ops[-1]["index_bytes"] / 1e6
    raise KeyError(name)
