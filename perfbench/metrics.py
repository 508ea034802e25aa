"""Reduces one run's records (``records.jsonl``, written by the JVM
harness) into the benchmark's end-to-end and per-layer metrics.

Pure functions only, so ``tests/test_logic.py`` can pin the arithmetic:
tail-percentile selection, interval union and self time, and the layer
attribution of Spark jobs by call-site file.
"""
import json
import re
import statistics

TAIL_BEYOND = 10

# serving op kind per workload: the op whose latency a user waits on
SERVING_KIND = {"catalog_sweep": "query", "store_ingest_serve": "lookup"}

END_TO_END = ["setup_s", "peak_rss_mb", "op_p50_s", "op_tail_s", "round_s",
              "items_per_s", "space_amp"]
UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s", "op_tail_s": "s",
         "round_s": "s", "items_per_s": "1/s", "space_amp": "ratio"}

CATALOG_MODULES = ["relational", "functions", "dedup", "corpus", "hygiene", "training",
                   "similarity", "selection", "subquery", "skew", "formats", "textops",
                   "multimodal", "pipeline"]
WARM_FAMILIES = ["similarity", "textops", "selection", "dedup"]
SPARK_FIELDS = ["stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes"]
ETL_SITES = {"readers": "Readers.scala", "sinks": "Sinks.scala",
             "converter": "Converter.scala"}


def tail_percentile(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least ``beyond`` samples above it,
    but never below p90: returns ``(percentile, value)``.

    With ``10 * beyond`` samples or more, the value is the sorted sample
    with exactly ``beyond`` samples after it. With fewer, that sample
    would sit below p90 (below the median under ``2 * beyond`` samples),
    so p90 is reported instead, interpolated between the two nearest
    ranks; fewer than ``beyond`` samples lie above it, and the sample
    count is reported with it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n >= 10 * beyond:
        i = n - 1 - beyond
        return 100.0 * (i + 1) / n, xs[i]
    pos = 0.9 * (n - 1)
    i = int(pos)
    j = min(i + 1, n - 1)
    return 90.0, xs[i] + (xs[j] - xs[i]) * (pos - i)


def union_length(intervals):
    """Total length covered by ``(start, end)`` intervals (overlaps once)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e >= s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(wall_s, job_intervals_ms):
    """An op's driver-side time: its wall time minus the union of its Spark
    jobs (clipped at 0, since job times are millisecond-rounded)."""
    return max(0.0, wall_s - union_length(job_intervals_ms) / 1000.0)


def site_file(call_site):
    """``'count at Converter.scala:65'`` → ``'Converter.scala'``."""
    m = re.search(r"at ([\w$.-]+\.(?:scala|java|py)):\d+", call_site or "")
    return m.group(1) if m else ""


def _jobs(op):
    return [(s, e) for s, e, _ in op["span"]["jobs"] if e >= 0]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def reduce(workload, recs, popen_ms, peak_rss_kb, input_bytes):
    """Returns (summary, end_to_end, named, per_layer) for one run.

    ``named`` holds the workload's end-to-end metrics under their own names
    (``sweep_s``, ``lookup_p50_s`` …) for the human-readable report."""
    ops = [r for r in recs if r["type"] == "op"]
    checks = [r for r in recs if r["type"] == "check"]
    failed = [r for r in ops + checks if not r["ok"]]
    attempted = len(ops) + len(checks)
    first = next(r["epoch_ms"] for r in recs if r["type"] == "first_op")
    summary = {"attempted": attempted, "failed": len(failed),
               "errors": [f"{r.get('kind', 'check')} {r['name']}: {r['error']}" for r in failed]}
    serving = [o["wall_s"] for o in ops if o["kind"] == SERVING_KIND[workload] and o["ok"]]
    if first < 0 or not serving:
        return summary, None, None, None
    e2e = {"setup_s": (first - popen_ms) / 1000.0, "peak_rss_mb": peak_rss_kb / 1024.0}
    tail_p, tail_v = tail_percentile(serving)
    e2e["op_p50_s"] = statistics.median(serving)
    e2e["op_tail_s"] = tail_v
    summary["tail"] = {"percentile": round(tail_p, 2), "samples": len(serving)}
    named = {}
    if workload == "catalog_sweep":
        sweeps = [r["wall_s"] for r in recs if r["type"] == "sweep"]
        cached = max(r["bytes"] for r in recs if r["type"] == "cached")
        e2e["round_s"] = statistics.median(sweeps)
        e2e["items_per_s"] = len(serving) / sum(serving)
        e2e["space_amp"] = cached / input_bytes
        named = {"sweep_s": e2e["round_s"], "query_p50_s": e2e["op_p50_s"],
                 "query_tail_s": e2e["op_tail_s"]}
        summary["cached_mb"] = cached / 2**20
    else:
        ticks = _ticks(ops)
        folds = [r for r in recs if r["type"] == "fold"]
        store = next(r for r in recs if r["type"] == "store")
        e2e["round_s"] = statistics.median(ticks)
        e2e["items_per_s"] = sum(f["admitted"] for f in folds) / sum(ticks)
        e2e["space_amp"] = store["store_bytes"] / store["in_bytes"]
        named = {"ingest_docs_per_s": e2e["items_per_s"], "tick_p50_s": e2e["round_s"],
                 "lookup_p50_s": e2e["op_p50_s"], "lookup_tail_s": e2e["op_tail_s"],
                 "space_amp": e2e["space_amp"]}
    named = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"], **named,
             "error_rate": len(failed) / attempted}
    per_layer = _per_layer(recs, ops) if any("span" in o for o in ops) else None
    return summary, e2e, named, per_layer


def _ticks(ops):
    """Ingest wall time per tick: its conversion, fold and compaction
    (the ops between one tick's lookups and the next)."""
    t, in_tick = [], False
    for o in ops:
        ingest = o["kind"] in ("convert", "fold", "compact")
        if ingest and not in_tick:
            t.append(0.0)
        if ingest:
            t[-1] += o["wall_s"]
        in_tick = ingest
    return t


def _per_layer(recs, ops):
    traced = [o for o in ops if "span" in o]
    n = len(traced)
    m = {}
    spans = [o["span"] for o in traced]
    m["spark.jobs"] = _mean([len(s["jobs"]) for s in spans])
    for f in SPARK_FIELDS:
        m[f"spark.{f}"] = _mean([s[f] for s in spans])
    m["spark.job_span_s"] = _mean([union_length(_jobs(o)) / 1000.0 for o in traced])
    m["spark.driver_gap_s"] = _mean([self_time(o["wall_s"], _jobs(o)) for o in traced])
    cg = [r for r in recs if r["type"] == "codegen"]
    m["codegen.compile_s"] = cg[-1]["compile_s"] if cg else 0.0
    m["codegen.classes"] = cg[-1]["classes"] if cg else 0
    setup = {r["name"]: r["wall_s"] for r in recs if r["type"] == "setup"}
    for fam in WARM_FAMILIES:
        m[f"setup.{fam}.memo_s"] = setup.get(f"{fam}.memo", 0.0)
    m["setup.warmup_s"] = setup.get("catalog.warmup", 0.0)
    cached = [r["bytes"] for r in recs if r["type"] == "cached"]
    m["core.cached_mb"] = (cached[0] if cached else 0) / 2**20
    sweeps = max(1, sum(1 for r in recs if r["type"] == "sweep"))
    for mod in CATALOG_MODULES:
        q = [o for o in traced if o["kind"] == "query" and o["layer"] == mod]
        m[f"catalog.{mod}.wall_s"] = sum(o["wall_s"] for o in q) / sweeps
        m[f"catalog.{mod}.jobs"] = sum(len(o["span"]["jobs"]) for o in q) / sweeps
    conv = [o for o in traced if o["kind"] == "convert"]
    for layer, fname in ETL_SITES.items():
        m[f"etl.{layer}_s"] = _mean([
            union_length([(s, e) for s, e, site in o["span"]["jobs"]
                          if e >= 0 and site_file(site) == fname]) / 1000.0 for o in conv])
    m["etl.xlsx_s"] = _mean([o["wall_s"] for o in conv if o["layer"] == "xlsx"])
    m["etl.driver_s"] = _mean([self_time(o["wall_s"], _jobs(o)) for o in conv])
    files = {r["name"]: r["in_bytes"] for r in recs if r["type"] == "convert"}
    in_bytes = sum(files.get(o["name"], 0) for o in conv)
    m["etl.input_passes"] = (sum(o["span"]["input_bytes"] for o in conv) / in_bytes
                             if in_bytes else 0.0)
    m["etl.tasks_per_file"] = _mean([o["span"]["tasks"] for o in conv])
    folds = [o for o in traced if o["kind"] == "fold"]
    compacts = [o for o in traced if o["kind"] == "compact"]
    ticks = max(1, len(folds))
    tick_ops = folds + compacts
    m["store.append_s"] = _mean([o["wall_s"] for o in folds])
    m["store.compact_s"] = _mean([o["wall_s"] for o in compacts])
    m["store.jobs_per_tick"] = sum(len(o["span"]["jobs"]) for o in tick_ops) / ticks
    m["store.files_written_per_tick"] = sum(o["span"]["write_files"] for o in tick_ops) / ticks
    m["store.bytes_written_per_tick"] = sum(o["span"]["write_bytes"] for o in tick_ops) / ticks
    fold_recs = [r for r in recs if r["type"] == "fold"]
    m["store.held_sources"] = _mean([r["held"] for r in fold_recs])
    store = [r for r in recs if r["type"] == "store"]
    m["store.live_files"] = store[0]["live_files"] if store else 0
    m["store.versions"] = store[0]["versions"] if store else 0
    look = [o for o in traced if o["kind"] == "lookup"]
    for kind in ("bm25", "batch", "ann"):
        m[f"store.{kind}_s"] = _mean([o["wall_s"] for o in look if o["name"] == kind])
    m["store.jobs_per_lookup"] = _mean([len(o["span"]["jobs"]) for o in look])
    m["store.files_read_per_lookup"] = _mean([o["span"]["scan_files"] for o in look])
    rows_out = sum(o.get("rows", 0) for o in look)
    m["store.rows_read_per_result"] = (sum(o["span"]["scan_rows"] for o in look) / rows_out
                                       if rows_out else 0.0)
    trace = next((r for r in recs if r["type"] == "trace"), {})
    m["trace.fallback_jobs"] = sum(s["fallback_jobs"] for s in spans)
    m["trace.drain_timeouts"] = trace.get("drain_timeouts", 0)
    m["trace.ops"] = n
    return m
