"""What the benchmark reports, and how each figure comes from a run's raw
record (the JSON the JVM harness writes).

WORKLOADS, END_TO_END and PER_LAYER are the benchmark's definition:
BENCHMARK.json at the repository root is generated from them
(`python3 perfbench/metrics.py > BENCHMARK.json`) and test_stats.py checks
the two agree. PER_LAYER also records, for each layer metric, the
end-to-end metric it should move and on which workload, and where it
should read flat, so a performance change can name its predicted movers
up front.
"""

import json
import statistics

import stats

# The workloads BENCHMARK.json lists, with why each was chosen. Between
# them every layer is measured: serve_static's setup replays its history
# through load, apply, maintain and the gsi/agg/join refreshes, and its
# timed phase is the serve layer; corpus_curate is the ann and dedup layers.
WORKLOADS = [
    ("serve_static", "reads only: dashboard SQL through the catalog over a table with "
     "outstanding deletes; setup replays load, CDC, maintain and view refreshes"),
    ("corpus_curate", "the LLM layers: a dedup near-dup probe and ANN/dedup index "
     "refreshes, then ANN top-k search, with recall checked against brute force"),
]

# Workloads run.py also runs but BENCHMARK.json does not list. cdc_bulk
# commits about eight batches in a run, too few samples for a latency
# percentile, and cdc_serve takes about 85 s a run; README.md has the
# budget.
EXTRA_WORKLOADS = [
    ("cdc_bulk", "writes only: export load, scattered CDC batches on the eq-delete "
     "path, commit/manifest and maintenance; no derivatives, no queries"),
    ("cdc_serve", "open-loop CDC under a dashboard: derivative refresh and "
     "freshness do the work, serving runs under write contention"),
]

# Workloads whose runs report no p50_ms / p90_ms (see EXTRA_WORKLOADS).
NO_PERCENTILES = {"cdc_bulk"}

# Each end-to-end metric is reported by every listed workload; `meaning`
# says what it measures there.
END_TO_END = [
    dict(name="setup_s", unit="s", better="lower", bound=0.25,
         meaning="the run's setup: data generation, load, history and every "
                 "create, JVM warm-up included"),
    dict(name="rate_per_s", unit="1/s", better="higher", bound=0.25,
         meaning={"cdc_bulk": "change rows applied per second of the ingest "
                              "phase, maintenance included",
                  "cdc_serve": "change rows applied per second the ingest "
                               "thread was busy (apply, refresh, maintain)",
                  "serve_static": "dashboard queries answered per second",
                  "corpus_curate": "documents ingested per second (near-dup "
                                   "probe, append, index refreshes)"}),
    dict(name="p50_ms", unit="ms", better="lower", bound=0.25,
         meaning={"cdc_bulk": "not reported (about eight batches a run)",
                  "cdc_serve": "freshness: change due time until visible in "
                               "the base table and every derivative",
                  "serve_static": "dashboard query latency",
                  "corpus_curate": "top-k search latency"}),
    dict(name="p90_ms", unit="ms", better="lower", bound=0.25,
         meaning="as p50_ms, 90th percentile (at least 100 samples)"),
    dict(name="bytes_per_row", unit="B", better="lower", bound=0.1,
         meaning="bytes under the table roots, derivatives included, per "
                 "live row at the end"),
    dict(name="retained_heap_mb", unit="MB", better="lower", bound=0.2,
         meaning="JVM heap still in use after full collections at the end of "
                 "the run: what caches and state retain"),
]

# (name, unit, better, moves, flat_on). `moves` names the end-to-end metric
# and workload the layer metric should drive; `flat_on` the workloads where
# a change to that layer alone must read flat.
PER_LAYER = [
    ("load.run_s", "s", "lower", "setup_s on serve_static; setup_s on cdc_bulk", "corpus_curate"),
    ("load.decode_s", "s", "lower", "setup_s on cdc_bulk (traced runs only)", "corpus_curate"),
    ("apply.calls", "count", "higher", "rate_per_s on cdc_bulk", "corpus_curate"),
    ("apply.s", "s", "lower", "setup_s on serve_static; rate_per_s on cdc_bulk; p50_ms/p90_ms on cdc_serve", "corpus_curate"),
    ("apply.p50_ms", "ms", "lower", "setup_s on serve_static; rate_per_s on cdc_bulk", "corpus_curate"),
    ("apply.route_eq", "count", "higher", "rate_per_s on cdc_bulk", "corpus_curate"),
    ("apply.route_mor", "count", "higher", "p50_ms on cdc_serve", "corpus_curate"),
    ("apply.route_cow", "count", "lower", "rate_per_s on cdc_bulk", "corpus_curate"),
    ("apply.extra_commits", "count", "lower", "rate_per_s on cdc_bulk", "corpus_curate"),
    ("maintain.calls", "count", "lower", "rate_per_s on cdc_bulk", "corpus_curate"),
    ("maintain.s", "s", "lower", "setup_s on serve_static; rate_per_s, bytes_per_row on cdc_bulk; p90_ms on cdc_serve", "corpus_curate"),
    ("maintain.max_ms", "ms", "lower", "p90_ms on cdc_serve (foreground stall)", "corpus_curate"),
    ("store.commits", "count", "lower", "rate_per_s on cdc_bulk", ""),
    ("store.bytes_written", "B", "lower", "bytes_per_row on serve_static; rate_per_s on cdc_bulk", ""),
    ("store.write_amp", "ratio", "lower", "rate_per_s on cdc_bulk", ""),
    ("store.files_live", "count", "lower", "bytes_per_row, p50_ms on serve_static", ""),
    ("store.delete_files_live", "count", "lower", "p50_ms/p90_ms on serve_static (read tax)", ""),
    ("store.snapshots_live", "count", "lower", "bytes_per_row on serve_static", ""),
    ("store.current_version_ms", "ms", "lower", "p50_ms on cdc_serve; rate_per_s on cdc_bulk", ""),
    ("gsi.calls", "count", "lower", "p50_ms on cdc_serve", "corpus_curate"),
    ("gsi.refresh_s", "s", "lower", "setup_s on serve_static; p50_ms/p90_ms on cdc_serve", "corpus_curate"),
    ("agg.calls", "count", "lower", "p50_ms on cdc_serve", "corpus_curate"),
    ("agg.refresh_s", "s", "lower", "setup_s on serve_static; p50_ms/p90_ms on cdc_serve", "corpus_curate"),
    ("join.calls", "count", "lower", "p50_ms on cdc_serve", "corpus_curate"),
    ("join.refresh_s", "s", "lower", "setup_s on serve_static; p50_ms/p90_ms on cdc_serve", "corpus_curate"),
    ("gsi.lag_commits", "count", "lower", "p50_ms on cdc_serve (0 on serve_static: views fresh)", "corpus_curate"),
    ("agg.lag_commits", "count", "lower", "p50_ms on cdc_serve (0 on serve_static: views fresh)", "corpus_curate"),
    ("join.lag_commits", "count", "lower", "p50_ms on cdc_serve (0 on serve_static: views fresh)", "corpus_curate"),
    ("serve.p50_ms", "ms", "lower", "p50_ms on serve_static", "corpus_curate"),
    ("serve.p90_ms", "ms", "lower", "p90_ms on serve_static", "corpus_curate"),
    ("serve.agg.p50_ms", "ms", "lower", "p50_ms on serve_static", "corpus_curate"),
    ("serve.join.p50_ms", "ms", "lower", "rate_per_s on serve_static", "corpus_curate"),
    ("serve.point.p50_ms", "ms", "lower", "rate_per_s on serve_static", "corpus_curate"),
    ("serve.other.p50_ms", "ms", "lower", "p90_ms on serve_static", "corpus_curate"),
    ("serve.agg.plan_ms", "ms", "lower", "p50_ms on serve_static", "corpus_curate"),
    ("serve.agg.exec_ms", "ms", "lower", "p50_ms on serve_static", "corpus_curate"),
    ("serve.join.plan_ms", "ms", "lower", "rate_per_s on serve_static", "corpus_curate"),
    ("serve.join.exec_ms", "ms", "lower", "rate_per_s on serve_static", "corpus_curate"),
    ("serve.point.plan_ms", "ms", "lower", "rate_per_s on serve_static", "corpus_curate"),
    ("serve.point.exec_ms", "ms", "lower", "rate_per_s on serve_static", "corpus_curate"),
    ("serve.other.plan_ms", "ms", "lower", "p90_ms on serve_static", "corpus_curate"),
    ("serve.other.exec_ms", "ms", "lower", "p90_ms on serve_static", "corpus_curate"),
    ("serve.route_view_ratio", "ratio", "higher", "p50_ms on serve_static", "corpus_curate"),
    ("serve.bytes_read_per_query", "B", "lower", "p50_ms/p90_ms on serve_static", "corpus_curate"),
    ("serve.rows_read_per_row_returned", "ratio", "lower", "p50_ms/p90_ms on serve_static", "corpus_curate"),
    ("serve.repeat_share", "ratio", "higher", "p50_ms on serve_static (memo hits)", "corpus_curate"),
    ("ann.create_s", "s", "lower", "setup_s on corpus_curate", "serve_static"),
    ("ann.refresh_s", "s", "lower", "rate_per_s on corpus_curate", "serve_static"),
    ("ann.topk_ms", "ms", "lower", "p50_ms/p90_ms on corpus_curate", "serve_static"),
    ("ann.recall_at_10", "ratio", "higher", "p50_ms on corpus_curate (speed bought with recall)", "serve_static"),
    ("dedup.create_s", "s", "lower", "setup_s on corpus_curate", "serve_static"),
    ("dedup.neardups_ms", "ms", "lower", "rate_per_s on corpus_curate", "serve_static"),
    ("dedup.refresh_s", "s", "lower", "rate_per_s on corpus_curate", "serve_static"),
    ("dedup.recall", "ratio", "higher", "rate_per_s on corpus_curate (speed bought with recall)", "serve_static"),
    ("spark.jobs", "count", "lower", "p50_ms on serve_static", ""),
    ("spark.tasks", "count", "lower", "p50_ms on serve_static; rate_per_s on corpus_curate", ""),
    ("spark.task_busy_s", "s", "lower", "rate_per_s on corpus_curate", ""),
    ("spark.core_util", "ratio", "higher", "rate_per_s on serve_static", ""),
    ("spark.shuffle_bytes", "B", "lower", "rate_per_s on corpus_curate", ""),
    ("spark.input_bytes", "B", "lower", "p50_ms on serve_static", ""),
    ("spark.output_bytes", "B", "lower", "rate_per_s on corpus_curate", ""),
    ("spark.task_skew", "ratio", "lower", "p90_ms on serve_static", ""),
    ("spark.driver_gap_s", "s", "lower", "p50_ms on serve_static, p50_ms on corpus_curate", ""),
    ("spark.unattributed_jobs", "count", "lower", "(trace quality)", ""),
    ("jvm.gc_s", "s", "lower", "retained_heap_mb and the p90s", ""),
    ("jvm.heap_peak_mb", "MB", "lower", "retained_heap_mb", ""),
    ("jvm.peak_rss_mb", "MB", "lower", "(resident set, VmHWM: noisy with heap sizing)", ""),
    ("gen.late_p90_ms", "ms", "lower", "(open-loop health on cdc_serve: how late the "
     "dashboard thread sent its queries)", ""),
    ("gen.backlog_end_rows", "count", "lower", "(open-loop health on cdc_serve: a growing "
     "backlog means the offered rate is above capacity)", ""),
] + [("self.%s_s" % layer, "s", "lower", "(self time of the layer's calls)", "")
     for layer in ["gen", "load", "apply", "maintain", "store", "gsi", "agg", "join",
                   "serve", "ann", "dedup"]] + [
    ("trace.wall_s", "s", "lower", "(measured phase, per client thread)", ""),
    ("trace.accounted_share", "ratio", "higher", "(self times over the time each client "
     "thread took part in the phase; ~1 on closed loops, below 1 on cdc_serve, whose "
     "threads wait for their schedules)", ""),
    ("trace.spans", "count", "lower", "(trace volume)", ""),
    ("trace.overhead_ms", "ms", "lower", "(tracing cost: traced minus untraced)", ""),
]

LAYERS = sorted({n.split(".")[0] for n, *_ in PER_LAYER})


def spec():
    """The contents of BENCHMARK.json."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{k: m[k] for k in ("name", "unit", "better", "bound")}
                       for m in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _, _ in PER_LAYER],
    }


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def primary_latencies(raw):
    """The samples p50_ms / p90_ms are taken over: freshness per change on
    cdc_serve, the workload's `latency` samples elsewhere."""
    fresh = raw["values"].get("fresh")
    if fresh:
        out, _ = stats.freshness(fresh["changes"], fresh["visible"])
        return out
    return raw["samples"].get("latency", [])


def end_to_end(raw):
    v = raw["values"]
    phase_s = (raw["phase"]["end_ms"] - raw["phase"]["start_ms"]) / 1000
    rows = raw["footprint"]["rows"]
    out = {
        "setup_s": raw["setup_s"],
        "rate_per_s": v["work"] / v.get("work_s", phase_s),
        "bytes_per_row": raw["footprint"]["bytes"] / rows if rows else 0.0,
        "retained_heap_mb": raw["jvm"]["retained_mb"],
    }
    if raw["workload"] not in NO_PERCENTILES:
        lat = primary_latencies(raw)
        out["p50_ms"] = stats.percentile(lat, 0.5)
        out["p90_ms"] = stats.percentile(lat, 0.9)
    return out


def per_layer(raw, untraced_cost_ms=None):
    v, smp = raw["values"], raw["samples"]
    lo, hi = raw["phase"]["start_ms"], raw["phase"]["end_ms"]
    wall = (hi - lo) / 1000
    spans = [dict(zip(("id", "parent", "thread", "layer", "name", "start", "end", "op"), s))
             for s in raw["spans"]]
    in_phase = [s for s in spans if s["start"] >= lo and s["end"] <= hi + 1e-6]
    layer_of = {s["id"]: s["layer"] for s in spans}
    jobs = [dict(zip(("id", "start", "end", "span"), j)) for j in raw["jobs"]]
    jobs = [j for j in jobs if j["start"] >= lo and j["end"] <= hi]
    job_ids = {j["id"] for j in jobs}
    stages = [dict(zip(("id", "job", "tasks", "busy", "inb", "outb", "shuf", "skew", "inrec"), s))
              for s in raw["stages"]]
    stages = [s for s in stages if s["job"] in job_ids]
    serve_jobs = {j["id"] for j in jobs if layer_of.get(j["span"]) == "serve"}

    def s_(name):
        return sum(smp.get(name, [])) / 1000

    m = {n: 0.0 for n, *_ in PER_LAYER}
    for k in ("load.run_s", "load.decode_s", "apply.route_eq", "apply.route_mor",
              "apply.route_cow", "apply.extra_commits", "store.commits",
              "store.files_live", "store.delete_files_live", "store.snapshots_live",
              "ann.create_s", "dedup.create_s", "ann.recall_at_10", "dedup.recall",
              "serve.repeat_share", "gen.backlog_end_rows"):
        m[k] = float(v.get(k, 0.0))
    m["apply.calls"] = len(smp.get("apply.ms", []))
    m["apply.s"] = s_("apply.ms")
    m["apply.p50_ms"] = _median(smp.get("apply.ms", []))
    m["maintain.calls"] = len(smp.get("maintain.ms", []))
    m["maintain.s"] = s_("maintain.ms")
    m["maintain.max_ms"] = max(smp.get("maintain.ms", [0.0]))
    written = sum(s["outb"] for s in stages)
    m["store.bytes_written"] = written
    if v.get("store.change_bytes"):
        m["store.write_amp"] = written / v["store.change_bytes"]
    m["store.current_version_ms"] = _median(smp.get("store.current_version_ms", []))
    for d in ("gsi", "agg", "join"):
        m[d + ".calls"] = len(smp.get(d + ".refresh.ms", []))
        m[d + ".refresh_s"] = s_(d + ".refresh.ms")
        m[d + ".lag_commits"] = _median(smp.get(d + ".lag", []))
    all_serve = [x for c in ("agg", "join", "point", "other")
                 for x in smp.get("serve.%s.latency" % c, [])]
    m["serve.p50_ms"] = _median(all_serve)
    m["serve.p90_ms"] = sorted(all_serve)[int(0.9 * (len(all_serve) - 1))] if all_serve else 0.0
    for c in ("agg", "join", "point", "other"):
        m["serve.%s.p50_ms" % c] = _median(smp.get("serve.%s.latency" % c, []))
        m["serve.%s.plan_ms" % c] = _median(smp.get("serve.%s.plan_ms" % c, []))
        m["serve.%s.exec_ms" % c] = _median(smp.get("serve.%s.exec_ms" % c, []))
    if v.get("serve.eligible"):
        m["serve.route_view_ratio"] = v.get("serve.view_served", 0.0) / v["serve.eligible"]
    n_queries = v.get("serve.queries", 0.0)
    if n_queries:
        m["serve.bytes_read_per_query"] = sum(
            s["inb"] for s in stages if s["job"] in serve_jobs) / n_queries
    if v.get("serve.rows_returned"):
        m["serve.rows_read_per_row_returned"] = sum(
            s["inrec"] for s in stages if s["job"] in serve_jobs) / v["serve.rows_returned"]
    m["ann.refresh_s"] = s_("ann.refresh.ms")
    m["ann.topk_ms"] = _median(smp.get("ann.topk.ms", []))
    m["dedup.neardups_ms"] = _median(smp.get("dedup.neardups.ms", []))
    m["dedup.refresh_s"] = s_("dedup.refresh.ms")

    busy = sum(s["busy"] for s in stages) / 1000
    cores = raw["cores"]
    skews = [s["skew"] for s in stages if s["tasks"] >= 2]
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.task_busy_s"] = busy
    m["spark.core_util"] = busy / (wall * cores) if wall else 0.0
    m["spark.shuffle_bytes"] = sum(s["shuf"] for s in stages)
    m["spark.input_bytes"] = sum(s["inb"] for s in stages)
    m["spark.output_bytes"] = written
    m["spark.task_skew"] = _median(skews, 1.0)
    m["spark.driver_gap_s"] = wall - stats.union_length(
        [(j["start"], j["end"]) for j in jobs], lo, hi) / 1000
    m["spark.unattributed_jobs"] = sum(1 for j in jobs if j["span"] < 0)
    m["jvm.gc_s"] = raw["jvm"]["gc_ms"] / 1000
    m["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    m["jvm.peak_rss_mb"] = raw["jvm"]["vm_hwm_mb"]
    late = smp.get("gen.late_ms", [])
    m["gen.late_p90_ms"] = sorted(late)[int(0.9 * (len(late) - 1))] if late else 0.0

    self_ms = stats.self_times(in_phase)
    for layer, ms in self_ms.items():
        key = "self.%s_s" % layer
        if key in m:
            m[key] = ms / 1000
    client_ms = stats.thread_extents(in_phase)
    m["trace.wall_s"] = wall
    m["trace.accounted_share"] = sum(self_ms.values()) / client_ms if client_ms else 0.0
    m["trace.spans"] = len(spans)
    m["trace.overhead_ms"] = v.get("trace.overhead_ms", 0.0)
    return m


def layer_map():
    """The layer -> end-to-end metric -> workload map, as text."""
    rows = ["%-34s %-40s %s" % ("layer metric", "moves", "flat on")]
    rows += ["%-34s %-40s %s" % (n, moves, flat) for n, _, _, moves, flat in PER_LAYER]
    return "\n".join(rows)


if __name__ == "__main__":
    import sys
    print(layer_map() if sys.argv[1:] == ["--map"] else json.dumps(spec(), indent=2))
