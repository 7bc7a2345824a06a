"""Per-layer metrics of the traced run, computed from the engine JVM's raw
samples (Spark progress reports, listener task metrics, the sink probe,
the side passes) and the emitter's wire counters.

Each metric is measured on the workloads that exercise its layer and is 0
on the others (LAYERS names them). Totals over a traced window are per
traced round (cdc_catchup), over the traced batches of the timed window
(cdc_live_tail) or per traced run of the suite (query_suite: each query's
traced executions, summed over queries, divided by their count per query).
"""
import numpy as np

MICROBATCH_PHASES = ("latestOffset", "queryPlanning", "walCommit",
                     "commitOffsets", "addBatch", "triggerExecution")

# name -> (unit, workloads it is measured on)
CDC = ("cdc_catchup", "cdc_live_tail")
QS = ("query_suite",)
ALL = CDC + QS
LAYERS = {
    "CdcClient.ns_per_row": ("ns/row", CDC),
    "CdcClient.mb_per_s": ("MB/s", CDC),
    "CdcReplayReader.ns_per_row": ("ns/row", CDC),
    "CdcReplayReader.first_row_s": ("s", CDC),
    "CdcTailer.write_blocked_s": ("s", CDC),
    "replay.write_blocked_s": ("s", CDC),
    "wire.amplification": ("ratio", CDC),
    "wire.replay_connections_per_batch": ("count", CDC),
    "MaxScaleCdc.bufferedEvents_max": ("events", CDC),
    **{"microbatch.%s_%s_s" % (p, k): ("s", CDC)
       for p in MICROBATCH_PHASES for k in ("p50", "sum")},
    "microbatch.batches": ("count", CDC),
    "microbatch.rows_per_batch_p50": ("rows", CDC),
    "CdcSink.apply_s": ("s", CDC),
    "CdcSink.write_s": ("s", CDC),
    "CdcSink.swap_s": ("s", CDC),
    "CdcSink.rewrite_rows_per_row": ("ratio", CDC),
    "CdcSink.state_mb": ("MB", CDC),
    "executor.run_s": ("s", ALL),
    "executor.cpu_s": ("s", ALL),
    "executor.gc_s": ("s", ALL),
    "shuffle.fetch_wait_s": ("s", ALL),
    "shuffle.write_mb": ("MB", ALL),
    "input.rows": ("rows", ALL),
    "SparkEntry.construct_s": ("s", QS),
    "query.jobs_during_construct": ("count", QS),
    "QueryExecution.analysis_s": ("s", QS),
    "QueryExecution.optimization_s": ("s", QS),
    "QueryExecution.planning_s": ("s", QS),
    "query.execute_s": ("s", QS),
    "query.jobs": ("count", QS),
    "query.scan_rows": ("rows", QS),
    "query.shuffle_mb": ("MB", QS),
    "IndexStore.build_s": ("s", ALL),
    "IndexStore.builds": ("count", ALL),
    "gen_late_p99_s": ("s", ("cdc_live_tail",)),
    "trace.overhead_frac": ("ratio", ALL),
}


def _executor(m: dict, tasks: dict, windows: int):
    w = max(1, windows)
    m["executor.run_s"] = tasks.get("run_ms", 0) / 1e3 / w
    m["executor.cpu_s"] = tasks.get("cpu_ns", 0) / 1e9 / w
    m["executor.gc_s"] = tasks.get("gc_ms", 0) / 1e3 / w
    m["shuffle.fetch_wait_s"] = tasks.get("fetch_wait_ms", 0) / 1e3 / w
    m["shuffle.write_mb"] = tasks.get("shuffle_write_bytes", 0) / 1e6 / w
    m["input.rows"] = tasks.get("input_rows", 0) / w


def _sum_tasks(items):
    out = {}
    for t in items:
        for k, v in t.items():
            out[k] = out.get(k, 0) + v
    return out


def _cdc(m: dict, res: dict, windows: list, batches: list, progress: list,
         tasks: dict, log_bytes: float, state_bytes: float, wire_batches: int):
    """`windows`: the traced emitter phases, each carrying `log_bytes` of
    new log; `batches`/`progress`: the traced batches' sink records and
    progress reports; `wire_batches`: the data batches the windows' wire
    counters cover (the live tail's cover its whole live window, not just
    the traced batches)."""
    n_win = max(1, len(windows))
    side = res.get("side", {})
    em = res["emitter"]
    client, replay = side.get("client"), side.get("replay")
    if client and client["rows"]:
        m["CdcClient.ns_per_row"] = client["secs"] / client["rows"] * 1e9
        m["CdcClient.mb_per_s"] = em["first_run_bytes"] / client["secs"] / 1e6
    if replay and replay["rows"]:
        m["CdcReplayReader.ns_per_row"] = replay["secs"] / replay["rows"] * 1e9
        m["CdcReplayReader.first_row_s"] = replay["first_row_s"]
    phases = em["phases"]
    kinds = {k: {"conns": 0, "bytes": 0, "blocked_s": 0.0}
             for k in ("tailer", "replay")}
    for w in windows:
        for k in kinds:
            for f, v in phases.get(w, {}).get(k, {}).items():
                kinds[k][f] += v
    m["CdcTailer.write_blocked_s"] = kinds["tailer"]["blocked_s"] / n_win
    m["replay.write_blocked_s"] = kinds["replay"]["blocked_s"] / n_win
    sent = kinds["tailer"]["bytes"] + kinds["replay"]["bytes"]
    if log_bytes:
        m["wire.amplification"] = sent / log_bytes / n_win
    if wire_batches:
        m["wire.replay_connections_per_batch"] = kinds["replay"]["conns"] / wire_batches
    data = [p for p in progress if p["rows"] > 0]
    if data:
        m["MaxScaleCdc.bufferedEvents_max"] = max(
            float(p.get("source_metrics", {}).get("bufferedEvents", 0)) for p in progress)
        for ph in MICROBATCH_PHASES:
            v = [p["duration_ms"].get(ph, 0) / 1e3 for p in data]
            m["microbatch.%s_p50_s" % ph] = float(np.median(v))
            m["microbatch.%s_sum_s" % ph] = sum(v) / n_win
        m["microbatch.batches"] = len(data) / n_win
        m["microbatch.rows_per_batch_p50"] = float(np.median([p["rows"] for p in data]))
        rows = sum(p["rows"] for p in data)
        m["CdcSink.rewrite_rows_per_row"] = tasks.get("output_rows", 0) / rows
    if batches:
        m["CdcSink.apply_s"] = sum(b["end_ns"] - b["start_ns"] for b in batches) / 1e9 / n_win
        m["CdcSink.write_s"] = sum(b["write_ns"] for b in batches) / 1e9 / n_win
        m["CdcSink.swap_s"] = sum(b["publish_ns"] - b["write_ns"] for b in batches) / 1e9 / n_win
    m["CdcSink.state_mb"] = state_bytes / 1e6
    _executor(m, tasks, len(windows))


def query_overhead(execs: list):
    """Sum of per-query median walls, traced passes over untraced ones."""
    def suite(traced):
        per = {}
        for e in execs:
            if e["traced"] == traced:
                per.setdefault(e["query"], []).append(e["wall_s"])
        return sum(float(np.median(v)) for v in per.values())
    u, t = suite(False), suite(True)
    return t / u - 1 if u and t else None


def per_layer(workload: str, res: dict, builds: list, overhead) -> dict:
    m = {name: 0.0 for name in LAYERS}
    if workload == "cdc_catchup":
        rounds = [r for r in res["rounds"] if r["traced"]]
        prog = [p for r in rounds for p in r["progress"]]
        _cdc(m, res, [r["label"] for r in rounds],
             [b for r in rounds for b in r["batches"]], prog,
             _sum_tasks(r.get("tasks", {}) for r in rounds),
             res["emitter"]["first_run_bytes"],
             rounds[-1]["state_bytes"] if rounds else 0,
             sum(1 for p in prog if p["rows"] > 0))
    elif workload == "cdc_live_tail":
        live = res["live"]
        traced = {b["batch_id"] for b in live["batches"] if b["traced"]}
        _cdc(m, res, ["live"], [b for b in live["batches"] if b["traced"]],
             [p for p in live["progress"] if p["batch_id"] in traced],
             live.get("tasks", {}), res["emitter"]["appended_bytes"].get("live", 0),
             live["state_bytes"],
             sum(1 for p in live["progress"] if p["rows"] > 0
                 and int(p["end_offset"].split("-")[2]) >= live["first_seq"]))
        m["gen_late_p99_s"] = res["emitter"].get("gen_late_p99_s", 0.0)
    else:
        execs = [e for e in res["executions"] if e["traced"]]
        # traced executions per query: totals are per traced suite pass
        passes = max(1, len(execs) // max(1, len({e["query"] for e in execs})))
        phases = {k: sum(e.get("phases_ms", {}).get(k, 0) for e in execs) / 1e3 / passes
                  for k in ("analysis", "optimization", "planning")}
        m["SparkEntry.construct_s"] = sum(e["construct_s"] for e in execs) / passes
        m["query.jobs_during_construct"] = sum(e.get("jobs_construct", 0) for e in execs) / passes
        m["QueryExecution.analysis_s"] = phases["analysis"]
        m["QueryExecution.optimization_s"] = phases["optimization"]
        m["QueryExecution.planning_s"] = phases["planning"]
        m["query.execute_s"] = (sum(e["wall_s"] - e["construct_s"] for e in execs) / passes
                                - sum(phases.values()))
        tasks = _sum_tasks(e.get("tasks", {}) for e in execs)
        m["query.jobs"] = tasks.get("jobs", 0) / passes
        m["query.scan_rows"] = tasks.get("input_rows", 0) / passes
        m["query.shuffle_mb"] = tasks.get("shuffle_write_bytes", 0) / 1e6 / passes
        _executor(m, tasks, passes)
    m["IndexStore.build_s"] = sum(b.get("build_secs", 0) for b in builds)
    m["IndexStore.builds"] = float(len(builds))
    if overhead is not None:
        m["trace.overhead_frac"] = float(overhead)
    return {k: {"value": float(v), "unit": LAYERS[k][0]} for k, v in sorted(m.items())}
