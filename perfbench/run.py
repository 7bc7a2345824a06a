#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_catchup|cdc_live_tail|query_suite
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine and the
benchmark program from source (sbt, offline); later runs reuse that build
while the sources are unchanged. Each run works in a fresh directory under
perfbench/.runs/ (index dir, checkpoints, sink tables, warehouse) and
removes it at the end; the run's detail and, when traced, its spans are
kept under perfbench/out/.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. The line before it is the run's detail (each workload's own
named metrics, sample counts, per-query medians, correctness notes).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

SETUP_MARKS = {}

import numpy as np  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import cdclog  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
BUILD_DIR = HERE / ".build"
RUNS_DIR = HERE / ".runs"
OUT_DIR = HERE / "out"
DATA_DIR = HERE / "data" / "sf0.01"
QUERIES_FILE = HERE / "queries.txt"
WORKLOADS = ("cdc_catchup", "cdc_live_tail", "query_suite")

FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")

# run settings; the data sizes are cdclog's (BENCHMARK.json's `why` lines
# repeat both)
MAX_EVENTS_PER_BATCH = 96_000
PRELOAD_EVENTS_PER_BATCH = 10_000
LIVE_WARM_S = 5.0
MIN_ROUNDS, MAX_ROUNDS = 3, 8
QUERY_PASSES = 4
# untimed passes before them: after one, the first timed pass ran a median
# 35 % slower than the last (JIT still settling); after two, 14 %
QUERY_WARM_PASSES = 2
# a live-tail run is invalid when the generator itself ran this late (p99)
GEN_LATE_LIMIT_S = 0.05
JVM_HEAP = "4g"
RUN_TIMEOUT_S = 170


def fail(msg: str, code: int = 2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_files():
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file()
                      and "target" not in p.relative_to(r).parts]
    return sorted(files)


def build() -> str:
    """Compile the engine and the benchmark program (once per source
    state); returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no engine sources next to perfbench/ (expected build.sbt and "
             "src/main in the parent directory)")
    h = hashlib.sha256()
    for p in _source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD_DIR / "classpath.txt", BUILD_DIR / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=%s" % repos]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    BUILD_DIR.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# ------------------------------------------------------------- processes

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class Procs:
    """Child processes of the run; all are stopped and reaped on exit."""

    def __init__(self):
        self.procs = []

    def start(self, args, **kw):
        p = subprocess.Popen(args, start_new_session=True, **kw)
        self.procs.append(p)
        return p

    def stop_all(self):
        for p in self.procs:
            if p.poll() is None:
                try:
                    os.killpg(p.pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
        for p in self.procs:
            try:
                p.wait(10)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def start_emitter(procs: Procs, run_dir: Path, seed: int, mode: str,
                  seconds: float):
    args = [sys.executable, str(HERE / "emitter.py"), "--seed", str(seed),
            "--mode", mode]
    if mode == "live":
        args += ["--live-seconds", repr(LIVE_WARM_S + seconds)]
    log = open(run_dir / "emitter.log", "w")
    p = procs.start(args, stdout=subprocess.PIPE, stderr=log, text=True)
    line = p.stdout.readline().split()
    SETUP_MARKS["emitter_ready_ns"] = time.time_ns()
    if len(line) != 3 or line[0] != "READY":
        raise RuntimeError("emitter did not start (see emitter.log)")
    return p, int(line[1]), int(line[2])


def emitter_quit(port: int):
    import socket
    with socket.create_connection(("127.0.0.1", port)) as s:
        s.sendall(b"QUIT\n")
        s.recv(16)


def run_jvm(procs: Procs, cp: str, run_dir: Path, job: dict, deadline: float):
    (run_dir / "job.json").write_text(json.dumps(job))
    env = dict(os.environ, GRAFT_INDEX_DIR=str(run_dir / "index"))
    tmp = run_dir / "tmp"
    tmp.mkdir()
    args = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP]
            + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            # no hsperfdata file in the system temp dir
            + ["-XX:-UsePerfData",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dderby.system.home=" + str(run_dir),
               "-Djava.io.tmpdir=" + str(tmp),
               "-Dspark.local.dir=" + str(tmp),
               "-cp", cp, "perfbench.PerfMain", str(run_dir / "job.json")])
    with open(run_dir / "jvm.log", "w") as log:
        p = procs.start(args, cwd=run_dir, env=env, stdout=log, stderr=log)
        try:
            p.wait(max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("engine JVM timed out")
    if p.returncode != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise RuntimeError("engine JVM failed:\n" + tail)
    return json.loads((run_dir / "result.json").read_text())


# ---------------------------------------------------------- correctness

def check_cdc_state(state_file: str, expected: dict, pool: bytes):
    with open(state_file) as f:
        rows = [json.loads(l) for l in f if l.strip()]
    bad = cdclog.check_state(expected, rows, pool)
    return len(expected), len(bad)


def sql_tables(node) -> set:
    """Base-table names in a DuckDB `json_serialize_sql` parse tree (CTE
    references included; callers keep the names they know)."""
    out = set()
    if isinstance(node, dict):
        if node.get("type") == "BASE_TABLE" and "table_name" in node:
            out.add(node["table_name"])
        for v in node.values():
            out |= sql_tables(v)
    elif isinstance(node, list):
        for v in node:
            out |= sql_tables(v)
    return out


def oracle_counts(sqls: dict):
    """Per query: DuckDB's row count of its oracle SQL over the fixtures,
    and its input rows, the summed row counts of the fixture tables the
    oracle SQL names (fixed per query, whatever the engine scans)."""
    import duckdb
    con = duckdb.connect()
    con.execute("PRAGMA threads=%d" % (os.cpu_count() or 1))
    table_rows = {}
    for t in FIXTURE_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, DATA_DIR, t))
        table_rows[t] = con.execute("SELECT count(*) FROM %s" % t).fetchone()[0]
    counts, input_rows = {}, {}
    for name, sql in sqls.items():
        sql = sql.strip().rstrip(";")
        counts[name] = con.execute("SELECT count(*) FROM (%s) AS q" % sql).fetchone()[0]
        tree = json.loads(con.execute("SELECT json_serialize_sql(?::VARCHAR)",
                                      [sql]).fetchone()[0])
        names = sql_tables(tree) & table_rows.keys()
        if tree.get("error") or not names:
            raise RuntimeError("no fixture table found in the oracle SQL of " + name)
        input_rows[name] = sum(table_rows[t] for t in names)
    return counts, input_rows


# ------------------------------------------------------------ workloads

def batch_table(batches, progress):
    """(end sequence, publish ns, progress) per data batch, commit order."""
    prog = {p["batch_id"]: p for p in progress}
    rows = []
    for b in batches:
        p = prog.get(b["batch_id"])
        if p is None or p["rows"] == 0:
            continue
        rows.append((int(p["end_offset"].split("-")[2]), b["end_ns"], p, b))
    rows.sort(key=lambda r: r[0])
    return rows


def cdc_catchup(res: dict, seed: int):
    pool = cdclog.note_pool(seed)
    ev = cdclog.generate(seed, 1, 1, cdclog.random_keys(
        seed, 1, cdclog.BACKLOG, cdclog.KEYS), "update_after")
    expected = cdclog.latest_by_key(ev)
    untraced_drains, lat, round_p, batch_s, attempted, failed = [], [], [], [], 0, 0
    drains = {True: [], False: []}
    for r in res["rounds"]:
        tab = batch_table(r["batches"], r["progress"])
        vis = stats.visibility_s(ev.seq, np.full(len(ev), r["start_ns"]),
                                 [t[0] for t in tab], [t[1] for t in tab])
        unpublished = int(np.isnan(vis).sum())
        a, f = check_cdc_state(r["state_file"], expected, pool)
        attempted += a
        failed += f + unpublished
        drain = (tab[-1][1] - r["start_ns"]) / 1e9 if tab else float("nan")
        drains[r["traced"]].append(drain)
        if not r["traced"]:
            untraced_drains.append(drain)
            lat.append(vis[~np.isnan(vis)])
            round_p.append((stats.percentile(lat[-1], 50), stats.percentile(lat[-1], 90)))
            batch_s += [t[2]["duration_ms"]["triggerExecution"] / 1e3 for t in tab]
    lat = np.concatenate(lat) if lat else np.array([])
    rate = cdclog.BACKLOG * len(untraced_drains) / sum(untraced_drains)
    detail = {
        "cdc_rows_per_s": {"value": rate, "unit": "rows/s", "n": len(untraced_drains)},
        "batch_p50_s": dict(unit="s", **stats.summary(batch_s)),
        "event_visible_s": dict(unit="s", **stats.summary(lat)),
        "rounds": len(res["rounds"]),
    }
    e2e = {"rows_per_s": (rate, "rows/s"),
           # per round, then the median over rounds: every event of a batch
           # shares its publish time, so pooled percentiles would sit on
           # one round's batch boundary
           "latency_p50_s": (float(np.median([p[0] for p in round_p])), "s"),
           "latency_p90_s": (float(np.median([p[1] for p in round_p])), "s")}
    return e2e, detail, attempted, failed, drains


def cdc_live_tail(res: dict, seed: int):
    pool = cdclog.note_pool(seed)
    live = res["live"]
    pre = cdclog.generate(seed, 0, 1, cdclog.permuted_keys(seed, 0, cdclog.KEYS),
                          "insert")
    n = int(live["count"])
    ev = cdclog.generate(seed, 2, cdclog.KEYS + 1,
                         cdclog.random_keys(seed, 2, n, cdclog.KEYS), "update_after")
    expected = cdclog.latest_by_key(pre, ev)
    tab = batch_table(live["batches"], live["progress"])
    due = live["t0_ns"] + np.arange(n) * (1e9 / live["rate"])
    vis = stats.visibility_s(ev.seq, due, [t[0] for t in tab], [t[1] for t in tab])
    unpublished = int(np.isnan(vis).sum())
    attempted, failed = check_cdc_state(live["state_file"], expected, pool)
    failed += unpublished
    timed = due >= live["timed_from_ns"]
    ok = vis[timed & ~np.isnan(vis)]
    due = due[timed & ~np.isnan(vis)]
    first_timed = int(ev.seq[timed][0])
    live_tab = [t for t in tab if t[0] >= first_timed]
    last_pub = max(t[1] for t in live_tab) if live_tab else float("nan")
    late = res["emitter"].get("gen_late_p99_s", float("nan"))
    # batches that started inside the timed window, by tracing state (the
    # traced run alternates them)
    window = {True: [], False: []}
    for t in tab:
        if t[3]["start_ns"] >= live["timed_from_ns"]:
            window[t[3]["traced"]].append(t[2]["duration_ms"]["triggerExecution"] / 1e3)
    detail = {
        "freshness_p50_s": {"value": stats.percentile(ok, 50), "unit": "s", "n": len(ok)},
        "freshness_p99_s": {"value": stats.percentile(ok, 99), "unit": "s", "n": len(ok)},
        "freshness_s": dict(unit="s", **stats.summary(ok)),
        "batch_p50_s": dict(unit="s", **stats.summary(
            [t[2]["duration_ms"]["triggerExecution"] / 1e3 for t in live_tab])),
        "gen_late_p99_s": {"value": late, "unit": "s"},
        "valid": bool(late <= GEN_LATE_LIMIT_S),
        "rate": live["rate"],
        # every live batch: start (s after the schedule's t0), rows,
        # triggerExecution (s), traced
        "live_batches": [[round((t[3]["start_ns"] - live["t0_ns"]) / 1e9, 3),
                          t[2]["rows"], t[2]["duration_ms"]["triggerExecution"] / 1e3,
                          t[3]["traced"]] for t in tab if t[0] >= int(ev.seq[0])],
    }
    e2e = {"rows_per_s": (len(ok) / ((last_pub - live["timed_from_ns"]) / 1e9), "rows/s"),
           "latency_p50_s": (stats.percentile(ok, 50), "s"),
           "latency_p90_s": (stats.percentile(ok, 90), "s")}
    return e2e, detail, attempted, failed, window


def query_suite(res: dict):
    counts, input_rows = oracle_counts(res["oracle_sql"])
    execs = res["executions"]
    attempted, failed, bad = 0, 0, []
    for w in res["warm"]:
        attempted += 1
        if w["count"] != counts[w["query"]]:
            failed += 1
            bad.append(w["query"])
    for e in execs:
        attempted += 1
        if e["count"] != counts[e["query"]]:
            failed += 1
            bad.append(e["query"])
    walls = [e["wall_s"] for e in execs if not e["traced"]]
    per_query = {}
    for e in execs:
        if not e["traced"]:
            per_query.setdefault(e["query"], []).append(e["wall_s"])
    medians = {q: float(np.median(v)) for q, v in sorted(per_query.items())}
    offered = sum(input_rows[e["query"]] for e in execs if not e["traced"])
    detail = {
        "query_suite_s": {"value": sum(medians.values()), "unit": "s",
                          "n": len(medians)},
        "query_p50_s": {"value": stats.percentile(walls, 50), "unit": "s", "n": len(walls)},
        "query_p90_s": {"value": stats.percentile(walls, 90), "unit": "s", "n": len(walls)},
        "query_s": dict(unit="s", **stats.summary(walls)),
        "per_query_median_s": medians,
        # summed untraced walls per pass, in pass order
        "pass_s": [sum(e["wall_s"] for e in execs if e["pass"] == p and not e["traced"])
                   for p in sorted({e["pass"] for e in execs})],
        "mismatched_counts": sorted(set(bad)),
        "persistent_rdds_after_pass": res["persistent_rdds_after_pass"],
        "input_rows": input_rows,
    }
    e2e = {"rows_per_s": (offered / sum(walls), "rows/s"),
           "latency_p50_s": (stats.percentile(walls, 50), "s"),
           "latency_p90_s": (stats.percentile(walls, 90), "s")}
    return e2e, detail, attempted, failed


# ------------------------------------------------------------------ main

def query_orders(seed: int, names: list, passes: int) -> list:
    rng = np.random.default_rng([seed, 3])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S

    cp = build()
    # set-up is timed from here: a fresh checkout's one-off build is not
    global T_START_NS
    T_START_NS = time.time_ns()
    deadline = max(deadline, time.time() + 150)  # a fresh build gets its own budget
    cpus = os.cpu_count() or 1
    RUNS_DIR.mkdir(exist_ok=True)
    run_dir = RUNS_DIR / ("%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    procs = Procs()
    # a terminated run still stops its emitter and engine JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    job = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": bool(a.trace), "run_dir": str(run_dir), "cpus": cpus}
    try:
        ctl = None
        if a.workload == "query_suite":
            names = [l.split("#")[0].strip() for l in QUERIES_FILE.read_text().splitlines()]
            names = [n for n in names if n]
            job.update(data_dir=str(DATA_DIR), queries=names,
                       warm_passes=QUERY_WARM_PASSES,
                       orders=query_orders(a.seed, names, QUERY_PASSES))
        else:
            mode = "catchup" if a.workload == "cdc_catchup" else "live"
            _, cdc_port, ctl = start_emitter(procs, run_dir, a.seed, mode, a.seconds)
            job.update(cdc_port=cdc_port, ctl_port=ctl, cdc={
                "keys": cdclog.KEYS, "backlog": cdclog.BACKLOG,
                "max_events_per_batch": MAX_EVENTS_PER_BATCH,
                "preload_events_per_batch": PRELOAD_EVENTS_PER_BATCH,
                # tailer + replay connections <= cpus
                "replay_partitions": max(1, cpus - 1),
                "min_rounds": MIN_ROUNDS, "max_rounds": MAX_ROUNDS,
                "live_warm_seconds": LIVE_WARM_S})
        res = run_jvm(procs, cp, run_dir, job, deadline)
        if ctl is not None:
            emitter_quit(ctl)
        builds = []
        journal = run_dir / "index" / "builds.jsonl"
        if journal.is_file():
            builds = [json.loads(l) for l in journal.read_text().splitlines() if l.strip()]

        overhead = None
        valid = True
        if a.workload == "cdc_catchup":
            e2e, detail, attempted, failed, drains = cdc_catchup(res, a.seed)
            if drains[True] and drains[False]:
                overhead = np.median(drains[True]) / np.median(drains[False]) - 1
        elif a.workload == "cdc_live_tail":
            e2e, detail, attempted, failed, window = cdc_live_tail(res, a.seed)
            valid = detail["valid"]
            if window[True] and window[False]:
                overhead = np.median(window[True]) / np.median(window[False]) - 1
        else:
            e2e, detail, attempted, failed = query_suite(res)
            if a.trace:
                overhead = layers.query_overhead(res["executions"])
        setup_s = (res["first_timed_op_ns"] - T_START_NS) / 1e9
        e2e["setup_s"] = (setup_s, "s")
        detail.update(workload=a.workload, seed=a.seed, trace=a.trace,
                      setup_s={"value": setup_s, "unit": "s"},
                      peak_rss_mb={"value": res["peak_rss_kb"] / 1024.0, "unit": "MB"},
                      failed_frac={"value": failed / attempted, "unit": "ratio",
                                   "n": attempted},
                      index_builds=len(builds),
                      setup_phases_s={k: (v - T_START_NS) / 1e9 for k, v in dict(
                          SETUP_MARKS, jvm_start_ns=res["jvm_start_ns"],
                          session_ready_ns=res["session_ready_ns"],
                          first_timed_op_ns=res["first_timed_op_ns"]).items()})
        if a.trace:
            metrics = layers.per_layer(a.workload, res, builds, overhead)
            detail["per_layer"] = metrics
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(e2e.items())}
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        declared = {m["name"]: m["unit"] for m in
                    declared["per_layer" if a.trace else "end_to_end"]}
        if declared != {k: v["unit"] for k, v in metrics.items()}:
            raise RuntimeError("metrics do not match BENCHMARK.json")
        OUT_DIR.mkdir(exist_ok=True)
        tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
        (OUT_DIR / (tag + ".json")).write_text(json.dumps(detail, indent=1))
        if a.trace and (run_dir / "spans.jsonl").is_file():
            shutil.copy(run_dir / "spans.jsonl", OUT_DIR / (tag + "-spans.jsonl"))
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0 and valid,
                          "attempted": int(attempted), "failed": int(failed),
                          "metrics": metrics}))
    except Exception as e:  # a crashed engine or emitter: no result line
        fail(str(e), 1)
    finally:
        procs.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
