#!/usr/bin/env python3
"""The repo's benchmark: one seeded workload against the stream pipeline
and the dashboard panels, with correctness checks, as one JSON line.

    python3 perfbench/run.py --workload ingest|dashboard|live \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the
benchmark's JVM side with sbt (once per source change), generates the
inputs from the seed, runs the workload in one JVM, checks the outputs,
and prints a human-readable summary followed by the JSON result as the
last line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")

WORKLOADS = ("ingest", "dashboard", "live")
JVM_TIMEOUT_S = 150

# Input sizes. The stream files go out at 10 files/s (Workloads.scala);
# the open loop gets 70% of an ingest run and all of a live run.
BACKLOG_FILES, BACKLOG_LINES = 120, 250
LIVE_LINES = 100
TABLE_ROWS, TABLE_USERS = 300_000, 20_000

# name -> (the workload's own metric it reports, unit)
END_TO_END = {
    "setup_s": ("setup_s", "s"),
    "latency_p50_ms": (None, "ms"),
    "latency_tail_ms": (None, "ms"),
    "throughput_per_s": (None, "1/s"),
    "retained_mb": ("retained_mb", "MB"),
}
PRIMARY = {
    "ingest": ("freshness_p50_ms", "freshness_p95_ms", "ingest_eps"),
    "dashboard": ("read_p50_ms", "read_p95_ms", "reads_per_s"),
    "live": ("read_p50_ms", "read_p95_ms", "reads_per_s"),
}
# the metrics the issue names, printed by name and unit on every run
NAMED = [("setup_s", "s"), ("ingest_eps", "events/s"),
         ("freshness_p50_ms", "ms"), ("freshness_p95_ms", "ms"),
         ("read_p50_ms", "ms"), ("read_p95_ms", "ms"), ("reads_per_s", "1/s"),
         ("error_rate", "ratio"), ("peak_rss_mb", "MB"), ("retained_mb", "MB")]

PANELS = ["ev_hourly_metrics", "ev_rolling_24h", "ev_daily_summary",
          "ev_customer_view", "ev_channel_performance", "ev_engagement_funnel",
          "ev_customer_activity", "ev_cumulative_adoption",
          "ev_demand_elasticity", "ev_peak_load", "ev_business_kpis",
          "ev_dynamic_pricing", "ev_ab_framework", "ev_validation_summary",
          "ev_total_error_value"]

PER_LAYER = (
    [("ingest_eps", "1/s"), ("freshness_p50_ms", "ms"), ("freshness_p95_ms", "ms"),
     ("freshness_samples", "count"), ("read_p50_ms", "ms"), ("read_p95_ms", "ms"),
     ("read_samples", "count"), ("reads_per_s", "1/s"), ("error_rate", "ratio"),
     ("source.list_ms_p50", "ms"), ("source.backlog_files_max", "count"),
     ("source.generator_late_ms_p95", "ms"),
     ("stream.batches", "count"), ("stream.batch_ms_p50", "ms"),
     ("stream.batch_ms_p95", "ms"), ("stream.plan_ms_p50", "ms"),
     ("stream.commit_ms_p50", "ms"), ("stream.exec_ms_p50", "ms"),
     ("stream.rows_per_batch_p50", "count"), ("stream.valid_events", "count"),
     ("stream.invalid_events", "count"), ("stream.observed_share", "ratio"),
     ("state.rows_max", "count"), ("state.mem_bytes_max", "bytes"),
     ("state.commit_ms_p50", "ms"), ("state.rows_dropped_late", "count"),
     ("dead.batch_ms_p50", "ms"), ("dead.rows", "count"),
     ("sink.row_versions", "count"), ("sink.hours", "count"),
     ("sink.files", "count"), ("sink.useful_ratio", "ratio"),
     ("sink.read_ms_p50", "ms"), ("sink.audit_ms_p50", "ms")]
    + [(f"panel.{p}.p50_ms", "ms") for p in PANELS]
    + [("panel.build_ms_p50", "ms"), ("panel.collect_ms_p50", "ms"),
       ("tables.load_ms", "ms"),
       ("exec.jobs_per_read", "count"), ("exec.tasks_per_read", "count"),
       ("exec.input_bytes_per_read", "bytes"),
       ("exec.shuffle_bytes_per_read", "bytes"), ("exec.spill_bytes", "bytes"),
       ("jvm.gc_ms", "ms"), ("jvm.peak_rss_mb", "MB"), ("host.steal_share", "ratio"),
       ("self.workload_ms", "ms"), ("self.refresh_ms", "ms"),
       ("self.panel_ms", "ms"), ("self.build_ms", "ms"),
       ("self.collect_ms", "ms"), ("self.generator_ms", "ms"),
       ("self.batch_ms", "ms"), ("self.source_ms", "ms"),
       ("self.plan_ms", "ms"), ("self.exec_ms", "ms"),
       ("self.commit_ms", "ms"), ("self.dead_batch_ms", "ms"),
       ("self.sink_read_ms", "ms"), ("trace.spans", "count"),
       ("trace.overhead_pct", "%"), ("baseline.local1_ingest_eps", "1/s")])

# span name -> layer self-time metric
SELF_LAYERS = {
    "workload": "self.workload_ms", "refresh": "self.refresh_ms",
    "panel": "self.panel_ms", "build": "self.build_ms",
    "collect": "self.collect_ms", "generator.tick": "self.generator_ms",
    "batch": "self.batch_ms", "batch.latestOffset": "self.source_ms",
    "batch.getBatch": "self.source_ms", "batch.setOffsetRange": "self.source_ms",
    "batch.queryPlanning": "self.plan_ms", "batch.addBatch": "self.exec_ms",
    "batch.walCommit": "self.commit_ms", "batch.commitOffsets": "self.commit_ms",
    "sink.read": "self.sink_read_ms", "sink.audit": "self.sink_read_ms",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the benchmark; returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the program's sources (src/main/scala, build.sbt) are not "
             "next to perfbench/; run from the root of a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)[:2]):
                return cp
    os.makedirs(BUILD, exist_ok=True)
    log("perfbench: building with sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------------------
# JVM runs
# ---------------------------------------------------------------------------

def java(cp, args, heap, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + [str(a) for a in args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"JVM step {args[:2]} did not finish in {timeout} s")
    if proc.returncode != 0:
        log(err[-4000:])
        fail(f"JVM step {args[:2]} exited with {proc.returncode}")
    return err


def live_files(workload, seconds):
    share = 0.7 if workload == "ingest" else 1.0
    return int(math.ceil(seconds * share * 10)) + 10


def run_workload(cp, workload, seed, seconds, trace, cores):
    """Generate inputs, run one workload JVM, return its result dict."""
    run_dir = os.path.join(RUNS, f"{workload}-{seed}-{trace}-{cores}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_gen = time.time()
    if workload == "dashboard":
        java(cp, ["gen", "table", os.path.join(run_dir, "table"), seed,
                  TABLE_ROWS, TABLE_USERS], "1g", run_dir, 120)
    else:
        backlog = BACKLOG_FILES if workload == "ingest" else 0
        java(cp, ["gen", "stream", run_dir, seed, backlog, BACKLOG_LINES,
                  live_files(workload, seconds), LIVE_LINES], "1g", run_dir, 120)
    launch_ms = int(time.time() * 1000)
    java(cp, ["run", run_dir, workload, seed, seconds, 1 if trace else 0, cores,
              launch_ms], "3g", run_dir, JVM_TIMEOUT_S)
    t_jvm = time.time() - launch_ms / 1000
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    if workload == "dashboard":
        oracle_checks(run_dir, res)
    spans = os.path.join(run_dir, "spans.json")
    if os.path.exists(spans):
        os.replace(spans, os.path.join(RUNS, f"spans-{workload}-{seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"perfbench: {workload} gen {launch_ms / 1000 - t_gen:.1f} s, jvm {t_jvm:.1f} s, "
        f"oracle {time.time() - launch_ms / 1000 - t_jvm:.1f} s, "
        f"info {json.dumps(res['info'])[:400]}")
    return res


# ---------------------------------------------------------------------------
# dashboard oracle: each panel's rows against its DuckDB twin
# ---------------------------------------------------------------------------

def norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_checks(run_dir, res):
    import duckdb
    with open(os.path.join(run_dir, "panels.json")) as f:
        panels = json.load(f)
    table = os.path.join(run_dir, "table", "events.parquet")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in panels:
        name, sql = p["name"], p["sql"]
        if name == "ev_business_kpis":
            con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{table}'")
            for lit, val in (("2024-01-16", "@CUR_FROM"), ("2024-02-01", "@CUR_TO"),
                             ("2024-01-01", "@PREV_FROM")):
                sql = sql.replace(f"TIMESTAMP '{lit}'", val)
            sql = (sql.replace("@CUR_FROM", f"TIMESTAMP '{p['from']}'")
                   .replace("@CUR_TO", f"TIMESTAMP '{p['to']}'")
                   .replace("@PREV_FROM", f"TIMESTAMP '{p['prev_from']}'"))
        else:
            con.execute(
                f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{table}' "
                f"WHERE ts >= TIMESTAMP '{p['from']}' AND ts < TIMESTAMP '{p['to']}'")
        detail = ""
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if sorted(ocols) != sorted(p["columns"]):
                detail = f"columns differ: {sorted(ocols)} vs {sorted(p['columns'])}"
            else:
                a, b = rows_key(orows, ocols), rows_key(p["rows"], p["columns"])
                if a != b:
                    bad = next(((x, y) for x, y in zip(a, b) if x != y), None)
                    detail = (f"{len(a)} oracle rows vs {len(b)} panel rows; "
                              f"first difference {bad}")
        except Exception as e:  # an oracle that cannot run is a failed check
            detail = f"oracle error: {e}"
        res["checks"].append({"name": f"panel {name} equals its DuckDB twin "
                                      f"on {p['from']}..{p['to']}",
                              "ok": not detail, "detail": detail})
        res["attempted"] += 1
        res["failed"] += 1 if detail else 0


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    cores = os.cpu_count() or 1
    res = run_workload(cp, a.workload, a.seed, a.seconds, a.trace == 1, cores)
    if not a.trace:
        with open(os.path.join(RUNS, f"last-{a.workload}.json"), "w") as f:
            json.dump(res, f)
    m = res["metrics"]
    m["error_rate"] = res["failed"] / max(1, res["attempted"])
    m["jvm.peak_rss_mb"] = m.get("peak_rss_mb", 0.0)

    if a.trace:
        # layer self times from the spans, and the tracing overhead as the
        # difference from an untraced run of the same seed
        selfs = {}
        for k, v in list(m.items()):
            if k.startswith("self.") and k[5:] in SELF_LAYERS:
                selfs[SELF_LAYERS[k[5:]]] = selfs.get(SELF_LAYERS[k[5:]], 0.0) + v
            elif k.startswith("self.dead.batch"):
                selfs["self.dead_batch_ms"] = selfs.get("self.dead_batch_ms", 0.0) + v
        m.update(selfs)
        # the latest untraced run of this workload in this checkout, or a
        # fresh one of the same seed when there is none
        last = os.path.join(RUNS, f"last-{a.workload}.json")
        if os.path.exists(last):
            with open(last) as f:
                plain = json.load(f)
        else:
            plain = run_workload(cp, a.workload, a.seed, a.seconds, False, cores)
            res["checks"] += plain["checks"]
            res["attempted"] += plain["attempted"]
            res["failed"] += plain["failed"]
        lat = PRIMARY[a.workload][0]
        if plain["metrics"].get(lat):
            m["trace.overhead_pct"] = 100.0 * (m[lat] - plain["metrics"][lat]) \
                / plain["metrics"][lat]
        if a.workload == "ingest":
            # single-threaded context baseline, reported and never gated:
            # the same backlog drained at local[1] (its open loop is cut
            # to a second, since only the drain is reported)
            base = run_workload(cp, "ingest", a.seed, 1, False, 1)
            m["baseline.local1_ingest_eps"] = base["metrics"].get("ingest_eps", 0.0)

    for c in res["checks"]:
        if not c["ok"]:
            log(f"CHECK FAILED: {c['name']}: {c['detail']}")
    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  "
          f"checks {sum(c['ok'] for c in res['checks'])}/{len(res['checks'])} passed")
    for name, unit in NAMED:
        if name in m:
            print(f"  {name:<18} {m[name]:>14.4f} {unit}")
    print(f"  {'host.steal_share':<18} {m.get('host.steal_share', 0.0):>14.4f} ratio")
    if "freshness_samples" in m:
        print(f"  freshness from {int(m['freshness_samples'])} files, tail at "
              f"q={res['info'].get('freshness_tail_quantile')}")

    if a.trace:
        metrics = {n: {"value": float(m.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        p50, p95, thr = PRIMARY[a.workload]
        src = {"latency_p50_ms": p50, "latency_tail_ms": p95, "throughput_per_s": thr}
        metrics = {n: {"value": float(m.get(src.get(n) or own, 0.0)), "unit": u}
                   for n, (own, u) in END_TO_END.items()}
    correct = res["failed"] == 0 and all(c["ok"] for c in res["checks"])
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
