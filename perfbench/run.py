#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`, which compiles the checkout's own sources)
and generates the input tables (`perfbench/gen.py`); later runs reuse both
while the sources are unchanged. Each run starts one JVM on `local[nproc]`,
runs one workload in a closed loop with one client thread for `--seconds`,
checks the outputs (query results against the DuckDB oracle, stream
totals and message keys against `RefOrders.processedSql` in DuckDB), and
prints one JSON object as its last line: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

DEFAULT_SEED = 1
RUN_LIMIT_S = 170          # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880    # ... or 900 s when it builds
OP_DEADLINE_S = 45         # per query / per trigger
SETUP_REPS = 3

LIGHT = "ref_pipeline q1_agg q_distinct q_topk q_custdist q_asof q_ev_sliding".split()
LIGHT_TABLES = "region nation customer supplier part orders lineitem events".split()

WORKLOADS = {
    "orders_trickle": {"kind": "stream", "batch": 1000, "warmup": 8, "check": 5000},
    "orders_bulk": {"kind": "stream", "batch": 50000, "warmup": 2, "check": 5000},
    "queries_light": {"kind": "queries", "queries": LIGHT, "tables": LIGHT_TABLES},
}

QUERY_SF = 0.001    # tables the query mix reads
STREAM_SF = 0.02    # lineitem the order stream is derived from (120 k orders)

END_TO_END = [
    ("setup_s", "s"), ("geomean_ms", "ms"), ("throughput_per_s", "1/s"), ("live_heap_peak_mb", "MB"),
]

PER_LAYER = [
    ("SparkEntry.construct_ms", "ms"), ("SparkEntry.construct_jobs", "count"),
    ("SparkEntry.cold_construct_ms", "ms"), ("SparkEntry.cold_construct_jobs", "count"),
    ("SparkEntry.planning_share", "ratio"),
    ("planner.analysis_ms", "ms"), ("planner.optimizer_ms", "ms"),
    ("planner.physical_ms", "ms"), ("planner.plan_nodes", "count"),
    ("planner.reused_exchanges", "count"),
    ("operators.jobs", "count"), ("operators.stages", "count"),
    ("operators.tasks", "count"), ("operators.task_wait_ms", "ms"),
    ("operators.task_run_s", "s"), ("operators.task_cpu_s", "s"),
    ("operators.gc_s", "s"), ("operators.core_busy_ratio", "ratio"),
    ("operators.shuffle_write_bytes", "B"), ("operators.shuffle_read_bytes", "B"),
    ("operators.spill_bytes", "B"), ("operators.task_failures", "count"),
    ("sources.input_bytes", "B"), ("sources.input_records", "count"),
    ("sources.checkpoint_bytes", "B"), ("sources.checkpoint_files", "count"),
    ("sources.checkpoint_bytes_warm", "B"),
    ("streaming.trigger_ms", "ms"), ("streaming.addBatch_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"), ("streaming.walCommit_ms", "ms"),
    ("streaming.commitOffsets_ms", "ms"), ("streaming.latestOffset_ms", "ms"),
    ("streaming.getBatch_ms", "ms"), ("streaming.fixed_share", "ratio"),
    ("streaming.jobs_per_trigger", "count"), ("streaming.sink_enriched_ms", "ms"),
    ("streaming.sink_invalid_ms", "ms"), ("streaming.rows_in", "count"),
    ("streaming.rows_enriched", "count"), ("streaming.rows_invalid", "count"),
    ("trace.overhead_ratio", "ratio"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt; return (classpath, stamp, built)."""
    out = os.path.join(HERE, ".build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp, False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g"
        if os.path.exists(repos):
            extra += f" -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = (opts + " " + extra).strip()
    log("building engine and harness (sbt)")
    with open(os.path.join(out, "build.log"), "w") as lf:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "export perfbench/Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=max(10, deadline - time.time() - 60))
        except subprocess.TimeoutExpired:
            kill_group(p)
            fail("build timed out")
        lf.write(stdout)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {os.path.relpath(os.path.join(out, 'build.log'), ROOT)}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp, True


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


# ---- inputs ----------------------------------------------------------------

def inputs():
    import gen
    data = os.path.join(HERE, ".data")
    tables = os.path.join(data, f"tables_sf{QUERY_SF}")
    stream = os.path.join(data, f"stream_sf{STREAM_SF}")
    gen.write(tables, QUERY_SF)
    gen.write(stream, STREAM_SF, only={"lineitem"})
    return tables, stream


def stream_permutation(stream_dir, seed, path):
    import numpy as np
    import pyarrow.parquet as pq
    n = pq.ParquetFile(os.path.join(stream_dir, "lineitem.parquet")).metadata.num_rows
    perm = np.random.default_rng(seed).permutation(n).astype("<i4")
    perm.tofile(path)
    return perm


# ---- the JVM run -----------------------------------------------------------

def run_jvm(cp, work, args, deadline):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill_group(p)
            fail("harness JVM ran past the run's time limit")
    if p.returncode != 0 or not os.path.exists(args["out"]):
        fail(f"harness JVM failed (exit {p.returncode}), see {os.path.relpath(work, ROOT)}/jvm.log")
    with open(args["out"]) as f:
        return json.load(f)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- output checks ---------------------------------------------------------

def normalize(df):
    """The repository's oracle rule: columns sorted by name, object columns
    as strings, rows sorted, then exact equality."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def duck_tables(con, tables_dir):
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(tables_dir, f)}'")


def check_queries(res, tables_dir):
    """Names of the queries whose cold-pass output differs from the oracle."""
    import duckdb
    import pandas as pd
    cache = os.path.join(HERE, ".data", "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    duck_tables(con, tables_dir)
    wrong = {}
    for op in res["cold"]:
        name = op["name"]
        if not op["ok"]:
            continue  # counted as a failed operation already
        sql = res["oracle_sql"].get(name, "")
        if not sql:
            wrong[name] = "no oracle SQL"
            continue
        key = hashlib.sha1((tables_dir + "\0" + sql).encode()).hexdigest()
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            exp = pd.read_pickle(path)
        else:
            try:
                exp = con.execute(sql).fetchdf()
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                wrong[name] = f"oracle SQL error: {e}"
                continue
            exp.to_pickle(path)
        got_dir = os.path.join(res["work"], "results", name)
        files = [os.path.join(got_dir, f) for f in os.listdir(got_dir) if f.endswith(".parquet")]
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        g, e = normalize(got.copy()), normalize(exp.copy())
        if list(g.columns) != list(e.columns):
            wrong[name] = f"columns {list(g.columns)} vs oracle {list(e.columns)}"
        elif len(g) != len(e):
            wrong[name] = f"{len(g)} rows vs oracle {len(e)}"
        elif not g.equals(e):
            wrong[name] = "values differ from oracle"
    return wrong


def check_stream(res, perm):
    """Names of the failed stream checks, each with its reason."""
    import duckdb
    work = res["work"]
    con = duckdb.connect()
    raw = con.execute(
        f"SELECT * FROM read_json('{work}/stream_input.jsonl', format='newline_delimited', "
        "columns={order_id: 'VARCHAR', product_name: 'VARCHAR', quantity: 'VARCHAR', "
        "price: 'VARCHAR', order_date: 'VARCHAR'})").fetchdf()
    n = len(raw)
    wrong = {}
    if n != res["records"] or n != len(perm):
        return {"input": f"{n} input records, harness had {res['records']}"}
    raw_sql, processed = res["raw_sql"], res["processed_sql"]
    if raw_sql not in processed:
        return {"oracle": "RefOrders.processedSql does not contain rawOrdersSql"}
    over_sel = processed.replace(raw_sql, "raw AS (SELECT * FROM raw_sel)")

    def valid_invalid(sel):
        con.register("raw_sel", sel)
        return con.execute(over_sel + " SELECT count(*) FILTER (WHERE is_valid), "
                           "count(*) FILTER (WHERE NOT is_valid) FROM processed").fetchone()

    d = res["delivered"]
    v_all, i_all = valid_invalid(raw)
    v_part, i_part = valid_invalid(raw.iloc[perm[: d % n]])
    ev, ei = (d // n) * v_all + v_part, (d // n) * i_all + i_part
    obs = res["observed"]
    for k, got, exp in [("observe.messages_processed", obs.get("messages_processed"), d),
                        ("observe.messages_valid", obs.get("messages_valid"), ev),
                        ("observe.messages_invalid", obs.get("messages_invalid"), ei),
                        ("sink.enriched_rows", res["sink_rows"]["enriched"], ev),
                        ("sink.invalid_rows", res["sink_rows"]["invalid"], ei)]:
        if got != exp:
            wrong[k] = f"{got} vs expected {exp}"

    # the check trigger: every message keyed by its order_id (or
    # "unknown"), routed by validity, and the payload carries the same id
    c = res["check_records"]
    con.register("raw_sel", raw.iloc[perm[:c]])
    exp = con.execute(over_sel + " SELECT coalesce(order_id, 'unknown') AS key, is_valid, "
                      "count(*) AS n FROM processed GROUP BY ALL ORDER BY ALL").fetchall()
    parts = []
    for branch, valid in (("enriched", True), ("invalid", False)):
        d_ = os.path.join(work, "stream_check", branch)
        files = [os.path.join(d_, f) for f in os.listdir(d_) if f.endswith(".parquet")] if os.path.isdir(d_) else []
        if files:
            parts.append(f"SELECT key, {valid} AS is_valid, "
                         "coalesce(json_extract_string(value, '$.payload.order_id'), 'unknown') AS pid "
                         f"FROM read_parquet({files!r})")
    if not parts:
        wrong["check.messages"] = "no messages written"
        return wrong
    msgs = " UNION ALL ".join(parts)
    got = con.execute(f"SELECT key, is_valid, count(*) FROM ({msgs}) GROUP BY ALL ORDER BY ALL").fetchall()
    if got != exp:
        wrong["check.keys_by_branch"] = f"(key, branch) counts differ from the oracle's ({len(got)} vs {len(exp)} groups)"
    bad = con.execute(f"SELECT count(*) FROM ({msgs}) WHERE key <> pid").fetchone()[0]
    if bad:
        wrong["check.key_is_order_id"] = f"{bad} messages keyed apart from their order_id"
    cv = sum(r[2] for r in exp if r[1])
    co = res["check_observed"]
    if (co.get("messages_processed"), co.get("messages_valid")) != (c, cv):
        wrong["check.observe"] = f"{co} vs expected processed={c} valid={cv}"
    return wrong


# ---- metrics ---------------------------------------------------------------

def end_to_end(res, kind):
    warm = [op for op in res["warm"] if op["ok"]]
    if not warm:
        return None, None
    lat = [op["ms"] for op in warm]
    tail, tail_p = stats.tail(lat)
    if kind == "queries":
        by_name = {}
        for op in warm:
            by_name.setdefault(op["name"], []).append(op["ms"])
        geo = stats.geomean([stats.median(v) for v in by_name.values()])
        throughput = len(warm) / (sum(lat) / 1000.0)
        cold_s = res["cold_s"]
    else:
        geo = stats.geomean(lat)
        throughput = len(warm) * res["batch"] / (sum(lat) / 1000.0)
        cold_s = res["cold"]["ms"] / 1000.0
    m = {"setup_s": stats.median(res["setup_s"]), "geomean_ms": geo,
         "throughput_per_s": throughput, "live_heap_peak_mb": max(res["live_heap_mb"])}
    # Logged, not metrics. The median of a query mix jumps between the
    # queries' clusters, where the geometric mean of per-query medians does
    # not; the tail's percentile rises with the sample count, so a faster
    # program would be judged at a higher percentile; the cold pass is one
    # sample.
    return m, {"samples": len(lat), "latency_p50_ms": stats.median(lat),
               "latency_tail_ms": tail, "tail_percentile": tail_p, "cold_s": cold_s}


def med(xs, scale=1.0):
    return stats.median(xs) * scale if xs else 0.0


def per_layer(res, kind):
    m = {name: 0.0 for name, _ in PER_LAYER}
    traced = [op for op in res["warm"] if op["ok"] and op["traced"]]
    m["trace.overhead_ratio"] = stats.overhead([(op.get("name", "trigger"), op["traced"], op["ms"])
                                                for op in res["warm"] if op["ok"]])
    if kind == "queries":
        layers, cold = traced, res["cold"]
        m["SparkEntry.construct_ms"] = med([op["construct_ms"] for op in layers])
        m["SparkEntry.construct_jobs"] = med([op["construct_jobs"] for op in layers])
        m["SparkEntry.cold_construct_ms"] = sum(op.get("construct_ms", 0.0) for op in cold)
        m["SparkEntry.cold_construct_jobs"] = sum(op.get("construct_jobs", 0) for op in cold)
        wall = sum(op["ms"] for op in layers)
        if wall > 0:
            m["SparkEntry.planning_share"] = sum(
                op["construct_ms"] + op["analysis_ms"] + op["optimizer_ms"] + op["physical_ms"]
                for op in layers) / wall
        m["sources.checkpoint_bytes"] = sum(op.get("checkpoint_bytes", 0) for op in cold)
        m["sources.checkpoint_files"] = sum(op.get("checkpoint_files", 0) for op in cold)
        m["sources.checkpoint_bytes_warm"] = sum(op["checkpoint_bytes"] for op in layers)
        walls = {op["op"]: op["ms"] for op in layers}
        plan_ops = cold + layers
    else:
        ops = {op["op"]: op for op in res["warm"]}
        layers = [r for r in res["layers"] if r["op"] in ops and ops[r["op"]]["ok"]]
        walls = {r["op"]: ops[r["op"]]["ms"] for r in layers}
        plan_ops = res["layers"]
        # micro-batch b is trigger-b
        warm_batches = {int(op["op"].split("-")[1]) for op in res["warm"]}
        prog = [p for p in res["progress"] if p["batch_id"] in warm_batches]
        for key in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                    "commitOffsets", "latestOffset", "getBatch"):
            name = "trigger" if key == "triggerExecution" else key
            m[f"streaming.{name}_ms"] = med([p.get(f"d_{key}", 0) for p in prog])
        if prog:
            m["streaming.fixed_share"] = stats.fixed_share(
                [p.get("d_addBatch", 0) for p in prog], [p.get("d_triggerExecution", 0) for p in prog])
        m["streaming.jobs_per_trigger"] = med([r["jobs"] for r in layers])
        # sink timings of the warm triggers: each branch is written once a trigger
        first = 1 + len(res["warmup"])
        m["streaming.sink_enriched_ms"] = med(res["sink_ms"]["enriched"][first:])
        m["streaming.sink_invalid_ms"] = med(res["sink_ms"]["invalid"][first:])
        m["streaming.rows_in"] = res["observed"].get("messages_processed", 0)
        m["streaming.rows_enriched"] = res["sink_rows"]["enriched"]
        m["streaming.rows_invalid"] = res["sink_rows"]["invalid"]
    for src, dst, scale in [("analysis_ms", "planner.analysis_ms", 1), ("optimizer_ms", "planner.optimizer_ms", 1),
                            ("physical_ms", "planner.physical_ms", 1),
                            ("reused_exchanges", "planner.reused_exchanges", 1),
                            ("jobs", "operators.jobs", 1), ("stages", "operators.stages", 1),
                            ("tasks", "operators.tasks", 1), ("task_wait_ms", "operators.task_wait_ms", 1),
                            ("task_run_ms", "operators.task_run_s", 1e-3),
                            ("task_cpu_ms", "operators.task_cpu_s", 1e-3), ("gc_ms", "operators.gc_s", 1e-3),
                            ("shuffle_write_bytes", "operators.shuffle_write_bytes", 1),
                            ("shuffle_read_bytes", "operators.shuffle_read_bytes", 1),
                            ("spill_bytes", "operators.spill_bytes", 1),
                            ("input_bytes", "sources.input_bytes", 1),
                            ("input_records", "sources.input_records", 1)]:
        m[dst] = med([r[src] for r in layers], scale)
    m["planner.plan_nodes"] = max([r.get("plan_nodes", 0) for r in plan_ops] or [0])
    m["operators.task_failures"] = sum(r["task_failures"] for r in layers)
    wall = sum(walls.values())
    if wall > 0:
        m["operators.core_busy_ratio"] = sum(r["task_run_ms"] for r in layers) / (wall * res["cores"])
    return m


# ---- main ------------------------------------------------------------------

def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            fail(f"not a graft checkout: {os.path.relpath(need, ROOT)} is missing")
    w = WORKLOADS[a.workload]
    cp, stamp, built = build(t0 + FIRST_RUN_LIMIT_S)
    deadline = t0 + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)
    tables_dir, stream_dir = inputs()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "work": work, "out": os.path.join(work, "result.json"),
            "deadline_s": OP_DEADLINE_S, "setup_reps": SETUP_REPS}
    perm = None
    if w["kind"] == "stream":
        perm = stream_permutation(stream_dir, a.seed, os.path.join(work, "perm.bin"))
        args.update(stream_data=stream_dir, perm=os.path.join(work, "perm.bin"),
                    batch=w["batch"], warmup=w["warmup"], check=w["check"])
    else:
        args.update(data=tables_dir, queries=",".join(w["queries"]), tables=",".join(w["tables"]))
    res = run_jvm(cp, work, args, deadline)
    res["work"] = work

    ops = ([res["cold"]] if w["kind"] == "stream" else res["cold"]) + res["warmup"] + res["warm"]
    failures = {op["op"]: op["failure"] for op in ops if not op["ok"]}
    failed_ops = set(failures)
    if w["kind"] == "queries":
        # a wrong result fails the cold operation that wrote it
        wrong = check_queries(res, tables_dir)
        cold_op = {op["name"]: op["op"] for op in res["cold"]}
        failed_ops |= {cold_op[n] for n in wrong}
        attempted = len(ops)
    else:
        # the stream's output check counts as one more operation
        wrong = check_stream(res, perm)
        failed_ops |= {"output-check"} if wrong else set()
        attempted = len(ops) + 1
    failed = len(failed_ops)

    info = dict(res["info"], workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                git_sha=git_sha(), source_stamp=stamp, wall_s=round(time.time() - t0, 3),
                failed_ratio=stats.failed_ratio(failed, attempted))
    for name, why in sorted(failures.items()):
        log(f"FAILED {name}: {why}")
    for name, why in sorted(wrong.items()):
        log(f"WRONG {name}: {why}")

    e2e, shape = end_to_end(res, w["kind"])
    if a.trace:
        metrics = per_layer(res, w["kind"])
        units = dict(PER_LAYER)
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(res.get("spans", []), f)
    else:
        if e2e is None:
            fail("no warm operation succeeded", code=3)
        metrics, units = e2e, dict(END_TO_END)
        info.update(shape)
    log("info " + json.dumps(info, sort_keys=True))
    for k, v in metrics.items():
        log(f"{k:34s} {v:16.6f} {units[k]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
