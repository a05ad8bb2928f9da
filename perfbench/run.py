#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run builds the engine and the
harness from source (perfbench/build.py), generates its inputs from the
seed (perfbench/fixtures.py, perfbench/trades.py), drives the engine
through its public entry points (perfbench/src), checks every output
against a DuckDB recomputation, and prints one JSON object as the last
line of stdout: end-to-end metrics with --trace 0, per-layer metrics from
a separately traced run with --trace 1.  Workloads, rates, sizes and the
map from layer metrics to end-to-end metrics are in perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixtures  # noqa: E402
import ledger  # noqa: E402

DATA = ".bench_data"      # per-seed inputs and oracle answers, reused
RUNS = ".bench_runs"      # one scratch directory per run, replaced
KEEP_SEEDS = 4            # per-seed fixture copies kept in DATA
HEAP = "3g"
JVM_TIMEOUT_S = 150
BASE_SF = "0.1"            # TESTDATA.md's bench fixture
WARM_SF = "0.001"          # and its smallest one, for warm-up
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect",
             "java.io", "java.net", "java.nio", "java.util",
             "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action",
             "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def pct(values, q):
    """q-th percentile, linear between closest ranks."""
    v = sorted(values)
    if not v:
        return float("nan")
    x = (len(v) - 1) * q / 100.0
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def mean(values):
    return statistics.fmean(values) if values else 0.0


# --- engine ---------------------------------------------------------------

def run_engine(classpath, run_dir, args, archive):
    """Run perfbench.Main mapping the class-data-sharing ``archive``; a
    training run writes it instead."""
    share = ([f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off"]
             if args["kind"] == "train"
             else [f"-XX:SharedArchiveFile={archive}"])
    cmd = (["java", "-XX:-UsePerfData"] + share +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", os.pathsep.join(classpath),
            "perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/engine.log", "w") as log:
        # the engine measures set-up from here: the JVM's own start-up
        # counts in setup_s
        cmd.append(f"launched={time.time() * 1e3:.3f}")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"engine timed out after {JVM_TIMEOUT_S} s "
                 f"(log: {run_dir}/engine.log)")
    if code != 0:
        with open(f"{run_dir}/engine.log") as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"engine exited with {code}")
    if args["kind"] == "train":
        return []
    with open(f"{run_dir}/records.jsonl") as f:
        return [json.loads(line) for line in f]


def class_archive(classpath, cfg, cores):
    """Path of the JVM class-data-sharing archive for this classpath.  The
    first call makes it with a training run that loads every workload's
    classes over the tiny inputs; mapping it saves each later engine start
    most of its class loading."""
    h = hashlib.sha256()
    for jar in classpath:
        st = os.stat(jar)
        h.update(f"{jar}:{st.st_size}:{st.st_mtime_ns}".encode())
    archive = os.path.abspath(os.path.join(
        build.OUT, f"classes-{h.hexdigest()[:16]}.jsa"))
    if not os.path.exists(archive):
        run_dir = os.path.abspath(os.path.join(RUNS, "train"))
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        queries = sorted({q for w in cfg["workloads"].values()
                          for q in list(w.get("mix", {})) + [
                              q for qs in w.get("groups", {}).values()
                              for q in qs]})
        run_engine(classpath, run_dir, {
            "kind": "train", "out": run_dir, "cores": cores,
            "warm": fixtures.test_fixture(WARM_SF),
            "warm_land": warm_trades(),
            "queries": ",".join(f"{q}:train" for q in queries)},
            archive + ".tmp")
        os.rename(archive + ".tmp", archive)
        shutil.rmtree(run_dir)
    return archive


# --- output checks ---------------------------------------------------------

def duck(fixture, cores):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={cores}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet')")
    return con


def diff(got, want):
    """None when two arrow tables are equal as the oracle compare sees
    them (tools/compare.py: sorted columns, type-aware values, sorted
    rows), else the reason."""
    if "tools" not in sys.path:
        sys.path.insert(0, "tools")
    from compare import rows_of, type_diff
    gc, gr = rows_of(got)
    wc, wr = rows_of(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    td = type_diff(got, want)
    if td:
        return "types " + "; ".join(f"{c}: {a} vs {b}" for c, a, b in td)
    gr, wr = sorted(gr, key=repr), sorted(wr, key=repr)
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    bad = sum(1 for a, b in zip(gr, wr) if a != b)
    return f"{bad}/{len(gr)} rows differ" if bad else None


def check_queries(run_dir, fixture, key, cores):
    """{query: None | reason} for every query result the engine saved.
    ``fixture`` is the content the seed's copy permutes; its oracle answers
    are cached per oracle text under the content's ``key``."""
    import pyarrow.parquet as pq
    with open(f"{run_dir}/oracle.json") as f:
        oracle = json.load(f)
    cache = os.path.join(DATA, f"oracle-{key}")
    os.makedirs(cache, exist_ok=True)
    con, out = None, {}
    for name in sorted(os.listdir(f"{run_dir}/results")):
        if name not in oracle:
            out[name] = "no oracle"
            continue
        got = pq.read_table(glob.glob(f"{run_dir}/results/{name}/*.parquet"))
        key = hashlib.sha256(oracle[name].encode()).hexdigest()[:12]
        path = os.path.join(cache, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            con = con or duck(fixture, cores)
            pq.write_table(con.execute(oracle[name]).fetch_arrow_table(),
                           path + ".tmp")
            os.rename(path + ".tmp", path)
        out[name] = diff(got, pq.read_table(path))
    return out


CANDLES_SQL = """
WITH e AS (SELECT DISTINCT * FROM read_parquet('{landing}/*.parquet'))
SELECT user_id,
  arg_min(value, event_id) AS open, max(value) AS high, min(value) AS low,
  arg_max(value, event_id) AS close,
  CAST(SUM(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS volume,
  count(*) AS trade_count,
  CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS bucket_ts
FROM e GROUP BY user_id, bucket_ts
"""

FINAL_CANDLES_SQL = """
SELECT * EXCLUDE (batch_id) FROM read_parquet('{sink}/*.parquet')
QUALIFY row_number() OVER (PARTITION BY user_id, bucket_ts
                           ORDER BY batch_id DESC) = 1
"""


def check_candles(run_dir, cores):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={cores}")
    want = con.execute(CANDLES_SQL.format(
        landing=f"{run_dir}/landing")).fetch_arrow_table()
    if not glob.glob(f"{run_dir}/sink/*.parquet"):
        return "no candles written", want.num_rows
    got = con.execute(FINAL_CANDLES_SQL.format(
        sink=f"{run_dir}/sink")).fetch_arrow_table()
    return diff(got, want), want.num_rows


# --- workloads -------------------------------------------------------------

def serve_schedule(w, seed, seconds):
    """(due offset ms, query, warm-up request?) list.  ``mix`` gives each
    query's polls per minute in the reference; one minute of those polls,
    each query's spread evenly over it, is the cycle.  A run serves the
    ``rate * seconds`` requests of the cycle that follow a seeded point, at
    evenly spaced times, after the ``rate * warm_s`` requests before that
    point, which run first as warm-up and are checked but not timed."""
    import numpy as np
    rng = np.random.default_rng([seed, 11])
    mix = w["mix"]
    qs = sorted(mix)
    cycle = [q for _, q in sorted(
        ((j + (i + 0.5) / len(qs)) / mix[q], q)
        for i, q in enumerate(qs) for j in range(mix[q]))]
    rate = w["rate_per_s"]
    n, warm = int(rate * seconds), int(rate * w["warm_s"])
    first = int(rng.integers(len(cycle)))
    names = [cycle[(first + i) % len(cycle)] for i in range(-warm, n)]
    gap = 1000.0 / rate
    return [(i * gap, q, int(i < warm)) for i, q in enumerate(names)]


def prepare(w, seed, seconds, cores, run_dir):
    """Inputs for one run: (engine args, input sizes).  ``args["content"]``
    is the fixture whose rows the seed's copy permutes, ``args["key"]``
    names it."""
    base = fixtures.test_fixture(BASE_SF)
    content, key, sizes = base, f"sf{BASE_SF}", fixtures.sizes(base)
    if w["kind"] == "batch":
        k = w["replica"]
        key = f"sf{BASE_SF}x{k}"
        content, sizes = fixtures.cached(
            DATA, key, lambda d: fixtures.replica(base, d, k))
    fixture = content
    if w["kind"] != "ingest":
        fixture, _ = fixtures.cached(
            DATA, f"{key}-s{seed}",
            lambda d: fixtures.permuted(seed, content, d), keep=KEEP_SEEDS)
    args = {"kind": w["kind"], "out": run_dir, "cores": cores,
            "seconds": seconds, "seed": seed,
            "warm": fixtures.test_fixture(WARM_SF),
            "fixture": fixture, "content": content, "key": key}
    sizes = {"fixture": sizes}
    if w["kind"] == "serve":
        sched = serve_schedule(w, seed, seconds)
        with open(f"{run_dir}/schedule.tsv", "w") as f:
            f.writelines(f"{t:.3f}\t{q}\t{warm}\n" for t, q, warm in sched)
        args.update(schedule=f"{run_dir}/schedule.tsv", slots=cores,
                    queries=",".join(f"{q}:serve" for q in sorted(w["mix"])))
        sizes["requests"] = len(sched)
        sizes["warm_up_requests"] = sum(x[2] for x in sched)
        sizes["timed_requests"] = {q: sum(1 for x in sched
                                          if x[1] == q and not x[2])
                                   for q in sorted(w["mix"])}
    elif w["kind"] == "batch":
        args.update(queries=",".join(
            f"{q}:{g}" for g, qs in w["groups"].items() for q in qs))
    else:
        args.update(warm=warm_trades(), landing=f"{run_dir}/landing",
                    go=f"{run_dir}/go", done=f"{run_dir}/done")
        n_sched = int(seconds * 1000 / w["interval_ms"])
        sizes["trades"] = {"backlog_files": w["backlog_files"],
                           "scheduled_files": n_sched,
                           "rows_per_file": w["rows_per_file"]}
    return args, sizes


def warm_trades():
    """The tiny landing directory set-up warms the ingest chain over."""
    def make(d):
        import pyarrow.parquet as pq
        os.makedirs(d)
        for i, t in enumerate(fixtures.trade_files(0, 3, 200)):
            pq.write_table(t, f"{d}/warm-{i}.parquet")
        return {}
    return fixtures.cached(DATA, "trades-warm", make)[0]


def start_generator(w, seed, seconds, run_dir):
    """Start the trade generator and wait until it has landed the backlog,
    so that landing it does not overlap the engine's set-up."""
    n_sched = int(seconds * 1000 / w["interval_ms"])
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "trades.py"), str(seed),
         f"{run_dir}/landing", f"{run_dir}/go", f"{run_dir}/done",
         f"{run_dir}/landed.jsonl", str(w["backlog_files"]), str(n_sched),
         str(w["rows_per_file"]), str(w["interval_ms"])])
    until = time.time() + 60
    while not os.path.exists(f"{run_dir}/ready"):
        if gen.poll() is not None or time.time() > until:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
            fail("the trade generator did not land its backlog")
        time.sleep(0.02)
    return gen


def ingest_files(run_dir):
    """{file: micro-batch id} and {micro-batch id: commit epoch ms}, read
    from the stream checkpoint.  The file source numbers its own batches
    (it skips the no-data micro-batches), so a file's micro-batch is found
    through the offset log: micro-batch q reads the source batches after
    the previous micro-batch's log offset, up to its own."""
    ck = f"{run_dir}/ck"
    files_of = {}
    for p in glob.glob(f"{ck}/sources/0/*"):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    files_of.setdefault(e["batchId"], set()).add(
                        os.path.basename(e["path"]))
    ends = {}
    for p in glob.glob(f"{ck}/offsets/*"):
        if os.path.basename(p).isdigit():
            with open(p) as f:
                ends[int(os.path.basename(p))] = json.loads(
                    f.read().splitlines()[-1])["logOffset"]
    batch_of, last = {}, -1
    for q in sorted(ends):
        for src in range(last + 1, ends[q] + 1):
            for name in files_of.get(src, ()):
                batch_of[name] = q
        last = max(last, ends[q])
    commit = {int(os.path.basename(p)): os.stat(p).st_mtime_ns / 1e6
              for p in glob.glob(f"{ck}/commits/*")
              if os.path.basename(p).isdigit()}
    return batch_of, commit


# --- metrics ---------------------------------------------------------------

def latencies(kind, ops, extra):
    """Per-operation latency, ms: a request from its due time to its last
    row; a batch pass from its first query's start to its last query's
    end (the batch user waits for the whole pass); a landed trade file
    from its scheduled landing to the commit of the micro-batch that emits
    its candle updates."""
    if kind == "ingest":
        return extra["freshness"]
    done = [o for o in ops if "error" not in o]
    if kind == "serve":
        return [o["end"] - o["due"] for o in done if not o["warm"]]
    return [max(o["end"] for o in done) - min(o["start"] for o in done)]


def setup_s(recs):
    """Seconds from the engine's launch to its first timed operation."""
    return next(r for r in recs if r["rec"] == "setup")["s"]


def end_to_end(kind, recs, ops, extra):
    return {"setup_s": (setup_s(recs), "s"),
            "cpu_ms": (cpu_per_op(kind, recs, ops, extra), "ms")}


def cpu_per_op(kind, recs, ops, extra, field="ms"):
    """Engine CPU time, all threads, per operation of the measured phase:
    per request (warm-up requests included, they run in the same phase),
    per batch pass, or per landed trade file (backlog included).  With
    ``field="jit_ms"``, the JIT compiler's share of it."""
    ms = next(r for r in recs if r["rec"] == "cpu")[field]
    n = extra["files"] if kind == "ingest" else (
        1 if kind == "batch" else len(ops))
    return ms / n


def summary(name, kind, recs, ops, extra, attempted, failed):
    """The workload's end-to-end figures under their per-workload names."""
    lat = latencies(kind, ops, extra)
    out = {"workload": name, "samples": len(lat),
           "fail_ratio": failed / attempted if attempted else 0.0,
           "peak_rss_mb": next(r for r in recs
                               if r["rec"] == "memory")["peak_rss_mb"],
           "setup_s": setup_s(recs)}
    out["cpu_ms"] = cpu_per_op(kind, recs, ops, extra)
    if kind == "serve":
        out.update(serve_p50_ms=pct(lat, 50), serve_p75_ms=pct(lat, 75),
                   serve_p90_ms=pct(lat, 90))
    elif kind == "batch":
        for g in ("corpus", "olap"):
            out[f"batch_{g}_s"] = sum(o["end"] - o["start"] for o in ops
                                      if o["group"] == g) / 1e3
    else:
        out.update(ingest_eps=extra["backlog_eps"],
                   ingest_fresh_p50_ms=pct(lat, 50),
                   ingest_fresh_p90_ms=pct(lat, 90))
    return out


def per_layer(kind, recs, ops, extra, cores):
    cpu_ms = cpu_per_op(kind, recs, ops, extra)
    jit_ms = cpu_per_op(kind, recs, ops, extra, "jit_ms")
    ops = [o for o in ops if not o.get("warm")]
    spans, tasks = {}, {}
    for r in recs:
        if r["rec"] == "span":
            spans.setdefault(r["op"], []).append(r)
        elif r["rec"] == "task":
            tasks.setdefault(r["op"], []).append(r)
    m = {}
    led = [ledger.op_ledger(o, spans.get(o["op"], []), tasks.get(o["op"], []))
           for o in ops if "error" not in o]
    if kind == "ingest":
        prog = [r for r in recs if r["rec"] == "progress" and r["rows"] > 0]
        op_ids = [f"batch-{p['batch']}" for p in prog]
        exec_wall = sum(p["trigger_ms"] for p in prog)
    else:
        prog = []
        op_ids = [o["op"] for o in ops if "error" not in o]
        exec_wall = sum(o["end"] - o["built"] for o in ops if "error" not in o)
    n = max(1, len(op_ids))
    t = [x for i in op_ids for x in tasks.get(i, [])]
    sp = [x for i in op_ids for x in spans.get(i, [])]

    def per_op(v):
        return v / n

    m["queries.build_ms"] = mean([x["build_ms"] for x in led])
    m["queries.build_jobs"] = mean([x["build_jobs"] for x in led])
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = mean([x["phases"].get(ph, 0.0) for x in led])
    m["dispatch.jobs"] = per_op(sum(1 for s in sp if s["kind"] == "job"))
    m["dispatch.stages"] = per_op(sum(1 for s in sp if s["kind"] == "stage"))
    m["dispatch.tasks"] = per_op(len(t))
    m["dispatch.driver_gap_ms"] = mean([x["driver_gap_ms"] for x in led])
    m["serve.queue_wait_ms"] = (mean([o["start"] - o["due"] for o in ops])
                                if kind == "serve" else
                                extra.get("queue_wait_ms", 0.0))
    m["exec.task_run_ms"] = per_op(sum(x["run_ms"] for x in t))
    m["exec.task_cpu_ms"] = per_op(sum(x["cpu_ms"] for x in t))
    m["exec.gc_ms"] = per_op(sum(x["gc_ms"] for x in t))
    m["exec.busy"] = (sum(x["run_ms"] for x in t) / (exec_wall * cores)
                      if exec_wall > 0 else 0.0)
    m["exec.max_task_ms"] = max([x["end"] - x["start"] for x in t],
                                default=0.0)
    m["exec.peak_exec_mem_mb"] = max([x["peak_mem"] for x in t],
                                     default=0) / 2**20
    m["exchange.shuffle_write_bytes"] = per_op(sum(x["shuffle_write"]
                                                   for x in t))
    m["exchange.shuffle_read_bytes"] = per_op(sum(x["shuffle_read"]
                                                  for x in t))
    m["exchange.fetch_wait_ms"] = per_op(sum(x["fetch_wait_ms"] for x in t))
    m["exchange.spill_bytes"] = per_op(sum(x["spill"] for x in t))
    m["scan.bytes"] = per_op(sum(x["scan_bytes"] for x in t))
    m["scan.rows"] = per_op(sum(x["scan_rows"] for x in t))
    out_rows = sum(o.get("rows", 0) for o in ops) + \
        sum(p["rows"] for p in prog)
    m["scan.rows_per_out_row"] = (sum(x["scan_rows"] for x in t) / out_rows
                                  if out_rows else 0.0)
    m["stream.batch_ms"] = mean([p["trigger_ms"] for p in prog])
    m["stream.add_batch_ms"] = mean([p["add_batch_ms"] for p in prog])
    m["stream.planning_ms"] = mean([p["planning_ms"] for p in prog])
    m["stream.wal_commit_ms"] = mean([p["wal_commit_ms"] for p in prog])
    m["stream.state_rows"] = max([p["state_rows"] for p in prog], default=0)
    m["stream.state_mem_mb"] = max([p["state_mem"] for p in prog],
                                   default=0) / 2**20
    m["stream.dup_dropped_rows"] = sum(p["dup_dropped"] for p in prog)
    m["stream.late_dropped_rows"] = sum(p["late_dropped"] for p in prog)
    m["sink.write_ms"] = mean([s["end"] - s["start"] for s in sp
                               if s["kind"] == "sink"])
    m["gen.serve_late_ms"] = (mean([o["late"] for o in ops])
                              if kind == "serve" else 0.0)
    m["gen.ingest_late_ms"] = extra.get("gen_late_ms", 0.0)
    for g in ("corpus", "olap"):
        m[f"batch.{g}_s"] = sum(o["end"] - o["start"] for o in ops
                                if kind == "batch" and o["group"] == g) / 1e3
    for layer in ("build", "execute", "job", "stage"):
        m[f"self.{layer}_ms"] = mean([x["self"].get(layer, 0.0) for x in led])
    lat = latencies(kind, ops, extra)
    m["trace.p50_ms"] = pct(lat, 50)
    m["trace.p90_ms"] = pct(lat, 90)
    m["trace.cpu_ms"] = cpu_ms
    m["jvm.jit_ms"] = jit_ms
    m["mem.peak_rss_mb"] = next(r for r in recs
                                if r["rec"] == "memory")["peak_rss_mb"]
    m["stream.backlog_rows_per_s"] = extra.get("backlog_eps", 0.0)
    for r in recs:
        if r["rec"] == "kernel":
            m[f"kernel.{r['name']}.rows_per_s"] = r["rows_per_s"]
    return m


UNITS = {"rows_per_s": "1/s", "_ms": "ms", "_s": "s", "bytes": "bytes",
         "_mb": "MB"}


def unit_of(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "ratio" if name.endswith(("busy", "per_out_row")) \
        else "count"


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("run from the root of a checkout: no src/main/scala here")
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}")
    w = cfg["workloads"][a.workload]
    cores = len(os.sched_getaffinity(0))

    classpath = build.build()
    archive = class_archive(classpath, cfg, cores)
    run_dir = os.path.abspath(os.path.join(RUNS, a.workload))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args, sizes = prepare(w, a.seed, a.seconds, cores, run_dir)
    args["trace"] = a.trace
    print("inputs: " + json.dumps(sizes))

    gen = None
    if w["kind"] == "ingest":
        gen = start_generator(w, a.seed, a.seconds, run_dir)
    content, key = args.pop("content"), args.pop("key")
    try:
        recs = run_engine(classpath, run_dir, args, archive)
    finally:
        if gen is not None:
            if gen.poll() is None:
                gen.terminate()
            gen.wait()

    ops = [r for r in recs if r["rec"] == "op"]
    extra, problems = {}, []
    if w["kind"] == "ingest":
        landed = [json.loads(x) for x in open(f"{run_dir}/landed.jsonl")]
        batch_of, commit = ingest_files(run_dir)
        fresh = [commit[batch_of[x["file"]]] - x["due_ms"] for x in landed
                 if x["file"] in batch_of and batch_of[x["file"]] in commit]
        drain = next(r for r in recs if r["rec"] == "drain")
        backlog_rows = w["backlog_files"] * w["rows_per_file"]
        # the backlog is drained when the last batch holding a backlog file
        # commits (not after the no-data batch that follows it)
        drained = max(commit[b] for f, b in batch_of.items()
                      if int(f[7:12]) < w["backlog_files"])
        # a file waits from its landing until the trigger lists the
        # landing directory for the batch that reads it
        began = {r["batch"]: r["start"] + r["list_ms"] for r in recs
                 if r["rec"] == "progress"}
        waits = [began[batch_of[x["file"]]] - x["landed_ms"] for x in landed
                 if batch_of.get(x["file"]) in began]
        extra = {"freshness": fresh, "queue_wait_ms": mean(waits),
                 "files": w["backlog_files"] + len(landed),
                 "backlog_eps": backlog_rows * 1e3 / (drained - drain["start"]),
                 "gen_late_ms": mean([x["landed_ms"] - x["due_ms"]
                                      for x in landed])}
        if not next(r for r in recs if r["rec"] == "ingest_end")[
                "generator_done"]:
            problems.append("the generator did not land every file in time")
        uncommitted = len(landed) - len(fresh)
        bad, n_candles = check_candles(run_dir, cores)
        attempted = len(landed) + w["backlog_files"]
        failed = uncommitted + (attempted if bad else 0)
        if uncommitted:
            problems.append(f"{uncommitted} landed files never committed")
        if bad:
            problems.append(f"final candles differ from DuckDB: {bad}")
        print(f"check: {n_candles} candles vs DuckDB: {bad or 'equal'}")
    else:
        checks = check_queries(run_dir, content, key, cores)
        first = {}
        for o in ops:
            if "error" not in o:
                first.setdefault(o["name"], o["hash"])
        failed = 0
        for o in ops:
            why = o.get("error") or checks.get(o["name"]) or (
                "result differs from the first response"
                if o["hash"] != first[o["name"]] else None)
            if why:
                failed += 1
                problems.append(f"{o['op']} {o['name']}: {why[:300]}")
        for q, why in sorted(checks.items()):
            print(f"check: {q} vs DuckDB: {why or 'equal'}")
        attempted = len(ops)
    for p in problems[:20]:
        print("FAIL " + p)

    print("summary: " + json.dumps(summary(a.workload, w["kind"], recs, ops,
                                           extra, attempted, failed)))
    if a.trace:
        metrics = {k: (v, unit_of(k)) for k, v in
                   per_layer(w["kind"], recs, ops, extra, cores).items()}
    else:
        metrics = end_to_end(w["kind"], recs, ops, extra)
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}, allow_nan=False))


if __name__ == "__main__":
    main()
