#!/usr/bin/env python3
"""graft's benchmark: one command per workload, end-to-end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft (into target/) and
the JVM harness (perfbench/src, into .bench_build/) with sbt; later runs
reuse the build until a source changes. Inputs come from the seed: the
open-loop arrival schedule, the failing sink calls and the query order (the
query tables are fixed, made by datagen.py). The last line of stdout is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1; spans go to .bench_build/trace/). --seconds sets the length of
the open-loop ladder; the query workload's timed work is one cold and one
rerun pass whatever it is. Workloads, metrics and bounds are described in
BENCHMARK.json at the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import benchlib as bl
import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170

WORKLOADS = ("ingest_steady", "query")
# Open-loop ladder (items/s). On a 4-core host with 4 workers the knee is at
# 45-60k items/s, and about half that while the host runs slow; the high
# step stays below both. A warm-up at the high rate comes first, then
# ROUNDS rounds of the ladder; each rung reports its median over the rounds.
# The open-loop pipeline keeps its default trigger, flushInterval (1 s).
LADDER = (("low", 3000.0), ("mid", 8000.0), ("high", 15000.0))
WARMUP_S = 5.0
ROUNDS = 2
TRIGGER_S = 1.0
LATENCY_LIMIT_MS = 2000.0  # flushInterval + one trigger period
# Query tables: TPC-H-like fixtures at scale factor 0.01, made once.
DATA_SCALE, DATA_SEED = 0.01, 42
# Query workload: 17 relational q* queries, every second one of the 32
# fastest (warm, on these tables) plus q06, whose time is mostly fixed
# per-job cost (table open, Catalyst, job launch) and which use no memo; and
# 3 dedup d* queries: d05 builds the MinHash cluster-label memo, which d16
# replays (whichever runs first builds it), and d04 has no memo.
QUERIES = (
    "q10_topk_orders", "q62_bitwise", "q32_date_arith", "q21_json_extract",
    "q38_unnest_pos", "q57_array_funcs", "q72_edit_distance", "q13_except",
    "q43_hash_sample", "q18_having", "q16_case_arith", "q08_window_topn",
    "q17_rollup", "q51_scalar_subquery", "q68_unpivot", "q14_monthly_revenue",
    "q06_anti_join", "d04_embed_neardup", "d05_dedup_survivors", "d16_dedup_keep_best")
# -Xms = -Xmx: the System.gc() before each timed phase would otherwise shrink
# the heap, and the rounds after it ran slower until it had grown back.
JAVA_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"] + [
    arg for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def _run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile graft and the harness if any source changed. Returns the
    classpath and the hash of the sources it was built from."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are missing; run from a checkout "
             "of the repository root")
    h = hashlib.sha256()
    for f in _source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true -Dsbt.server.autostart=false").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = _run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "writeClasspath"], 840, cwd=HERE, env=env,
                        stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as c:
        return c.read(), stamp


# ---------------------------------------------------------------- inputs

def schedule(seed, seconds):
    """Poisson arrivals: a warm-up at the high rate, then ROUNDS rounds of
    the ladder, each step `seconds` / (3 * ROUNDS). Returns, per item, the
    due time (ms), the ladder step and the segment (round * 3 + step); both
    are -1 in the warm-up."""
    rng = np.random.default_rng(seed)
    dur = seconds / (len(LADDER) * ROUNDS)
    steps = [(-1, LADDER[-1][1], WARMUP_S)] + [
        (i, rate, dur) for _ in range(ROUNDS) for i, (_, rate) in enumerate(LADDER)]
    due, step, seg, t0 = [], [], [], 0.0
    for k, (i, rate, d) in enumerate(steps):
        n = int(rate * d * 1.3) + 100
        t = t0 + np.cumsum(rng.exponential(1.0 / rate, n))
        t = t[t < t0 + d]
        due.append(t * 1e3)
        step.append(np.full(t.size, i))
        seg.append(np.full(t.size, k - 1))
        t0 += d
    return np.concatenate(due), np.concatenate(step), np.concatenate(seg)


def query_order(seed):
    rng = np.random.default_rng(seed)
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


# ---------------------------------------------------------------- metrics

def host_loop_s():
    """Seconds for a fixed pure-Python loop: a record of how fast the machine
    ran at the time, to tell a slow machine from a slow program."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


def _git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def ingest_metrics(r, out, due_ms, step, seg, trace):
    s, b = r["steady"], r["burst"]
    done = np.fromfile(os.path.join(out, "done_ms.f64"), dtype="<f8")
    lat = bl.open_loop_latency(due_ms, done)
    failed, problems = 0, []
    for phase, acc in (("steady", s), ("burst", b)):
        f, p = bl.ledger_failures(acc["items"], acc["stat"], acc["ids_missing"])
        failed += f
        problems += [f"{phase}: {x}" for x in p]
    timed = step >= 0
    lt = lat[timed]
    delivered = lt[~np.isnan(lt)]
    # the sink calls, not the items, are the independent samples: those that
    # delivered a batch after the warm-up: about 11 per second of ladder.
    # The tail stays at p90, so that a longer ladder (18 s gives 185-200
    # calls, at the rule's step to p95) does not change the quantile from
    # run to run.
    ladder_from_ns = s["origin_ns"] + WARMUP_S * 1e9
    calls = sum(1 for c in s["sink_calls"] if c[6] == 0 and c[0] >= ladder_from_ns)
    tail_v, tail_q = bl.tail(delivered, n=calls, max_q=0.9)
    rates = [b["round_items"] / x for x in b["round_s"]]
    e2e = {
        "latency_p50_ms": bl.percentile(delivered, 0.5),
        "latency_tail_ms": tail_v,
        "throughput_per_s": statistics.median(rates),
    }
    info = {"items": int(timed.sum()), "tail_quantile": tail_q, "problems": problems,
            "sink_calls": calls, "closed_loop_rates": rates}
    attempted = s["items"] + b["items"]
    if not trace:
        return e2e, attempted, failed, info, {}
    return e2e, attempted, failed, info, ingest_layers(r, out, due_ms, lat, step, seg)


def ingest_layers(r, out, due_ms, lat, step, seg):
    s, b = r["steady"], r["burst"]
    m = {}
    base = s["base_epoch_ms"]
    origin_ms = s["origin_ns"] / 1e6
    bt = (np.array([t for t, _ in s["backlog"]], dtype=float) - s["origin_ns"]) / 1e6
    bp = np.array([p for _, p in s["backlog"]], dtype=float)
    sustained = 0.0
    for i, (name, rate) in enumerate(LADDER):
        p50s, p99s, ok, n, span_s = [], [], True, 0, 0.0
        for k in np.unique(seg[step == i]):
            sel = seg == k
            d = lat[sel]
            d = d[~np.isnan(d)]
            if not d.size:
                ok = False
                continue
            p50s.append(bl.percentile(d, 0.5))
            p99s.append(bl.percentile(d, 0.99))
            t_lo, t_hi = due_ms[sel].min(), due_ms[sel].max()
            in_step = (bt >= t_lo) & (bt <= t_hi)
            growth = bl.trough_slope(bt[in_step] / 1e3, bp[in_step], TRIGGER_S)  # items/s
            # not sustained: p99 over the limit, or a backlog growing by
            # more than a tenth of the offered rate
            ok = ok and p99s[-1] <= LATENCY_LIMIT_MS and growth < 0.1 * rate
            n += d.size
            span_s += (t_hi - t_lo) / 1e3
        m[f"item_latency_p50_ms.{name}"] = float(np.median(p50s)) if p50s else 0.0
        m[f"item_latency_p99_ms.{name}"] = float(np.median(p99s)) if p99s else 0.0
        if ok and span_s > 0:
            sustained = n / span_s
    m["core.sustained_items_per_s"] = sustained
    sent = np.fromfile(os.path.join(out, "sent_ms.f64"), dtype="<f8")
    late = bl.lateness(due_ms, sent)
    m["core.generator_lag_ms_p99"] = bl.percentile(late, 0.99)
    m["core.generator_lag_ms_max"] = float(np.max(late))
    # micro-batches of the steady pipeline after its warm-up, from
    # StreamingQueryProgress
    progress = [p for p in r["trace"]["progress"] if p["query"] == "steady" and p["rows"] > 0
                and p["start_ms"] >= base + origin_ms + WARMUP_S * 1e3 - 1]
    dur = lambda p, *ks: sum(p["duration_ms"].get(k, 0) for k in ks)
    trig = [dur(p, "triggerExecution") for p in progress]
    m["core.microbatches"] = len(progress)
    m["core.microbatch_ms_p50"] = bl.percentile(trig, 0.5) if trig else 0.0
    m["core.microbatch_ms_p99"] = bl.percentile(trig, 0.99) if trig else 0.0
    m["core.microbatch_plan_ms"] = bl.percentile(
        [dur(p, "queryPlanning", "getBatch", "latestOffset") for p in progress], 0.5)
    m["core.microbatch_log_ms"] = bl.percentile(
        [dur(p, "walCommit", "commitOffsets") for p in progress], 0.5)
    m["core.addbatch_ms_p50"] = bl.percentile([dur(p, "addBatch") for p in progress], 0.5)
    start_of = {p["batch_id"]: p["start_ms"] - base - origin_ms for p in progress}
    batch_of = np.fromfile(os.path.join(out, "batch_of.f64"), dtype="<f8")
    admit = np.array([start_of.get(int(x), np.nan) if not np.isnan(x) else np.nan
                      for x in batch_of])
    qwait = admit - sent
    qwait = qwait[~np.isnan(qwait) & (step >= 0)]
    m["core.queue_wait_ms_p50"] = bl.percentile(qwait, 0.5) if qwait.size else 0.0
    calls = s["sink_calls"]
    ok = [c for c in calls if c[6] == 0]
    b2s = [c[0] / 1e6 - origin_ms - start_of[c[4]] for c in ok if c[4] in start_of]
    m["core.batch_to_sink_ms_p50"] = bl.percentile(b2s, 0.5) if b2s else 0.0
    qid = {p["query_id"] for p in progress}
    batches = {str(p["batch_id"]) for p in progress}
    stream_jobs = [j for j in r["trace"]["jobs"]
                   if j["query_id"] in qid and j["batch_id"] in batches]
    m["core.shard_shuffle_bytes"] = float(sum(j["shuffle_write"] for j in stream_jobs))
    # the timed closed-loop rounds
    t0 = b["timed_from_ns"]
    bcalls = [c for c in b["sink_calls"] if c[0] >= t0]
    bok = [c for c in bcalls if c[6] == 0]
    backlog = [(t / 1e9, p) for t, p in b["backlog"] if t >= t0]
    m["core.put_block_s"] = sum(e - x for x, e, _ in b["put_spans"] if x >= t0) / 1e9
    m["core.backlog_max"] = float(max((p for _, p in backlog), default=0))
    m["core.backlog_slope"] = bl.slope([t for t, _ in backlog], [p for _, p in backlog])
    m["core.sink_calls"] = float(len(bcalls))
    m["core.items_per_sink_call"] = float(np.mean([c[2] for c in bok])) if bok else 0.0
    m["core.sink_busy_s"] = sum(c[1] - c[0] for c in bcalls) / 1e9
    # retries and losses over both pipelines
    m["core.sink_retries"] = float(sum(1 for c in calls + b["sink_calls"] if c[3] > 0))
    m["core.items_dropped"] = float(s["stat"]["items_dropped"] + b["stat"]["items_dropped"])
    m["core.items_duplicated"] = float(s["items_duplicated"] + b["items_duplicated"])
    # spans and self time per micro-batch: trigger = plan + log + addBatch + rest;
    # addBatch = orchestration + jobs; jobs = Spark + sink calls
    spans, selfs, err = [], {k: 0.0 for k in (
        "core.plan", "core.log", "core.trigger_other", "core.addbatch_orchestration",
        "exec.jobs", "core.sink")}, 0.0
    for p in progress:
        s0 = p["start_ms"]
        t = dur(p, "triggerExecution")
        plan = dur(p, "queryPlanning", "getBatch", "latestOffset")
        logt = dur(p, "walCommit", "commitOffsets")
        add = dur(p, "addBatch")
        bj = [(j["start_ms"], j["end_ms"]) for j in stream_jobs
              if j["batch_id"] == str(p["batch_id"])]
        bs = [(base + c[0] / 1e6, base + c[1] / 1e6) for c in calls if c[4] == p["batch_id"]]
        jobs_u = min(add, bl.union_length(bj, s0, s0 + t))
        sink_u = min(jobs_u, bl.union_length(bs, s0, s0 + t))
        part = {"core.plan": plan, "core.log": logt,
                "core.trigger_other": t - plan - logt - add,
                "core.addbatch_orchestration": add - jobs_u, "exec.jobs": jobs_u - sink_u,
                "core.sink": sink_u}
        for k, v in part.items():
            selfs[k] += v / 1e3
        err = max(err, abs(sum(part.values()) - t))
        rid = f"batch-{p['batch_id']}"
        spans.append({"name": "microbatch", "start_ms": s0, "end_ms": s0 + t,
                      "parent": None, "request": rid, "self_ms": part})
        spans += [{"name": "job", "start_ms": x0, "end_ms": x1, "parent": "microbatch",
                   "request": rid} for x0, x1 in bj]
        spans += [{"name": "sink", "start_ms": x0, "end_ms": x1, "parent": "job",
                   "request": rid} for x0, x1 in bs]
    for phase, acc in (("steady", s), ("burst", b)):
        spans += [{"name": "put", "start_ms": acc["base_epoch_ms"] + x / 1e6,
                   "end_ms": acc["base_epoch_ms"] + e / 1e6,
                   "parent": None, "request": f"{phase}-put-{k}", "items": n}
                  for k, (x, e, n) in enumerate(acc["put_spans"])]
    for k, v in selfs.items():
        m[f"self_s.{k}"] = v
    m["trace.self_sum_error_ms"] = err
    return m, spans, stream_jobs


def query_metrics(r, trace):
    execs = r["execs"]
    timed = [e for e in execs if e["phase"] in ("cold", "rerun")]
    wall = [e["exec_end_ms"] - e["builder_start_ms"] for e in timed]
    total_s = sum(e["end_ms"] - e["builder_start_ms"] for e in timed) / 1e3
    tail_v, tail_q = bl.tail(wall)
    e2e = {
        "latency_p50_ms": bl.percentile(wall, 0.5),
        "latency_tail_ms": tail_v,
        "throughput_per_s": len(timed) / total_s,
    }
    info = {"executions": len(timed), "tail_quantile": tail_q}
    if not trace:
        return e2e, info, {}
    return e2e, info, query_layers(r, timed)


def query_layers(r, timed):
    jobs = r["trace"]["jobs"]
    plans = r["trace"]["plans"]
    for j in jobs:
        j["layer"] = bl.layer_of(j["details"])
    m = {k: 0.0 for k in (
        "tables.schema_jobs", "tables.schema_job_s", "builder.wall_s", "builder.jobs",
        "builder.wall_s.rerun", "builder.jobs.rerun", "catalyst.analysis_ms",
        "catalyst.optimizer_ms", "catalyst.planning_ms")}
    for mod in bl.OPERATOR_MODULES + ("other",):
        m[f"builder.jobs.{mod}"] = 0.0
    selfs = {k: 0.0 for k in ("harness", "operators", "tables", "builder_jobs",
                              "catalyst", "exec_orchestration", "exec.jobs")}
    spans, err = [], 0.0
    exec_jobs = []
    exec_wall = 0.0
    for n, e in enumerate(timed):
        b0, b1, x1, end = (e["builder_start_ms"], e["builder_end_ms"], e["exec_end_ms"],
                           e["end_ms"])
        rid = f"{e['phase']}-{e['pass']}-{e['name']}"
        rerun = e["phase"] == "rerun"
        bj = [j for j in jobs if b0 <= j["start_ms"] < b1]
        xj = [j for j in jobs if b1 <= j["start_ms"] < x1]
        exec_jobs += bj + xj
        iv = lambda js: [(j["start_ms"], j["end_ms"]) for j in js]
        tj = [j for j in bj if j["layer"] == "tables"]
        oj = [j for j in bj if j["layer"] != "tables"]
        tables_u = bl.union_length(iv(tj), b0, b1)
        builder_jobs_u = bl.union_length(iv(bj), b0, b1) - tables_u
        # Catalyst phases of the executed plan (the noop write's QueryExecution)
        ph = [p["phases"] for p in plans
              if any(b1 <= v[0] <= x1 for v in p["phases"].values())]
        cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for p in ph:
            for k in cat:
                if k in p:
                    cat[k] += p[k][1] - p[k][0]
        xj_u = bl.union_length(iv(xj), b1, x1)
        catalyst = min(sum(cat.values()), (x1 - b1) - xj_u)
        part = {"operators": (b1 - b0) - tables_u - builder_jobs_u, "tables": tables_u,
                "builder_jobs": builder_jobs_u, "catalyst": catalyst,
                "exec_orchestration": (x1 - b1) - xj_u - catalyst, "exec.jobs": xj_u,
                "harness": end - x1}
        for k, v in part.items():
            selfs[k] += v / 1e3
        err = max(err, abs(sum(part.values()) - (end - b0)))
        suffix = ".rerun" if rerun else ""
        m[f"builder.wall_s{suffix}"] += (b1 - b0) / 1e3
        m[f"builder.jobs{suffix}"] += len(bj)
        m["tables.schema_jobs"] += len(tj)
        m["tables.schema_job_s"] += sum(j["end_ms"] - j["start_ms"] for j in tj) / 1e3
        for j in oj:  # a builder job without a graft frame is its builder's
            mod = (j["layer"].split(".", 1)[1] if j["layer"].startswith("operators.")
                   else bl.builder_module(e["name"]))
            m[f"builder.jobs.{mod}"] += 1
        m["catalyst.analysis_ms"] += cat["analysis"]
        m["catalyst.optimizer_ms"] += cat["optimization"]
        m["catalyst.planning_ms"] += cat["planning"]
        exec_wall += (x1 - b1) / 1e3
        spans.append({"name": "query", "start_ms": b0, "end_ms": end, "parent": None,
                      "request": rid, "self_ms": part})
        spans.append({"name": "builder", "start_ms": b0, "end_ms": b1, "parent": "query",
                      "request": rid})
        spans.append({"name": "execute", "start_ms": b1, "end_ms": x1, "parent": "query",
                      "request": rid})
        for p in ph:
            for k, v in p.items():
                spans.append({"name": f"plan.{k}", "start_ms": v[0], "end_ms": v[1],
                              "parent": "execute", "request": rid})
        spans += [{"name": "job", "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                   "parent": "builder" if j in bj else "execute", "request": rid,
                   "layer": j["layer"]} for j in bj + xj]
    n = max(1, len(timed))
    for k in ("catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms"):
        m[k] /= n  # per query
    for k, v in selfs.items():
        m[f"self_s.{k}"] = v
    m["exec.wall_s"] = exec_wall
    m["trace.self_sum_error_ms"] = err
    return m, spans, exec_jobs


def exec_layers(jobs, wall_s, cpus, first_ms, last_ms):
    """Spark execution over `jobs` (job, stage, task totals)."""
    m = {}
    m["exec.jobs"] = float(len(jobs))
    m["exec.stages"] = float(sum(j["stages"] for j in jobs))
    m["exec.tasks"] = float(sum(j["tasks"] for j in jobs))
    m["exec.tasks_per_job"] = m["exec.tasks"] / max(1, len(jobs))
    m["exec.task_run_s"] = sum(j["task_run_ms"] for j in jobs) / 1e3
    m["exec.task_cpu_s"] = sum(j["task_cpu_ns"] for j in jobs) / 1e9
    m["exec.slot_busy_share"] = m["exec.task_run_s"] / max(1e-9, wall_s * cpus)
    busy = bl.union_length([(j["start_ms"], j["end_ms"]) for j in jobs], first_ms, last_ms)
    m["exec.job_idle_s"] = max(0.0, (last_ms - first_ms) - busy) / 1e3
    m["exec.shuffle_read_bytes"] = float(sum(j["shuffle_read"] for j in jobs))
    m["exec.shuffle_write_bytes"] = float(sum(j["shuffle_write"] for j in jobs))
    m["exec.spill_bytes"] = float(sum(j["spill"] for j in jobs))
    return m


# ---------------------------------------------------------------- correctness

def check_queries(data_dir, results, order, oracle):
    """Compare each result with DuckDB running the query's oracle SQL on the
    same parquet files, as tools/check_oracle.py does; queries without an
    oracle must return rows. Returns (failed names, messages)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in datagen.NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    bad, msgs = [], []
    for name in order:
        qdir = os.path.join(results, name)
        try:
            got = pd.read_parquet(qdir)
        except Exception as e:  # no output, or unreadable
            bad.append(name)
            msgs.append(f"{name}: no readable result ({e})")
            continue
        if name not in oracle:
            if len(got) == 0:
                bad.append(name)
                msgs.append(f"{name}: no rows")
            continue
        exp = con.execute(oracle[name]).df()
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        why = None
        if list(got.columns) != list(exp.columns):
            why = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            why = f"rows {len(got)} vs {len(exp)}"
        else:
            for c in got.columns:
                a, b = got[c], exp[c]
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    same = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0,
                                       equal_nan=True)
                else:
                    same = bool((a.astype(str).values == b.astype(str).values).all())
                if not same:
                    why = f"values differ in column {c}"
                    break
        if why:
            bad.append(name)
            msgs.append(f"{name}: {why}")
    con.close()
    return bad, msgs


# ---------------------------------------------------------------- main

def main():
    # a terminated run still stops the JVM it started (see _run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    cp, source_sha = build()
    cpus = os.cpu_count() or 1
    host_before = host_loop_s()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(inp)
    os.makedirs(out)
    args = ["--workload", a.workload, "--in", inp, "--out", out, "--seed", str(a.seed),
            "--trace", str(a.trace), "--cpus", str(cpus)]
    due_ms = step = seg = None
    data_dir = order = None
    if a.workload == "ingest_steady":
        due_ms, step, seg = schedule(a.seed, a.seconds)
        (due_ms * 1e6).astype("<f8").tofile(os.path.join(inp, "schedule_ns.f64"))
    else:
        data_dir = datagen.write(
            os.path.join(BUILD, "data", f"sf{DATA_SCALE}-seed{DATA_SEED}"), DATA_SCALE,
            DATA_SEED)
        order = query_order(a.seed)
        with open(os.path.join(inp, "order.txt"), "w") as fh:
            fh.write("\n".join(order) + "\n")
        args += ["--data", data_dir]
    log = os.path.join(run_dir, "jvm.log")
    budget = max(30.0, RUN_TIMEOUT_S - (time.monotonic() - started))
    with open(log, "w") as fh:
        try:
            rc = _run_group(["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + out, "-cp", cp,
                             "perfbench.Main"] + args, budget, cwd=run_dir, stdout=fh,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(result_file):
        with open(log) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-60:]))
        fail(f"JVM run failed ({rc}); log in {log}", 1)
    with open(result_file) as fh:
        r = json.load(fh)

    trace = a.trace == 1
    layers, spans, jobs = {}, [], []
    if a.workload == "ingest_steady":
        e2e, attempted, failed, info, tl = ingest_metrics(r, out, due_ms, step, seg, trace)
        if trace:
            layers, spans, jobs = tl
    else:
        e2e, info, tl = query_metrics(r, trace)
        if trace:
            layers, spans, jobs = tl
        bad, msgs = check_queries(data_dir, os.path.join(out, "results"), order,
                                  r["oracle_sql"])
        errors = [f"{e['name']} ({e['phase']}): {e['error']}" for e in r["execs"]
                  if e["error"]]
        failed_names = set(bad) | {e["name"] for e in r["execs"] if e["error"]}
        attempted = len(r["execs"])
        failed = sum(1 for e in r["execs"] if e["name"] in failed_names)
        info["problems"] = msgs + errors
    e2e["setup_s"] = statistics.median(r["setup_s"])
    units = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
             "throughput_per_s": "1/s"}
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "nproc": cpus, "heap_max_mb": r["heap_max_mb"], "commit": _git_commit(),
             "source_sha256": source_sha,
             "spark": r["spark_version"],
             "host_loop_s": [host_before, host_loop_s()], **info}
    if a.workload == "query":
        stamp["fixture_fingerprints"] = r["fingerprints"]
        stamp["data"] = f"sf{DATA_SCALE} seed {DATA_SEED}"
    if trace:
        # the timed queries, or the steady pipeline's micro-batches
        top = [s for s in spans if s["name"] in ("query", "microbatch")]
        t_first = min((s["start_ms"] for s in top), default=0.0)
        t_last = max((s["end_ms"] for s in top), default=0.0)
        layers.update(exec_layers(jobs, (t_last - t_first) / 1e3, cpus, t_first, t_last))
        layers["jvm.gc_s"] = r["gc_s"]
        layers["setup.cold_s"] = r["setup_s"][0]
        layers["jvm.peak_rss_mb"] = r["peak_rss_mb"]
        for k in PER_LAYER:
            layers.setdefault(k, 0.0)
        tdir = os.path.join(BUILD, "trace")
        os.makedirs(tdir, exist_ok=True)
        spans_file = os.path.join(tdir, f"{a.workload}-seed{a.seed}.spans.jsonl")
        with open(spans_file, "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        stamp["spans_file"] = os.path.relpath(spans_file, ROOT)
        stamp["spans"] = len(spans)
        stamp["end_to_end_while_traced"] = e2e
        metrics = {k: {"value": float(layers[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in e2e.items()}
    print("run: " + json.dumps(stamp, sort_keys=True), file=sys.stderr)
    correct = failed == 0 and all(np.isfinite(v["value"]) for v in metrics.values())
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


def _per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


PER_LAYER = {}

if __name__ == "__main__":
    PER_LAYER.update(_per_layer_units())
    main()
