#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

It builds the program and the benchmark from source (sbt, offline) on the
first run, takes the workload's inputs (the committed sf0.01 fixture
tables, or a text corpus generated from the seed), runs the workload in one
JVM, checks every output against its oracle, prints each metric with
its unit, and prints one JSON object as the last line. `--trace 1` reports
the per-layer metrics instead, from a traced run made after an untraced run
of the same seed, and writes spans and one row per catalog query under
perfbench/out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import stats  # noqa: E402

CPUS = min(4, len(os.sched_getaffinity(0)))  # local[N]
RUN_LIMIT = 175     # seconds one workload run may take, not counting the build
BUILD_TIMEOUT = 840

# The catalog workload's queries, run in a seed-shuffled order: 24 of the
# 262, picked from two profiles of the whole catalog on the same tables (a
# traced cold pass, and a pass that drops every Ckpt entry before each
# query, which shows the cached keys each query uses) among the 233 whose
# DuckDB oracle SQL takes at most 0.5 s (so the check fits a run), whose
# modelled figures (each Ckpt key built once) match the whole catalog's cold
# pass within 10%: mean query time, Ckpt builds per query and their share
# of the time, jobs per query, construction / planning / execution shares,
# tasks per stage, and the p20-p90 of query time. Measured figures: README.md.
CATALOG = ["audit_expectations", "curate_curriculum", "curate_k_anonymity",
           "curate_t_closeness", "dedup_bias", "events_concurrency",
           "events_first_last", "graph_modularity", "multimodal_mp3",
           "multimodal_resize", "orders_abc", "q16_supplier_cnt", "q17_small_qty",
           "q8_market_share", "sample_weighted", "sim_pq_topk", "stats_benford",
           "stats_cohens_d", "stats_mad", "text_fingerprint", "text_pmi",
           "text_repeated_spans", "text_tfidf", "text_top_bigrams"]

# `catalog` times one pass, the cold one: a fresh JVM and session, with
# JIT, class loading and every Ckpt.cached build in it, as a user pays.
# (A warm pass after it was measured and dropped: its time spread between
# runs several times wider than the cold pass's, and it cost as much.)
# `mr-corpus` times warm passes after the cold one: round(--seconds /
# warm_pass_s) of them (at least two; 10 with --seconds 10, about 2 s each
# on a 4-core machine), of which the later half is measured. A count, not
# a time budget, so the measured passes sit at the same place on the JIT
# warm-up curve whatever the machine's speed.
WORKLOADS = {
    "catalog": {"kind": "catalog", "tables": "data/sf0.01", "queries": CATALOG,
                "warm_pass_s": None},
    "mr-corpus": {"kind": "mr", "mb": 6, "files": 24, "vocab": 50_000,
                  "zipf_s": 1.0, "sigma": 1.0, "warm_pass_s": 1.0},
}

E2E = [("setup_s", "s"), ("pass_s", "s")]
# Per-pass layer metrics, reported for the measured passes (median over them).
PASS_LAYER = [
    ("ckpt.builds", "count"), ("ckpt.build_s", "s"), ("ckpt.evictions", "count"),
    ("ckpt.storage_mb", "MB"), ("storage.used_mb", "MB"),
    ("ops.construct_self_s", "s"), ("plans.plan_s", "s"),
    ("exec.wall_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.tasks_per_stage", "ratio"),
    ("exec.one_task_stages", "count"), ("exec.core_busy_ratio", "ratio"),
    ("exec.core_s", "s"), ("exec.job_gap_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.gc_s", "s"), ("exec.task_failures", "count"),
    ("sources.list_s", "s"), ("sources.read_mb", "MB"), ("sources.write_mb", "MB"),
    ("mr.map_stage_s", "s"), ("mr.reduce_stage_s", "s"),
    ("mr.shuffle_records", "count"), ("mr.spill_mb", "MB"),
]
PER_LAYER = ([("sessions.start_s", "s"), ("tables.resolve_s", "s"),
              ("storage.warmup_s", "s")]
             + PASS_LAYER + [("trace.pass_s", "s"), ("trace.overhead_s", "s")])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def _stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in d.split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _sbt_env():
    """Offline sbt, with the program's default JVM options (the environment's
    SPARK_DRIVER_MEM and SPARK_GRAFT_JVM overrides are dropped)."""
    env = dict(os.environ, COURSIER_MODE="offline")
    env.pop("SPARK_DRIVER_MEM", None)
    env.pop("SPARK_GRAFT_JVM", None)
    sbt_opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    return env


def build():
    """JVM options and classpath of the built benchmark (builds if stale)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        fail("the program's sources (build.sbt, src/main/scala, tools/check.py) "
             "are not next to perfbench/")
    launch = os.path.join(BENCH, "target", "launch.txt")
    stamp = _stamp()
    if os.path.isfile(launch) and os.path.isfile(launch + ".stamp"):
        with open(launch + ".stamp") as fh:
            if fh.read() == stamp:
                with open(launch) as lf:
                    lines = lf.read().splitlines()
                if all(os.path.exists(p) for p in lines[-1].split(os.pathsep)):
                    return lines
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        code = _wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
            cwd=BENCH, env=_sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True), BUILD_TIMEOUT)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {code}); log in {log}")
    with open(launch + ".stamp", "w") as fh:
        fh.write(stamp)
    with open(launch) as fh:
        return fh.read().splitlines()


def _wait(proc, timeout):
    """Exit code of `proc`; on timeout its whole process group is killed."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


# ---------------------------------------------------------------- inputs

def inputs(name, cfg, seed):
    """The workload's input directory, relative to the repository root: the
    committed fixture tables (catalog), or the corpus generated once per
    seed and generator version (mr); corpora of other seeds are removed."""
    if cfg["kind"] == "catalog":
        return os.path.relpath(os.path.join(BENCH, cfg["tables"]), ROOT)
    tag = f"corpus-{cfg['mb']}mb-seed{seed}"
    path = os.path.join(WORK, tag)
    os.makedirs(WORK, exist_ok=True)
    for old in os.listdir(WORK):
        if old.startswith(tag.rsplit("-seed", 1)[0] + "-seed") and old != tag:
            shutil.rmtree(os.path.join(WORK, old))
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()
    done = os.path.join(path, "_done")
    if not os.path.isfile(done) or open(done).read() != version:
        shutil.rmtree(path, ignore_errors=True)
        gen.corpus(path, seed, cfg["mb"], cfg["files"], cfg["vocab"],
                   cfg["zipf_s"], cfg["sigma"])
        with open(done, "w") as fh:
            fh.write(version)
    return os.path.relpath(path, ROOT)


# ---------------------------------------------------------------- one JVM run

def warm_passes(cfg, seconds):
    """How many warm passes follow the cold one."""
    if cfg["warm_pass_s"] is None:
        return 0
    return max(2, round(seconds / cfg["warm_pass_s"]))


def run_jvm(name, cfg, data, seed, seconds, trace, deadline):
    """Run the workload once in a fresh JVM, killed at `deadline`
    (time.monotonic()); return its record with every operation marked
    failed or not (errors, oracle mismatches). A traced catalog run is not
    checked against the DuckDB oracle: its untraced twin of the same seed
    and build is."""
    launch = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    record = os.path.join(run_dir, "record.json")
    args = [f"workload={name}", f"data={data}", f"work={run_dir}", f"out={record}",
            f"warm={warm_passes(cfg, seconds)}",
            f"cpus={CPUS}", f"trace={int(trace)}", f"dump={int(not trace)}"]
    if cfg["kind"] == "catalog":
        order = list(cfg["queries"])
        random.Random(seed).shuffle(order)
        args.append("queries=" + ",".join(order))
    cmd = (["java"] + launch[:-1] +
           [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-XX:-UsePerfData", "-cp", launch[-1], "perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        code = _wait(subprocess.Popen(cmd, cwd=os.path.realpath(ROOT), stdout=fh,
                                      stderr=subprocess.STDOUT, start_new_session=True),
                     max(1.0, deadline - time.monotonic()))
    if code != 0 or not os.path.isfile(record):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"{name}: benchmark JVM failed (exit {code}); log in {log}")
    with open(record) as fh:
        rec = json.load(fh)
    rec["mismatch"] = {}
    if cfg["kind"] == "catalog" and not trace:
        rec["mismatch"] = oracle_mismatches(data, os.path.join(run_dir, "dump"),
                                            cfg["queries"], deadline)
    for op in rec["ops"]:
        op["seconds"] = (op["end"] - op["start"]) / 1e6
        op["failed"] = (op["error"] is not None or op["ok"] is False
                        or op["name"] in rec["mismatch"])
    return rec


def oracle_mismatches(data, dump, queries, deadline):
    """Query -> reason, for every query whose dumped result differs from
    its DuckDB oracle answer. The repository's own check (tools/check.py)
    compares them."""
    sql = os.path.join(dump, "oracle_sql.json")
    if not os.path.isfile(sql):
        return {q: "no dump" for q in queries}
    with open(sql) as fh:
        oracle = json.load(fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"),
         os.path.join(ROOT, data), dump],
        cwd=os.path.dirname(dump), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))[0]
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return {q: "oracle check timed out" for q in queries}
    return verdicts(out, [q for q in queries if q in oracle], proc.returncode) | {
        q: "no oracle SQL" for q in queries if q not in oracle}


def verdicts(out, queries, code):
    """Query -> reason for each of `queries` that tools/check.py's output
    `out` (exit code `code`) does not pass with an "OK" line."""
    ok, bad = set(), {}
    for line in out.splitlines():
        if line.startswith("OK "):
            ok.add(line.split()[1])
        elif line.startswith("FAIL "):
            q, _, why = line[5:].partition(": ")
            bad[q] = why
    return {q: bad.get(q, f"no verdict from tools/check.py (exit {code})")
            for q in queries if q not in ok}


# ---------------------------------------------------------------- metrics

def measured(passes):
    """The measured passes: the cold pass 0 of a run without warm passes,
    else the later half of warm passes 1..n (the earlier half lets JIT
    compilation and caches settle)."""
    warm = sorted(p for p in set(passes) if p > 0)
    return warm[len(warm) // 2:] if warm else [0]


def end_to_end(rec):
    """End-to-end metrics of a record, and the counts behind them, from its
    measured passes."""
    by_pass = {}
    for op in rec["ops"]:
        by_pass[op["pass"]] = by_pass.get(op["pass"], 0.0) + op["seconds"]
    keep = measured(by_pass)
    lat = stats.latencies([op for op in rec["ops"] if op["pass"] in keep])
    p95, pct, n = stats.tail_percentile(lat)
    metrics = {
        "setup_s": rec["setup"]["total_s"],
        "pass_s": stats.median([by_pass[p] for p in keep]),
    }
    info = {"query_p50_s": stats.quantile(lat, 0.5), "query_p95_s": p95,
            "samples": n, "p95_percentile": pct, "measured_passes": len(keep),
            "warm_passes": len(by_pass) - 1, "attempted": len(rec["ops"]),
            "failed": sum(op["failed"] for op in rec["ops"])}
    return metrics, info


def _pass_metrics(rec, p, ops, spans, jobs, own, stages_of, evicted):
    """Layer metrics of one pass `p` (a record of rec["passes"])."""
    by_id = {s["id"]: s for s in spans}
    ids = {o["id"] for o in ops}
    sp = [s for s in spans if s["op"] in ids
          or (s["op"] == 0 and p["start"] <= s["start"] <= p["end"])]
    jb = [j for j in jobs if j["op"] in ids]
    exec_ids = {s["id"] for s in sp if s["name"] in ("exec", "mr.run")}
    st_all = [st for j in jb for st in stages_of.get(j["job"], [])]
    st_exec = [st for j in jb if j["parent"] in exec_ids
               for st in stages_of.get(j["job"], [])]
    st_mr = [st for j in jb if by_id[j["parent"]]["name"] == "mr.run"
             for st in stages_of.get(j["job"], [])]

    def dur(name):
        return sum(s["end"] - s["start"] for s in sp if s["name"] == name) / 1e6

    def stage_s(sts):
        return sum(max(0, st["end"] - st["submit"]) for st in sts) / 1e3

    def total(sts, key, scale=1):
        return sum(st[key] for st in sts) / scale

    exec_wall = dur("exec") + dur("mr.run")
    tasks = total(st_all, "tasks")
    return {
        "ckpt.builds": sum(len(o["builds"]) for o in ops),
        "ckpt.build_s": sum(b[1] for o in ops for b in o["builds"]),
        "ckpt.evictions": sum(evicted.get(i, 0) for i in ids),
        "ckpt.storage_mb": p["rdd_storage_mb"],
        "storage.used_mb": p["storage_used_mb"],
        "ops.construct_self_s": sum(own[s["id"]] for s in sp
                                    if s["name"] == "ops.construct") / 1e6,
        "plans.plan_s": dur("plans.plan"),
        "exec.wall_s": exec_wall,
        "exec.jobs": len(jb),
        "exec.stages": len(st_all),
        "exec.tasks": tasks,
        "exec.tasks_per_stage": tasks / len(st_all) if st_all else 0.0,
        "exec.one_task_stages": sum(st["tasks"] == 1 for st in st_all),
        "exec.core_busy_ratio": (total(st_exec, "runMs", 1e3) / (exec_wall * rec["cpus"])
                                 if exec_wall else 0.0),
        "exec.core_s": exec_wall * rec["cpus"],
        "exec.job_gap_s": sum(own[i] for i in exec_ids) / 1e6,
        "exec.shuffle_write_mb": total(st_all, "shuffleWriteBytes", 1e6),
        "exec.shuffle_read_mb": total(st_all, "shuffleReadBytes", 1e6),
        "exec.spill_mb": total(st_all, "spillBytes", 1e6),
        "exec.gc_s": total(st_all, "gcMs", 1e3),
        "exec.task_failures": total(st_all, "failedTasks"),
        "sources.list_s": dur("sources.list"),
        "sources.read_mb": total(st_mr, "inputBytes", 1e6),
        "sources.write_mb": total(st_mr, "outputBytes", 1e6),
        "mr.map_stage_s": stage_s([st for st in st_mr if st["shuffleWriteBytes"] > 0]),
        "mr.reduce_stage_s": stage_s([st for st in st_mr if st["shuffleWriteBytes"] == 0]),
        "mr.shuffle_records": total(st_mr, "shuffleWriteRecords"),
        "mr.spill_mb": total(st_mr, "spillBytes", 1e6),
    }


def _children(spans, intervals, name, first_id):
    """Spans for intervals the JVM reported in epoch ms (Spark jobs,
    planning phases), each under the innermost benchmark span holding its
    midpoint and sharing that span's `op`."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for i, (start, end) in enumerate(intervals):
        start, end = start * 1000, max(end, start) * 1000
        mid = (start + end) / 2
        home = [s for s in spans if s["start"] <= mid <= s["end"]]
        parent = max(home, key=lambda s: s["start"])["id"] if home else 0
        out.append({"id": first_id + i, "parent": parent,
                    "op": by_id[parent]["op"] if parent else 0,
                    "name": name, "start": start, "end": end})
    return out


def per_layer(rec, untraced):
    """Per-layer metrics of a traced record; `untraced` holds the untraced
    run's end-to-end metrics of the same seed (for the tracing overhead).
    Also returns one row per catalog query execution and the spans, Spark
    jobs and Catalyst planning phases included."""
    spans = [dict(s) for s in rec["spans"]]
    top = max([s["id"] for s in spans], default=0)
    jobs = _children(spans, [(j["start"], j["end"]) for j in rec["jobs"]],
                     "spark.job", top + 1)
    for j, job in zip(rec["jobs"], jobs):
        job["job"] = j["id"]
    plans = _children(spans, [(p["start"], p["end"]) for p in rec["phases"]],
                      "plans.plan", top + 1 + len(jobs))
    own = stats.self_times(spans + jobs + plans)
    spans += plans
    stages_of = {}
    for st in rec["stages"]:
        if st["tasks"] > 0:
            stages_of.setdefault(st["job"], []).append(st)
    seen, evicted = set(), {}
    for op in sorted(rec["ops"], key=lambda o: o["id"]):
        for b in op["builds"]:
            if b[0] in seen:
                evicted[op["id"]] = evicted.get(op["id"], 0) + 1
            seen.add(b[0])

    per_pass = {}
    for p in rec["passes"]:
        ops = [o for o in rec["ops"] if o["pass"] == p["index"]]
        per_pass[p["index"]] = _pass_metrics(rec, p, ops, spans, jobs, own,
                                             stages_of, evicted)
    warm = [per_pass[i] for i in measured(per_pass)]
    out = {
        "sessions.start_s": rec["setup"]["sessions_s"],
        "tables.resolve_s": rec["setup"]["tables_s"],
        "storage.warmup_s": rec["setup"]["warmup_s"],
    }
    out.update({k: stats.median([m[k] for m in warm]) for k in warm[0]})
    traced = end_to_end(rec)[0]
    out["trace.pass_s"] = traced["pass_s"]
    out["trace.overhead_s"] = traced["pass_s"] - untraced["pass_s"]

    rows = []
    if rec["workload"] == "catalog":
        for o in rec["ops"]:
            osp = [s for s in spans if s["op"] == o["id"]]
            oj = [j for j in jobs if j["op"] == o["id"]]
            ost = [st for j in oj for st in stages_of.get(j["job"], [])]
            rows.append({
                "pass": o["pass"], "query": o["name"], "failed": o["failed"],
                "total_s": o["seconds"],
                **{f"{k}_s": sum(s["end"] - s["start"] for s in osp if s["name"] == n) / 1e6
                   for k, n in (("construct", "ops.construct"), ("plan", "plans.plan"),
                                ("exec", "exec"))},
                "ckpt_builds": len(o["builds"]),
                "ckpt_build_s": sum(b[1] for b in o["builds"]),
                "jobs": len(oj), "stages": len(ost),
                "tasks": sum(st["tasks"] for st in ost),
                "shuffle_read_mb": sum(st["shuffleReadBytes"] for st in ost) / 1e6,
                "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in ost) / 1e6,
                "spill_mb": sum(st["spillBytes"] for st in ost) / 1e6,
            })
    return out, rows, [dict(s, self=own[s["id"]]) for s in spans + jobs]


def write_trace(name, seed, rows, spans):
    """Spans as JSON lines and per-query rows as TSV under perfbench/out/."""
    os.makedirs(OUT, exist_ok=True)
    base = os.path.join(OUT, f"{name}-seed{seed}")
    with open(base + "-spans.jsonl", "w") as fh:
        for s in sorted(spans, key=lambda s: s["start"]):
            fh.write(json.dumps(s) + "\n")
    if rows:
        with open(base + "-queries.tsv", "w") as fh:
            fh.write("\t".join(rows[0]) + "\n")
            for r in rows:
                fh.write("\t".join(f"{v:.6f}" if isinstance(v, float) else str(v)
                                   for v in r.values()) + "\n")
    return base


# ---------------------------------------------------------------- entry

def failures(rec):
    """One line per failed operation of a record."""
    return ([f"{q}: {w}" for q, w in rec["mismatch"].items()]
            + [f"{o['name']}: {o['error']}" for o in rec["ops"] if o["error"]]
            + [f"{o['name']}: output differs from the oracle"
               for o in rec["ops"] if o["ok"] is False and not o["error"]])


def untraced_run(name, cfg, data, seed, seconds, reuse, deadline):
    """End-to-end metrics, counts and failures of an untraced run, saved
    per seed. With `reuse` (the traced run needs them only for its
    overhead) this seed's saved run of the same build is returned instead
    of running again (same sources, same run.py)."""
    with open(__file__, "rb") as fh:
        stamp = _stamp() + hashlib.sha256(fh.read()).hexdigest()
    key = os.path.join(WORK, f"untraced-{name}-{seconds:g}s-seed{seed}.json")
    if reuse and os.path.isfile(key):
        with open(key) as fh:
            run = json.load(fh)
        if run["stamp"] == stamp:
            return run["metrics"], run["info"], run["failures"]
    rec = run_jvm(name, cfg, data, seed, seconds, False, deadline)
    metrics, info = end_to_end(rec)
    with open(key, "w") as fh:
        json.dump({"stamp": stamp, "metrics": metrics, "info": info,
                   "failures": failures(rec)}, fh)
    return metrics, info, failures(rec)


def run_workload(name, seed, seconds, trace):
    cfg = WORKLOADS[name]
    build()
    deadline = time.monotonic() + RUN_LIMIT
    data = inputs(name, cfg, seed)
    metrics, info, failed = untraced_run(name, cfg, data, seed, seconds, trace, deadline)
    units = dict(E2E)
    if trace:
        traced = run_jvm(name, cfg, data, seed, seconds, True, deadline)
        layer, rows, spans = per_layer(traced, metrics)
        base = write_trace(name, seed, rows, spans)
        t_info = end_to_end(traced)[1]
        info["attempted"] += t_info["attempted"]
        info["failed"] += t_info["failed"]
        failed += failures(traced)
        metrics, units = layer, dict(PER_LAYER)
        print(f"{name}: spans in {base}-spans.jsonl"
              + (f", per-query rows in {base}-queries.tsv" if rows else ""))
    for why in failed:
        print(f"{name}: FAILED {why}")
    ratio, base_n = stats.failed_ratio(info["failed"], info["attempted"])
    for k, v in metrics.items():
        print(f"{name} {k} {v:.6g} {units[k]}")
    print(f"{name} failed_ratio {ratio:.6g} {info['failed']}/{base_n}")
    if not trace:
        for k in ("query_p50_s", "query_p95_s"):
            print(f"{name} {k} {info[k]:.6g} s (not a gated metric)")
        print(f"{name}: {info['samples']} query or job samples from "
              f"{info['measured_passes']} measured of {info['warm_passes'] + 1} passes; "
              f"query_p95_s is the p{100 * info['p95_percentile']:.1f} estimate")
    ok = info["failed"] == 0 and all(math.isfinite(v) for v in metrics.values())
    return {"correct": ok, "attempted": info["attempted"], "failed": info["failed"],
            "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": units[k]}
                        for k, v in metrics.items()}}


def self_test():
    """The benchmark's own tests: statistics (Python) and the MR oracle (sbt)."""
    code = subprocess.call([sys.executable, "-m", "unittest", "-q", "test_stats"], cwd=BENCH)
    build()
    code |= subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                            cwd=BENCH, env=_sbt_env())
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        sys.exit(self_test())
    if not a.workload:
        ap.error("--workload is required")
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {n: run_workload(n, a.seed, a.seconds, bool(a.trace)) for n in names}
    if len(names) == 1:
        result = results[names[0]]
    else:
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{n}.{k}": v for n, r in results.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
