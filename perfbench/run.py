#!/usr/bin/env python3
"""The graft engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) into perfbench/target. Each run then
generates its inputs from the seed, computes the reference results, starts
one JVM from the prebuilt classpath (local[4], 4 shuffle partitions), sets
up, measures for S seconds, checks every output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; --trace 1 registers the benchmark's Spark
listeners and prints the per-layer ones. See perfbench/BENCHMARK.md.
"""
import argparse
import fcntl
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import canon  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
ORACLES = os.path.join(TARGET, "oracle_sql.json")
BUILT = os.path.join(TARGET, "built.stamp")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
RUNS = os.path.join(ROOT, ".bench_runs")

# Every end-to-end metric is reported by every workload; BENCHMARK.md maps
# them to each workload's job.
UNITS = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "pipeline.construct_ms": "ms", "pipeline.construct_jobs": "count",
    "pipeline.construct_share": "ratio",
    "catalyst.plan_ms": "ms",
    "scan.time_ms": "ms", "scan.rows": "count", "scan.bytes": "bytes",
    "scan.files": "count",
    "ops.sort_ms": "ms", "ops.agg_ms": "ms", "ops.wscg_ms": "ms",
    "ops.spill_bytes": "bytes", "ops.income_kernel_ms": "ms",
    "exchange.write_bytes": "bytes", "exchange.write_ms": "ms",
    "exchange.fetch_wait_ms": "ms", "exchange.broadcast_ms": "ms",
    "exchange.partition_skew": "ratio",
    "operators.dedup_candidate_rows": "count", "operators.dedup_result_rows": "count",
    "operators.dedup_useful_ratio": "ratio", "operators.task_cpu_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.batches": "count",
    "streaming.input_rows": "count", "sink.bytes_written": "bytes",
    "sink.files_written": "count", "sink.write_amp": "ratio",
    "runtime.jobs": "count", "runtime.stages": "count", "runtime.tasks": "count",
    "runtime.sched_delay_ms": "ms", "runtime.gc_ms": "ms",
    "runtime.codegen_compiles": "count", "runtime.peak_exec_mem_mb": "MB",
    "runtime.sentinel_ms": "ms",
}

SERVE_USERS = 4
SERVE_TIMEOUT_MS = 30_000          # the reference API's timeout
THINK_MS = (50, 250)               # locust's 0.5-2.5 s, scaled by 1/10
LEADERBOARD_WEIGHT = 10            # the locust test only GETs /leaderboard
# The sentinel's quiet floor (graft.Bench's; 45-60 ms measured on a quiet
# 4-core box); a median of the run's ten probes above twice it marks the
# run hot. The probes just after set-up read higher while the JIT settles.
SENTINEL_FLOOR_MS = 48.0

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt")):
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compiles the engine and harness once per source state (sbt, outside
    every timed process) and exports the oracle SQL."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the repository root")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(BUILT) and os.path.getmtime(BUILT) >= _newest_source():
            return
        log("building engine and harness (sbt compile)")
        env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        env.setdefault("COURSIER_MODE", "offline")
        # Keep sbt's scratch (boot lock, temp files, server socket) in the
        # checkout.
        tmp = os.path.join(TARGET, "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
                            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                            f"-Djna.tmpdir={tmp}",
                            "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: build failed ({r.returncode})")
        r = subprocess.run(java_cmd("perfbench.ExportOracles", ORACLES, heap="1g", work=TARGET),
                           stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            raise SystemExit("perfbench: oracle export failed")
        with open(BUILT, "w") as f:
            f.write("ok\n")


def java_cmd(main, *args, heap="3g", work=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opts = [f"-Xmx{heap}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    if work:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts += [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
                 f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}"]
    return [java, *ADD_OPENS, *opts, "-cp", cp, main, *args]


# --------------------------------------------------------------- inputs

def serve_schedule(seed, views, users=SERVE_USERS, length=4000):
    """Per user, a seeded sequence of (endpoint, think ms): endpoints drawn
    with the leaderboard weighted LEADERBOARD_WEIGHT : 1, think times
    uniform in THINK_MS."""
    import numpy as np
    rng = np.random.default_rng([seed, 4])
    w = np.array([LEADERBOARD_WEIGHT if v == "pipe_leaderboard" else 1 for v in views], float)
    out = []
    for u in range(users):
        eps = rng.choice(len(views), length, p=w / w.sum())
        think = rng.integers(THINK_MS[0], THINK_MS[1] + 1, length)
        out.append([(views[e], int(t)) for e, t in zip(eps, think)])
    return out


# Input sizes (BENCHMARK.md gives the reasons).
EVENTS = dict(n_users=1_500, n_events=100_000, drop_frac=0.02, jitter=0.05)
VALIDATOR_DAYS = 30      # sf0.1's span: 1.5k keys x 30 epochs
INGEST_DAYS = 15         # 15 day files, one micro-batch each
CORPUS = dict(n_docs=3_000, n_vecs=1_500)


def make_inputs(workload, seed, work):
    """Generates the run's inputs; returns the JVM's input arguments and
    the table directory."""
    data = os.path.join(work, "data")
    args = ["--data", data]
    if workload in ("validator_refresh", "validator_serve"):
        ev = gen.validator_events(seed, 1, days=VALIDATOR_DAYS, **EVENTS)
        gen.write_tables(data, seed, ev)
    elif workload == "income_ingest":
        ev = gen.validator_events(seed, 1, days=INGEST_DAYS, **EVENTS)
        gen.write_tables(data, seed, ev)
        landing = os.path.join(work, "landing")
        gen.land_day_files(landing, seed, ev, INGEST_DAYS)
        args += ["--landing", landing]
    elif workload == "corpus_curate":
        gen.corpus_tables(data, seed, **CORPUS)
    if workload == "validator_serve":
        sched = os.path.join(work, "schedule.tsv")
        with open(sched, "w") as f:
            for u, plan in enumerate(serve_schedule(seed, VALIDATOR_VIEWS)):
                for ep, think in plan:
                    f.write(f"{u}\t{ep}\t{think}\n")
        args += ["--schedule", sched]
    return args, data


def expectations(workload, data, oracles):
    """{query: canonical hash} of the DuckDB oracles over the inputs (the
    ingest's reference is computed in the JVM)."""
    group = {"validator_refresh": "validator", "validator_serve": "validator",
             "corpus_curate": "corpus"}.get(workload)
    return canon.oracle_hashes(data, oracles[group], sorted(oracles[group])) if group else {}


# -------------------------------------------------------------- metrics

def failed_ops(workload, ops, expected):
    """Ops that threw, returned rows whose canonical hash differs from the
    reference, or (serving) answered slower than the API timeout."""
    return [o for o in ops if not o["ok"] or o["hash"] != expected.get(o["name"])
            or (workload == "validator_serve" and o["latency_ms"] > SERVE_TIMEOUT_MS)]


def end_to_end(workload, rec, t_setup0):
    ops = rec["ops"]
    wall_s = (rec["end_us"] - rec["first_op_us"]) / 1e6
    if workload == "income_ingest":
        samples = [b["trigger_ms"] for b in rec["batches"]]
        pass_s = statistics.median(o["latency_ms"] for o in ops) / 1e3
        done = len(samples)
    else:
        samples = [o["latency_ms"] for o in ops]
        done = sum(1 for o in ops if o["ok"])
        if workload == "validator_serve":
            # A pass's worth (one request per view) of closed-loop time.
            pass_s = len(VALIDATOR_VIEWS) * rec["wall_ms"] / 1e3 / max(done, 1)
        else:
            pass_s = statistics.median(rec["pass_ms"]) / 1e3
    p95, q = stats.tail(samples)
    m = {"setup_s": rec["first_op_us"] / 1e6 - t_setup0, "pass_s": pass_s}
    return m, {"samples": len(samples), "op_p50_ms": statistics.median(samples),
               "op_tail_ms": p95, "tail_quantile": q, "ops_per_s": done / wall_s,
               "cpu_s": rec["cpu_ms"] / 1e3}


def per_layer(rec, landed_bytes):
    L = rec["layers"]
    ops = rec["ops"]
    u = max(rec["units"], 1)
    lat = sum(o["latency_ms"] for o in ops)
    construct = sum(o["construct_ms"] for o in ops)
    b = rec.get("batches", [])
    sentinel = statistics.median(rec["sentinel_pre_ms"] + rec["sentinel_post_ms"])
    cand = L["dedup_candidate_rows"]
    m = {
        "pipeline.construct_ms": construct / u,
        "pipeline.construct_jobs": L["construct_jobs"] / u,
        "pipeline.construct_share": construct / lat if lat else 0.0,
        "catalyst.plan_ms": sum(o["plan_ms"] for o in ops) / u,
        "scan.time_ms": L["scan_ms"] / u, "scan.rows": L["input_rows"] / u,
        "scan.bytes": L["input_bytes"] / u, "scan.files": L["scan_files"] / u,
        "ops.sort_ms": L["sort_ms"] / u, "ops.agg_ms": L["agg_ms"] / u,
        "ops.wscg_ms": L["wscg_ms"] / u, "ops.spill_bytes": L["spill_bytes"] / u,
        "ops.income_kernel_ms": L["income_kernel_ms"],
        "exchange.write_bytes": L["shuffle_write_bytes"] / u,
        "exchange.write_ms": L["shuffle_write_ms"] / u,
        "exchange.fetch_wait_ms": L["fetch_wait_ms"] / u,
        "exchange.broadcast_ms": L["broadcast_ms"] / u,
        "exchange.partition_skew": L["partition_skew"],
        "operators.dedup_candidate_rows": cand / u,
        "operators.dedup_result_rows": L["dedup_result_rows"] / u,
        "operators.dedup_useful_ratio": L["dedup_result_rows"] / cand if cand else 0.0,
        "operators.task_cpu_ms": L["cpu_ms"] / u,
        "streaming.add_batch_ms": sum(x["add_batch_ms"] for x in b) / u,
        "streaming.planning_ms": sum(x["planning_ms"] for x in b) / u,
        "streaming.wal_commit_ms": sum(x["wal_commit_ms"] for x in b) / u,
        "streaming.batches": len(b) / u,
        "streaming.input_rows": sum(x["input_rows"] for x in b) / u,
        "sink.bytes_written": L["output_bytes"] / u if b else 0.0,
        "sink.files_written": L["sink_files"] / u if b else 0.0,
        "sink.write_amp": L["output_bytes"] / u / landed_bytes if b and landed_bytes else 0.0,
        "runtime.jobs": L["jobs"] / u, "runtime.stages": L["stages"] / u,
        "runtime.tasks": L["tasks"] / u, "runtime.sched_delay_ms": L["sched_delay_ms"] / u,
        "runtime.gc_ms": L["gc_ms"] / u, "runtime.codegen_compiles": L["codegen_compiles"] / u,
        "runtime.peak_exec_mem_mb": L["peak_exec_mem_mb"],
        "runtime.sentinel_ms": sentinel,
    }
    return m


def trace_summary(rec):
    """Per-op medians and per-kind self times from the run's spans."""
    spans = rec["spans"]
    selfs = stats.self_times(spans)
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(selfs[s["id"]])
    per_op = {}
    for o in rec["ops"]:
        per_op.setdefault(o["name"], []).append(o)
    return {
        "self_ms_by_kind": {k: {"n": len(v), "total": sum(v), "median": statistics.median(v)}
                            for k, v in sorted(by_kind.items())},
        "per_op_median_ms": {
            n: {k: statistics.median(o[k] for o in xs)
                for k in ("latency_ms", "construct_ms", "plan_ms", "execute_ms", "verify_ms")}
            for n, xs in sorted(per_op.items())},
    }


# ----------------------------------------------------------------- main

VALIDATOR_VIEWS = None  # filled from the exported oracles


def main():
    global VALIDATOR_VIEWS
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["validator_refresh", "validator_serve", "income_ingest",
                             "corpus_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    with open(ORACLES) as f:
        oracles = json.load(f)
    VALIDATOR_VIEWS = sorted(oracles["validator"])

    t_setup0 = time.time()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args, data = make_inputs(a.workload, a.seed, work)
        landed = sum(os.path.getsize(os.path.join(work, "landing", f))
                     for f in os.listdir(os.path.join(work, "landing"))) \
            if a.workload == "income_ingest" else 0
        out, go = os.path.join(work, "run.json"), os.path.join(work, "go")
        cmd = java_cmd("perfbench.Main", "--workload", a.workload, *args,
                       "--work", work, "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--out", out, "--go", go, work=work)
        # spark.local.dir (in the work dir) must win over the environment.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, cwd=work, env=env)
        try:
            # The reference results, while the JVM sets up; it waits for
            # `go` before its first timed op.
            expected = expectations(a.workload, data, oracles)
            open(go, "w").close()
            rc = proc.wait(timeout=max(30.0, 175.0 - (time.time() - t_setup0)))
        except BaseException:
            proc.kill()
            proc.wait()
            raise
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.workload == "income_ingest":
        expected = {"income_ingest": rec["expected_hash"]}
    failed = failed_ops(a.workload, rec["ops"], expected)
    for o in failed:
        log(f"FAILED {o['name']}: ok={o['ok']} hash={o['hash']} "
            f"expected={expected.get(o['name'])} {o['error']}")
    attempted = len(rec["ops"])

    e2e, detail = end_to_end(a.workload, rec, t_setup0)
    pre = statistics.median(rec["sentinel_pre_ms"])
    post = statistics.median(rec["sentinel_post_ms"])
    probes = statistics.median(rec["sentinel_pre_ms"] + rec["sentinel_post_ms"])
    verdict = "hot" if probes > 2 * SENTINEL_FLOOR_MS else "quiet"
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "end_to_end": e2e, "detail": detail,
              "attempted": attempted, "failed": len(failed),
              "fail_frac": len(failed) / attempted if attempted else 1.0,
              "units": rec["units"], "sentinel_pre_ms": pre, "sentinel_post_ms": post,
              "ops": [{k: o[k] for k in ("name", "user", "ok", "latency_ms", "construct_ms",
                                         "plan_ms", "execute_ms", "verify_ms", "rows")}
                      for o in rec["ops"]],
              "batches": rec.get("batches", []),
              "sentinel_verdict": verdict,
              "setup": {"inputs_s": rec["jvm_start_us"] / 1e6 - t_setup0,
                        "jvm_to_session_s": (rec["session_ready_us"] - rec["jvm_start_us"]) / 1e6,
                        "first_probe_s": (rec["sentinel_done_us"] - rec["session_ready_us"]) / 1e6,
                        "bench_warm_s": rec["bench_warm_ms"] / 1e3,
                        "workload_setup_s": rec["workload_setup_ms"] / 1e3,
                        "wait_and_sentinel_s": (rec["first_op_us"] - rec["sentinel_done_us"]) / 1e6
                        - (rec["bench_warm_ms"] + rec["workload_setup_ms"]) / 1e3}}
    if a.trace:
        metrics = per_layer(rec, landed)
        record["per_layer"] = metrics
        record["trace"] = trace_summary(rec)
        record["spans"] = rec["spans"]
    else:
        metrics = e2e
    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    units = PER_LAYER if a.trace else UNITS
    print(f"perfbench {a.workload} seed={a.seed} units={rec['units']} "
          f"ops={attempted} failed={len(failed)} fail_frac={record['fail_frac']:.4f} "
          f"samples={detail['samples']} op_p50={detail['op_p50_ms']:.1f}ms "
          f"op_tail={detail['op_tail_ms']:.1f}ms@q{detail['tail_quantile']:.3f} "
          f"sentinel_pre={pre:.1f}ms post={post:.1f}ms verdict={verdict}")
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
