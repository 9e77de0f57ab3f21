"""One measured run in a fresh process: set up the engine, run the
workload's passes in a closed loop, check every output, write the run
record as JSON.

``run.py`` generates the inputs and starts this module with
``python3 -m perfbench.measure``; run it directly only the same way.
"""

from __future__ import annotations

import os
import time


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


#: interpreter start-up until this module runs, part of setup_s
BOOT_S = _since_process_start()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import subprocess  # noqa: E402
from collections import defaultdict  # noqa: E402

CPUS = 4
MODULES = ("operators", "llm", "ingest", "streaming")
MODULE_METRICS = (
    "build_s", "build_jobs", "plan_s", "exec_s", "jobs", "stages", "tasks",
    "task_retries", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
    "input_mb", "python_run_s", "python_data_mb",
)
INGEST_METRICS = (
    "files_fetched", "fetched_mb", "quarantined", "exploded_members", "dedup_skipped",
    "records_written", "useful_fetch_ratio", "sink_mb_written", "write_amplification",
    "name_collisions", "torn_blobs",
)
STREAMING_METRICS = (
    "batches", "trigger_s", "add_batch_s", "commit_s", "input_rows", "state_rows", "state_mb",
)


# -- process helpers ---------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_engine(spark) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (the JVM, Python worker daemons and workers) has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.05)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass


# -- the closed loop ---------------------------------------------------

#: the warm pass the metrics read; later passes are only recorded
WARM_PASS = 1


def run_op(spark, op, pass_idx: int, tracer=None) -> tuple[dict, object]:
    """Build and execute one op, timed. Returns (record, output); an
    exception marks the op failed. ``check_outputs`` checks the output."""
    rec = {"pass": pass_idx, "op": op.name, "module": op.module, "traced": tracer is not None,
           "build_s": 0.0, "exec_s": 0.0, "ok": False, "error": None}
    out = None
    try:
        if tracer is not None:
            tracer.phase(pass_idx, op.name, "build")
        t0 = time.perf_counter()
        try:
            handle = op.build(spark, tracer)
        finally:
            rec["build_s"] = time.perf_counter() - t0
        if tracer is not None:
            tracer.phase(pass_idx, op.name, "exec")
        t0 = time.perf_counter()
        try:
            out = op.execute(handle)
        finally:
            rec["exec_s"] = time.perf_counter() - t0
    except Exception as e:  # a failed op is counted, the loop goes on
        rec["error"] = f"{type(e).__name__}: {e}"[:400]
    finally:
        if tracer is not None:
            tracer.op_done(pass_idx, op.name)
    return rec, out


def _seconds(recs: list[dict]) -> float:
    return sum(r["build_s"] + r["exec_s"] for r in recs)


def run_passes(spark, ops, seed: int, seconds: float, tracer=None) -> tuple[list[dict], list]:
    """Run the passes; returns (pass records, [(op, record, output)]).

    Pass 0 is the cold pass and pass ``WARM_PASS`` the warm pass. Further
    warm passes follow while fewer than ``seconds`` have passed since the
    cold pass began; they are recorded and enter no metric. Each pass runs
    every op once, in an order drawn from the seed.

    With a tracer the cold pass is traced. In a warm pass every op runs
    twice in a row on the same inputs, once traced and once not, so the two
    sides of the tracing overhead differ in tracing only. Which side runs
    first alternates along the pass's order, so the warm-up from the first
    run to the second falls on both sides about equally.
    """
    passes, outputs = [], []
    t_start = time.perf_counter()
    p = 0
    while p <= WARM_PASS or time.perf_counter() - t_start < seconds:
        order = list(ops)
        random.Random(f"{seed}:{p}").shuffle(order)
        for op in order:
            op.prepare(p)
        recs = []
        for i, op in enumerate(order):
            if tracer is None:
                sides = (False,)
            elif p == 0:
                sides = (True,)
            else:
                sides = (True, False) if (i + seed) % 2 == 0 else (False, True)
            for traced in sides:
                if tracer is not None:
                    tracer.enable() if traced else tracer.disable()
                rec, out = run_op(spark, op, p, tracer if traced else None)
                recs.append(rec)
                outputs.append((op, rec, out))
        if tracer is not None:
            tracer.pass_done()
        untraced = [r for r in recs if not r["traced"]]
        traced = [r for r in recs if r["traced"]]
        passes.append({"index": p, "ops": recs, "seconds": _seconds(untraced or traced),
                       "traced_seconds": _seconds(traced)})
        p += 1
    return passes, outputs


def check_outputs(outputs: list) -> None:
    """Check every output of the run against its expectation; a mismatch,
    or a check that raises, fails the op."""
    for op, rec, out in outputs:
        if rec["error"] is None:
            try:
                rec["error"] = op.check(out)
            except Exception as e:
                rec["error"] = f"check raised {type(e).__name__}: {e}"[:400]
            rec["ok"] = rec["error"] is None


def failure_counts(passes: list[dict]) -> tuple[int, int]:
    """(attempted, failed) over every op execution of every pass, cold pass
    included; failed_ratio is failed / attempted."""
    recs = [r for p in passes for r in p["ops"]]
    return len(recs), sum(1 for r in recs if not r["ok"])


# -- per-layer metrics ---------------------------------------------------

def module_totals(pass_rec: dict, jobs_by_key: dict, calls: dict) -> dict[str, dict[str, float]]:
    """Per-module totals of one pass: wrapper timings, job-group counts from
    ``statusTracker`` and event-log job counters, over the pass's traced
    executions. A query counts under the engine module that registers it."""
    keys = MODULE_METRICS + ("python_boot_s", "python_init_s")
    out = {m: dict.fromkeys(keys, 0.0) for m in MODULES}
    for r in _traced(pass_rec):
        tot = out.setdefault(r["module"], dict.fromkeys(keys, 0.0))
        tot["build_s"] += r["build_s"]
        tot["exec_s"] += r["exec_s"]
        tot["build_jobs"] += calls.get((pass_rec["index"], r["op"]), {}).get("build_jobs", 0.0)
        for phase in ("build", "exec", "stream"):
            c = jobs_by_key.get((pass_rec["index"], r["op"], phase), {})
            if phase == "stream":
                tot["build_jobs"] += c.get("jobs", 0.0)
            for k, v in c.items():
                tot[k] += v
    return out


def streaming_totals(pass_rec: dict, tracer) -> dict[str, float]:
    tot = dict.fromkeys(STREAMING_METRICS, 0.0)
    for r in _traced(pass_rec):
        for pr in tracer.progress.get((pass_rec["index"], r["op"]), []):
            d = pr["durations"]
            tot["batches"] += 1
            tot["trigger_s"] += d.get("triggerExecution", 0) / 1e3
            tot["add_batch_s"] += d.get("addBatch", 0) / 1e3
            tot["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            tot["input_rows"] += pr["input_rows"]
            tot["state_rows"] += pr["state_rows"]
            tot["state_mb"] += pr["state_bytes"] / 1e6
    return tot


def _traced(pass_rec: dict) -> list[dict]:
    return [r for r in pass_rec["ops"] if r["traced"]]


def layer_metrics(passes, setup: dict, tracer, jobs_by_key: dict, ops) -> tuple[dict, dict]:
    """(layers, cold_layers). Per-pass figures are those of the warm pass's
    traced executions; ``cold_layers`` holds the cold pass's module totals.
    ``trace.overhead_s`` is the warm pass's traced minus untraced time over
    its ``trace.overhead_pairs`` paired executions."""
    cold, warm = passes[0], passes[WARM_PASS]
    layers: dict[str, float] = {
        "session.get_spark_s": setup["session_s"],
        "registry.import_s": setup["registry_s"],
        "session.persisted_mb": tracer.persisted_mb,
        "llm.cache_entries": float(tracer.cache_entries),
    }
    cold_tot = module_totals(cold, jobs_by_key, tracer.calls)
    layers["daemon_preload.python_boot_s"] = sum(t["python_boot_s"] for t in cold_tot.values())
    layers["daemon_preload.python_init_s"] = sum(t["python_init_s"] for t in cold_tot.values())
    warm_tot = module_totals(warm, jobs_by_key, tracer.calls)
    for m in MODULES:
        for k in MODULE_METRICS:
            layers[f"{m}.{k}"] = warm_tot[m][k]
    for k in ("table_calls", "table_s", "footer_row_count_calls"):
        layers[f"catalog.{k}"] = sum(
            tracer.calls.get((WARM_PASS, r["op"]), {}).get(k, 0.0) for r in _traced(warm))
    ingest_op = next((o for o in ops if o.module == "ingest"), None)
    ingest_layer = {} if ingest_op is None else ingest_op.layer.get(WARM_PASS, {})
    for k in INGEST_METRICS:
        layers[f"ingest.{k}"] = ingest_layer.get(k, 0.0)
    for k, v in streaming_totals(warm, tracer).items():
        layers[f"streaming.{k}"] = v
    layers["trace.warm_pass_s"] = warm["traced_seconds"]
    layers["trace.overhead_s"] = warm["traced_seconds"] - warm["seconds"]
    layers["trace.overhead_pairs"] = float(len(_traced(warm)))
    cold_layers = {f"{m}.{k}": cold_tot[m][k] for m in MODULES for k in MODULE_METRICS}
    return layers, cold_layers


# -- main ----------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True, help="generated tables directory")
    ap.add_argument("--work", required=True, help="scratch directory of this run")
    ap.add_argument("--out", required=True, help="where to write the run record")
    a = ap.parse_args(argv)

    t0 = time.perf_counter()
    from data_ingestion_poc_spark import session

    b = session.builder(app_name=f"perfbench-{a.workload}", cpus=CPUS).config(
        "spark.ui.showConsoleProgress", "false")
    if a.trace:
        log_dir = os.path.join(a.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    from data_ingestion_poc_spark import registry

    queries = registry.all_queries()
    registry_s = time.perf_counter() - t0
    setup = {"boot_s": BOOT_S, "session_s": session_s, "registry_s": registry_s,
             "setup_s": BOOT_S + session_s + registry_s}

    from . import workloads
    from .trace import Tracer, attribute_jobs, parse_event_log

    tracer = Tracer(spark) if a.trace else None
    ops, oracles = workloads.make_ops(a.workload, queries, a.data, a.work, a.seed)
    passes, outputs = run_passes(spark, ops, a.seed, a.seconds, tracer=tracer)

    jvms = [p for p in descendants(os.getpid()) if _comm(p) == "java"]
    python_hwm_mb = vm_hwm_kb(os.getpid()) * 1024 / 1e6
    jvm_hwm_mb = sum(vm_hwm_kb(p) for p in jvms) * 1024 / 1e6
    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    jvm_heap = {"committed_mb": runtime.totalMemory() / 1e6, "max_mb": runtime.maxMemory() / 1e6}
    default_parallelism = spark.sparkContext.defaultParallelism
    # after the memory reading, before the session stops (observations read the JVM)
    check_outputs(outputs)
    oracles.close()
    del outputs
    if tracer is not None:
        tracer.disable()
    stop_engine(spark)

    attempted, n_failed = failure_counts(passes)
    failed = [r for p in passes for r in p["ops"] if not r["ok"]]
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": CPUS,
        "default_parallelism": default_parallelism, "seconds": a.seconds,
        "setup": setup,
        "end_to_end": {
            "setup_s": setup["setup_s"],
            "cold_pass_s": passes[0]["seconds"],
            "warm_pass_s": passes[WARM_PASS]["seconds"],
            "failed_ratio": n_failed / attempted,
            "peak_rss_mb": python_hwm_mb + jvm_hwm_mb,
        },
        "memory": {"python_hwm_mb": python_hwm_mb, "jvm_hwm_mb": jvm_hwm_mb} | jvm_heap,
        "extra_warm_passes": len(passes) - 1 - WARM_PASS,
        "attempted": attempted,
        "failed": n_failed,
        "failures": [f"pass {r['pass']} {r['op']}: {r['error']}" for r in failed][:10],
        "passes": passes,
    }
    if tracer is not None:
        logs = glob.glob(os.path.join(a.work, "eventlog", "*"))
        with open(logs[0]) as f:
            jobs = parse_event_log(f)
        jobs_by_key = attribute_jobs(jobs, tracer.stream_owner)
        layers, cold_layers = layer_metrics(passes, setup, tracer, jobs_by_key, ops)
        record["layers"] = layers
        record["cold_layers"] = cold_layers
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
