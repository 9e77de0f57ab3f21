"""Engine benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload relational|curation_ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The command generates the workload's inputs
from the seed under ``perfbench/.work/``, then measures in a fresh child
process so that ``setup_s`` starts at process start. The child runs one
driver process on ``local[4]`` and submits each operation after the
previous one finished. Every output is checked. Stdout ends with a summary
line and one compact JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics. The full run record, with every per-layer metric, goes to
``perfbench/.work/last-<workload>-trace<k>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TIME_LIMIT_S = 170
#: A fixed 4 GB driver heap (initial = maximum, through the engine's
#: DIP_DRIVER_MEMORY) and young generation. With G1 free to resize, the
#: committed heap, and so VmHWM, GC frequency and pass times, differed by up
#: to 40% between otherwise identical runs.
DRIVER_MEMORY = "4g"
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEMORY} -Xmn768m"
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = (
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"), ("peak_rss_mb", "MB"),
)
#: the per-layer metrics of the final line; every other one is in the record
PER_LAYER = (
    "session.get_spark_s", "registry.import_s", "session.persisted_mb",
    "daemon_preload.python_boot_s", "daemon_preload.python_init_s",
    "catalog.table_calls", "catalog.table_s", "catalog.footer_row_count_calls",
    "operators.build_s", "operators.plan_s", "operators.exec_s", "operators.jobs",
    "operators.shuffle_write_mb", "llm.build_s", "llm.build_jobs", "llm.exec_s",
    "llm.executor_cpu_s", "llm.cache_entries", "ingest.exec_s", "ingest.fetched_mb",
    "ingest.useful_fetch_ratio", "ingest.write_amplification", "ingest.name_collisions",
    "streaming.commit_s", "streaming.state_rows", "trace.overhead_s",
)


def child_env(run_dir: str, data_dir: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write in the run
    directory, and point the engine's import-time goldens at the data."""
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_ORACLE_SF_DIR": data_dir,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "DIP_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "DIP_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}").strip(),
    })
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    for key in ("DIP_SHUFFLE_PARTITIONS", "DIP_ROCKSDB_STATE", "SPARK_GRAFT_CPUS"):
        env.pop(key, None)
    return env


def measure(args, run_dir: str, data_dir: str, deadline: float) -> dict:
    out = os.path.join(run_dir, "record.json")
    cmd = [sys.executable, "-m", "perfbench.measure", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--work", run_dir, "--out", out]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(run_dir, data_dir),
                            stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {TIME_LIMIT_S} s")
    finally:
        try:  # whatever the child left behind in its process group
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if rc != 0:
        raise SystemExit(f"perfbench: measuring process failed with code {rc}")
    with open(out) as f:
        return json.load(f)


def result_line(record: dict, trace: int) -> dict:
    if trace:
        metrics = {n: {"value": record["layers"][n], "unit": unit_of(n)} for n in PER_LAYER}
    else:
        metrics = {n: {"value": record["end_to_end"][n], "unit": u} for n, u in END_TO_END}
    return {"correct": record["failed"] == 0, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_amplification")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    started = time.time()
    ap = argparse.ArgumentParser(description="Engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="further warm passes start until it has passed; they are "
                         "recorded and enter no metric")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for needed in ("data_ingestion_poc_spark/registry.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found; run from a checkout of the engine",
                  file=sys.stderr)
            return 2
    from perfbench.tables import write_tables

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = write_tables(os.path.join(run_dir, "data"), args.seed)
        record = measure(args, run_dir, data_dir, started + TIME_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(WORK, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    e2e = record["end_to_end"]
    print(f"{args.workload} seed={args.seed}: setup_s={e2e['setup_s']:.3f} s "
          f"cold_pass_s={e2e['cold_pass_s']:.3f} s warm_pass_s={e2e['warm_pass_s']:.3f} s "
          f"(pass 1; {record['extra_warm_passes']} further warm passes recorded) "
          f"failed_ratio={e2e['failed_ratio']:.4f} ratio "
          f"({record['failed']} of {record['attempted']} operations) "
          f"peak_rss_mb={e2e['peak_rss_mb']:.1f} MB")
    for failure in record["failures"]:
        print(f"  FAILED {failure}")
    print(json.dumps(result_line(record, args.trace), separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
