"""Benchmark entry point: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload store_query --seed 1 --seconds 10 --trace 0
    python -m pytest perfbench -q        # the benchmark's own self-tests

Run it from the repository root. It generates its inputs from the
seed, writes nothing outside ``.perfbench_work/`` in the current
directory, and removes that directory when it ends. Workloads are
described in ``workloads.py``.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
(``END_TO_END``); with ``--trace 1`` the run also writes a Spark event
log, tags every job with the op and phase that ran it, and reports the
per-layer metrics (``PER_LAYER``) instead. The line before it holds the
environment (seed, cores, Spark and Java versions) and the workload's
user-facing figures under their own names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

import spans  # noqa: E402
import workloads  # noqa: E402 — imports the engine package: fails without it
from pyspark import SparkContext  # noqa: E402

from simple_mapreduce_search_engine_information_retrieval__spark.session import get_spark  # noqa: E402

WORK_ROOT = ".perfbench_work"

# name -> unit; BENCHMARK.json must list exactly these (tested)
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "store_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "functions.tokenize.tokens_col_s": "s",
    "plans.indexing.postings_flat_s": "s",
    "plans.index_store.build_index_s": "s",
    "plans.index_store.files_written": "count",
    "plans.index_store.bytes_written": "bytes",
    "plans.index_store.search_indexed.call_ms": "ms",
    "plans.index_store.wildcard_indexed.call_ms": "ms",
    "plans.search.tokenize_query_us": "us",
    "plans.dedup.minhash_near_dups_s": "s",
    "catalyst.plan_ms": "ms",
    "exec.action_ms": "ms",
    "scheduler.eager_jobs_per_op": "count",
    "scheduler.jobs_per_op": "count",
    "scheduler.stages_per_op": "count",
    "scheduler.tasks_per_op": "count",
    "executor.run_ms_per_op": "ms",
    "executor.cpu_ms_per_op": "ms",
    "executor.gc_ms_per_op": "ms",
    "shuffle.read_bytes_per_op": "bytes",
    "shuffle.write_bytes_per_op": "bytes",
    "shuffle.spill_bytes": "bytes",
    "store_io.input_bytes_per_op": "bytes",
    "store_io.output_bytes": "bytes",
    "streaming.jobs.batch.triggerExecution_ms": "ms",
    "streaming.jobs.batch.addBatch_ms": "ms",
    "streaming.jobs.batch.queryPlanning_ms": "ms",
    "streaming.jobs.batch.walCommit_ms": "ms",
    "streaming.jobs.batch.commitOffsets_ms": "ms",
    "streaming.jobs.batch.latestOffset_ms": "ms",
    "streaming.jobs.jobs_per_batch": "count",
    "streaming.jobs.unattributed_ms": "ms",
    "caches.cached_relations": "count",
    "caches.cached_mib": "MiB",
    "trace.attributed_share": "ratio",
    "trace.op_p50_ms": "ms",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> int:
    """Pin the engine to this machine's cores and keep every file the
    JVM, Spark and its Python workers write under ``work``. Must run
    before the JVM starts. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # workers import the package from the path, not the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'--conf "{k}={v}"' for k, v in confs.items()
    ) + " pyspark-shell"
    return cores


def host_probe_ms() -> float:
    """Time of a fixed pure-Python loop: shows how fast this host runs
    one thread right now, so runs on a shared host can be compared."""
    t0 = time.perf_counter()
    n = 0
    for i in range(2_000_000):
        n += i
    return (time.perf_counter() - t0) * 1e3


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave it running
            proc.kill()
            proc.wait()


def end_to_end(res) -> dict:
    return {
        "setup_s": res.setup_s,
        "op_p50_ms": workloads.med(o.wall_s * 1e3 for o in res.ops),
        "store_bytes_per_input_byte": res.store_bytes_per_input_byte,
    }


def per_layer(res, workload: str, tags: dict, session_s: float, cache: tuple[int, float]) -> dict:
    fold_ops, med = spans.fold_ops, workloads.med
    ops = res.ops
    n = max(1, len(ops))
    c = fold_ops(tags, workload, ops)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({
        "session.get_spark_s": session_s,
        "catalyst.plan_ms": med(o.phases["plan"] * 1e3 for o in ops if "plan" in o.phases),
        "exec.action_ms": med(o.phases["action"] * 1e3 for o in ops if "action" in o.phases),
        "scheduler.eager_jobs_per_op": fold_ops(tags, workload, ops, ("call",))["jobs"] / n,
        "scheduler.jobs_per_op": c["jobs"] / n,
        "scheduler.stages_per_op": c["stages"] / n,
        "scheduler.tasks_per_op": c["tasks"] / n,
        "executor.run_ms_per_op": c["run_ms"] / n,
        "executor.cpu_ms_per_op": c["cpu_ns"] / 1e6 / n,
        "executor.gc_ms_per_op": c["gc_ms"] / n,
        "shuffle.read_bytes_per_op": c["shuffle_read_bytes"] / n,
        "shuffle.write_bytes_per_op": c["shuffle_write_bytes"] / n,
        "shuffle.spill_bytes": c["spill_bytes"],
        "store_io.input_bytes_per_op": c["input_bytes"] / n,
        "caches.cached_relations": cache[0],
        "caches.cached_mib": cache[1],
        "trace.attributed_share": min((sum(o.phases.values()) / o.wall_s for o in ops), default=0.0),
        "trace.op_p50_ms": med(o.wall_s * 1e3 for o in ops),
        "store_io.output_bytes": fold_ops(tags, workload, res.store_ops)["output_bytes"],
    })
    if res.batch_ops:
        out["streaming.jobs.jobs_per_batch"] = fold_ops(tags, workload, res.batch_ops)["jobs"] / len(res.batch_ops)
    out.update(res.layers)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.abspath(os.path.join(WORK_ROOT, f"run-{os.getpid()}"))
    os.makedirs(work)
    cores = configure_env(work, bool(args.trace))
    spark = None
    try:
        tracer = spans.Tracer(args.workload, bool(args.trace))
        probes = [host_probe_ms()]
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds, session_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        probes.append(host_probe_ms())
        cache = workloads.cache_usage(spark)
        stop_spark(spark)
        spark = None
        if args.trace:
            tags = spans.read_event_log(os.path.join(work, "eventlog"))
            metrics = per_layer(res, args.workload, tags, session_s, cache)
            units = PER_LAYER
        else:
            metrics, units = end_to_end(res), END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    detail = {
        **env,
        **res.detail,
        "cached_mib": cache[1],
        "failed_op_ratio": res.failed / max(1, res.attempted),
        "session_s": session_s,
        "setup_parts_s": [round(o.wall_s, 3) for o in tracer.ops if o.kind.startswith("setup-")],
        "host_probe_ms": [round(p, 1) for p in probes],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
