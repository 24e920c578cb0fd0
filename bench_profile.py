"""Per-query bench profiler (optimization-round measurement tool).

Runs the same per-query timing methodology as bench.py (engine-warm via
bench.warm_engine, then `fn(spark, sf_dir)` + noop write) but with the
Spark UI's REST API enabled, so each line additionally records HOW the
wall time is spent: number of Spark jobs, per-job duration, task counts.
A line whose wall ≈ n_jobs × per-job scheduling floor is overhead-bound
(the fix is fewer jobs/actions); a line with one long job is compute- or
shuffle-bound (the fix is guide §2-§4 work on that job's stages).

Usage: python bench_profile.py [name-substring ...]
Writes plans/r17/profile.json (or profile_<filter>.json).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from simple_mapreduce_search_engine_information_retrieval__spark.session import (  # noqa: E402
    session_confs,
)


def _spark_with_ui():
    """get_spark's conf table (session.py) with the UI enabled for REST
    metrics. $SPARK_PROFILE_CONFS ("k=v;k=v") lays experiment overrides
    on top."""
    confs = {**session_confs(), "spark.ui.enabled": "true"}
    for kv in os.environ.get("SPARK_PROFILE_CONFS", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            confs[k.strip()] = v.strip()
    builder = SparkSession.builder.appName("smse-bench-profile")
    return builder.config(map=confs).getOrCreate()


def _rest_jobs(ui_url: str, app_id: str) -> list[dict]:
    with urllib.request.urlopen(f"{ui_url}/api/v1/applications/{app_id}/jobs?status=succeeded") as r:
        return json.loads(r.read())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    name_filters = [a for a in sys.argv[1:] if not a.startswith("-")]

    from bench import bench_queries, warm_engine

    registry = bench_queries()
    spark = _spark_with_ui()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    ui_url = sc.uiWebUrl
    app_id = sc.applicationId

    warm_engine(spark, sf_dir)

    names = [
        n
        for n in registry
        if not name_filters or any(f in n for f in name_filters)
    ]
    repeat = int(os.environ.get("SPARK_PROFILE_REPEAT", "1"))
    out: dict[str, dict] = {}
    for name in names:
        fn = registry[name]
        secs = []
        err = None
        for i in range(repeat):
            sc.setJobGroup(f"prof:{name}" if i == repeat - 1 else "prof:warm", name)
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                err = repr(exc)[:200]
            secs.append(round(time.perf_counter() - t0, 3))
        dt = min(secs)
        sc.setJobGroup("prof:idle", "idle")
        try:
            jobs = [
                j
                for j in _rest_jobs(ui_url, app_id)
                if j.get("jobGroup") == f"prof:{name}"
            ]
            job_rows = []
            for j in jobs:
                try:
                    sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                    comp = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                    # second resolution only; sub-second parsed from the GMT suffix
                    dur = time.mktime(comp) - time.mktime(sub)
                    dur += (
                        float(j["completionTime"][19:23].lstrip(".") or 0)
                        - float(j["submissionTime"][19:23].lstrip(".") or 0)
                    ) / 1000.0
                except Exception:  # noqa: BLE001
                    dur = None
                job_rows.append(
                    {
                        "id": j["jobId"],
                        "dur_s": None if dur is None else round(dur, 3),
                        "tasks": j.get("numTasks"),
                        "desc": (j.get("description") or "")[:60],
                    }
                )
            out[name] = {
                "sec": dt,
                "n_jobs": len(jobs),
                "jobs_s": round(sum(r["dur_s"] or 0 for r in job_rows), 3),
                "tasks": sum(r["tasks"] or 0 for r in job_rows),
                "err": err,
                "secs": secs,
                "jobs": job_rows,
            }
        except Exception as exc:  # noqa: BLE001
            out[name] = {"sec": dt, "n_jobs": None, "err": err or repr(exc)[:200]}
        print(
            f"{dt:8.3f}s  jobs={out[name].get('n_jobs')}"
            f" tasks={out[name].get('tasks')}  {name}",
            flush=True,
        )

    os.makedirs("plans/r17", exist_ok=True)
    suffix = ("_" + "_".join(name_filters)) if name_filters else ""
    path = f"plans/r17/profile{suffix}.json"
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    total = round(sum(v["sec"] for v in out.values()), 3)
    print(f"# wrote {path}; {len(out)} lines, total {total}s")


if __name__ == "__main__":
    main()
