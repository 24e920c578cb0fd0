"""Dump explain('formatted') for registered queries, for before/after
plan comparisons.

Usage: python plans/dump_plans.py <fixture_root> <out_dir> <suffix> <query>...

Run from a checkout root: the registry is imported from the working
directory, so run it once in the old checkout (suffix ``before``) and
once in the new one (suffix ``after``), then ``diff -r``. Each query
writes ``<out_dir>/<query>_<suffix>.txt``. Text that differs between
sessions or checkouts for the same plan is normalized, so identical
plans dump identical text: expression ids (``#123``), exchange plan ids
(``plan_id=45``), RDD ids (``RDD[67]``), lambda variable ids
(``lambda x_293``), the RDD call site (``NativeMethodAccessorImpl.java:0``
or ``<unknown>:0``), the checkout root and the process-scoped roundtrip
store directory (``pid4242``). Roundtrip queries execute their build
side effects; the dumped plan is the serve plan, as in PLAN_AUDIT. A
query that fails to build writes no file; it prints an ``ERROR`` line
and the script exits 1.
"""

import os
import re
import sys

sys.path.insert(0, os.getcwd())

_SESSION_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(lambda \w+)_\d+\b"), r"\1_N"),
    (
        re.compile(r" at (?:NativeMethodAccessorImpl\.java|<unknown>):0\b"),
        " at <callsite>",
    ),
    (re.compile(r"/pid\d+\b"), "/pidN"),
]


def normalize(plan: str, root: str) -> str:
    """``plan`` with session ids and the checkout ``root`` replaced by
    fixed placeholders."""
    plan = plan.replace(root.rstrip("/"), "<root>")
    for pat, repl in _SESSION_IDS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    if len(sys.argv) < 5:
        print(__doc__, file=sys.stderr)
        return 2
    fixture_root, out_dir, suffix, names = (
        sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
    )
    import __spark_entry__ as e
    from simple_mapreduce_search_engine_information_retrieval__spark.session import (
        get_spark,
    )

    reg = e.queries()
    spark = get_spark("smse-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    failed = 0
    for name in names:
        try:
            df = reg[name](spark, fixture_root)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — reported, exit code 1
            print(f"ERROR {name}: {exc!r}", flush=True)
            failed += 1
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(normalize(txt, os.getcwd()))
        print("dumped", name, flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
