"""Self-tests for the benchmark: ``python -m pytest perfbench -q``.

They start no Spark session: the generator, the oracle, the event-log
parser (on a small recorded log) and the metric names against
``BENCHMARK.json`` are checked directly."""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

LOG_DIR = os.path.join(HERE, "testdata")


def _benchmark_json() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _write_inputs(seed: int, out: str) -> None:
    vocab, texts = gen.corpus(seed, 300, 2_000)
    gen.write_documents(texts, os.path.join(out, "corpus"))
    _, dups = gen.near_dup_corpus(seed, 200, 2_000)
    gen.write_batches(dups, os.path.join(out, "batches"), 50)
    with open(os.path.join(out, "queries.json"), "w", encoding="utf-8") as fh:
        json.dump(gen.queries(seed, vocab, 100), fh)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _write_inputs(seed, str(tmp_path / name))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_near_dups_are_planted():
    _, base = gen.corpus(3, 100, 1_000)
    _, texts = gen.near_dup_corpus(3, 100, 1_000)
    assert len(texts) == 110 and set(base) <= set(texts)


def test_metric_names_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert bench["command"][:2] == ["python3", "perfbench/run.py"]


def test_printed_metrics_cover_benchmark_json():
    """The dicts run.py prints from hold every declared metric."""
    op = spans.Op("ranked#0", 0.0, 0.5, {"tokenize": 0.01, "call": 0.1, "plan": 0.04, "action": 0.3})
    res = workloads.Result(
        setup_s=1.0, ops=[op], attempted=1, failed=0, store_bytes_per_input_byte=0.6, batch_ops=[op]
    )
    assert set(run.end_to_end(res)) == set(run.END_TO_END)
    assert set(run.per_layer(res, "store_query", {}, 1.0, (0, 0.0))) == set(run.PER_LAYER)


def test_event_log_parser_folds_recorded_log():
    files = spans.event_files(LOG_DIR)
    assert [os.path.basename(f).split("_")[1] for f in files] == ["1", "2"]
    tags = spans.read_event_log(LOG_DIR)
    call, action = tags["wl:ranked#0:call"], tags["wl:ranked#0:action"]
    assert call["jobs"] == 1 and action["jobs"] == 1
    assert action["stages"] == 2 and action["tasks"] == action["stages"] * 2
    assert action["shuffle_write_bytes"] > 0 and action["shuffle_read_bytes"] > 0
    assert action["run_ms"] >= 0 and action["cpu_ns"] > 0
    assert tags[""]["jobs"] == 1  # the untagged job
    ops = [spans.Op("ranked#0", 0.0)]
    assert spans.fold_ops(tags, "wl", ops)["jobs"] == 2
    assert spans.fold_ops(tags, "wl", ops, ("call",))["jobs"] == 1


def test_ranked_check_accepts_ties_and_rejects_wrong_order():
    scores = {1: 2.0, 2: 1.5, 3: 1.5, 4: 0.5}
    assert oracle.ranked_ok([(1, 2.0, 1), (2, 1.5, 2), (3, 1.5, 3), (4, 0.5, 4)], scores)
    assert oracle.ranked_ok([(1, 2.0, 1), (3, 1.5, 2), (2, 1.5, 3), (4, 0.5, 4)], scores)
    assert not oracle.ranked_ok([(2, 1.5, 1), (1, 2.0, 2), (3, 1.5, 3), (4, 0.5, 4)], scores)
    assert not oracle.ranked_ok([(1, 2.0, 1)], scores)


def test_oracle_tokenizes_like_the_query_grammar():
    idx = oracle.Index(["Alpha beta, the Beta.", "gamma"], {"the"})
    assert idx.postings == {"alpha": {1: 1}, "beta": {1: 2}, "gamma": {2: 1}}
    assert idx.wildcard("b*a") == {"beta"} and idx.wildcard("*a") == {"alpha", "beta", "gamma"}
