"""Round-11 ops: the doremi-oracle blast-radius pin and the end-to-end
pipeline capstone (plans/pipeline.py). The round's `tokenizers`-format
sidecar adapter tests live in tests/test_bpe.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans import (
    pipeline,
)

SF = "/root/testdata/sf0.001"


# --- doremi weights-oracle pin (r10 verdict, Next-round #4) ---------------


def test_doremi_oracle_pin_matches_current_rendering():
    """The pinned hash IS the current rendering — registry build (module
    import) re-checks this, so a weights-oracle edit cannot silently
    reshape the mix oracle."""
    rendered = pipeline._duck_doremi_weights()
    assert pipeline._pin_doremi_weights_oracle(rendered) == rendered
    # and the mix oracle actually embeds the pinned rendering
    assert rendered in pipeline._duck_doremi_mix()


def test_doremi_oracle_pin_fails_loudly_on_drift():
    """Any rendering drift must fail with the re-verification
    instruction, not ship an unchecked mix oracle."""
    with pytest.raises(AssertionError, match="re-verify"):
        pipeline._pin_doremi_weights_oracle(
            pipeline._duck_doremi_weights() + " "
        )


# --- end-to-end pipeline capstone (r10 verdict, Next-round #2) -------------


def test_end_to_end_capstone_is_the_stage_composition(spark):
    """The capstone's survivor set IS (clean AND mix-kept AND training-
    side) MINUS contaminated — the decontamination stage excludes BOTH
    the gram-overlap hits AND the held-out eval docs themselves (r11
    review: the pre-fix output packed 17 of the 20 eval docs into the
    training windows) — and the pack output is the exclusive prefix sum
    over survivors in doc_id order."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.dedup import (
        N_EVAL_DOCS,
        decontaminate_overlaps,
    )

    rows = pipeline.pipeline_end_to_end(spark, SF).orderBy("doc_id").collect()
    clean = {r["doc_id"] for r in pipeline.clean_corpus(spark, SF).collect()}
    contam = {
        r["doc_id"] for r in decontaminate_overlaps(spark, SF).collect()
    }
    mixed = {
        r["doc_id"]
        for r in pipeline.doremi_mix(spark, SF).filter("kept = 1").collect()
    }
    gates = {d for d in (clean & mixed) - contam if d >= N_EVAL_DOCS}
    # the r12 budget arm: of the gate survivors, the pack covers the
    # best-score-first prefix fitting TOKEN_BUDGET kept tokens —
    # recomputed here independently (plain Python greedy fill over the
    # stage outputs, not the engine's bucketed plan)
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.corpus import (
        tokenized_docs,
    )

    scores = {
        r["doc_id"]: r["score"]
        for r in pipeline.quality_classifier(spark, SF).collect()
    }
    n_kept = {
        r["doc_id"]: r["nk"]
        for r in tokenized_docs(spark, SF)
        .selectExpr("doc_id", "size(kept) AS nk")
        .collect()
    }
    want, run_k = set(), 0
    for d in sorted(gates, key=lambda d: (-scores[d], d)):
        run_k += n_kept[d]
        if run_k > pipeline.TOKEN_BUDGET:
            break
        want.add(d)
    got = {r["doc_id"] for r in rows}
    assert got == want
    assert got <= gates  # the budget arm only ever narrows the gates
    assert not any(d < N_EVAL_DOCS for d in got)  # no eval doc trains
    run = 0
    for r in rows:
        assert r["start_tok"] == run
        assert r["window_id"] == run // pipeline.CTX_TOKENS
        run += r["n_tokens"]


def test_end_to_end_capstone_plan_shape(spark):
    """The composition contract at scale (r10 verdict #2's plan test),
    asserted on the UNcheckpointed build stage (_end_to_end_lens — the
    _doremi_per_source pattern, since pipeline_end_to_end's
    localCheckpoint hides it): every tokenize expression in the
    executed plan is a CACHED-relation definition being printed (an
    InMemoryRelation header directly above it), never a fresh corpus
    tokenize — the stages all read the ONE shared scan; the cache is
    actually consumed (InMemoryTableScans); the small sides broadcast —
    the doremi rate plan (the 'dm:'-salted acceptance join on source)
    and the decontamination eval-gram set both appear as
    BroadcastHashJoins; no cartesian products; and the composed plan
    stays under the analyzer cap (the clean_corpus precedent)."""
    from conftest import physical_plan

    # r12: asserted on the budget lens — the capstone's full
    # uncheckpointed build stage including the token-budget arm
    plan = physical_plan(pipeline._end_to_end_budget_lens(spark, SF))
    lines = plan.splitlines()
    tok = [
        i for i, l in enumerate(lines) if "split(regexp_replace(CASE WHEN" in l
    ]
    for i in tok:
        assert any(
            "InMemoryRelation" in lines[j] for j in range(max(0, i - 3), i)
        ), "fresh (uncached) corpus tokenize in the capstone plan:\n" + lines[
            i
        ][:300]
    assert plan.count("InMemoryTableScan") >= 3
    bhj = [ln for ln in lines if "BroadcastHashJoin" in ln]
    assert any("dm:" in ln for ln in bhj), "doremi rate plan not broadcast"
    assert any("[gh#" in ln for ln in bhj), "eval-gram set not broadcast"
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") < 200, plan.count("Exchange")


def test_end_to_end_final_plan_packs_off_the_checkpoint(spark):
    """The shipped capstone plan: the gate composition is evaluated
    ONCE behind the localCheckpoint (the pack core references its input
    ~4x — pre-fix the mix verdict join visibly appeared 4x), so the
    final plan contains NO doremi acceptance expression, and the pack's
    per-bucket offset table joins as a broadcast."""
    from conftest import physical_plan

    plan = physical_plan(pipeline.pipeline_end_to_end(spark, SF))
    assert "dm:" not in plan, "gate composition replayed past the checkpoint"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") < 40, plan.count("Exchange")


def test_pack_from_lens_matches_full_corpus_query(spark):
    """The extracted packing core is value-identical to the original
    pack_sequences formulation (the refactor cannot have moved it)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.corpus import (
        tokenized_docs,
    )

    staged = tokenized_docs(spark, SF)
    lens = staged.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    a = sorted(
        map(tuple, pipeline._pack_from_lens(lens).collect())
    )
    b = sorted(map(tuple, pipeline.pack_sequences(spark, SF).collect()))
    assert a == b
