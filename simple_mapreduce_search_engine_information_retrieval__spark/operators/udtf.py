"""Python UDTF surface (SURVEY.md §2.10) — the table-function extension
point, exercised with a positional tokenizer.

The reference's extension points are row-wise Java interfaces; Spark's
table-function analogue is ``@udtf``: one input row → many output rows
with an arbitrary Python body. The production plan for this particular
operator is ``posexplode`` over the expression tokenizer
(plans/indexing.py::positional_terms — pure JVM, no Python); the UDTF
twin exists to prove the extension point end-to-end and is held to the
SAME oracle. Use a UDTF only for row-expanding logic no built-in
generator expresses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf


@udtf(returnType="pos: bigint, term: string")
class PositionalTokens:
    """text → (pos, term) rows, positions in the kept-token stream —
    byte-identical to the expression tokenizer's output (the pure-Python
    twin of tokens_col; rendering equivalence is property-tested in
    tests/test_properties.py via the shared constants)."""

    def eval(self, text: str):  # noqa: D102 — UDTF contract method
        from ..plans.search import tokenize_query

        if text is None:
            return
        for i, t in enumerate(tokenize_query(text)):
            yield i, t


def positional_terms_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-powered twin of plans/indexing.py::positional_terms: a
    LATERAL table-function join in SQL."""
    from ..plans import sql_over_views

    spark.udtf.register("smse_positional_tokens", PositionalTokens)
    return sql_over_views(
        spark,
        sf_dir,
        """
        SELECT d.doc_id AS docno, t.pos, t.term
        FROM documents d, LATERAL smse_positional_tokens(d.text) t
        """,
    )
