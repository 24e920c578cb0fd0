"""Deduplication operators (north star: training-data pipeline).

- exact dedup: hash-groupBy on the normalized token-stream fingerprint;
- near-dup: ONE MinHash LSH chain over word-3-gram shingles,

      shingles_of -> signatures_of -> bands_of -> candidates -> verify_pairs

  Candidates come in two shapes: the corpus self-join on ``band_key``
  (``self_candidates``) and the broadcast probe of an increment's bands
  against stored bands (``probe_candidates``). ``verify_pairs`` scores
  every candidate pair exactly — Jaccard, or containment — off the
  (doc_id, shingle) table. The callers:
  ``minhash_near_dups`` (self-join over identical-set representatives,
  via ``lsh_pairs``), ``containment_pairs`` (self-join, containment
  score), ``incremental_minhash`` (probe of a hash-split delta) and
  ``streaming.jobs.incremental_near_dups`` (probe of each micro-batch
  against the persisted store);
- dense checks: n-gram Jaccard on adjacent-id pairs, SimHash, and the
  MinHash estimator calibration.

The split into candidate generation by equi-join followed by exact
verification is the one of the Hamming-distance similarity-search
MapReduce paper (EDBT 2015).

Portability trick that makes MinHash oracle-checkable: the "random" hash
family is md5 with an integer salt prefix — identical strings in Spark
and DuckDB — and min() over hex strings is the lexicographic min in both.
No RNG, no engine-specific hash.

Scale notes: shingle explode → groupBy(doc) agg of H mins is one shuffle;
band self-join keys are tiny (doc, band_key) pairs; the quadratic
candidate blow-up is bounded by band selectivity (that is the entire
point of LSH — only same-bucket pairs are joined). The exact-verify join
touches only candidate docs' shingle sets. At 100 TB the shingle table is
the big intermediate: it is derived, never materialized, and the min-agg
is partial (map-side combine) so the shuffle carries H×docs rows, not the
shingle stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caches import memo
from ..sources.tables import table
from ..functions.tokenize import (
    duck_kgrams,
    duck_tokens_list,
    filter_stopwords,
    kgrams_col,
    tokens_col,
)
from . import QuerySpec
from .corpus import tokenized_docs
from .indexing import duck_doc_terms

N_HASHES = 8
N_BANDS = 4  # rows-per-band = 2
JACCARD_THRESHOLD = 0.3


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups of byte-identical-after-normalization docs:
    (fingerprint, n_docs, keeper). Keeper = min doc_id (the row a
    pipeline would retain)."""
    staged = tokenized_docs(spark, sf_dir)
    fp = F.md5(F.array_join(F.col("toks"), " "))
    return (
        staged.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


DUCK_EXACT_DUP_GROUPS = f"""
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keeper
FROM (SELECT doc_id,
             md5(array_to_string({duck_tokens_list('text', stopworded=False)}, ' ')) AS fingerprint
      FROM documents)
GROUP BY fingerprint HAVING count(*) > 1
"""


# --- the MinHash LSH near-dup chain -------------------------------------


def shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) word-3-grams of a (doc_id, kept) frame,
    ``kept`` being the stopword-filtered token stream."""
    return docs.select(
        "doc_id", F.explode(kgrams_col(F.col("kept"), 3)).alias("shingle")
    ).distinct()


def text_shingles(docs: DataFrame) -> DataFrame:
    """``shingles_of`` a raw (doc_id, text) frame, tokenized exactly as
    the shared tokenized-corpus cache derives its ``kept`` stream."""
    kept = filter_stopwords(tokens_col(F.col("text"), stopworded=False))
    return shingles_of(docs.select("doc_id", kept.alias("kept")))


_DUCK_SHINGLES = (
    f"SELECT DISTINCT docno AS doc_id, term AS shingle FROM ({duck_doc_terms(3)})"
)


# shingle sets are the expensive intermediate (tokenize + 3-gram explode
# + distinct): cache per (session, sf_dir) so signatures / candidate
# verification / size lookups share one computation. Derived from the
# shared tokenized-corpus cache, so shingle building shares its tokenize
# pass with the quality gates / fingerprints.
@memo
def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_of(tokenized_docs(spark, sf_dir)).cache()


def _salted_md5s() -> list:
    """The MinHash hash family, one md5 per salt: ``md5('<i>:' || shingle)``."""
    return [
        F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))) for i in range(N_HASHES)
    ]


def signatures_of(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h7): per-doc min of each salted md5 over its shingles."""
    return sh.groupBy("doc_id").agg(
        *[F.min(h).alias(f"h{i}") for i, h in enumerate(_salted_md5s())]
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h7): salted-md5 MinHash signature over 3-gram
    shingles."""
    return signatures_of(_shingles_cached(spark, sf_dir))


def _duck_minhash(src: str | None = None) -> str:
    """``src`` names an existing relation (e.g. a materialized CTE) to
    read shingles from; default inlines the shingle derivation."""
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(N_HASHES)
    )
    rel = src if src is not None else f"({_DUCK_SHINGLES})"
    return f"SELECT doc_id, {mins} FROM {rel} GROUP BY doc_id"


def bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band_key): one row per doc and band of its signature.
    One select exploding the band keys, not a union of per-band
    selects: Catalyst's column pruning pushes through a union and
    splits the one signature aggregate under it into one per band."""
    per = N_HASHES // N_BANDS
    keys = [
        F.md5(F.concat(F.lit(f"{b}:"), *[F.col(f"h{b * per + r}") for r in range(per)]))
        for b in range(N_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*keys)).alias("band_key"))


def _duck_bands_of(rel: str) -> str:
    per = N_HASHES // N_BANDS
    selects = []
    for b in range(N_BANDS):
        concat = " || ".join(f"h{b * per + r}" for r in range(per))
        selects.append(
            f"SELECT doc_id, md5('{b}:' || {concat}) AS band_key FROM {rel}"
        )
    return " UNION ALL ".join(selects)


def _duck_bands() -> str:
    return _duck_bands_of("sig")


def self_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: distinct doc pairs sharing a band
    key — the corpus self-join."""
    return (
        bands.alias("x")
        .join(bands.alias("y"), "band_key")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


def probe_candidates(
    probe: DataFrame, stored: DataFrame, names: tuple = ("doc_a", "doc_b")
) -> DataFrame:
    """(probe doc, stored doc) band collisions, named ``names``, of an
    increment's bands against stored bands; the stored side is only
    scanned, never shuffled. Not deduplicated."""
    p, s = names
    return (
        # bounded: the probe side is an increment's own bands (a delta
        # batch or a micro-batch), tiny vs the stored index
        F.broadcast(probe.withColumnRenamed("doc_id", p))
        .join(stored.withColumnRenamed("doc_id", s), "band_key")
        .select(p, s)
    )


def verify_pairs(
    cand: DataFrame, sh: DataFrame, measure: str = "jaccard"
) -> DataFrame:
    """Exact verify of a two-column candidate relation against a
    (doc_id, shingle) table: (a, b, <measure>) with the score rounded to
    6 places and kept at its threshold. ``measure`` is ``"jaccard"``
    (n_inter / |A ∪ B|, JACCARD_THRESHOLD) or ``"containment"``
    (n_inter / min(|A|, |B|), CONTAINMENT_THRESHOLD). The output keeps
    the candidate relation's column names."""
    a_col, b_col = cand.columns
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias(a_col), "shingle")
    b = sh.select(F.col("doc_id").alias(b_col), "shingle")
    # bounded: the candidate set is the tiny LSH residue — broadcast it
    # against the shingle table so the verify never shuffles side ``a``;
    # the (b, shingle) join is the one real exchange in the verify
    inter = (
        F.broadcast(cand).join(a, a_col).join(b, [b_col, "shingle"])
        .groupBy(a_col, b_col)
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias(a_col), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias(b_col), F.col("n").alias("n_b"))
    n_inter, n_a, n_b = F.col("n_inter"), F.col("n_a"), F.col("n_b")
    if measure == "containment":
        score = n_inter / F.least(n_a, n_b).cast("double")
        threshold = CONTAINMENT_THRESHOLD
    else:
        score = n_inter / (n_a + n_b - n_inter).cast("double")
        threshold = JACCARD_THRESHOLD
    return (
        inter.join(na, a_col)
        .join(nb, b_col)
        .select(a_col, b_col, F.round(score, 6).alias(measure))
        .filter(F.col(measure) >= threshold)
    )


def lsh_pairs(sh: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """The self-join chain over a (doc_id, shingle) set: (doc_a, doc_b,
    jaccard) for jaccard >= threshold. ``sig`` optionally supplies
    precomputed signatures for exactly the docs in ``sh`` (a signature
    depends only on the doc's own shingles, so callers that already
    aggregated can skip the second pass)."""
    sig = signatures_of(sh) if sig is None else sig
    return verify_pairs(self_candidates(bands_of(sig)), sh)


# verified near-dup pairs are consumed by several downstream operators
# (grouping, reporting) — cache the small result per (session, sf_dir)
@memo
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs: (doc_a, doc_b, jaccard) for jaccard >= threshold.

    Skew guard: docs with identical shingle SETS (keyed by a commutative
    128-bit set fingerprint — see below) are collapsed to one
    representative before LSH, and pairs are expanded back afterwards.
    Output-identical to running LSH over all docs — identical
    sets give identical signatures (same band buckets) and identical
    Jaccard against any third doc, and within-group pairs are always
    band-collisions with Jaccard exactly 1.0 >= threshold. What it buys:
    a pile of N identical/boilerplate docs no longer lands N rows in
    every band bucket (the classic quadratic LSH bucket); the only
    remaining quadratic is the within-group pair OUTPUT itself, which any
    formulation must emit."""
    sh = _shingles_cached(spark, sf_dir)
    fp_w = Window.partitionBy("fp")
    # ONE aggregate over the shingle stream computes both the set
    # fingerprint (collapse key) and the MinHash signature — a doc's
    # signature depends only on its own shingles, so the rep signatures
    # fall out of the same pass instead of a second shuffle.
    #
    # The fingerprint must be COMMUTATIVE to keep the aggregate partial
    # (map-side combine): sum() of four salted 32-bit md5 pieces plus
    # the set size — every term partial-aggregates, so the shuffle
    # carries one fixed-width row per doc, never the shingle stream (a
    # sorted-collect_list fingerprint cannot combine map-side and
    # shipped every shingle: measured 2.6× slower at sf0.1). Shingle
    # sets are distinct per doc, so sum-over-set is well-defined; two
    # docs collapse only if all four 32-bit hash-sums AND the set size
    # agree — a ~2^-128 accidental-collision event, not a semantics
    # change. The pieces slice the SAME salted md5s the MinHash mins
    # consume: aggregate-input subexpression elimination computes each
    # md5 once, so the fingerprint adds no hashing to the pass.
    salted = _salted_md5s()
    fp_pieces = [
        F.sum(
            F.conv(F.substring(salted[j], 1, 8), 16, 10).cast("long")
        ).alias(f"_fp{j}")
        for j in range(4)
    ]
    # One row per doc (fixed width), referenced by five downstream
    # branches (rep signatures / rep filter / both expansion sides /
    # group expansion) — localCheckpoint it: same materialization a
    # cache would do on first use, but it also TRUNCATES the tokenize→
    # shingle→aggregate lineage out of every consumer branch, keeping
    # the near-dup family's analyzed plans in the single digits of
    # Exchanges instead of re-embedding the corpus sub-plan per branch.
    # Durability trade-off (deliberate): localCheckpoint blocks live in
    # executor storage only, so a lost executor loses the truncated
    # lineage with them — fine for a single-node session; a cluster with
    # spot/decommissioning executors should use reliable checkpointing
    # (sc.setCheckpointDir on DFS + .checkpoint()) — same plan shape,
    # durable blocks. LAZY (eager=False, r5 ADVICE): constructing this
    # DataFrame — e.g. for .explain()/plan audit — must not launch the
    # build as a side effect; the memo means the first real action still
    # materializes it exactly once, and the returned plan is the same
    # truncated LogicalRDD either way.
    membership = (
        sh.groupBy("doc_id")
        .agg(
            *fp_pieces,
            F.count("*").alias("_fpn"),
            *[F.min(h).alias(f"h{i}") for i, h in enumerate(salted)],
        )
        .withColumn(
            "fp", F.concat_ws(":", "_fp0", "_fp1", "_fp2", "_fp3", "_fpn")
        )
        .drop("_fp0", "_fp1", "_fp2", "_fp3", "_fpn")
        .select("*", F.min("doc_id").over(fp_w).alias("rep"))
        .localCheckpoint(eager=False)
    )
    rep_rows = membership.filter(F.col("doc_id") == F.col("rep"))
    rep_sig = rep_rows.select("doc_id", *[f"h{i}" for i in range(N_HASHES)])
    # The rep set is ONE ROW PER DISTINCT-CONTENT DOC — corpus-sized in
    # a mostly-unique corpus — so it must never be HINTED broadcast (a
    # multi-GB build side on every executor at 1e9 docs). Plain left-semi
    # on the fixed-width id: one exchange per side, and AQE still picks a
    # broadcast at runtime when the rep set measures genuinely small.
    # verify_pairs scans this from three branches (sizes / both
    # verify sides); each branch re-probes the SESSION-CACHED shingle
    # table (`sh`) with the cheap semi-join rather than pinning a second
    # shingle-sized transient cache whose release would otherwise have to
    # race the (now lazy) checkpoint materialization.
    sh_rep = sh.join(rep_rows.select("doc_id"), "doc_id", "left_semi")
    # localCheckpoint the verified pairs: they are the small LSH residue,
    # and cutting lineage HERE caps the analyzed-plan size of every
    # consumer (clean_corpus / near_dup_groups re-read this sub-plan many
    # times; before the checkpoint their analyzed plans carried ~360
    # Exchange nodes of InMemoryRelation re-reads). Lazy for the same
    # construction-is-side-effect-free reason as `membership` above.
    rep_pairs = lsh_pairs(sh_rep, sig=rep_sig).localCheckpoint(eager=False)
    ma = membership.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("da"))
    mb = membership.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("db"))
    # Only rep_pairs itself is hinted. The (rep_pairs JOIN ma) expansion
    # is NOT: its cardinality is sum over pairs of the doc_a clone-pile
    # size, which a large identical-content pile that is also a near-dup
    # of another rep inflates arbitrarily (r5 ADVICE) — the doc_b join is
    # a plain shuffle join, and AQE still broadcasts it at runtime when
    # it measures genuinely small.
    cross = (
        # bounded: rep_pairs is the verified near-dup residue
        # (pair-cardinality, checkpointed above)
        F.broadcast(rep_pairs)
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    # Within-group pairs without the membership self-join's former
    # corpus-cardinality broadcast hint: filter to MULTI-member groups
    # first (singletons — almost every doc in a mostly-unique corpus —
    # drop before any join), then self-join the surviving rows on rep.
    # The join STREAMS each pile's quadratic pair output through the
    # iterator instead of materializing it: an array-expansion
    # formulation (collect the pile, build all n(n-1)/2 pair structs in
    # one value, explode) holds a 100k-clone pile's ~5e9 structs in a
    # single row — an executor OOM; the join emits the same rows
    # incrementally, and the pair OUTPUT itself is the only quadratic
    # any formulation must emit. Both branches reuse the groupBy's rep
    # partitioning, so no extra exchange on the big side.
    grp = (
        membership.groupBy("rep")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )
    multi = membership.select("rep", "doc_id").join(grp.select("rep"), "rep")
    within = (
        multi.alias("x")
        .join(multi.alias("y"), "rep")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within).cache()


def _duck_near_dups() -> str:
    return f"""
WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
     sig AS MATERIALIZED ({_duck_minhash('sh')}),
     bands AS MATERIALIZED ({_duck_bands()}),
     cand AS (
       SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       FROM bands x JOIN bands y USING (band_key)
       WHERE x.doc_id < y.doc_id
     ),
     sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
     inter AS (
       SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       FROM cand c
       JOIN sh a ON a.doc_id = c.doc_a
       JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       GROUP BY c.doc_a, c.doc_b
     )
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / CAST(sa.n + sb.n - i.n_inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_inter / CAST(sa.n + sb.n - i.n_inter AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
"""


def _duck_near_dup_groups() -> str:
    """Connected components as a recursive SQL fixpoint: seed every edge
    endpoint with its own id, propagate labels one hop per recursion
    round (the UNION dedups against all rows produced so far, so the
    recursion terminates once no new (node, label) pair appears), then
    take min(label) per node. Produces exactly the min-label-propagation
    result: every reachable id becomes a label, so the minimum is the
    component's smallest doc_id. Oracle-only formulation — the reach set
    is O(sum of component sizes squared), fine for the verified-pair
    residue at oracle SF, wrong for the 100 TB path (which is the
    iterative DataFrame loop / union-find in ``near_dup_groups``)."""
    return f"""
WITH RECURSIVE
pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_duck_near_dups()})),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(label) AS BIGINT) AS group_id
FROM reach GROUP BY node
"""


N_SIMHASH_BITS = 32


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc over distinct tokens: (doc_id, simhash).

    Engine-portable formulation: bit j of md5(token)'s first 8 hex chars,
    extracted with floor/pow/mod arithmetic (identical semantics in Spark
    and DuckDB — no engine-specific bit operators); per-bit vote sum
    over tokens; positive votes set the bit. Docs sharing a simhash are
    near-dup candidates (equal-hash join; banded hamming comes free by
    splitting the 32 bits into band columns)."""
    # Formulation notes (both alternatives measured much slower):
    # - explode×32-bits + groupBy(doc, bit): shuffles 32× the token stream;
    # - nested higher-order array folds: lambda functions are evaluated
    #   INTERPRETED (no codegen) — ~7× slower than this;
    # here: explode tokens once, md5 once per token, then ONE partial+final
    # hash aggregate with 32 flat codegen'd sum(±1) columns, and the final
    # hash assembled in a flat projection.
    toks = (
        tokenized_docs(spark, sf_dir)
        .select("doc_id", F.explode(F.array_distinct(F.col("toks"))).alias("term"))
        .select("doc_id", F.md5(F.col("term")).alias("h"))
    )

    def bit(j: int):
        nibble = F.conv(F.substring(F.col("h"), j // 4 + 1, 1), 16, 10).cast("int")
        return (F.floor(nibble / F.lit(float(2 ** (3 - j % 4)))).cast("int") % 2)

    votes = toks.groupBy("doc_id").agg(
        *[F.sum(2 * bit(j) - 1).alias(f"s{j}") for j in range(N_SIMHASH_BITS)]
    )
    simhash = None
    for j in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.alias("simhash"))


def _duck_simhash() -> str:
    toks = duck_tokens_list("text", stopworded=False)
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({toks}) AS term FROM documents
),
votes AS (
  SELECT doc_id, js.j AS j,
         sum(2 * (CAST(floor((strpos('0123456789abcdef',
                    substr(md5(term), CAST(floor(js.j / 4) AS INT) + 1, 1)) - 1)
                  / pow(2, 3 - (js.j % 4))) AS INT) % 2) - 1) AS s
  FROM toks, (SELECT unnest(generate_series(0, {N_SIMHASH_BITS - 1})) AS j) js
  GROUP BY doc_id, js.j
)
SELECT doc_id,
       CAST(sum((CASE WHEN s > 0 THEN 1 ELSE 0 END)
                * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
FROM votes
GROUP BY doc_id
"""


def adjacent_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for adjacent doc_id pairs — a dense,
    LSH-free n-gram-Jaccard reference line (and the oracle for what the
    LSH path may legitimately miss below threshold)."""
    toks = tokenized_docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(F.col("toks")).alias("ts")
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    b = toks.select((F.col("doc_id") - 1).alias("doc_a"), F.col("ts").alias("ts_b"))
    return (
        a.join(b, "doc_a")
        .select(
            "doc_a",
            (F.col("doc_a") + 1).alias("doc_b"),
            F.round(
                F.size(F.array_intersect("ts_a", "ts_b"))
                / F.size(F.array_union("ts_a", "ts_b")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


DUCK_ADJACENT_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, list_distinct({duck_tokens_list('text', stopworded=False)}) AS ts
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.ts, b.ts))
             / CAST(len(list_distinct(a.ts || b.ts)) AS DOUBLE), 6) AS jaccard
FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
"""


def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jacc_true_ppm, jacc_est_ppm, abs_err_ppm):
    MinHash estimator calibration over the adjacent-pair line — the
    signature-agreement estimate (matching components / N_HASHES, the
    textbook unbiased MinHash estimator) next to the EXACT shingle-set
    Jaccard it estimates. This is the diagnostic that sizes N_HASHES /
    N_BANDS before a 100 TB dedup run: the observed |error| spectrum at
    a sample tells you whether the banding's S-curve sits where the
    threshold needs it. Shape: signatures and exact intersections both
    derive from the SHARED cached shingle scan; the adjacent pair join
    keys on doc_id (narrow — no LSH, no candidate explosion); all
    outputs integer ppm (est = k/8 is dyadic-exact)."""
    sh = _shingles_cached(spark, sf_dir)
    sig = signatures_of(sh)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(
            sh.select((F.col("doc_id") - 1).alias("doc_a"), "shingle"),
            ["doc_a", "shingle"],
        )
        .groupBy("doc_a")
        .agg(F.count("*").alias("ni"))
    )
    pairs = (
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
        .join(
            sizes.select(
                (F.col("doc_id") - 1).alias("doc_a"), F.col("n").alias("n_b")
            ),
            "doc_a",
        )
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_HASHES)
    )
    ni = F.coalesce(F.col("ni"), F.lit(0))
    out = (
        pairs.join(inter, "doc_a", "left")
        .join(sa, "doc_a")
        .join(sb, "doc_a")
        .select(
            "doc_a",
            (F.col("doc_a") + 1).alias("doc_b"),
            F.floor(
                ni / (F.col("n_a") + F.col("n_b") - ni).cast("double") * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("jacc_true_ppm"),
            F.floor(matches / F.lit(float(N_HASHES)) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("jacc_est_ppm"),
        )
    )
    return out.withColumn(
        "abs_err_ppm",
        F.abs(F.col("jacc_true_ppm") - F.col("jacc_est_ppm")).cast("long"),
    )


def _duck_minhash_estimate_error() -> str:
    match_sum = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    return f"""
WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
     sig AS MATERIALIZED ({_duck_minhash('sh')}),
     sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
     inter AS (SELECT a.doc_id AS doc_a, count(*) AS ni
               FROM sh a JOIN sh b
                 ON b.doc_id = a.doc_id + 1 AND b.shingle = a.shingle
               GROUP BY a.doc_id),
     pairs AS (SELECT na.doc_id AS doc_a, na.n AS n_a, nb.n AS n_b
               FROM sizes na JOIN sizes nb ON nb.doc_id = na.doc_id + 1)
SELECT *, CAST(abs(jacc_true_ppm - jacc_est_ppm) AS BIGINT) AS abs_err_ppm
FROM (
  SELECT p.doc_a, p.doc_a + 1 AS doc_b,
         CAST(floor(coalesce(i.ni, 0)
               / CAST(p.n_a + p.n_b - coalesce(i.ni, 0) AS DOUBLE) * 1e6
               + 0.5) AS BIGINT) AS jacc_true_ppm,
         CAST(floor(({match_sum}) / {float(N_HASHES)} * 1e6 + 0.5)
           AS BIGINT) AS jacc_est_ppm
  FROM pairs p
  LEFT JOIN inter i ON i.doc_a = p.doc_a
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_a + 1
)
"""


def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materializing dedup a pipeline actually runs: keep the lowest
    doc_id per normalized fingerprint, emit the surviving corpus ids with
    group size. (doc_id, n_in_group)."""
    from pyspark.sql import Window

    staged = tokenized_docs(spark, sf_dir)
    fp = F.md5(F.array_join(F.col("toks"), " "))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        staged.select(fp.alias("fingerprint"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_in_group", F.count("*").over(Window.partitionBy("fingerprint"))
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("n_in_group").cast("long").alias("n_in_group"))
    )


DUCK_DEDUP_KEEP_FIRST = f"""
SELECT doc_id, CAST(n_in_group AS BIGINT) AS n_in_group
FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn,
         count(*)    OVER (PARTITION BY fingerprint) AS n_in_group
  FROM (SELECT doc_id,
               md5(array_to_string({duck_tokens_list('text', stopworded=False)}, ' ')) AS fingerprint
        FROM documents)
) t
WHERE rn = 1
"""


def near_dup_groups(
    spark: SparkSession,
    sf_dir: str,
    max_iter: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Transitive closure of the MinHash near-dup pairs: connected
    components via iterative min-label propagation (DataFrame ops in a
    driver loop with a convergence check — the iterative-algorithm class
    that single SQL cannot express). (doc_id, group_id) for every doc in
    at least one near-dup pair; group_id = smallest doc_id in the
    component.

    Scale: each iteration is one join + aggregate on the (small) pair
    graph — O(component diameter) rounds, and near-dup graphs are
    shallow. Hybrid cutoff: the edge set is ALREADY the tiny residue of
    LSH+verify, so below ``driver_threshold`` edges we just union-find on
    the driver (a few ms) instead of paying per-iteration job overhead;
    the distributed loop is the fallback for pathological pair volumes."""
    pairs = minhash_near_dups(spark, sf_dir).select("doc_a", "doc_b").cache()
    n_pairs = pairs.count()
    if n_pairs <= driver_threshold:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in pairs.collect():
            ra, rb = find(r.doc_a), find(r.doc_b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(x, find(x)) for x in sorted(parent)]
        return spark.createDataFrame(rows, "doc_id long, group_id long")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .cache()
    )
    for _ in range(max_iter):
        propagated = (
            edges.join(labels, edges["doc_a"] == labels["doc_id"])
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = labels.join(propagated, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # lineage + cache hygiene: each iteration's plan references the
        # previous labels TWICE (propagation join + convergence join), so
        # an uncheckpointed loop grows the plan exponentially (measured
        # 21k joins by iteration 2 at sf0.001). The convergence count
        # below materializes every round regardless, so an EAGER
        # localCheckpoint per round costs no extra pass and keeps the
        # plan depth constant; superseded labels are unpersisted once
        # the new ones are materialized.
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("group_id"))


# --- duplicate-passage detection ----------------------------------------
# Chunk-level exact dedup: split each doc's token stream into fixed-size
# chunks, hash each chunk, report chunks appearing in more than one doc —
# the copy-paste-passage detector a cleaning pipeline runs BETWEEN
# whole-doc exact dedup and fuzzy near-dup (catches boilerplate shared
# across otherwise-distinct docs). One explode + one partial-aggregated
# groupBy — the same shuffle shape as the inverted index.
PASSAGE_TOKENS = 50


def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chunk_hash, n_docs, n_occ) for non-final full chunks of
    PASSAGE_TOKENS tokens appearing in >= 2 distinct docs."""
    docs = tokenized_docs(spark, sf_dir).select("doc_id", "toks")
    from ..functions.tokenize import _bounded_sequence

    n_chunks = F.floor(F.size("toks") / PASSAGE_TOKENS)
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                _bounded_sequence(n_chunks.cast("int")),
                lambda i: F.md5(
                    F.array_join(
                        F.slice(
                            F.col("toks"),
                            (i - 1) * PASSAGE_TOKENS + 1,
                            PASSAGE_TOKENS,
                        ),
                        " ",
                    )
                ),
            )
        ).alias("chunk_hash"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


DUCK_DUPLICATE_PASSAGES = f"""
WITH d AS (SELECT doc_id, {duck_tokens_list('text', stopworded=False)} AS toks
           FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, CAST(len(toks) // {PASSAGE_TOKENS} AS INT) + 1),
           i -> md5(array_to_string(
                  list_slice(toks, (i - 1) * {PASSAGE_TOKENS} + 1,
                             i * {PASSAGE_TOKENS}), ' ')))) AS chunk_hash
  FROM d)
SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
FROM chunks GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
"""


# --- content-defined chunking (CDC) --------------------------------------
# Fixed-size passage chunks (duplicate_passages above) break on insertion:
# one added token shifts every later chunk boundary and the hashes stop
# matching. Content-DEFINED chunking puts boundaries where the token's own
# rolling-hash code satisfies code % CDC_DIVISOR == 0 (the Gear/rsync
# idea), so an edit only perturbs the chunks it touches — the property
# incremental corpus dedup wants. Entirely array-native per doc: ONE
# corpus scan, no positional explode; only (chunk_hash, n_toks) rows
# shuffle, never text.
CDC_DIVISOR = 8


def _cdc_chunk_structs(toks):
    """array<struct<h,n>>: md5 + token count of each content-defined
    chunk of `toks` (chunk = tokens (prev_boundary, boundary])."""
    from .textstats import _rh_code_spark

    flags = F.transform(toks, lambda t: (_rh_code_spark(t) % CDC_DIVISOR) == 0)
    bpos = F.filter(
        F.transform(flags, lambda b, i: F.when(b, i + 1)),
        lambda v: v.isNotNull(),
    )  # 1-based positions of boundary tokens
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda p: p + 1))
    ends = F.concat(bpos, F.array(F.size(toks)))
    return F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.when(
                e >= s,
                F.struct(
                    F.md5(F.array_join(F.slice(toks, s, e - s + 1), " ")).alias("h"),
                    (e - s + 1).cast("long").alias("n"),
                ),
            ),
        ),
        lambda v: v.isNotNull(),
    )


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chunk_hash, chunk_tokens, n_docs, n_occ) for content-defined
    chunks appearing >= 2 times in the corpus."""
    docs = tokenized_docs(spark, sf_dir).select("doc_id", "toks")
    chunks = docs.select(
        "doc_id", F.explode(_cdc_chunk_structs(F.col("toks"))).alias("c")
    )
    return (
        chunks.groupBy(F.col("c.h").alias("chunk_hash"))
        .agg(
            F.min("c.n").alias("chunk_tokens"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_occ") >= 2)
    )


def _duck_cdc_chunks() -> str:
    from .textstats import _RH_CODE_SQL

    return f"""
WITH d AS (SELECT doc_id, {duck_tokens_list('text', stopworded=False)} AS toks
           FROM documents),
b AS (SELECT doc_id, toks,
             list_filter(
               list_transform(range(1, len(toks)+1),
                 i -> CASE WHEN bf[i] THEN i END),
               v -> v IS NOT NULL) AS bpos
      FROM (SELECT doc_id, toks,
                   list_transform(toks,
                     t -> ({_RH_CODE_SQL}) % {CDC_DIVISOR} = 0) AS bf
            FROM d)),
spans AS (SELECT doc_id, toks,
                 list_prepend(1, list_transform(bpos, p -> p + 1)) AS starts,
                 list_append(bpos, len(toks)) AS ends
          FROM b),
chunks AS (
  SELECT doc_id, s.s AS s, s.e AS e,
         md5(array_to_string(list_slice(toks, s.s, s.e), ' ')) AS chunk_hash
  FROM (SELECT doc_id, toks,
               unnest(list_transform(range(1, len(starts)+1),
                      k -> {{'s': starts[k], 'e': ends[k]}})) AS s
        FROM spans)
  WHERE s.e >= s.s)
SELECT chunk_hash,
       CAST(min(e - s + 1) AS BIGINT) AS chunk_tokens,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occ
FROM chunks GROUP BY chunk_hash HAVING count(*) >= 2
"""


# --- containment (asymmetric Jaccard) -----------------------------------
# containment(A→B) = |A∩B| / |A|: flags SUBSET duplication (a short doc
# quoted whole inside a long one) that symmetric Jaccard scores low.
# Candidates come from the same MinHash band join, so recall follows
# Jaccard-LSH (a containment-targeted index would band on the smaller
# set's minhashes); the verify emits max(containment) over both
# directions.
CONTAINMENT_THRESHOLD = 0.5


# Full-corpus LSH band table memo: the on-disk band index a real system
# persists once and probes per query (the incremental path's base-table
# memo is its base/delta-split sibling). Consumers re-pay only the
# candidate join + verify — the per-query work — not the corpus-wide
# signature aggregate that builds the index.
@memo
def _full_bands_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bands_of(signatures_of(_shingles_cached(spark, sf_dir))).cache()


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, containment) for band-candidate pairs whose max
    directional containment clears the threshold."""
    cand = self_candidates(_full_bands_cached(spark, sf_dir))
    return verify_pairs(cand, _shingles_cached(spark, sf_dir), "containment")


def _duck_containment() -> str:
    return f"""
WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
     sig AS MATERIALIZED ({_duck_minhash('sh')}),
     bands AS MATERIALIZED ({_duck_bands()}),
     cand AS (
       SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       FROM bands x JOIN bands y USING (band_key)
       WHERE x.doc_id < y.doc_id
     ),
     sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
     inter AS (
       SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       FROM cand c
       JOIN sh a ON a.doc_id = c.doc_a
       JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       GROUP BY c.doc_a, c.doc_b
     )
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_inter / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
        >= {CONTAINMENT_THRESHOLD}
"""


# --- cluster representative selection -----------------------------------


def group_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(group_id, rep_doc_id, n_members): per near-dup component, the
    member with the most characters (tiebreak: lowest doc_id) — the
    keep-best policy (longest/highest-quality member) a cleaning pipeline
    applies once components are known. One broadcast join of the tiny
    group table against doc lengths + a struct-max argmax (no window
    shuffle: max(struct) partial-aggregates)."""
    groups = near_dup_groups(spark, sf_dir)
    lengths = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        groups.join(lengths, "doc_id")
        .groupBy("group_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars").alias("len"),
                    (-F.col("doc_id")).alias("nid"),
                )
            ).alias("m"),
            F.count("*").alias("n_members"),
        )
        .select(
            "group_id",
            (-F.col("m.nid")).cast("long").alias("rep_doc_id"),
            "n_members",
        )
    )


def _duck_group_representatives() -> str:
    return f"""
WITH groups AS ({_duck_near_dup_groups()})
SELECT g.group_id,
       CAST(-(max({{'len': d.n_chars, 'nid': -d.doc_id}})['nid']) AS BIGINT)
         AS rep_doc_id,
       count(*) AS n_members
FROM groups g JOIN documents d USING (doc_id)
GROUP BY g.group_id
"""


# --- benchmark decontamination ------------------------------------------
# The GPT-3-style contamination check: flag training documents sharing
# any CONTAM_N-gram with a held-out eval set. The eval side is tiny by
# construction, so its gram set BROADCASTS and the train side never
# shuffles — the decontamination shape at 100 TB (eval grams ~MBs,
# training corpus arbitrary). Here the stand-in eval set is the first
# N_EVAL_DOCS fixture docs.
N_EVAL_DOCS = 20
CONTAM_N = 13


def decontaminate_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shared_grams) for training docs (doc_id >= N_EVAL_DOCS)
    sharing at least one CONTAM_N-gram with the eval docs."""
    docs = tokenized_docs(spark, sf_dir).select("doc_id", "toks")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                kgrams_col(F.col("toks"), CONTAM_N),
                lambda g: F.md5(g),
            )
        ).alias("gh"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") < N_EVAL_DOCS).select("gh").distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= N_EVAL_DOCS)
        # bounded: eval suites are small and fixed-size by definition
        .join(F.broadcast(eval_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


DUCK_DECONTAMINATE = f"""
WITH d AS (SELECT doc_id, {duck_tokens_list('text', stopworded=False)} AS toks
           FROM documents),
grams AS (SELECT doc_id, md5(g) AS gh
          FROM (SELECT doc_id, unnest({duck_kgrams('toks', CONTAM_N)}) AS g
                FROM d)),
eval_grams AS (SELECT DISTINCT gh FROM grams WHERE doc_id < {N_EVAL_DOCS})
SELECT g.doc_id, count(*) AS n_shared_grams
FROM grams g JOIN eval_grams e USING (gh)
WHERE g.doc_id >= {N_EVAL_DOCS}
GROUP BY g.doc_id
"""


# --- incremental dedup: probe a delta batch against the base index ---
# At 100 TB you never re-LSH the whole corpus when new data arrives: the
# base corpus's band table IS the persisted dedup index, and an
# increment only shingles/hashes its OWN docs, then probes its band keys
# against the stored table. Modeled here with a deterministic hash split
# of the fixture corpus (md5 first nibble: ~3/16 of docs are the
# "delta" batch, the rest the indexed base). The probe broadcasts the
# delta band table (increment-sized, tiny relative to the base), so the
# base index never shuffles — the same discipline as the J1/J2 query
# joins. The identical-shingle-set residue collapse used by
# minhash_near_dups applies unchanged if an increment is dup-heavy.
INCR_DELTA_NIBBLES = ("0", "1", "2")


def _incr_delta_flag():
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        *INCR_DELTA_NIBBLES
    )


# The base band table plays the PERSISTED index of a real ingest path —
# built once, probed by every delta batch. Memoize it per (session,
# sf_dir) like the trained-IVF codebook (r4 verdict's build/serve split)
# so the registered query times the PER-INGEST cost (delta signatures +
# broadcast probe + verify), not a from-scratch base index build per run.
# A signature depends only on the doc's own shingles, so each side filters
# its docs' shingles BEFORE the signature aggregate — the delta pass
# touches O(increment) shingles, never the corpus (with the base table
# memoized, aggregating the full corpus and filtering afterwards would
# silently re-pay a corpus pass per run).
@memo
def _incr_base_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_cached(spark, sf_dir)
    return bands_of(signatures_of(sh.filter(~_incr_delta_flag()))).cache()


def incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(new_doc, base_doc, jaccard): LSH-candidate matches of the delta
    batch against the base corpus, verified with exact Jaccard at the
    standard threshold."""
    sh = _shingles_cached(spark, sf_dir)
    bands_d = bands_of(signatures_of(sh.filter(_incr_delta_flag())))
    cand = probe_candidates(
        bands_d, _incr_base_bands(spark, sf_dir), ("new_doc", "base_doc")
    ).distinct()
    return verify_pairs(cand, sh)


def _duck_incremental_minhash() -> str:
    nibbles = ", ".join(f"'{n}'" for n in INCR_DELTA_NIBBLES)
    return f"""
WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
     delta_sh AS (SELECT * FROM sh
                  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        IN ({nibbles})),
     base_sh AS (SELECT * FROM sh
                 WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       NOT IN ({nibbles})),
     sig_b AS ({_duck_minhash('base_sh')}),
     sig_d AS ({_duck_minhash('delta_sh')}),
     bands_b AS ({_duck_bands_of('sig_b')}),
     bands_d AS ({_duck_bands_of('sig_d')}),
     cand AS (SELECT DISTINCT d.doc_id AS new_doc, b.doc_id AS base_doc
              FROM bands_d d JOIN bands_b b USING (band_key)),
     sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
     inter AS (SELECT c.new_doc, c.base_doc, count(*) AS n_inter
               FROM cand c
               JOIN sh sa ON sa.doc_id = c.new_doc
               JOIN sh sb ON sb.doc_id = c.base_doc
                         AND sb.shingle = sa.shingle
               GROUP BY 1, 2)
SELECT i.new_doc, i.base_doc,
       round(i.n_inter / CAST(na.n + nb.n - i.n_inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.new_doc
JOIN sizes nb ON nb.doc_id = i.base_doc
WHERE round(i.n_inter / CAST(na.n + nb.n - i.n_inter AS DOUBLE), 6)
      >= {JACCARD_THRESHOLD}
"""


# --- canonical-URL dedup -------------------------------------------------
# Web-corpus ingests dedup by CANONICAL URL before any content pass
# (CommonCrawl-style): the same page arrives under case variants, default
# ports, www prefixes, tracking params, and fragments. The fixture has no
# URL column, so — exactly like plans/trec_parse.py — the raw URL is
# CONSTRUCTED in-query from fixture columns (both engines build the
# identical string), with doc_id % 4 selecting one of four decorated
# variants that all canonicalize to the same page identity. The
# canonicalizer itself is the honest artifact: lowercase, fragment strip,
# www/default-port strip, path-trailing-slash strip, tracking-param drop
# (only the id param survives) — the same regex chain in both engines.


def _url_variant_spark() -> F.Column:
    g = F.floor(F.col("doc_id") / 4).cast("long")
    pid = (g % 97).cast("long")
    v = (F.col("doc_id") % 4).cast("int")
    base = F.concat(F.lit("/p"), g.cast("string"))
    idq = F.concat(F.lit("?id="), pid.cast("string"))
    return (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://www.example.com"), base, idq,
                F.lit("&utm_source=feed"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://EXAMPLE.COM:443"), base, F.lit("/"), idq
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://Example.com"), base,
                F.lit("/?utm_campaign=x&id="), pid.cast("string"),
                F.lit("#frag"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://www.example.com:443"), base, idq)
        )
    )


def _url_variant_duck() -> str:
    g = "CAST(doc_id // 4 AS BIGINT)"
    pid = f"CAST(({g}) % 97 AS BIGINT)"
    base = f"('/p' || CAST({g} AS VARCHAR))"
    idq = f"('?id=' || CAST({pid} AS VARCHAR))"
    return f"""CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'https://www.example.com' || {base} || {idq} || '&utm_source=feed'
  WHEN 1 THEN 'HTTPS://EXAMPLE.COM:443' || {base} || '/' || {idq}
  WHEN 2 THEN 'https://Example.com' || {base} || '/?utm_campaign=x&id='
              || CAST({pid} AS VARCHAR) || '#frag'
  ELSE 'https://www.example.com:443' || {base} || {idq} END"""


# hostport keeps any EXPLICIT non-default port ('example.com:8080' is a
# different origin than 'example.com' and must NOT merge); only the
# scheme-default :80/:443 are stripped afterwards
_URL_HOSTPORT_RE = r"^https?://(?:www\.)?([^/?#]+)"
_URL_DEFAULT_PORT_RE = r":(80|443)$"
_URL_SCHEME_RE = r"^(https?)://"
_URL_PATH_RE = r"^https?://[^/?#]+(/[^?#]*)?"
_URL_ID_RE = r"[?&]id=([0-9]+)"


def _canonical_url_spark(u: F.Column) -> F.Column:
    low = F.regexp_replace(F.lower(u), "#.*$", "")
    host = F.regexp_replace(
        F.regexp_extract(low, _URL_HOSTPORT_RE, 1), _URL_DEFAULT_PORT_RE, ""
    )
    scheme = F.regexp_extract(low, _URL_SCHEME_RE, 1)
    path = F.regexp_replace(
        F.regexp_extract(low, _URL_PATH_RE, 1), "/+$", ""
    )
    pid = F.regexp_extract(low, _URL_ID_RE, 1)
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(pid == "", F.lit("")).otherwise(F.concat(F.lit("?id="), pid)),
    )


def _canonical_url_duck(u: str) -> str:
    low = f"regexp_replace(lower({u}), '#.*$', '')"
    host = (
        f"regexp_replace(regexp_extract({low}, '{_URL_HOSTPORT_RE}', 1), "
        f"'{_URL_DEFAULT_PORT_RE}', '')"
    )
    scheme = f"regexp_extract({low}, '{_URL_SCHEME_RE}', 1)"
    path = f"regexp_replace(regexp_extract({low}, '{_URL_PATH_RE}', 1), '/+$', '')"
    pid = f"regexp_extract({low}, '{_URL_ID_RE}', 1)"
    return (
        f"({scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {pid} = '' THEN '' ELSE '?id=' || {pid} END)"
    )


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(canonical_url, n_docs, keeper): canonical-URL dedup groups over
    the in-query URL rendering — the pre-content dedup stage of a web
    ingest. Shape at scale: pure per-row expressions (regex chain fused
    into the scan), one combinable groupBy on the canonical key."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.select(
            "doc_id",
            _canonical_url_spark(_url_variant_spark()).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def _duck_url_canonical() -> str:
    canon = _canonical_url_duck(f"({_url_variant_duck()})")
    return f"""
SELECT {canon} AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM documents
GROUP BY canonical_url
"""


def dedup_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_redundant, dup_rate_ppm): the per-feed
    duplication-rate report a corpus-health dashboard tracks — how many
    docs in each source are exact-content copies of an earlier doc in
    the SAME source (normalized token-stream fingerprint, the
    dedup_exact_groups key). Shape at scale: one tokenized scan, one
    combinable (source, fingerprint) aggregate, then a source-cardinality
    rollup — the corpus never shuffles twice."""
    staged = tokenized_docs(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    fp = staged.select(
        "doc_id", F.md5(F.array_join(F.col("toks"), " ")).alias("fp")
    )
    per_fp = (
        fp.join(docs, "doc_id")
        .groupBy("source", "fp")
        .agg(F.count("*").alias("n"))
    )
    return (
        per_fp.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            (F.sum("n") - F.count("*")).cast("long").alias("n_redundant"),
        )
        .select(
            "source",
            "n_docs",
            "n_redundant",
            F.floor(
                F.col("n_redundant") / F.col("n_docs") * 1e6 + F.lit(0.5)
            )
            .cast("long")
            .alias("dup_rate_ppm"),
        )
    )


def _duck_dedup_report() -> str:
    lst = duck_tokens_list("text", stopworded=False)
    return f"""
WITH f AS (SELECT source, md5(array_to_string({lst}, ' ')) AS fp
           FROM documents),
     g AS (SELECT source, fp, count(*) AS n FROM f GROUP BY source, fp)
SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(n) - count(*) AS BIGINT) AS n_redundant,
       CAST(floor((CAST(sum(n) AS DOUBLE) - count(*))
                  / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
         AS dup_rate_ppm
FROM g GROUP BY source
"""


# --- cross-source overlap matrix ------------------------------------------
# The feed-selection dashboard behind "which sources duplicate each
# other": verified near-dup pairs rolled up to a source x source matrix
# with a pair-space-normalized rate (n_pairs / possible cross pairs).
# A web snapshot pair with high mutual overlap is the classic candidate
# for dropping one side before training. Composes the MEMOIZED verified
# pair set (plans-level reuse: the LSH build runs once per session) +
# two doc-keyed source lookups (the pair side is the tiny verified
# residue; AQE broadcasts it) + a dictionary-sized per-source census.
# Rate follows the divide-first double discipline: the pair-space
# denominator n_a*n_b overflows int64 past ~3e9 docs per source, so
# both engines compute it in DOUBLE (exact until 2^53 — far past the
# design point; the r8 fertility lesson applied at authoring time).


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_pairs, rate_ppm): near-dup pair counts and
    pair-space rates between (and within) sources; source_a <= source_b
    so each unordered source pair appears once."""
    pairs = minhash_near_dups(spark, sf_dir).select("doc_a", "doc_b")
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    counts = tagged.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs")
    )
    census = src.groupBy("source").agg(F.count("*").alias("n_docs"))
    na = census.select(
        F.col("source").alias("source_a"), F.col("n_docs").alias("na")
    )
    nb = census.select(
        F.col("source").alias("source_b"), F.col("n_docs").alias("nb")
    )
    space = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("na").cast("double") * (F.col("na") - 1) / 2.0,
    ).otherwise(F.col("na").cast("double") * F.col("nb"))
    return (
        counts.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.floor(F.col("n_pairs") / space * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("rate_ppm"),
        )
    )


def _duck_source_overlap() -> str:
    return f"""
WITH pairs AS MATERIALIZED ({_duck_near_dups()}),
tagged AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b),
counts AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
  FROM tagged GROUP BY source_a, source_b),
census AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT c.source_a, c.source_b, c.n_pairs,
       CAST(floor(c.n_pairs /
              (CASE WHEN c.source_a = c.source_b
                    THEN CAST(na.n_docs AS DOUBLE) * (na.n_docs - 1) / 2.0
                    ELSE CAST(na.n_docs AS DOUBLE) * nb.n_docs END)
              * 1000000.0 + 0.5) AS BIGINT) AS rate_ppm
FROM counts c
JOIN census na ON na.source = c.source_a
JOIN census nb ON nb.source = c.source_b
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_source_overlap": QuerySpec(
        fn=source_overlap,
        oracle=_duck_source_overlap(),
        note="cross-source near-dup overlap matrix (n_pairs + pair-"
        "space rate per unordered source pair) — the feed-selection "
        "dashboard over the memoized verified pair set; divide-first "
        "double rate (int64-safe past the design point)",
    ),
    "dedup_url_canonical": QuerySpec(
        fn=url_canonical_dedup,
        oracle=_duck_url_canonical(),
        note="canonical-URL dedup (case/port/www/tracking-param/fragment "
        "normalization) over an in-query URL rendering — the "
        "pre-content web-ingest dedup stage",
    ),
    "dedup_report_by_source": QuerySpec(
        fn=dedup_report_by_source,
        oracle=_duck_dedup_report(),
        note="per-source exact-duplication-rate report (corpus-health "
        "dashboard row) off the shared tokenized scan",
    ),
    "dedup_incremental_minhash": QuerySpec(
        fn=incremental_minhash,
        oracle=_duck_incremental_minhash(),
        note="incremental dedup: a hash-split delta batch probes the "
        "base corpus's persisted band table (broadcast increment, base "
        "index never reshuffled) with exact-Jaccard verify; the base "
        "band table is memoized per session (the persisted-index "
        "stand-in), so the timing is the per-ingest cost",
    ),
    "dedup_keep_first": QuerySpec(
        fn=dedup_keep_first, oracle=DUCK_DEDUP_KEEP_FIRST,
        note="materializing keep-lowest-id dedup",
    ),
    "dedup_containment_pairs": QuerySpec(
        fn=containment_pairs,
        oracle=_duck_containment(),
        note="asymmetric-Jaccard containment over the LSH candidates: "
        "catches subset-inclusion duplicates symmetric Jaccard misses",
    ),
    "dedup_group_representatives": QuerySpec(
        fn=lambda s, d: group_representatives(s, d),
        oracle=_duck_group_representatives(),
        note="keep-BEST-of-cluster: per near-dup component, the longest "
        "member (tiebreak lowest id) — the representative-selection "
        "policy real cleaning pipelines use instead of keep-lowest-id",
    ),
    "pipeline_decontaminate": QuerySpec(
        fn=decontaminate_overlaps,
        oracle=DUCK_DECONTAMINATE,
        note="benchmark decontamination: training docs sharing any "
        "13-gram with the (stand-in) eval set, eval grams broadcast",
    ),
    "dedup_duplicate_passages": QuerySpec(
        fn=duplicate_passages,
        oracle=DUCK_DUPLICATE_PASSAGES,
        note="chunk-level exact dedup (copy-paste passage detector): "
        "fixed-size token chunks hashed and grouped across docs",
    ),
    "dedup_cdc_chunks": QuerySpec(
        fn=cdc_chunks,
        oracle=_duck_cdc_chunks(),
        note="content-defined chunking (Gear/rsync boundaries from the "
        "per-token rolling-hash code) — edit-stable chunk dedup, "
        "array-native single scan",
    ),
    "dedup_near_dup_groups": QuerySpec(
        fn=lambda s, d: near_dup_groups(s, d),
        oracle=_duck_near_dup_groups(),
        note="iterative min-label propagation (connected components); "
        "oracled via WITH RECURSIVE min-label reachability — the "
        "fixpoint a SQL engine CAN express that the dataflow loop "
        "computes iteratively; union-find cross-check in "
        "tests/test_dedup_groups.py",
    ),
    "dedup_exact_groups": QuerySpec(fn=exact_dup_groups, oracle=DUCK_EXACT_DUP_GROUPS),
    "dedup_minhash_signatures": QuerySpec(
        fn=minhash_signatures, oracle=_duck_minhash(),
        note="salted-md5 MinHash — engine-portable hash family",
    ),
    "dedup_minhash_near_dups": QuerySpec(
        fn=minhash_near_dups, oracle=_duck_near_dups(),
        note="LSH bands → candidate pairs → exact-Jaccard verify",
    ),
    "dedup_adjacent_jaccard": QuerySpec(
        fn=adjacent_jaccard, oracle=DUCK_ADJACENT_JACCARD,
        note="n-gram Jaccard dense reference",
    ),
    "dedup_minhash_estimate_error": QuerySpec(
        fn=minhash_estimate_error,
        oracle=_duck_minhash_estimate_error(),
        note="MinHash estimator calibration: signature-agreement "
        "estimate vs exact shingle Jaccard per adjacent pair — the "
        "N_HASHES/N_BANDS sizing diagnostic, off the shared shingle "
        "scan, integer ppm outputs",
    ),
    "dedup_simhash": QuerySpec(
        fn=simhash, oracle=_duck_simhash(),
        note="32-bit SimHash, portable floor/pow bit arithmetic",
    ),
}
