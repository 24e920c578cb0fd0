"""Entity resolution & hyperplane-LSH similarity — the candidate-
generation/verify family beyond MinHash.

Two operators a 100 TB training-data pipeline needs that the existing
dedup catalog does not cover:

- ``dedup_record_linkage``: fuzzy record linkage (token blocking +
  edit-distance verify) over a string-keyed entity column. The classic
  entity-resolution shape: collapse records to the DISTINCT value
  dictionary first (records >> distinct names, Heaps-style), block the
  dictionary by shared token, verify candidates with JVM-side
  ``levenshtein`` — never an N^2 over records.
- ``embedding_srp_lsh_pairs``: sign-random-projection (hyperplane) LSH
  over the embedding column — the COSINE analog of the MinHash band
  index (Charikar's SimHash for real vectors). Signature pass is a
  zero-shuffle projection; candidate generation is one (band, bucket)
  self-join; verification is exact cosine on the candidate residue.

Scale notes (100 TB):
- record linkage: the distinct-name dictionary is the only relation the
  pair join ever sees; token blocking bounds candidates by per-token
  bucket size, and the hot-token guard (r8) censuses the blocking
  tokens and drops any electing more than LINKAGE_HOT_TOKEN_PPM of the
  dictionary — a stopword-like name token ("inc", "ltd") would
  otherwise inflate one bucket quadratically. Both engines apply the
  identical guard, so the oracle verifies the guarded form.
- SRP: one narrow scan computes all 64 signature bits as integer dot
  products (micro-unit components x integer hyperplane weights — every
  partial value is an integer < 2^53, so the fold is exact in either
  engine and in any order); the only shuffle is the (band, bucket)
  self-join whose blow-up is bounded by bucket selectivity, exactly
  like the MinHash band join. For >512-dim vectors the signature
  projection swaps to a mapInPandas BLAS matmul (same contract), per
  the documented similarity.py pattern.

Fixture honesty: the synthetic embeddings are near-orthogonal (measured
max pairwise cosine 0.513 at sf0.01), so the high-similarity regime
hyperplane LSH is designed for does not occur naturally. Following the
``pii_scrub`` precedent (fixture lacks the phenomenon -> assemble it
deterministically in-query, identically in both engines), the query
seeds SRP_N_CLONES perturbed near-duplicate clones (first component
x1.01, IEEE-exact in both engines) and finds them back. The amplification
math is documented on the operator; a companion test measures recall
against the exact pair list.

Reference parity note: the reference engine has no fuzzy-match or
vector operators at all (its closest surface is the k-gram wildcard
index, `sa/edu/kaust/TermKGramDocIndexer.java`); both operators are
beyond-reference pipeline components per the build brief.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caches import memo
from ..sources.tables import table
from . import QuerySpec
from .similarity import _dot, _micro

# --- record linkage ------------------------------------------------------

LINKAGE_MAX_LEV = 2  # verify threshold: near-identical entity names
# Hot-blocking-token guard: a token blocking more than this share of the
# distinct-name dictionary (in ppm: 200_000 = 20%) is dropped from
# blocking. Uniform vocabularies (TPC-H part names: ~5.4% per color
# token at every sf) pass untouched; a stopword-like token spanning the
# dictionary is excluded before the self-join can square its bucket.
LINKAGE_HOT_TOKEN_PPM = 200_000


# Distinct-name dictionary memo: dictionary-sized (Heaps-bounded), read
# by FOUR consumers (both token-block sides + both count joins) — cache
# it so the record stream is scanned exactly once per (session, corpus),
# the _full_bands_cached discipline from dedup.py.
@memo
def _names_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_recs"))
        .cache()
    )


def record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name_a, name_b, lev, recs_a, recs_b): distinct part-name pairs
    within edit distance LINKAGE_MAX_LEV, found via token blocking.

    Recall contract, stated precisely: the output is the lev<=2 pairs
    that SHARE AT LEAST ONE INTACT non-empty, non-hot whitespace token.
    That is weaker than full lev<=2 recall — a pair whose two edits land
    in different tokens of a two-word name, any edit to a single-token
    name, and a pair whose only shared token is dropped by the hot-token
    guard are all silently missed. This is the standard
    blocking-tradeoff (recall bounded by the blocking key), not a bug;
    callers needing full lev<=2 recall need a different blocking key
    (e.g. character k-grams, the wildcard-index discipline).

    Stage 1 collapses the record stream to the distinct-name dictionary
    (one combinable groupBy — the only record-stream pass, memoized and
    cached so its consumers read the in-memory dictionary instead of
    re-deriving it). Stage 2 blocks the dictionary on shared whitespace
    tokens, after (a) dropping empty tokens (consecutive/leading spaces
    under split) and (b) the hot-token census: any token blocking more
    than LINKAGE_HOT_TOKEN_PPM of the dictionary is excluded, so no
    blocking bucket can grow quadratic under a stopword-like name token
    (the search_related_docs common-feature discipline). Stage 3
    verifies with levenshtein — builtin, JVM-side, identical DP
    semantics in DuckDB. The DuckDB oracle replays the identical guard,
    so the guarded form is value-verified, not just exercised."""
    names = _names_cached(spark, sf_dir)
    # per-name token DEDUP before anything else: a name repeating a
    # token ("tan tan lace") must count once in the census (bucket size
    # = distinct NAMES electing the token) and join once per token in
    # the candidate stage (r8 review — without distinct the census
    # over-counts repeats and the self-join squares them)
    toks = (
        names.select(
            "p_name", F.explode(F.split(F.col("p_name"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    # hot-token census over the deduped dictionary: count(*) per token
    # IS the number of names electing it. The dictionary total is read
    # driver-side at plan time (one count of the CACHED dictionary —
    # the pagerank/ANN-probe discipline) so the keep-filter is a
    # literal comparison, not a 1-row BNLJ cross.
    nn = names.count()
    keep = (
        toks.groupBy("token")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") * F.lit(1_000_000) <= F.lit(LINKAGE_HOT_TOKEN_PPM * nn))
        .select("token")
    )
    blocked = toks.join(keep, "token")  # token-vocabulary join, unhinted
    cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), "token")
        .filter(F.col("a.p_name") < F.col("b.p_name"))
        .select(
            F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b")
        )
        .distinct()
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    verified = cand.filter(lev <= LINKAGE_MAX_LEV).select(
        "name_a", "name_b", lev.cast("long").alias("lev")
    )
    na = names.select(
        F.col("p_name").alias("name_a"), F.col("n_recs").alias("recs_a")
    )
    nb = names.select(
        F.col("p_name").alias("name_b"), F.col("n_recs").alias("recs_b")
    )
    return verified.join(na, "name_a").join(nb, "name_b").select(
        "name_a", "name_b", "lev", "recs_a", "recs_b"
    )


DUCK_RECORD_LINKAGE = f"""
WITH names AS (SELECT p_name, count(*) AS n_recs FROM part GROUP BY p_name),
     toks AS (SELECT DISTINCT p_name, token FROM (
                SELECT p_name, unnest(string_split(p_name, ' ')) AS token
                FROM names) WHERE token <> ''),
     nn AS (SELECT count(*) AS nn FROM names),
     keep AS (SELECT token FROM (
                SELECT token, count(*) AS bn FROM toks GROUP BY token)
              CROSS JOIN nn
              WHERE bn * 1000000 <= {LINKAGE_HOT_TOKEN_PPM} * nn),
     blocked AS (SELECT p_name, token FROM toks JOIN keep USING (token)),
     cand AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
              FROM blocked a JOIN blocked b USING (token)
              WHERE a.p_name < b.p_name),
     verified AS (SELECT name_a, name_b,
                         CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
                  FROM cand
                  WHERE levenshtein(name_a, name_b) <= {LINKAGE_MAX_LEV})
SELECT v.name_a, v.name_b, v.lev,
       na.n_recs AS recs_a, nb.n_recs AS recs_b
FROM verified v
JOIN names na ON na.p_name = v.name_a
JOIN names nb ON nb.p_name = v.name_b
"""


# --- sign-random-projection (hyperplane) LSH -----------------------------

SRP_DIM = 64  # embedding dimensionality (fixture contract)
SRP_BITS = 64  # signature length
SRP_BANDS = 8  # 8 bands x 8 rows
SRP_ROWS = SRP_BITS // SRP_BANDS
SRP_VERIFY_PPM = 950_000  # exact-cosine verify threshold (0.95 in ppm)
SRP_N_CLONES = 25  # seeded near-duplicate clones (vec_id < this)
SRP_CLONE_OFFSET = 1_000_000  # clone vec_id = original + offset
MICRO = 1_000_000  # micro-unit scale for the integer signature math

# Amplification math for this geometry (p = 1 - theta/pi per bit):
#   cos 0.999 (the seeded clones): p≈0.9899, band hit p^8≈0.922,
#     P(any of 8 bands) ≈ 1 - (1-0.922)^8 ≈ 1 - 1.4e-9  -> found
#   cos 0.0   (the near-orthogonal bulk): p=0.5, band hit 0.0039,
#     P(candidate) ≈ 1 - 0.9961^8 ≈ 0.031  -> ~3% of pairs verified
# i.e. the S-curve separates the clone regime from the noise floor by
# ~9 orders of magnitude — the regime LSH is built for. At the fixture's
# max natural cosine (0.513, p≈0.658) the candidate probability is only
# ~0.26: hyperplane LSH genuinely cannot cheaply separate 0.5 from 0.0
# (the rho = ln(1/p1)/ln(1/p2) bound), which is WHY the verify threshold
# sits at 0.95 and the natural bulk never reaches the output.


def _srp_weights() -> list[list[int]]:
    """Deterministic integer hyperplane components in [-1000, 1000],
    derived from md5 so the table regenerates identically anywhere (the
    Efraimidis-Spirakis md5-uniform precedent from pipeline.py)."""
    out = []
    for j in range(SRP_BITS):
        row = []
        for i in range(SRP_DIM):
            h = int(hashlib.md5(f"srp:{j}:{i}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001) - 1000)
        out.append(row)
    return out


_W = _srp_weights()


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as double vectors, plus the seeded perturbed clones."""
    emb = table(spark, sf_dir, "embeddings")
    vecd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", vecd.alias("vecd"))
    clone_vec = F.concat(
        F.array(F.element_at(F.col("embedding"), 1).cast("double") * F.lit(1.01)),
        F.transform(
            F.slice(F.col("embedding"), 2, SRP_DIM - 1), lambda x: x.cast("double")
        ),
    )
    clones = emb.filter(F.col("vec_id") < SRP_N_CLONES).select(
        (F.col("vec_id") + SRP_CLONE_OFFSET).alias("vec_id"),
        clone_vec.alias("vecd"),
    )
    return base.union(clones)


def _srp_band_partials(it):
    """mapInPandas kernel: all {SRP_BITS} signature bits per vector in
    ONE int64 numpy matmul. dots = floor(v*1e6 + 0.5) @ W.T with every
    term and partial an integer (|term| <= ~6e8, |sum| <= ~4e10 < 2^53),
    so the result is exact and order-independent — the micro-unit
    discipline applied to a dot product, vectorized. (The equivalent
    64×64 higher-order-function expression tree evaluates interpreted
    element-at-a-time and benched 14.8 s at sf0.1 vs <1 s here; the
    DuckDB oracle keeps the expression form — identical integers.)"""
    import numpy as np
    import pandas as pd

    w = np.array(_W, dtype=np.int64)  # (SRP_BITS, SRP_DIM)
    pows = 1 << np.arange(SRP_ROWS - 1, -1, -1, dtype=np.int64)
    bands = np.arange(SRP_BANDS, dtype=np.int64)
    for pdf in it:
        if pdf.empty:
            continue
        x = np.stack(pdf["vecd"].to_numpy()).astype(np.float64)
        xm = np.floor(x * MICRO + 0.5).astype(np.int64)
        bits = (xm @ w.T >= 0).astype(np.int64)  # (n, SRP_BITS)
        buckets = bits.reshape(-1, SRP_BANDS, SRP_ROWS) @ pows  # (n, BANDS)
        n = len(pdf)
        yield pd.DataFrame(
            {
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), SRP_BANDS),
                "band": np.tile(bands, n),
                "bucket": buckets.reshape(-1),
            }
        )


def _srp_bands(aug: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) — zero-shuffle signature projection (one
    narrow mapInPandas pass; see _srp_band_partials for the exactness
    argument)."""
    return aug.mapInPandas(
        _srp_band_partials, schema="vec_id long, band long, bucket long"
    )


# SRP band-table memo: the persisted hyperplane index a real system
# builds once and probes per query — the _full_bands_cached discipline
# from dedup.py. The signature kernel runs ONCE per (session, corpus);
# both sides of every self-join read the cached (vec_id, band, bucket)
# rows (SRP_BANDS=8 rows of 3 longs — ~192 bytes per vector, still
# small next to the 512-byte vectors themselves), and caches.evict()
# releases the blocks with every other memo entry for the corpus.
@memo
def _srp_bands_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _srp_bands(_augmented(spark, sf_dir)).cache()


def srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, cos_ppm): hyperplane-LSH candidate pairs verified
    at exact cosine >= SRP_VERIFY_PPM micro-units (integer micro-unit
    rendering per the driver canon — a round(x, 6) DOUBLE output would
    ride each engine's own rounding mode on a knife edge). On the
    fixture this recovers the seeded (original, clone) pairs; the
    natural near-orthogonal bulk is generated at the documented ~3%
    candidate rate and then rejected by the verify — the precision leg
    of the LSH contract."""
    aug = _augmented(spark, sf_dir)
    bands = _srp_bands_cached(spark, sf_dir)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b")
        )
        .distinct()
    )
    # Norms precomputed per VECTOR (N values), not per candidate pair —
    # the SemDeDup discipline; the pair stage pays one dot, not three.
    normed = aug.select(
        "vec_id",
        "vecd",
        F.sqrt(_dot(F.col("vecd"), F.col("vecd"))).alias("nrm"),
    )
    va = normed.select(
        F.col("vec_id").alias("id_a"),
        F.col("vecd").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = normed.select(
        F.col("vec_id").alias("id_b"),
        F.col("vecd").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos_ppm = _micro(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos_ppm.alias("cos_ppm"))
        .filter(F.col("cos_ppm") >= SRP_VERIFY_PPM)
    )


def _duck_srp() -> str:
    w_rows = ", ".join(
        "[" + ", ".join(f"{x}e0" for x in row) + "]" for row in _W
    )
    band_selects = []
    for b in range(SRP_BANDS):
        terms = " + ".join(
            f"(CASE WHEN dots[{b * SRP_ROWS + r + 1}] >= 0 "
            f"THEN {1 << (SRP_ROWS - 1 - r)} ELSE 0 END)"
            for r in range(SRP_ROWS)
        )
        band_selects.append(
            f"SELECT vec_id, CAST({b} AS BIGINT) AS band, "
            f"CAST({terms} AS BIGINT) AS bucket FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    dcos = (
        "(list_dot_product(a.vecd, b.vecd) / "
        "(sqrt(list_dot_product(a.vecd, a.vecd)) * "
        "sqrt(list_dot_product(b.vecd, b.vecd))))"
    )
    return f"""
WITH aug AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
  FROM embeddings
  UNION ALL
  SELECT vec_id + {SRP_CLONE_OFFSET},
         [CAST(embedding[1] AS DOUBLE) * 1.01e0]
           || list_transform(embedding[2:], x -> CAST(x AS DOUBLE))
  FROM embeddings WHERE vec_id < {SRP_N_CLONES}
),
sig AS MATERIALIZED (
  SELECT vec_id,
         list_transform([{w_rows}],
                        w -> list_dot_product(
                               list_transform(vecd,
                                              x -> floor(x * {MICRO} + 0.5)),
                               w)) AS dots
  FROM aug
),
bands AS ({bands_sql}),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM bands x JOIN bands y USING (band, bucket)
  WHERE x.vec_id < y.vec_id
)
SELECT id_a, id_b,
       CAST(floor({dcos} * {MICRO} + 0.5) AS BIGINT) AS cos_ppm
FROM cand
JOIN aug a ON a.vec_id = cand.id_a
JOIN aug b ON b.vec_id = cand.id_b
WHERE CAST(floor({dcos} * {MICRO} + 0.5) AS BIGINT) >= {SRP_VERIFY_PPM}
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_record_linkage": QuerySpec(
        fn=record_linkage,
        oracle=DUCK_RECORD_LINKAGE,
        note="token-blocked fuzzy record linkage over the distinct "
        "entity-name dictionary, levenshtein-verified — entity "
        "resolution without an N^2 over records",
    ),
    "embedding_srp_lsh_pairs": QuerySpec(
        fn=srp_lsh_pairs,
        oracle=_duck_srp(),
        note="sign-random-projection (hyperplane) LSH over embeddings "
        "with exact-cosine verify — the cosine analog of the MinHash "
        "band index; integer micro-unit signature math, seeded "
        "near-dup clones exercise the high-similarity regime",
    ),
}
