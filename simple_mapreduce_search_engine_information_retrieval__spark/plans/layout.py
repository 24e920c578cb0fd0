"""Data-layout and scale diagnostics — the ops you run BEFORE a 100 TB job.

Three operators, each answering a question that decides a physical plan:

- ``layout_zorder_files``: would Z-order clustering make data skipping
  work?  Interleaves two predicate dimensions (user bucket x day bucket)
  into a Morton key, assigns rows to fixed-size files in z order, and
  reports each file's bounding box over BOTH dimensions.  Narrow boxes =
  min/max file statistics prune on either predicate — the Delta/Iceberg
  OPTIMIZE ZORDER question, answered with exact integer math so the
  oracle reproduces every file boundary.
- ``diag_key_skew``: is this join/agg key skewed enough to need salting?
  Heavy-hitter profile of ``events.user_id`` — top-10 keys with exact
  ppm share and cumulative share.  This is the measurement behind the
  salted-postings discipline in ``plans/indexing.py`` (the decision to
  salt is made from numbers like these, not guessed).
- ``sketch_quantile_bins``: mergeable single-pass-per-stage quantile
  estimate (fixed 1000-bin equi-width histogram -> p50/p90/p99 by
  cumulative threshold).  The histogram is a partial-aggregable
  ``groupBy`` — the map-side-combinable shape a 1000-executor percentile
  needs; the error bound is one bin width by construction.  Estimates
  are emitted in integer micro-units via the repo's half-up
  ``floor(x*1e6 + 0.5)`` convention so both engines agree bit-for-bit.

Scale notes (all three):
- The only windows run over bounded relations: the 256-row z-value
  census, the 10-row heavy-hitter list, the 1000-bin histogram.  The
  per-row passes are groupBy partial aggregates or broadcast joins of
  those tiny relations; nothing windows over the corpus.
- ``layout_zorder_files``'s within-cell ``row_number`` partitions by
  zval (256 balanced cells by construction — the point of interleaving
  is that z cells are small and uniform), so the sort is per-cell, not
  global.

Reference parity: the reference has no layout tooling (its storage is
whatever ``SequenceFileOutputFormat`` emits, SURVEY §2.1); these are
north-star additions in the same spirit as the sketches pack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec
from ..sources.tables import table

ZBITS = 4  # 4+4-bit Morton key -> 256 z cells
ZCELLS = 1 << (2 * ZBITS)
ROWS_PER_FILE = 1024  # target file size, in rows, for the layout audit
DAY_NS = 86_400_000_000_000  # one day in nanoseconds (canonical ts unit)

SKEW_TOP = 10
PPM = 1_000_000

QBINS = 1000
QUANTS = ((50, 100), (90, 100), (99, 100))  # exact ratios, not floats


def _zval_terms(ub: str, db: str, idiv: str) -> str:
    """Morton interleave of two ZBITS-wide bucket columns as pure
    integer arithmetic (no dialect-specific bit ops); ``idiv`` is the
    engine's integer-division operator ('div' Spark, '//' DuckDB)."""
    terms = []
    for i in range(ZBITS):
        terms.append(f"(({ub} {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({db} {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def zorder_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(file_id, n_rows, ub_min, ub_max, db_min, db_max, bbox_cells):
    the per-file two-dimensional bounding boxes a z-ordered rewrite of
    ``events`` would give its min/max file statistics."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % (1 << ZBITS)).alias("ub"),
        (F.expr(f"(ts div {DAY_NS}) % {1 << ZBITS}")).alias("db"),
    )
    z = ev.select(
        "event_id", "ub", "db", F.expr(_zval_terms("ub", "db", "div")).alias("zval")
    )
    # 256-row census -> exclusive prefix sum (tiny window), broadcast back
    census = z.groupBy("zval").agg(F.count("*").alias("n"))
    cum = census.select(
        "zval",
        (
            F.sum("n").over(
                Window.orderBy("zval").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("n")
        ).alias("cum_before"),
    )
    pos = z.join(F.broadcast(cum), "zval").select(
        "ub",
        "db",
        (
            F.col("cum_before")
            + F.row_number().over(
                Window.partitionBy("zval").orderBy("event_id")
            )
            - 1
        ).alias("gpos"),
    )
    return (
        pos.groupBy(F.expr(f"gpos div {ROWS_PER_FILE}").alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ub").alias("ub_min"),
            F.max("ub").alias("ub_max"),
            F.min("db").alias("db_min"),
            F.max("db").alias("db_max"),
        )
        .select(
            "*",
            (
                (F.col("ub_max") - F.col("ub_min") + 1)
                * (F.col("db_max") - F.col("db_min") + 1)
            ).alias("bbox_cells"),
        )
    )


DUCK_ZORDER_FILES = f"""
WITH keyed AS (
  SELECT event_id,
         user_id % {1 << ZBITS} AS ub,
         (epoch_ns(ts) // {DAY_NS}) % {1 << ZBITS} AS db
  FROM events
), z AS (
  SELECT event_id, ub, db, {_zval_terms("ub", "db", "//")} AS zval FROM keyed
), census AS (
  SELECT zval, count(*) AS n FROM z GROUP BY zval
), cum AS (
  SELECT zval,
         CAST(sum(n) OVER (ORDER BY zval
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
           AS BIGINT) AS cum_before
  FROM census
), pos AS (
  SELECT z.ub, z.db,
         cum.cum_before
           + row_number() OVER (PARTITION BY z.zval ORDER BY z.event_id) - 1
           AS gpos
  FROM z JOIN cum ON z.zval = cum.zval
)
SELECT CAST(gpos // {ROWS_PER_FILE} AS BIGINT) AS file_id, count(*) AS n_rows,
       min(ub) AS ub_min, max(ub) AS ub_max,
       min(db) AS db_min, max(db) AS db_max,
       (max(ub) - min(ub) + 1) * (max(db) - min(db) + 1) AS bbox_cells
FROM pos GROUP BY file_id
"""


def key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, user_id, n_events, share_ppm, cume_ppm, n_keys,
    total_events): exact heavy-hitter profile of the events join key.
    GroupBy partial agg -> TakeOrdered {SKEW_TOP}; windows only over the
    10-row result; totals are a 1-row broadcast."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total_events"), F.count("*").alias("n_keys")
    )
    top = counts.orderBy(F.desc("n"), "user_id").limit(SKEW_TOP)
    w = Window.orderBy(F.desc("n"), "user_id")
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w).alias("rank"),
            "user_id",
            F.col("n").alias("n_events"),
            F.expr(f"n * {PPM} div total_events").alias("share_ppm"),
            F.expr(
                "sum(n) OVER (ORDER BY n DESC, user_id "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * {PPM} "
                "div total_events"
            ).alias("cume_ppm"),
            "n_keys",
            "total_events",
        )
    )


DUCK_KEY_SKEW = f"""
WITH c AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_events, count(*) AS n_keys FROM c
), top AS (
  SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT {SKEW_TOP}
)
SELECT row_number() OVER (ORDER BY n DESC, user_id) AS rank,
       user_id, n AS n_events,
       CAST(n * {PPM} // total_events AS BIGINT) AS share_ppm,
       CAST(sum(n) OVER (ORDER BY n DESC, user_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         * {PPM} // total_events AS BIGINT) AS cume_ppm,
       n_keys, total_events
FROM top, t
"""


def quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_pct, threshold_rank, bin_idx, est_micro): histogram-sketch
    quantiles of events.value.  threshold_rank = ceil(q * total) in
    integer math; bin_idx = first bin whose cumulative count reaches it;
    est_micro = the bin's lower edge in half-up micro-units."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count("*").alias("total"),
    )
    binned = (
        ev.crossJoin(F.broadcast(rng))
        .select(
            # degenerate-range guard: a constant column gives vmax = vmin,
            # where the bin division is 0/0 — Spark (non-ANSI) yields NULL
            # while DuckDB yields inf/nan, so the engines would diverge
            # exactly where the oracle contract must hold. All rows land
            # in bin 0 (ADVICE r4).
            F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(QBINS - 1),
                    F.floor(
                        (F.col("value") - F.col("vmin"))
                        * float(QBINS)
                        / (F.col("vmax") - F.col("vmin"))
                    ),
                )
            )
            .alias("b"),
            "vmin",
            "vmax",
            "total",
        )
        .groupBy("b", "vmin", "vmax", "total")
        .agg(F.count("*").alias("n"))
    )
    cum = binned.select(
        "b",
        "vmin",
        "vmax",
        "total",
        F.sum("n")
        .over(Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cume"),
    )
    qs = spark.createDataFrame(
        [(num, den) for num, den in QUANTS], "q_num long, q_den long"
    )
    return (
        cum.crossJoin(F.broadcast(qs))
        .withColumn(
            "threshold_rank", F.expr("(total * q_num + q_den - 1) div q_den")
        )
        .filter(F.col("cume") >= F.col("threshold_rank"))
        .groupBy(
            F.expr("q_num * 100 div q_den").alias("q_pct"), "threshold_rank"
        )
        .agg(
            F.min("b").alias("bin_idx"),
            F.min("vmin").alias("vmin"),
            F.min("vmax").alias("vmax"),
        )
        .select(
            "q_pct",
            "threshold_rank",
            "bin_idx",
            F.expr(
                f"CAST(floor((vmin + bin_idx * (vmax - vmin) / {float(QBINS)})"
                " * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("est_micro"),
        )
    )


def _duck_quantile_bins() -> str:
    qrows = " UNION ALL ".join(
        f"SELECT CAST({num} AS BIGINT) AS q_num, CAST({den} AS BIGINT) AS q_den"
        for num, den in QUANTS
    )
    return f"""
WITH rng AS (
  SELECT min(value) AS vmin, max(value) AS vmax, count(*) AS total FROM events
), binned AS (
  SELECT CAST(CASE WHEN vmax = vmin THEN 0
              ELSE least({QBINS - 1},
                   floor((value - vmin) * {float(QBINS)} / (vmax - vmin)))
              END AS BIGINT) AS b,
         vmin, vmax, total, count(*) AS n
  FROM events, rng GROUP BY 1, 2, 3, 4
), cum AS (
  SELECT b, vmin, vmax, total,
         sum(n) OVER (ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume
  FROM binned
), qs AS ({qrows})
SELECT q_num * 100 // q_den AS q_pct,
       (total * q_num + q_den - 1) // q_den AS threshold_rank,
       min(b) AS bin_idx,
       CAST(floor((min(vmin) + min(b) * (min(vmax) - min(vmin)) / {float(QBINS)})
                  * 1000000.0 + 0.5) AS BIGINT) AS est_micro
FROM cum, qs
WHERE cume >= (total * q_num + q_den - 1) // q_den
GROUP BY 1, 2
"""


# --- small-file compaction planner --------------------------------------
# The other half of the layout story: a hive-partitioned (source, lang)
# corpus accumulates tiny partitions (the small-files problem — every
# one is a task, an open file, a footer read at 100 TB), and a
# compaction rewrite coalesces undersized partitions into shared output
# files. The planner: census the partitions (partial agg, dictionary-
# cardinality result), stand large partitions alone, and first-fit the
# small ones into bins by exclusive-prefix-sum over the BOUNDED census
# — the corpus itself never passes through a window.
COMPACT_TARGET_ROWS = 100


def _excl_cumsum_sql(rows_case: str, order_by: str, minus: str) -> str:
    """Exclusive running sum over a deterministic census order — the
    first-fit binning core shared by compaction_plan and ivf_rebalance
    in BOTH dialects (only the integer-div operator differs outside:
    Spark ``div``, DuckDB ``//``). Factored per the
    _stride_seed_codebook precedent: a tie-break or null-ordering fix
    must land in every rendering at once, not by copy discipline."""
    return (
        f"(sum({rows_case}) OVER (ORDER BY {order_by} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - {minus})"
    )


COMPACT_SMALL_ROWS = (
    f"CASE WHEN n_rows < {COMPACT_TARGET_ROWS} THEN n_rows ELSE 0 END"
)
COMPACT_EXCL_CUM = _excl_cumsum_sql(
    COMPACT_SMALL_ROWS, "source NULLS FIRST, lang NULLS FIRST", "n_rows"
)


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, lang, n_rows, compact, bin_id): the compaction rewrite
    plan for a (source, lang)-partitioned documents layout. compact=1
    partitions are merged into shared files; bin_id groups partitions
    whose rows land in the same output file (exclusive cumulative rows
    div target, deterministic order by (source, lang)); kept partitions
    carry bin_id = -1. Bins can overshoot the target by at most one
    partition — the standard first-fit-by-cumsum compaction contract."""
    census = (
        table(spark, sf_dir, "documents")
        .select("source", "lang")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n_rows"))
    )
    # single pass over the census: the exclusive cumsum counts ONLY the
    # undersized partitions (large ones contribute 0), which is exactly
    # the filtered-then-windowed formulation without a second census /
    # self-join; NULLS FIRST pinned because Spark and DuckDB default
    # null ordering differ (r6 code review)
    excl_cum = COMPACT_EXCL_CUM
    return census.select(
        "source",
        "lang",
        "n_rows",
        F.when(F.col("n_rows") < COMPACT_TARGET_ROWS, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("compact"),
        F.when(
            F.col("n_rows") < COMPACT_TARGET_ROWS,
            F.expr(f"{excl_cum} div {COMPACT_TARGET_ROWS}"),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("bin_id"),
    )


DUCK_COMPACTION_PLAN = f"""
WITH census AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_rows,
       CAST(CASE WHEN n_rows < {COMPACT_TARGET_ROWS} THEN 1 ELSE 0 END
            AS BIGINT) AS compact,
       CAST(CASE WHEN n_rows < {COMPACT_TARGET_ROWS} THEN
              {COMPACT_EXCL_CUM} // {COMPACT_TARGET_ROWS}
            ELSE -1 END AS BIGINT) AS bin_id
FROM census
"""


# --- IVF cell rebalance planner -------------------------------------------
# The ANN-store sibling of layout_compaction_plan: a served IVF store
# drifts as ingest waves land (append_ivf_store never reshuffles the
# base), so a maintenance cycle censuses the cells and plans SPLITs of
# oversized cells (probe latency is linear in the scanned cell) and
# first-fit MERGEs of undersized ones (per-cell file/partition overhead).
# Thresholds are RELATIVE to the average cell (the realistic policy):
# split above 1.5x avg into ~avg-sized shards, merge below 0.75x avg.
# The oracled k-means assignment is the cell census source; because the
# fixture's Lloyd cells are well balanced (a quality of the codebook,
# not of the planner), the census is augmented with six deterministic
# synthetic cells at 0.25x..3x avg — the pii_scrub/SRP-clone precedent:
# the fixture lacks the phenomenon, so seed it identically in both
# engines — which guarantees every action arm executes at every scale.

# Synthetic census cells use NEGATIVE ids (-q): k-means cluster ids are
# stride-sampled vec_ids (NOT 0..K-1 — 0..1750 at sf0.1), so any
# non-negative offset could collide with a real cell at some corpus
# size; vec_ids are never negative, so -q is disjoint at every scale.
REBAL_SYNTH_QUARTERS = (1, 2, 3, 6, 8, 12)  # n = q * avg / 4, id = -q
REBAL_MERGE_ROWS = "CASE WHEN action = 'merge' THEN n_vecs ELSE 0 END"


def ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster, n_vecs, action, n_shards, bin_id): the rebalance plan.

    split  -> n_shards = ceil(n_vecs / avg) sub-cells (secondary-hash
              sub-split, the SemDeDup shard-guard mechanism);
    merge  -> bin_id groups undersized cells first-fit by exclusive
              cumsum into ~avg-sized serving units (the
              layout_compaction_plan contract);
    keep   -> n_shards = 1, bin_id = -1.

    All decisions are INTEGER arithmetic on the bounded census
    (2*n*k vs 3*total etc.), so both engines agree exactly; windows run
    only over the K-row census."""
    from .similarity import kmeans_clusters

    real = (
        kmeans_clusters(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        # K-row census, materialized ONCE (r12 verdict optional #7: this
        # query was the worst plan-audit row at 48 Exchanges / 25 BNLJ —
        # all display/recompute duplicates of the kmeans census nested
        # under its four downstream consumers, benign but unreadable).
        # localCheckpoint on a bounded relation, the mmr-shortlist
        # precedent; the downstream totals/union/cumsum now read a flat
        # K-row stub. Values identical by construction.
        .localCheckpoint()
    )
    tot0 = real.agg(
        F.sum("n_vecs").cast("long").alias("t0"),
        F.count("*").cast("long").alias("k0"),
    )
    synth = tot0.select(
        F.explode(
            F.array(*[F.lit(q) for q in REBAL_SYNTH_QUARTERS])
        ).alias("q"),
        "t0",
        "k0",
    ).select(
        (-F.col("q")).cast("long").alias("cluster"),
        F.expr("(q * t0) div (k0 * 4)").cast("long").alias("n_vecs"),
    )
    census = real.unionByName(synth)
    tot = census.agg(
        F.sum("n_vecs").cast("long").alias("total"),
        F.count("*").cast("long").alias("k"),
    )
    # bounded: 1-row census totals
    tagged = census.crossJoin(F.broadcast(tot)).select(
        "cluster",
        "n_vecs",
        "total",
        "k",
        F.when(
            2 * F.col("n_vecs") * F.col("k") > 3 * F.col("total"),
            F.lit("split"),
        )
        .when(
            4 * F.col("n_vecs") * F.col("k") < 3 * F.col("total"),
            F.lit("merge"),
        )
        .otherwise(F.lit("keep"))
        .alias("action"),
    )
    excl_cum = _excl_cumsum_sql(
        REBAL_MERGE_ROWS, "cluster NULLS FIRST", "n_vecs"
    )
    return tagged.select(
        "cluster",
        "n_vecs",
        "action",
        F.when(
            F.col("action") == "split",
            F.expr("(n_vecs * k + total - 1) div total"),
        )
        .otherwise(F.lit(1))
        .cast("long")
        .alias("n_shards"),
        F.when(
            F.col("action") == "merge",
            F.expr(f"{excl_cum} div (total div k)"),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("bin_id"),
    )


def _duck_ivf_rebalance() -> str:
    from .similarity import DUCK_KMEANS

    quarters = ", ".join(str(q) for q in REBAL_SYNTH_QUARTERS)
    return f"""
WITH assign AS ({DUCK_KMEANS}),
real AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs
         FROM assign GROUP BY cluster),
tot0 AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t0,
                CAST(count(*) AS BIGINT) AS k0 FROM real),
synth AS (SELECT CAST(-q AS BIGINT) AS cluster,
                 CAST((q * t0) // (k0 * 4) AS BIGINT) AS n_vecs
          FROM tot0, (SELECT unnest([{quarters}]) AS q)),
census AS (SELECT * FROM real UNION ALL SELECT * FROM synth),
tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS k FROM census),
tagged AS (
  SELECT c.cluster, c.n_vecs, t.total, t.k,
         CASE WHEN 2 * c.n_vecs * t.k > 3 * t.total THEN 'split'
              WHEN 4 * c.n_vecs * t.k < 3 * t.total THEN 'merge'
              ELSE 'keep' END AS action
  FROM census c CROSS JOIN tot t
)
SELECT cluster, n_vecs, action,
       CAST(CASE WHEN action = 'split'
                 THEN (n_vecs * k + total - 1) // total
                 ELSE 1 END AS BIGINT) AS n_shards,
       CAST(CASE WHEN action = 'merge'
                 THEN {_excl_cumsum_sql(REBAL_MERGE_ROWS,
                                        "cluster NULLS FIRST",
                                        "n_vecs")} // (total // k)
                 ELSE -1 END AS BIGINT) AS bin_id
FROM tagged
"""


# --- IVF rebalance EXECUTION ----------------------------------------------
# layout_ivf_rebalance above EMITS the plan; these execute it against a
# persisted write_ivf_store layout and serve from the result — the
# index_compaction_roundtrip contract applied to the ANN store (r7
# verdict, Next-round #4). The rebalanced layout partitions vectors by
# serving UNIT instead of raw cell:
#   keep  -> one unit per cell                     (unit "k<cell>")
#   merge -> undersized cells share a bin unit     (unit "m<bin>")
#   split -> an oversized cell shards by xxhash64  (unit "s<cell>-<shard>")
# The cell id stays a DATA column, so probe-time cell filtering is
# unchanged and served top-k is identical pre/post BY CONSTRUCTION —
# proven, not assumed, by the oracled roundtrip query + the pre/post
# equality test. What changes is the layout economics: merge collapses
# per-cell file/partition overhead into ~avg-sized units, split bounds
# the largest scan unit (shards scan in parallel at 100 TB).
# Plan arithmetic is the planner's exact integer form, computed on the
# bounded K-row census driver-side (the probe-planning discipline).


def _rebalance_plan_rows(census: list[tuple[int, int]]) -> list[tuple]:
    """[(cell, n_vecs, action, n_shards, unit_base)] from a [(cell, n)]
    census — the planner's integer thresholds (split 2nk>3t, merge
    4nk<3t) and first-fit exclusive-cumsum merge binning, in cell order."""
    if not census:
        # surfacing loudly beats an opaque ZeroDivisionError at avg
        # below (r8 ADVICE; the BPE pair-supply guard's precedent)
        raise RuntimeError("rebalance: empty vector store census")
    total = sum(n for _, n in census)
    k = len(census)
    avg = total // k
    out, running = [], 0
    for cell, n in sorted(census):
        if 2 * n * k > 3 * total:
            shards = (n * k + total - 1) // total
            out.append((cell, n, "split", shards, f"s{cell}"))
        elif 4 * n * k < 3 * total:
            out.append((cell, n, "merge", 1, f"m{running // avg}"))
            running += n
        else:
            out.append((cell, n, "keep", 1, f"k{cell}"))
    return out


def rebalance_ivf_store(
    spark: SparkSession, store_path: str, out_path: str
) -> list[tuple]:
    """Rewrite a write_ivf_store layout into the unit-partitioned
    rebalanced layout; copies the codebook, persists the cell->unit map,
    and returns the executed plan rows (bounded: K) for assertions."""
    vec = spark.read.parquet(f"{store_path}/vectors")
    census = [
        (int(r["cell"]), int(r["n"]))
        for r in vec.groupBy("cell").agg(F.count("*").alias("n")).collect()
    ]
    plan = _rebalance_plan_rows(census)
    plan_df = spark.createDataFrame(
        plan,
        "cell LONG, n_vecs LONG, action STRING, n_shards LONG, unit_base STRING",
    )
    data_cols = [c for c in vec.columns if c != "cell"]
    (
        # bounded: K-row plan
        vec.join(F.broadcast(plan_df), "cell")
        .withColumn(
            "unit",
            F.when(
                F.col("action") == "split",
                F.concat(
                    F.col("unit_base"),
                    F.lit("-"),
                    F.pmod(F.xxhash64("vec_id"), F.col("n_shards")).cast(
                        "string"
                    ),
                ),
            ).otherwise(F.col("unit_base")),
        )
        .select("cell", *data_cols, "unit")
        # cluster by the target unit before the partitioned write (r17,
        # guide §6): one file per serving unit — units ARE the balanced
        # size target, so one-file-per-unit is exactly the layout the
        # rebalance exists to produce (without this every input task
        # sprays a file into every unit it touches). Priced at 4 cores:
        # ~0.2 s of a ~1.3 s rebalance write and no measurable roundtrip
        # cost at sf0.001-0.1; after one ingest wave at sf0.1 it writes
        # 14 files for 14 units where dropping it writes 28.
        .repartition(
            sum(int(p[3]) if p[2] == "split" else 1 for p in plan), "unit"
        )
        .write.mode("overwrite")
        .partitionBy("unit")
        .parquet(f"{out_path}/vectors")
    )
    spark.read.parquet(f"{store_path}/centroids").write.mode(
        "overwrite"
    ).parquet(f"{out_path}/centroids")
    plan_df.write.mode("overwrite").parquet(f"{out_path}/units")
    return plan


def _probed_units(spark: SparkSession, path: str, cells: list) -> list[str]:
    """The serving units of a rebalanced layout that hold ``cells``,
    sorted: the probed rows of the K-row unit map, a split cell expanded
    to its shard list. query_ivf_store prunes its scan on them."""
    units: list[str] = []
    for r in (
        spark.read.parquet(f"{path}/units")
        .filter(F.col("cell").isin(cells))
        .collect()  # bounded: <= NPROBE rows of the K-row unit map
    ):
        if r["action"] == "split":
            units += [f"{r['unit_base']}-{s}" for s in range(r["n_shards"])]
        else:
            units.append(r["unit_base"])
    # sorted: collect() row order varies, and so would the plan text
    return sorted(units)


def ivf_rebalanced_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the IVF store, EXECUTE the rebalance plan against it, and
    serve the standard top-k query from the rebalanced layout. The value
    oracle is the in-plan IVF serving SQL (DUCK_KNN_IVF) — i.e. the
    rebalanced store must serve exactly what the original cell layout
    serves, the compaction-roundtrip contract for the ANN store.
    Rendering note: emits the knn family's round(cos, 6) DOUBLE —
    a conscious reuse of the long-green DUCK_KNN_IVF oracle (the whole
    point is value-equality with the ORIGINAL serving plan), covered by
    the documented family exemption in plans/similarity.py; a ppm twin
    would need its own oracle and lose that equivalence proof."""
    from .similarity import (
        QUERY_VEC_ID,
        _query_vec,
        query_ivf_store,
        write_ivf_store,
    )
    from .sinks_sources import _out_path

    store = _out_path("ivf_rebal_base", sf_dir)
    out = _out_path("ivf_rebal_out", sf_dir)
    write_ivf_store(spark, sf_dir, store)
    rebalance_ivf_store(spark, store, out)
    return query_ivf_store(
        spark,
        out,
        _query_vec(spark, sf_dir),
        where=F.col("vec_id") != QUERY_VEC_ID,
        with_cell=True,
    )


def _duck_rebalanced_roundtrip() -> str:
    from .similarity import DUCK_KNN_IVF

    return DUCK_KNN_IVF


QUERIES: dict[str, QuerySpec] = {
    "knn_ivf_rebalanced_roundtrip": QuerySpec(
        fn=ivf_rebalanced_roundtrip,
        oracle=_duck_rebalanced_roundtrip(),
        note="EXECUTES the ivf_rebalance plan against the persisted "
        "store (split cells shard, merge cells bin into shared units, "
        "codebook copied) and serves from the rebalanced layout — "
        "value-equal to the original cell-layout serving plan",
    ),
    "layout_zorder_files": QuerySpec(
        fn=zorder_files,
        oracle=DUCK_ZORDER_FILES,
        note="Z-order layout audit: per-file 2-D bounding boxes of a "
        "Morton-clustered rewrite (256 z cells, windows only over the "
        "cell census)",
    ),
    "diag_key_skew": QuerySpec(
        fn=key_skew,
        oracle=DUCK_KEY_SKEW,
        note="heavy-hitter join-key skew profile: top-10 keys with exact "
        "ppm / cumulative-ppm share — the measurement behind salting",
    ),
    "sketch_quantile_bins": QuerySpec(
        fn=quantile_bins,
        oracle=_duck_quantile_bins(),
        note="mergeable 1000-bin histogram quantiles (p50/p90/p99), "
        "half-up micro-unit estimates, one-bin-width error bound",
    ),
    "layout_compaction_plan": QuerySpec(
        fn=compaction_plan,
        oracle=DUCK_COMPACTION_PLAN,
        note="small-file compaction planner: first-fit-by-cumsum binning "
        "of undersized (source, lang) partitions; windows only over the "
        "bounded partition census",
    ),
    "layout_ivf_rebalance": QuerySpec(
        fn=ivf_rebalance,
        oracle=_duck_ivf_rebalance(),
        note="IVF cell rebalance planner: split cells >1.5x avg into "
        "~avg shards, first-fit-merge cells <0.75x avg — integer "
        "census arithmetic, windows only over the K-row census; "
        "seeded synthetic cells exercise every action arm",
    ),
}
