"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` binds every implemented operator from SURVEY.md par.2 (plus
the training-data-pipeline extensions) to the driver's benchmark tables;
``oracle_sql()`` holds the DuckDB twin of each SQL-expressible query.

Cross-engine determinism rules used throughout (see
youtubeanalyzerproject_big_data__spark/functions/precision.py):
  * SUM/AVG of doubles go through exact DECIMAL(18,6)-input arithmetic
    (long-backed fast path; sum buffers auto-widen, staying exact).
  * Float outputs are ROUNDed (4-6 dp) identically on both sides.
  * Every ORDER BY ... LIMIT has a deterministic tiebreak key.
  * Hashes that appear in results are md5-derived (portable), never
    Spark-native hash/xxhash64.
  * Timestamp queries pin the session timezone to UTC.
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import (
    md5_int32,
    md5_int32_lane_sql,
    md5_int32_lanes as md5_int32_lanes_col,
    md5_int32_sql,
)
from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize as textfns_normalize
from youtubeanalyzerproject_big_data__spark.functions import zorder as zorder_fns
from youtubeanalyzerproject_big_data__spark.functions.zorder import hilbert_sql_2d
from youtubeanalyzerproject_big_data__spark.functions import precision
from youtubeanalyzerproject_big_data__spark.functions.precision import (
    DEC,
    dec_avg,
    dec_sum,
    dec_sum_col,
    dec_sum_round,
)
from youtubeanalyzerproject_big_data__spark.io import load_events, load_table
from youtubeanalyzerproject_big_data__spark.operators import (
    aggregates as agg,
    dedup,
    filters,
    graph,
    joins,
    multimodal,
    recommend,
    similarity,
    sketches,
    textanalysis as text,
    topk,
)
from youtubeanalyzerproject_big_data__spark.operators import classify as classify_ops
from youtubeanalyzerproject_big_data__spark.operators import quality as quality_ops
from youtubeanalyzerproject_big_data__spark.operators.merge import scd2_history as merge_scd2
from youtubeanalyzerproject_big_data__spark import serve
from youtubeanalyzerproject_big_data__spark.streaming import events as ev
from youtubeanalyzerproject_big_data__spark.session import scratch_dir as _scratch_dir

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------

def _dsum(col_expr: str) -> str:
    # Twin of precision.dec_sum_col: the double materializes via int64
    # micros (int->double and /1e6 are IEEE-correctly-rounded in both
    # engines at any magnitude); a direct decimal->double cast diverged by
    # 1 ulp at 18 significant digits (tpch_q1, sf10 replay).
    return (
        f"(CAST(CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        f" AS DOUBLE) / 1000000)"
    )


def _davg(col_expr: str, scale: int = 6) -> str:
    # ALL-INTEGER half-up average -- the exact twin of precision.dec_avg
    # (see its docstring: the ROUND(double/count) form diverged on exact
    # half cases, first caught by the sf1 replay on e1).  DuckDB's // and %
    # are native int64 ops, so every step is exact.
    p = 10**scale
    s = f"CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * {p} AS BIGINT)"
    n = f"COUNT({col_expr})"
    q = f"((ABS({s}) - ABS({s}) % {n}) // {n} + CASE WHEN 2 * (ABS({s}) % {n}) >= {n} THEN 1 ELSE 0 END)"
    return f"(CAST(CASE WHEN {s} < 0 THEN -{q} ELSE {q} END AS DOUBLE) / {p}.0)"


def _dsum_round(col_expr: str, scale: int) -> str:
    # Twin of precision.dec_sum_round: HALF-UP at scale < 6 decided on
    # exact int64 micros (ROUND(double, scale) is ulp-fragile once the
    # scaled product's ulp reaches ~0.5 -- q5's revenue at the sf30
    # replay, the round-9 catch).  % on BIGINT is exact in DuckDB.
    q = 10 ** (6 - scale)
    a = f"(ABS(CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT)) + {q // 2})"
    m = f"CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
    return (
        f"(CAST(CASE WHEN {m} < 0 THEN -({a} - {a} % {q}) ELSE ({a} - {a} % {q}) END"
        f" AS DOUBLE) / 1000000)"
    )


# _dratio / _dmicro: the integer-half-up ratio and IEEE micro-round SQL
# twins of precision.ratio_round / precision.micro_round (defined in the
# package so tools/segmented_oracle.py shares them; see their docstrings
# for the 41/640-class engine divergence they close).
from youtubeanalyzerproject_big_data__spark.functions.precision import (  # noqa: E402
    dmicro_sql as _dmicro,
    dratio_sql as _dratio,
)


_REV = "l_extendedprice * (1 - l_discount)"

# DuckDB word-shingle CTE fragment shared by the text-dedup oracles.
# ``max_df`` mirrors the engine's stop-shingle cut (dedup.DEFAULT_MAX_DF):
# intersections count only shingles with document frequency <= max_df,
# while Jaccard denominators (sizes) stay exact -- same semantics as
# ngram_jaccard_pairs.  None = exact (the d3 verification twin).
def _shingles_cte(max_df: int | None, source: str = "documents") -> str:
    if max_df is None:
        shf = "shf AS (SELECT doc_id, shingle FROM sh),"
    else:
        shf = f"""shc AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {max_df}),
shf AS (SELECT s.doc_id, s.shingle FROM sh s JOIN shc USING (shingle)),"""
    return rf"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
  FROM {source}
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks WHERE len(w) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
{shf}
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc1, doc2, {_dratio('n_common', '(s1.n + s2.n - n_common)')} AS jaccard
  FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
)
"""

# DuckDB cosine fragment: exact per-element double arithmetic (matches the
# Spark zip_with/aggregate fold in functions/vectors.py).
def _cos_sql(a: str, b: str) -> str:
    d = f"list_sum(list_transform(generate_series(1, len({a})), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform(generate_series(1, len({a})), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform(generate_series(1, len({b})), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    return f"({d} / ({na} * {nb}))"


# ---------------------------------------------------------------------------
# query implementations (Spark side)
# ---------------------------------------------------------------------------

QTY_BUCKETS: list[tuple[float, str]] = [(10, "q1_lt10"), (30, "q2_10to29")]
QTY_DEFAULT = "q3_ge30"
PRICE_BUCKETS: list[tuple[float, str]] = [
    (50_000, "<50k"),
    (150_000, "50k-150k"),
    (300_000, "150k-300k"),
    (450_000, "300k-450k"),
]
PRICE_DEFAULT = ">=450k"


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def q_a1(spark: SparkSession, sf: str) -> DataFrame:
    """A1 category statistics (YoutubeNetworkAgg_Final.py:163-179) on events."""
    return agg.category_stats(load_events(spark, sf), "event_type", "value")


def q_a2(spark: SparkSession, sf: str) -> DataFrame:
    """A2 length-bucket statistics (YoutubeNetworkAgg_Final.py:185-205)."""
    return agg.bucket_stats(load_table(spark, sf, "lineitem"), "l_quantity", QTY_BUCKETS, QTY_DEFAULT, "l_extendedprice")


def q_a3(spark: SparkSession, sf: str) -> DataFrame:
    """A3 global statistics (YoutubeNetworkAgg_Final.py:211-223)."""
    return agg.global_stats(load_table(spark, sf, "lineitem"), "l_extendedprice")


def q_a4(spark: SparkSession, sf: str) -> DataFrame:
    """A4 bucket histogram w/ lexicographic label order (YoutubeNetworkAgg_Final.py:225-239)."""
    return agg.histogram(load_table(spark, sf, "orders"), "o_totalprice", PRICE_BUCKETS, PRICE_DEFAULT)


def q_a5(spark: SparkSession, sf: str) -> DataFrame:
    """A5 out-degree distribution analog (run_netagg_job.py:32-43)."""
    return agg.frequency_distribution(load_table(spark, sf, "lineitem"), "l_orderkey")


def q_a6(spark: SparkSession, sf: str) -> DataFrame:
    """A6/O4 top-K by value (Top_K_Final.py:13-17, intended semantics)."""
    df = topk.top_k(load_table(spark, sf, "orders"), "o_totalprice", 100, tiebreak="o_orderkey")
    return df.select("o_orderkey", "o_custkey", "o_totalprice")


def q_a7(spark: SparkSession, sf: str) -> DataFrame:
    """A7 deterministic collect_list re-nesting (run_alsrecs_job.py:142-145)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.transform(F.sort_array(F.collect_list("l_partkey")), lambda x: x.cast("string"))).alias("parts_csv"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_a8(spark: SparkSession, sf: str) -> DataFrame:
    """A8 count actions (YoutubeNetworkAgg_Final.py:25-35) as one result set."""
    parts = []
    for name in ("lineitem", "orders", "customer"):
        parts.append(load_table(spark, sf, name).agg(F.count(F.lit(1)).alias("n_rows")).select(F.lit(name).alias("tbl"), "n_rows"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def q_a9(spark: SparkSession, sf: str) -> DataFrame:
    """A9 distinct (run_alsrecs_job.py:102)."""
    return agg.distinct_count(load_table(spark, sf, "orders"), "o_custkey")


def q_f9(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash sample (~10%): membership is a pure function of
    the key, so the sampled SET is reproducible across engines/partitions/
    re-runs -- unlike RNG df.sample, this is fully oracle-checkable."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import hash_sample

    o = load_table(spark, sf, "orders")
    return hash_sample(o, "o_orderkey", 0.10, seed="s1").select("o_orderkey", "o_totalprice")


def q_c15(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END curation pipeline in one DAG: Gopher rule filter (c10's
    bits) -> exact dedup keep-min (d1's canonical digest) -> integer
    token-count tiers -> leakage-safe train/val/test split keyed on the
    CONTENT digest (c11's insight: a dup group can never straddle splits
    because its members share the digest).  Emits the per-(split, tier)
    manifest: doc count, absorbed-duplicate mass, kept token mass, and an
    order-invariant XOR-md5 fingerprint of the kept ids -- what a
    training-data handoff actually ships.

    Scale shape: rule bits + digest are one map-side projection (codegen);
    the ONLY corpus shuffle is the digest groupBy (map-side combined);
    tiers/split/fingerprint are map-side on the winner set; the output is
    split x tier sized.  Every stage is exact-integer or md5-derived, so
    the whole pipeline replays hash-identically in the oracle."""
    from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import gopher_rule_bits

    docs = load_table(spark, sf, "documents")
    bits = gopher_rule_bits(F.col("text"))
    kept = docs.where(bits["keep"]).select(
        "doc_id",
        bits["n_tok"].alias("n_tok"),
        F.md5(normalize(F.col("text"))).alias("digest"),
    )
    winners = kept.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        # token count is a function of the normalized text, hence of the digest
        F.min("n_tok").alias("n_tok"),
    )
    tier = (
        F.when(F.col("n_tok") < 50, "short")
        .when(F.col("n_tok") < 200, "medium")
        .otherwise("long")
    )
    split_bucket = F.pmod(md5_int32(F.col("digest"), seed="c15"), F.lit(10))
    split = (
        F.when(split_bucket < 8, "train").when(split_bucket == 8, "val").otherwise("test")
    )
    return (
        winners.select(
            split.alias("split"),
            tier.alias("tier"),
            "n_dups",
            "n_tok",
            md5_int32(F.col("doc_id").cast("string"), seed="c15fp").alias("fp"),
        )
        .groupBy("split", "tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_dups").cast("long").alias("n_docs_with_dups"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.bit_xor("fp").cast("long").alias("fp_ids"),
        )
        .orderBy("split", "tier")
    )


def q_f13(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k deterministic uniform sample (sampling.exact_k_sample):
    the 50 orders with the lowest keyed-md5 rank -- the fixed-size
    eval-set draw (f9's rate form gives only an EXPECTED size).  Compiles
    to TakeOrderedAndProject: per-partition k-heaps, driver merges P*k
    rows, no global sort."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import exact_k_sample

    o = load_table(spark, sf, "orders")
    return exact_k_sample(o, "o_orderkey", 50, seed="f13").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_f10(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified deterministic sampling: rebalance strata (keep all URGENT,
    10% of LOW) -- the corpus-rebalancing step of training-data curation."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import stratified_hash_sample

    o = load_table(spark, sf, "orders")
    out = stratified_hash_sample(o, "o_orderkey", "o_orderpriority", {"1-URGENT": 1.0, "5-LOW": 0.10}, seed="s2")
    return out.select("o_orderkey", "o_orderpriority")


def q_a10(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP subtotals (idiomatic grouping-sets upgrade; not in reference)."""
    out = agg.rollup_stats(load_table(spark, sf, "orders"), ["o_orderpriority", "o_orderstatus"], "o_totalprice")
    # subtotal rows get an explicit label: no NULL group keys reach the
    # driver compare (its NULL ordering semantics are not ours to assume)
    return out.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
        "num_rows",
        "sum_o_totalprice",
    )


def q_a11(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over priority x status."""
    out = agg.cube_stats(load_table(spark, sf, "orders"), ["o_orderpriority", "o_orderstatus"], "o_totalprice")
    return out.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
        "num_rows",
        "sum_o_totalprice",
    )


def q_a24(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS (agg.grouping_sets_stats): the hand-picked
    set list ((priority,status),(status),()) -- a 'reverse rollup' neither
    ROLLUP (which would drop status first) nor CUBE (which would add the
    (priority) set) expresses.  One Expand + one hash aggregate, same as
    a10/a11; '(all)' labels keep NULL group keys out of outputs."""
    out = agg.grouping_sets_stats(
        load_table(spark, sf, "orders"),
        [["o_orderpriority", "o_orderstatus"], ["o_orderstatus"], []],
        ["o_orderpriority", "o_orderstatus"],
        "o_totalprice",
    )
    return out.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
        "num_rows",
        "sum_o_totalprice",
    )


def q_f4(spark: SparkSession, sf: str) -> DataFrame:
    """F4 conjunctive range predicate (QueryScripts_Final.py:15-18)."""
    li = load_table(spark, sf, "lineitem")
    out = filters.range_query(li, "l_quantity", 10, 30, extra=(F.col("l_returnflag") == "R"))
    return out.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_returnflag")


def q_f5(spark: SparkSession, sf: str) -> DataFrame:
    """F5 numeric range predicate (QueryScripts_Final.py:36)."""
    o = load_table(spark, sf, "orders")
    return filters.range_query(o, "o_totalprice", 50_000, 150_000).select("o_orderkey", "o_totalprice", "o_orderstatus")


def q_f6(spark: SparkSession, sf: str) -> DataFrame:
    """F6 dynamic predicate builder + match count (YoutubeNetworkAgg_Final.py:247-276)."""
    li = load_table(spark, sf, "lineitem")
    return filters.dynamic_search_count(li, [("l_returnflag", "eq", "A"), ("l_quantity", "ge", 5), ("l_quantity", "le", 40)])


def q_j1(spark: SparkSession, sf: str) -> DataFrame:
    """J1 degree-preserving left join + fillna(0) (YoutubeNetworkAgg_Final.py:122-129)."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    counts = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(F.count(F.lit(1)).alias("n_lines"))
    joined = joins.left_join_fill_zero(o.select("o_orderkey"), counts, "o_orderkey", ["n_lines"])
    return topk.top_k(joined, "n_lines", 10, tiebreak="o_orderkey")


def q_j6(spark: SparkSession, sf: str) -> DataFrame:
    """J6 broadcast enrichment replacing the N+1 find_one loop (PageRank_Spark_v5.py:148-156)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("o_custkey"), "c_name")
    top = topk.top_k(o, "o_totalprice", 50, tiebreak="o_orderkey")
    return joins.enrich_broadcast(top, c, "o_custkey").select("o_orderkey", "o_totalprice", "c_name")


def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the multi-aggregate workhorse."""
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_q3(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue per customer (fact-fact join + broadcast dim), top 20."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dec_sum_round(rev, 4).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )
    return df.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


def q_q5(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue per nation through the full dimension chain (flagship query)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dec_sum_round(rev, 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .orderBy("r_name", "n_name")
    )


def q_w3(spark: SparkSession, sf: str) -> DataFrame:
    """Window forms not covered by w1/w2: lag (per-customer days since the
    previous order) and ntile (price quartile within each priority class).
    Both windows partition on real keys -- no single-partition global
    window, which would serialize at scale."""
    _utc(spark)
    o = load_table(spark, sf, "orders")
    w_cust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_prio = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w_cust)).cast("long"), F.lit(-1)
        ).alias("days_since_prev"),
        F.ntile(4).over(w_prio).cast("long").alias("price_quartile"),
    )


def q_w1(spark: SparkSession, sf: str) -> DataFrame:
    """Window top-K per group (the idiomatic upgrade flagged in SURVEY.md par.2.7)."""
    o = load_table(spark, sf, "orders")
    out = topk.top_k_per_group(o, "o_orderpriority", "o_totalprice", 3, tiebreak="o_orderkey")
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice", F.col("rank_in_group").cast("long").alias("rank_in_group"))


def q_w2(spark: SparkSession, sf: str) -> DataFrame:
    """Running total window (frames) over the event stream."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 6).alias("running_value"),
    )


def q_a16(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth histogram of order totals (10 equal-count buckets at
    exact percentile cutpoints; operators/aggregates.equidepth_histogram)
    -- the statistics form a skew-robust optimizer keeps."""
    return agg.equidepth_histogram(load_table(spark, sf, "orders"), "o_totalprice", n_buckets=10)


def q_e8(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 session paths: ordered event-type sequences per 1800s-gap
    session, counted corpus-wide (streaming/events.session_paths) -- the
    product-analytics path/flow report."""
    _utc(spark)
    return ev.session_paths(load_events(spark, sf), gap_seconds=1800, k=20)


def q_a15(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type exact percentile profile of `value` (a3 generalized
    to groups; one hash aggregate)."""
    return agg.grouped_percentiles(load_events(spark, sf), "event_type", "value")


def q_a18(spark: SparkSession, sf: str) -> DataFrame:
    """Column profile of orders (operators/aggregates.profile_columns):
    per-column rows/nulls/distinct/min/max in ONE scan (multi-distinct
    agg + map-side unpivot) -- the trust-but-verify audit before a
    pipeline consumes a new partition.  o_totalprice stringifies through
    decimal(18,6) so both engines print identical min/max bytes."""
    return agg.profile_columns(
        load_table(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"],
        decimal_cols={"o_totalprice"},
    ).orderBy("column")


def q_a19(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group HLL gate (a12 generalized to groups): approx distinct
    users per event_type (rsd=0.01) must land within 5% of the exact
    count -- the per-partition cardinality monitor that replaces the
    distinct shuffle at 100 TB.  HLL++ is deterministic for a given
    dataset, so the gate bit is stable; the oracle pins it plus the exact
    counts."""
    e = load_events(spark, sf)
    out = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx"),
        F.count_distinct("user_id").alias("exact"),
    )
    return out.select(
        "event_type",
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05).cast("int").alias("within_5pct"),
        F.col("exact").cast("long").alias("exact_distinct"),
    ).orderBy("event_type")


def q_e9(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type transition matrix: per-user time-ordered event pairs
    (lag window, (ts, event_id) tiebreak) counted into (from_type,
    to_type, n_transitions, p) with p = n / out-transitions-from-from_type
    -- the Markov-chain view of user behavior (what follows a view? how
    often does click lead to purchase?).  One user-partitioned window +
    two hash aggregates; p is an exact integer ratio rounded to 6."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        precision.ratio_round(F.col("n_transitions"), F.sum("n_transitions").over(w_from), "p"),
    ).orderBy("from_type", "to_type")


def q_a17(spark: SparkSession, sf: str) -> DataFrame:
    """Approx grouped percentiles gated per group: the 100 TB path of a15
    (grouped_percentiles(approx=True) -- GK sketch, O(accuracy) state per
    group instead of buffering the whole group on a reducer) must land its
    per-group p50 inside the exact rank window [p49, p51].

    The window gate is the sketch's actual mathematical contract (rank
    error <= 1/accuracy = 1e-4 << 0.01), so it holds on ANY value
    distribution -- unlike a relative-error gate, which gets fragile when
    the median sits near zero.  Oracle pins the contract bit + the exact
    median (a13's gate pattern, per group)."""
    e = load_events(spark, sf)
    out = e.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        # p49/p50/p51 from one exact buffer per group
        F.percentile("value", [0.49, 0.5, 0.51]).alias("q"),
    )
    q = F.col("q")
    return out.select(
        "event_type",
        ((F.col("approx_p50") >= q[0]) & (F.col("approx_p50") <= q[2])).cast("int").alias("in_rank_window"),
        precision.micro_round(q[1], "exact_p50", scale=4),
    ).orderBy("event_type")


def q_e6(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on each
    later active day offset -- the classic product-analytics retention
    matrix in long form.  Two hash aggregates + one join on user_id; the
    (user, day) distinct collapses each user's events per day map-side."""
    _utc(spark)
    e = load_events(spark, sf)
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_date"))
    active = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        active.join(first, "user_id")
        .select("cohort_date", F.datediff("day", "cohort_date").cast("long").alias("day_offset"))
        .groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def q_e7(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decayed per-user engagement: sum of value * exp(-age/tau) at
    the corpus reference time (tau = 7 days) -- the recency-weighted
    scoring a freshness-aware pipeline uses.  No sequential dependence:
    each event's decayed term is a map-side expression, INTEGER-quantized
    (floor * 1e6) before the per-user sum so the reduction is exact in any
    order/engine; the reference time is one scalar aggregate.

    Residual risk (documented, accepted): exp() comes from JVM Math.exp on
    one side and DuckDB's libm on the other, neither correctly rounded; a
    term within an ulp of an integer micro boundary can floor differently
    (~1e-10/row, grows with SF).  Green at every tested SF; if it ever
    trips, gate engagement_micro with +/-1 micro tolerance."""
    _utc(spark)
    e = load_events(spark, sf)
    t_ref = e.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    tau_us = 7 * 86400 * 1_000_000
    age = (F.lit(int(t_ref)) - F.unix_micros("ts")).cast("double") / F.lit(float(tau_us))
    term = F.floor(F.col("value") * F.exp(-age) * 1e6).cast("long")
    return (
        e.select("user_id", term.alias("t"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("t").cast("long").alias("engagement_micro"),
        )
        .select(
            "user_id",
            "n_events",
            "engagement_micro",
            (F.col("engagement_micro").cast("double") / F.lit(1e6)).alias("engagement"),
        )
    )


def q_f12(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source deterministic 3-doc example sample: smallest (md5, id)
    per stratum via the two-stage partial top-n
    (functions/sampling.group_example_sample) -- no stratum ever funnels
    through one reducer."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import group_example_sample

    return group_example_sample(load_table(spark, sf, "documents"), "doc_id", "source", n=3, seed="ex")


def q_l1(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (o_custkey, o_totalprice):
    the multi-dimensional layout key behind OPTIMIZE ZORDER -- contiguous
    key ranges are small hyper-rectangles in BOTH columns, so one layout
    serves range scans on either (functions/zorder.py; write_zordered
    materializes the layout, test_zorder.py proves per-file min/max
    tightening).  Pure bit arithmetic, map-side."""
    from youtubeanalyzerproject_big_data__spark.functions.zorder import zorder_key

    o = load_table(spark, sf, "orders")
    return o.select("o_orderkey", zorder_key(o, ["o_custkey", "o_totalprice"], bits=8).alias("zkey"))


def q_em4(spark: SparkSession, sf: str) -> DataFrame:
    """PCA gate over embeddings (similarity.pca_gate): integer-quantized
    Gram/mean accumulation (model-sized shuffle), driver-side 64x64 eigh;
    n/dim/trace are oracle-exact, eigen invariants are computed gates."""
    return similarity.pca_gate(load_table(spark, sf, "embeddings"), "embedding", dim=64)


def q_l3(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve clustering keys over (o_custkey, o_totalprice) --
    l1's Morton key upgraded to the jump-free curve (zorder.hilbert_key_2d,
    unrolled xy2d fold; oracle generated from the same fold by
    hilbert_sql_2d, verified against the textbook walk in
    tests/test_zorder.py)."""
    from youtubeanalyzerproject_big_data__spark.functions.zorder import hilbert_key_2d, quantize

    o = load_table(spark, sf, "orders")
    row = o.agg(
        F.min(F.col("o_custkey").cast("double")).alias("lox"),
        F.max(F.col("o_custkey").cast("double")).alias("hix"),
        F.min(F.col("o_totalprice").cast("double")).alias("loy"),
        F.max(F.col("o_totalprice").cast("double")).alias("hiy"),
    ).collect()[0]
    qx = quantize(F.col("o_custkey"), row["lox"], row["hix"], 8)
    qy = quantize(F.col("o_totalprice"), row["loy"], row["hiy"], 8)
    return hilbert_key_2d(o.select("o_orderkey", qx.alias("_qx"), qy.alias("_qy")), F.col("_qx"), F.col("_qy"), bits=8).select(
        "o_orderkey", "hkey"
    )


def q_dq2(spark: SparkSession, sf: str) -> DataFrame:
    """PSI distribution-drift audit (quality.psi_drift): order totals
    before vs since 1998-01-01, reference-decile bins (a16's exact
    percentile cutpoints, map-side assignment), Laplace-smoothed
    floor(term*1e9)-quantized per-bin PSI terms."""
    orders = load_table(spark, sf, "orders")
    split = F.lit("1998-01-01").cast("timestamp")
    return quality_ops.psi_drift(
        orders.where(F.col("o_orderdate") < split),
        orders.where(F.col("o_orderdate") >= split),
        "o_totalprice",
        n_bins=10,
    )


def q_u3(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension-history build (merge.scd2_history): the event stream
    as a per-user state-change feed -> versioned validity intervals in
    integer epoch micros, consecutive no-change rows collapsed, open
    intervals closed by the 9999-12-31 sentinel.  (event_id tiebreak:
    equal timestamps are real in change feeds.)  All key-partitioned
    windows; oracle replays LAG-filter-LEAD verbatim."""
    _utc(spark)
    return merge_scd2(load_events(spark, sf), "user_id", "event_type", "ts", "event_id").orderBy(
        "user_id", "version"
    )


def q_i1(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (merge.agg_state /
    merge_agg_state): per-priority order stats kept as a mergeable state
    table; the batch (orderkeys ending in 0) folds into the base state
    WITHOUT rescanning base rows.  The oracle recomputes from the FULL
    table -- equality IS the mergeability proof (integer-micro sums,
    order-free min/max/count)."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import agg_state, merge_agg_state

    orders = load_table(spark, sf, "orders")
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    batch = orders.where(F.col("o_orderkey") % 10 == 0)
    merged = merge_agg_state(
        agg_state(base, ["o_orderpriority"], "o_totalprice"),
        agg_state(batch, ["o_orderpriority"], "o_totalprice"),
        ["o_orderpriority"],
    )
    return merged.orderBy("o_orderpriority")


def q_u1(spark: SparkSession, sf: str) -> DataFrame:
    """CDC merge over orders: a deterministic update batch (5% row updates,
    2% tombstone deletes, 1% inserts under shifted keys, all md5-keyed) is
    merged with operators/merge.merge_upsert -- the anti-join-plus-union
    plan that broadcasts only the touched KEYS and never shuffles the base
    table.  Oracle replays the same batch with NOT IN + UNION ALL."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import hash_sample_predicate
    from youtubeanalyzerproject_big_data__spark.operators.merge import merge_upsert

    base = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    key = F.col("o_orderkey")
    p_upd = hash_sample_predicate(key, 50_000, 1_000_000, seed="u1upd")
    p_del = hash_sample_predicate(key, 20_000, 1_000_000, seed="u1del")
    p_ins = hash_sample_predicate(key, 10_000, 1_000_000, seed="u1ins")
    upd = base.where(p_upd).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.lit("5-LOW").alias("o_orderpriority"),
        precision.micro_round(F.col("o_totalprice") * 1.1, "o_totalprice"),
        F.lit(False).alias("_del"),
    )
    dele = base.where(p_del & ~p_upd).select(*base.columns, F.lit(True).alias("_del"))
    ins = base.where(p_ins).select(
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit("9-NEW").alias("o_orderpriority"),
        precision.micro_round(F.col("o_totalprice") * 0.5, "o_totalprice"),
        F.lit(False).alias("_del"),
    )
    updates = upd.unionByName(dele).unionByName(ins)
    return merge_upsert(base, updates, ["o_orderkey"], delete_col="_del")


def q_v1(spark: SparkSession, sf: str) -> DataFrame:
    """Phase-2 serve layer end-to-end (serve.QueryService): the reference
    GUI's cache-or-compute contract as a gate-checked query instead of a
    test-only claim.  A videos-shaped model is derived deterministically
    from events (category=event_type, views=value, length=epoch-micros mod
    1000, rate=user_id mod 5 + 1), served TWICE through QueryService --
    first call misses the cache, runs the Phase-1 category-stats job and
    materializes the JSON artifact (write-through + _SUCCESS commit
    marker); second call hits the artifact -- and the HIT-path read is
    what the oracle diffs, so the materialize/read-back round-trip itself
    is verified, not just the underlying aggregate.  UTC pinned: length
    derives from the NTZ->timestamp cast.  The cache dir is query-lifetime
    only: the hit-path artifact is pinned (collected, cache-sized by
    contract) before the dir is removed, so repeated verify/bench runs
    leave no orphaned v1_cache_* directories behind."""
    import shutil

    _utc(spark)
    videos = load_events(spark, sf).select(
        F.col("event_type").alias("category"),
        F.col("value").alias("views"),
        (F.unix_micros("ts") % 1000).cast("double").alias("length"),
        ((F.col("user_id") % 5) + 1).cast("double").alias("rate"),
    )
    cache_dir = _scratch_dir("v1_cache_")
    try:
        svc = serve.QueryService(spark, videos, cache_dir)
        svc.serve("categorystats")  # miss: compute + materialize
        hit = svc.serve("categorystats")  # hit: read the committed artifact
        out = hit.select("category", "num_videos", "avg_views", "max_views", "avg_length", "avg_rating")
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(cache_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_e10(spark: SparkSession, sf: str) -> DataFrame:
    """Signup-to-purchase conversion latency (streaming/events.
    conversion_latency): first-event min-aggregates per step, integer
    epoch-micro arithmetic, exact latency quartiles + integer mean, -1
    sentinels when nobody converts -- f11's "how long" companion."""
    _utc(spark)
    return ev.conversion_latency(load_events(spark, sf), "signup", "purchase")


def q_f11(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion funnel view -> click -> purchase: per-step user counts
    with strict in-order timestamps (streaming/events.funnel_steps; one
    filtered hash aggregate per step, no per-user event collects).  UTC
    pinned like every event-time query: load_events casts NTZ->TIMESTAMP
    with the session zone, and a non-UTC zone with a DST fold makes
    wall-clock ordering non-monotonic vs the oracle's epoch-nanos order."""
    _utc(spark)
    return ev.funnel_steps(load_events(spark, sf), ["view", "click", "purchase"])


def q_w4(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 5-event per-user stats (sliding ROWS frame): the time-series
    smoothing/anomaly primitive.  Decimal-exact rolling sums (order-
    invariant), deterministic (ts, event_id) tiebreak; the oracle orders by
    integer epoch-MICROseconds so both engines frame identical rows even
    where nanosecond inputs collide at microsecond resolution."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("rolling_n"),
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 6).alias("rolling_sum"),
        precision.micro_round(F.min("value").over(w), "rolling_min"),
        precision.micro_round(F.max("value").over(w), "rolling_max"),
    )


def q_w5(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 10-MINUTE per-user stats (time-based RANGE frame, the
    companion to w4's ROWS frame): each event aggregates every event of
    the same user in the trailing 600 s window, however many rows that is
    -- the rate/velocity primitive (events-per-window, value-per-window).
    Frames are value-defined (epoch-micros range, peers included), so no
    row tiebreak is needed; sums are decimal-exact.  Both engines frame on
    the same integer micros with inclusive bounds."""
    _utc(spark)
    e = load_events(spark, sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_n"),
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 6).alias("trailing_sum"),
    )


def q_l2(spark: SparkSession, sf: str) -> DataFrame:
    """Order-invariant table fingerprint of events: per-row md5 over a
    canonical encoding (ints + micros + DECIMAL-formatted value, '|'-
    joined), two 32-bit lanes XOR-folded corpus-wide + the row count --
    the replication/consistency-check primitive (two clusters compare 3
    integers to validate a 100 TB copy).  XOR is associative/commutative
    and never overflows, so the reduction is map-side, partition-order-
    free, and engine-exact; value goes through decimal(18,6)->string so
    both engines hash identical bytes (double formatting differs)."""
    _utc(spark)
    e = load_events(spark, sf)
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.coalesce(F.col("event_type"), F.lit("__null__")),
        F.unix_micros("ts").cast("string"),
        F.col("value").cast(DEC).cast("string"),
    )
    lanes = md5_int32_lanes_col(canon, seed="fp", lanes=2)
    return e.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor("l0").cast("long").alias("fp_lane0"),
        F.bit_xor("l1").cast("long").alias("fp_lane1"),
    )


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """Raw part co-purchase pair stream (src < dst, one row per shared
    order, NOT deduped) for the g6/g9/g10 graph operators, which
    canonicalize + distinct internally.  One groupBy(l_orderkey) +
    in-array pair expansion (graph.copurchase_edges) -- the r10 rewrite
    of the former lineitem self-join, which shuffled/broadcast the fact
    table twice and re-materialized every order as a join product before
    the SAME rows reached the operator's distinct.  Pair SET is
    identical: both forms emit exactly the (p < q, co-ordered) pairs."""
    return graph.copurchase_edges(li, "l_orderkey", "l_partkey", distinct=False)


def q_g6(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts sharing an
    order).  Degree-ordered orientation caps wedge generation at m^1.5
    despite hot parts -- see operators/graph.triangle_count.  Pair build
    via _copurchase_pairs (one groupBy + expansion, not a self-join)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return graph.triangle_count(_copurchase_pairs(li))


def q_g9(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-purchase graph
    (graph.adamic_adar): top-5 new-link candidates for each seed part
    (partkey % 1000 == 1), seeded 2-hop expansion -- never a global wedge
    enumeration (1.5e8 wedges already at sf0.1).  Pair build via
    _copurchase_pairs (one groupBy + expansion, not a self-join)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    seeds = li.select(F.col("l_partkey").alias("seed")).where(F.col("l_partkey") % 1000 == 1).distinct()
    return graph.adamic_adar(_copurchase_pairs(li), seeds, k=5)


def q_g10(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficients on the part co-purchase graph
    (graph.clustering_coefficient_topk): g6's oriented-intersection engine
    with per-corner triangle attribution; integer-micro coefficients,
    top-20 by (triangles desc, v).  Pair build via _copurchase_pairs
    (one groupBy + expansion, not a self-join)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return graph.clustering_coefficient_topk(_copurchase_pairs(li), k=20)


# c12 target mixture: an explicit whitelist of sources with fixed shares
# (ppm).  Single source of truth for BOTH the Spark query and its oracle.
C12_TARGETS: dict[str, int] = {
    **{f"src{i}": 150_000 for i in range(1, 6)},   # 5 majors @ 15%
    **{f"src{i}": 50_000 for i in range(6, 11)},   # 5 minors @ 5%
}
C12_BUDGET = 20_000


def q_o7(spark: SparkSession, sf: str) -> DataFrame:
    """Keyset pagination (the serving pattern that replaces OFFSET at
    scale): page 3 of orders by (o_totalprice desc, o_orderkey asc),
    page size 50.  The cursor -- the 100th row's (price, key) -- is ONE
    collected row; the page query is then a pushable predicate + top-50,
    so deep pages cost the same as page 1 (OFFSET n scans-and-discards n
    rows, growing linearly with depth).  Oracle replays cursor + page in
    one query."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    cursor = (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(100).orderBy(
            F.col("o_totalprice").asc(), F.col("o_orderkey").desc()
        ).limit(1).collect()[0]
    )  # the 100th row, model-sized collect
    cp, ck = float(cursor["o_totalprice"]), int(cursor["o_orderkey"])
    after = (F.col("o_totalprice") < cp) | (
        (F.col("o_totalprice") == cp) & (F.col("o_orderkey") > ck)
    )
    return o.where(after).orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(50)


def q_sk3(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnosis (the sk1/sk2 companion: DETECT before you
    salt): the 20 hottest event user_ids with exact per-key shares and a
    running cumulative share -- if cum_share at k=20 is large, the
    aggregate/join needs the salted path.  Two hash aggregates + a
    20-row window; shares divide exact int64 counts once.  The windows
    run over the PRE-LIMITED 20 rows, so one partition is the design, not
    an accident; they partition by pmod(col, 1) -- constant 0 per row,
    but NOT foldable (bare literals and col*0 both get optimized out of
    the spec) -- so WindowExec doesn't log its move-all-data warning on
    every run (VERDICT r5 noise item)."""
    e = load_events(spark, sf)
    per = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    total = per.agg(F.sum("n_events")).collect()[0][0]
    single = F.pmod(F.col("n_events"), F.lit(1))  # 0 for every row; survives the optimizer
    top = (
        per.orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy(single).orderBy(F.col("n_events").desc(), "user_id")).cast("long"),
        )
    )
    w_cum = Window.partitionBy(F.pmod(F.col("rk"), F.lit(1))).orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    return top.select(
        "rk",
        "user_id",
        "n_events",
        precision.ratio_round(F.col("n_events"), F.lit(int(total)), "share"),
        precision.ratio_round(F.sum("n_events").over(w_cum), F.lit(int(total)), "cum_share"),
    ).orderBy("rk")


def q_i2(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental top-k leaderboard maintenance (merge.topk_state /
    merge_topk_state): per-priority top-5 orders by price kept as
    k-bounded state; the batch (orderkeys ending in 0) folds in by
    union-and-recut -- 2k rows per group shuffle, history never
    rescanned.  The oracle recomputes from the FULL table: equality IS
    the mergeability proof (i1's argument for order statistics)."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import merge_topk_state, topk_state

    orders = load_table(spark, sf, "orders")
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    batch = orders.where(F.col("o_orderkey") % 10 == 0)
    merged = merge_topk_state(
        topk_state(base, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5),
        topk_state(batch, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5),
        ["o_orderpriority"],
        "o_totalprice",
        "o_orderkey",
        k=5,
    )
    return merged.orderBy("o_orderpriority", "rank")


def q_a22(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped mode with DETERMINISTIC ties (most-frequent order status
    per priority): count + ROW_NUMBER(count desc, value asc) on both
    engines -- native mode() tie behavior is engine-unspecified, so the
    deterministic formulation IS the operator."""
    o = load_table(spark, sf, "orders")
    per = o.groupBy("o_orderpriority", "o_orderstatus").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("n").desc(), "o_orderstatus")
    return (
        per.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("mode_status"), "n")
        .orderBy("o_orderpriority")
    )


def q_em5(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space anisotropy histogram (Ethayarajh 2019 diagnostic):
    cosine similarity over the deterministic half-shift pairing
    (vec i with vec i + N/2), bucketed at 0.1 -- a healthy embedding
    space shows mass near 0, a collapsed one near 1.  Exact-sequential
    cosine (the s1 kernel), floor(cos*10) integer buckets."""
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq

    emb = load_table(spark, sf, "embeddings")
    n_total = emb.count()
    half = n_total // 2
    a = emb.where(F.col("vec_id") < half).select(F.col("vec_id").alias("pid"), F.col("embedding").alias("va"))
    b = emb.where(F.col("vec_id") >= half).select((F.col("vec_id") - half).alias("pid"), F.col("embedding").alias("vb"))
    cos = make_cosine_seq()
    pairs = a.join(b, "pid").withColumn("cos", cos(F.col("va"), F.col("vb")))
    return (
        pairs.groupBy(F.floor(F.col("cos") * 10).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bucket")
    )


def q_c14(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-side contamination report (dedup.contamination_report): per
    held-out doc (doc_id % 97 == 0), leaked 5-gram and corpus-doc counts
    -- c3's broadcast direction, contamination-sized downstream."""
    docs = load_table(spark, sf, "documents")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.contamination_report(corpus, eval_docs, "doc_id", "text", n=5)


def q_e13(spark: SparkSession, sf: str) -> DataFrame:
    """Traffic seasonality matrix: day-of-week x hour-of-day event
    intensity (counts + exact-ratio share) -- the heatmap a capacity
    planner reads.  DOW convention pinned Sunday=1 on both engines
    (Spark dayofweek is 1-based Sunday, DuckDB dayofweek is 0-based
    Sunday -> +1 in the oracle); UTC session."""
    _utc(spark)
    e = load_events(spark, sf)
    cells = e.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    total = cells.agg(F.sum("n_events")).collect()[0][0]
    return cells.withColumn("share", precision.ratio_round(F.col("n_events"), F.lit(int(total)))).orderBy(
        "dow", "hour"
    )


def q_d13(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dups with prefix blocking (dedup.
    edit_distance_pairs): Levenshtein <= 10 over 64-char heads within
    16-char-prefix blocks -- the typo/short-text dedup route; max_block
    drops boilerplate-prefix groups (mirrored by the oracle)."""
    docs = load_table(spark, sf, "documents")
    return dedup.edit_distance_pairs(docs, "doc_id", "text").orderBy("doc1", "doc2")


def q_d14(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood near-dups (dedup.sorted_neighborhood_pairs,
    Hernandez-Stolfo SNM): sort by 24-char normalized prefix, compare
    each doc with its next 3 neighbors, Levenshtein <= 10 over 64-char
    heads.  Complements d13's prefix blocking: pairs cross block
    boundaries and candidate count is (w-1)*n regardless of key skew.
    Global rank is the two-level distributed form, never one reducer."""
    docs = load_table(spark, sf, "documents")
    return dedup.sorted_neighborhood_pairs(docs, "doc_id", "text").orderBy("doc1", "doc2")


def q_d15(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup KEEP-BEST pipeline end-to-end: d3's MinHash-LSH pairs ->
    large-star/small-star connected components -> per-cluster CANONICAL
    selection (longest text wins, doc_id tiebreak -- the keep-longest
    heuristic near-dup pipelines actually ship).  One row per real cluster:
    (cluster_id, n_members, canonical_id, canonical_chars, n_removed).
    Scale: pairs/components are near-dup-sized, never corpus-sized; the
    canonical pick is a key-partitioned window over cluster members."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8
    )
    comp = graph.connected_components_star(
        pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    )
    members = (
        comp.select(
            F.col("id").alias("doc_id"),
            F.least("id", "component").alias("cluster_id"),
        )
        .join(docs.select("doc_id", "n_chars"), "doc_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    canon = members.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    sizes = members.groupBy("cluster_id").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    return (
        sizes.where(F.col("n_members") >= 2)
        .join(canon.select("cluster_id", F.col("doc_id").alias("canonical_id"), "n_chars"), "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "canonical_id",
            F.col("n_chars").cast("long").alias("canonical_chars"),
            (F.col("n_members") - 1).cast("long").alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


def q_dq3(spark: SparkSession, sf: str) -> DataFrame:
    """Header-vs-detail reconciliation (quality.fact_reconciliation):
    o_totalprice against the micro-quantized lineitem-implied total,
    1-cent integer tolerance; mismatches quantified, not boolean."""
    return quality_ops.fact_reconciliation(
        load_table(spark, sf, "orders"), load_table(spark, sf, "lineitem")
    )


def q_w6(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-normalizing window functions: percent_rank + cume_dist
    of order totals WITHIN each priority -- the per-group percentile score
    used for cross-group-comparable rankings.  Both are pure rank
    arithmetic over exact doubles (ties share ranks, so no order
    dependence); key-partitioned windows only."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        precision.micro_round(F.percent_rank().over(w), "pct_rank"),
        precision.micro_round(F.cume_dist().over(w), "cume"),
    ).orderBy("o_orderkey")


def q_c12(spark: SparkSession, sf: str) -> DataFrame:
    """Match-the-target mixture (sampling.target_mix_sample, DoReMi
    deployment shape): explicit per-source ppm shares of a 20k-token
    budget; whitelist semantics (untargeted sources drop); all-integer
    floor-division rates, md5 membership."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import target_mix_sample
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    kept = target_mix_sample(d, "doc_id", "source", "n_tokens", C12_TARGETS, C12_BUDGET, seed="target")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
            F.min("rate_ppm").cast("long").alias("rate_ppm"),
        )
        .orderBy("source")
    )


def q_t20(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID confusion matrix (quality.confusion_matrix): the t3
    heuristic scored against the corpus's declared lang -- per-truth-class
    recall from exact counts, the labeling-audit primitive."""
    docs = load_table(spark, sf, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    pred = text.language_id(docs, "doc_id", "text")
    j = docs.select("doc_id", "lang").join(pred.select("doc_id", "lang_pred"), "doc_id")
    return quality_ops.confusion_matrix(j, "doc_id", "lang", "lang_pred")


def q_u4(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation diff (merge.snapshot_diff): orders vs a
    deterministically mutated copy (u1's md5 recipe: 5% price updates, 2%
    deletes, 1% shifted-key inserts) -- per-status key counts + per-column
    change attribution in ONE full-outer join + one aggregate."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import hash_sample_predicate
    from youtubeanalyzerproject_big_data__spark.operators.merge import snapshot_diff

    base = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    key = F.col("o_orderkey")
    p_upd = hash_sample_predicate(key, 50_000, 1_000_000, seed="u4upd")
    p_del = hash_sample_predicate(key, 20_000, 1_000_000, seed="u4del")
    p_ins = hash_sample_predicate(key, 10_000, 1_000_000, seed="u4ins")
    kept = base.where(~(p_del & ~p_upd))
    mutated = kept.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(p_upd, F.lit("5-LOW")).otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
        F.when(p_upd, precision.micro_round(F.col("o_totalprice") * 1.1)).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    inserted = base.where(p_ins).select(
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit("9-NEW").alias("o_orderpriority"),
        precision.micro_round(F.col("o_totalprice") * 0.5, "o_totalprice"),
    )
    new = mutated.unionByName(inserted)
    return snapshot_diff(base, new, ["o_orderkey"], ["o_orderstatus", "o_orderpriority", "o_totalprice"])


def q_d12(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric shingle-containment near-dups (dedup.containment_pairs):
    |A&B|/|A| >= 0.9 in either direction -- the quote/excerpt detector
    symmetric Jaccard misses.  Same capped inverted index as d2."""
    docs = load_table(spark, sf, "documents")
    return dedup.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.9).orderBy(
        "contained_id", "container_id"
    )


def q_m4(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed logistic-regression gate (classify.
    logreg_separability_gate): a linearly-separable-by-construction
    target (x0 + x1 > 0) that the distributed LBFGS fit must recover
    (AUC >= 0.95) with run-to-run deterministic coefficients (m3's
    recipe for LBFGS).  Row/positive counts are oracle-exact."""
    from youtubeanalyzerproject_big_data__spark.operators.classify import logreg_separability_gate

    return logreg_separability_gate(load_table(spark, sf, "embeddings"), "embedding", min_auc=0.95)


def q_m8(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial naive Bayes confusion matrix (classify.
    naive_bayes_confusion): train on doc_id % 5 != 0, score the held-out
    fifth, Laplace smoothing -- the generative text classifier next to
    m4's LBFGS and m5's stump.  Every log term is floor(ln(int/int
    double quotient) * 1e6) (the t8 recipe), so (doc,label) scores are
    exact int64 sums and the argmax (score desc, label asc) replays
    engine-identically; the model is vocab-x-labels-sized and broadcast."""
    docs = load_table(spark, sf, "documents")
    return classify_ops.naive_bayes_confusion(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
        "doc_id",
        "text",
        "lang",
    )


def q_s7(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-filtered vector search (similarity.filtered_topk): top-5
    cosine neighbors SHARING THE QUERY'S LABEL -- pre-filtering composed
    into the broadcast join condition, never post-filtering a fixed-k
    list."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.filtered_topk(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", "label", k=5
    )
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def q_g11(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph
    (graph.degree_assortativity): exact-int64 moment sums, one final
    arbitrary-precision division replayed by the oracle with HUGEINTs."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y, (F.col("x.l_orderkey") == F.col("y.l_orderkey")) & (F.col("x.l_partkey") < F.col("y.l_partkey"))
    ).select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    return graph.degree_assortativity(pairs)


def q_semi(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join: customers having orders."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return joins.semi_join(c, o, "c_custkey").select("c_custkey", "c_name")


def q_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti join: customers with no orders."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return joins.anti_join(c, o, "c_custkey").select("c_custkey", "c_name")


def q_setops(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT over customer keys."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    inter = c.intersect(o).withColumn("set_op", F.lit("intersect"))
    exc = c.exceptAll(o.distinct()).distinct().withColumn("set_op", F.lit("except"))
    return inter.unionAll(exc)


def q_g2(spark: SparkSession, sf: str) -> DataFrame:
    """G3-style in-degree + broadcast name join, top 20 (YoutubeNetworkAgg_Final.py:131-139)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_name")
    deg = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(F.count(F.lit(1)).alias("in_degree"))
    out = joins.enrich_broadcast(deg, p, "p_partkey")
    return topk.top_k(out, "in_degree", 20, tiebreak="p_partkey").select("p_partkey", "p_name", "in_degree")


def q_g3(spark: SparkSession, sf: str) -> DataFrame:
    """In-degree distribution (degreestat analog, run_netagg_job.py:32-43)."""
    return agg.frequency_distribution(load_table(spark, sf, "lineitem"), "l_partkey")


def q_e1(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming query)."""
    _utc(spark)
    return ev.hourly_event_stats(load_events(spark, sf))


def q_e2(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization with 30-min gaps (lag window)."""
    _utc(spark)
    return ev.sessionize(load_events(spark, sf), gap_seconds=1800)


def q_e16(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct users per hour -- COUNT(DISTINCT) OVER, which
    Spark windows cannot express, rewritten as the FIRST-OCCURRENCE trick
    that scales: min(ts) per user (one user-keyed shuffle), new-user
    counts per hour, then a cumulative sum over the hour-count-sized
    series (the only unpartitioned window runs on model-sized rows).  The
    growth-dashboard primitive; a naive per-hour distinct-over-history
    recount is quadratic in history length."""
    _utc(spark)
    e = load_events(spark, sf).select("user_id", "ts")
    first = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    per_hour = first.groupBy(F.date_trunc("hour", F.col("first_ts")).alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return per_hour.withColumn("cum_users", F.sum("new_users").over(w).cast("long")).orderBy(
        "hour"
    )


def q_e3(spark: SparkSession, sf: str) -> DataFrame:
    """As-of backward join (attribution): each purchase matched to the same
    user's most recent at-or-before view.  Merge-union + running last
    implementation -- one shuffle, no range-join explosion."""
    ev = load_events(spark, sf)
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    right = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    out = joins.asof_join_backward(left, right, "user_id", "ts", ["event_id", "value"], "event_id")
    # no-prior-view sentinel (-1): keeps NULLs out of the driver compare
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("event_id_asof"), F.lit(-1)).alias("prior_view_id"),
        F.coalesce(F.col("value_asof"), F.lit(-1.0)).alias("prior_view_value"),
    )


def q_e4(spark: SparkSession, sf: str) -> DataFrame:
    """JSON property extraction (from_json with an explicit schema -- the
    typed path, not string get_json_object) + per-type stats over the
    extracted field.  Covers the JSON-functions family flagged 'not
    present' in the reference (SURVEY.md par.2.7)."""
    ev_df = load_events(spark, sf)
    parsed = ev_df.withColumn("k", F.from_json("props", "k BIGINT").getField("k"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            precision.dec_avg("k", "avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_d1(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup via normalized-text hash groups."""
    return dedup.exact_duplicates(load_table(spark, sf, "documents"), "doc_id", "text")


def q_d2(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.8)."""
    return dedup.ngram_jaccard_pairs(load_table(spark, sf, "documents"), "doc_id", "text", n=3, threshold=0.8)


def q_d3(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) candidates, exact-Jaccard verified at 0.8."""
    return dedup.minhash_lsh_pairs(load_table(spark, sf, "documents"), "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8)


def q_d4(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash(60-bit) near-dup pairs, hamming <= 3, pigeonhole-blocked.
    60-bit signatures give 15-bit chunks (32768 bucket values): the
    32-bit/8-bit-chunk form went QUADRATIC at the sf1 replay (every
    bucket ~2000 docs -> 2*10^9 candidate pairs -> driver OOM); chunk
    space must scale with the corpus, max_bucket caps the rest."""
    return dedup.simhash_pairs(
        load_table(spark, sf, "documents"), "doc_id", "text", bits=60, max_hamming=3,
        max_bucket=dedup.DEFAULT_MAX_BUCKET,
    )


def q_d5(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.46 calibrated to data)."""
    return dedup.embedding_near_dup_pairs(load_table(spark, sf, "embeddings"), "vec_id", "embedding", threshold=0.46)


def q_d6(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring span removal (dedup.duplicated_span_removal): every
    30-char normalized window occurring in >= 2 docs is spliced out of
    every doc; per affected doc, span count / chars removed / md5 of the
    cleaned text.  The whole pipeline -- window hashing, dup-set join,
    island merge, splice fold -- is replayed by the oracle, so the cleaned
    TEXT (via its md5) is verified, not just the counts."""
    return dedup.duplicated_span_removal(
        load_table(spark, sf, "documents"), "doc_id", "text", span_len=30
    ).orderBy("doc_id")


def q_d10(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup.semantic_dedup_flags): km1's
    k-means cells bound the quadratic pair work (within-cell only -- the
    SemDeDup trick, arXiv:2303.09540), exact-sequential cosine scores
    candidates, smallest id represents each near-dup set.  Threshold 0.44
    calibrated to the synthetic embeddings (cell-local cosines; drops a
    real fraction without emptying cells).  Oracle replays the full Lloyd
    trajectory (shared with km1's oracle) + the within-cell pair rule."""
    return dedup.semantic_dedup_flags(
        load_table(spark, sf, "embeddings"), "vec_id", "embedding", dim=64, k=8, iters=2, threshold=0.44
    ).orderBy("id")


def q_d11(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style segment-level corpus dedup (dedup.segment_dedup): every
    aligned 12-token segment occurring in >= 2 distinct documents is
    removed from ALL of them; per doc, segment/removal counts plus the md5
    of the spliced text, so the oracle verifies the reconstructed TEXT, not
    just counts.  The coarse linear-cost complement to d6's stride-1
    exact-substring pass (see operator docstring for the two-pass
    narrow-shuffle scale design)."""
    return dedup.segment_dedup(
        load_table(spark, sf, "documents"), "doc_id", "text", seg_tokens=12, min_df=2
    ).orderBy("doc_id")


def q_u2(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup-index maintenance (dedup.update_digest_index):
    the first 400 doc_ids play the historic corpus (its digest index built
    by the d1 digest rule), the rest arrive as the ingestion batch; the
    updated index keeps historic first-seen winners ('kept') and admits
    only genuinely new digests from the batch ('new', min batch id).  The
    index side is scanned once and never shuffled -- batch keys broadcast
    both ways (see operator docstring)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    hist = docs.where(F.col("doc_id") < 400)
    batch = docs.where(F.col("doc_id") >= 400)
    index = (
        hist.select("doc_id", F.md5(textfns_normalize(F.col("text"))).alias("text_key"))
        .groupBy("text_key")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    return dedup.update_digest_index(index, batch, "doc_id", "text").orderBy("text_key")


def q_d7(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup clustering: near-dup pairs (d2 semantics) -> connected
    components -> every document labeled with its duplicate-cluster id
    (smallest doc_id in the cluster; singletons label themselves).  The
    step a training-data pipeline runs after pair generation to pick one
    representative per group.  Uses the O(log n)-round large-star/small-star
    algorithm (graph.connected_components_star); min-label propagation
    remains available for small-diameter graphs."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = graph.connected_components_star(pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")))
    return (
        docs.select(F.col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )


def q_d9(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH buckets -- the sub-quadratic
    scale path (d5 is the exact GEMM baseline at the same threshold; d9's
    pairs are the LSH-recalled subset, verified exactly).  Oracle replays
    the signatures (_lsh_embedding_dedup_oracle)."""
    emb = load_table(spark, sf, "embeddings")
    return dedup.embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", threshold=0.46, dim=64)


def q_d8(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus dedup: incoming batch (source='src0') filtered against
    the rest of the corpus -- the incremental-ingestion contamination check.
    Only cross-side pairs are generated."""
    docs = load_table(spark, sf, "documents")
    new = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return dedup.cross_corpus_near_dups(new, corpus, "doc_id", "text", n=3, threshold=0.8)


def q_s1(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 10."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def q_s2(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5.  Oracle: _lsh_ann_oracle replays the
    md5-derived hyperplane signatures + banding + exact re-rank in DuckDB
    (recall vs q_s1 is additionally measured in tests)."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.lsh_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", dim=64, k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def q_s3(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-5 -- the inverted-file route: probe nprobe/num_cells of
    the corpus per query.  Catalyst variant with a deterministic md5-seeded
    centroid model so the FULL index pipeline (seeding, normalization, cell
    assignment, probing, re-rank) is replayed by the DuckDB oracle
    (_ivf_ann_oracle); the Arrow GEMM variant (similarity._ivf_topk_gemm) is the
    throughput path, recall-tested vs q_s1 in tests."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.ivf_topk_catalyst(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5, num_cells=16, nprobe=4
    )
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def q_s8(spark: SparkSession, sf: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion: the BM25 lexical leg
    (t11's scorer, terms {table, scan, merge}) and the exact-cosine
    vector leg (s1's scorer, query vec 0) each produce a top-20 ranked
    list over the shared doc/vec id space; RRF fuses them --
    score = sum over legs of 1/(60 + rank), here integer
    10^9 DIV (60 + rank) so fusion replays exactly cross-engine -- and
    the fused top-10 is the answer.  The production RAG/retrieval
    composition: each leg is independently index-accelerable (inverted
    index / ANN), fusion touches only 2k candidate rows.  Missing-leg
    ranks surface as -1 sentinels (repo invariant), contributing 0."""
    emb = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents")
    vec = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") == 0), "vec_id", "embedding", k=20
    ).select(F.col("neighbor_id").alias("v_id"), F.col("nn_rank").cast("long").alias("rank_vec"))
    txt = text.bm25_topk(docs, "doc_id", "text", ["table", "scan", "merge"], k=20)
    w20 = Window.orderBy(F.desc("score_micro"), "doc_id")  # 20-row window: model-sized
    txt = txt.select("doc_id", F.row_number().over(w20).cast("long").alias("rank_text"))
    fused = txt.join(vec, txt.doc_id == vec.v_id, "full_outer").select(
        F.coalesce(txt.doc_id, vec.v_id).alias("doc_id"),
        F.coalesce("rank_text", F.lit(-1)).alias("rank_text"),
        F.coalesce("rank_vec", F.lit(-1)).alias("rank_vec"),
        (
            F.coalesce(F.expr("CAST(1000000000 DIV (60 + rank_text) AS BIGINT)"), F.lit(0))
            + F.coalesce(F.expr("CAST(1000000000 DIV (60 + rank_vec) AS BIGINT)"), F.lit(0))
        ).alias("rrf_nano"),
    )
    return fused.orderBy(F.desc("rrf_nano"), "doc_id").limit(10)


def q_t5(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary statistics: top-200 tokens by document frequency with
    smoothed IDF (the stop-word / TF-IDF prerequisite)."""
    out = text.term_document_frequency(load_table(spark, sf, "documents"), "doc_id", "text")
    return out.orderBy(F.desc("df"), "token").limit(200)


def q_s4(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN top-5 (similarity.pq_topk): corpus
    compressed 32x (8 codes vs 64 floats), scored against reconstructions.
    Oracle replays codebook -> encode -> reconstruct -> score bit-exactly;
    recall vs s1 additionally measured in tests."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.pq_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", dim=64, k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def q_s5(spark: SparkSession, sf: str) -> DataFrame:
    """IVF+PQ composed ANN top-5 (similarity.ivfpq_topk): IVF bounds WHICH
    rows each query scores (probe 4/16 cells), PQ bounds WHAT is scored
    (8 codes vs 64 floats, 32x).  Uses the same md5-seeded 'ivf' centroid
    model as s3 and 'pq' codebook as s4, so the oracle replays the whole
    composed index (seed -> assign -> encode -> probe -> ADC re-rank)
    bit-exactly -- the billion-scale recipe demonstrated, not asserted."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", dim=64, k=5, num_cells=16, nprobe=4
    )
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def q_s6(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieve-then-refine ANN: the IVF+PQ index proposes 20 candidates
    per query (compressed scan), exact full-precision cosine decides the
    top-5 (similarity.refine_topk) -- the standard two-phase serving
    recipe.  Both phases replay bit-exactly: candidates via the s5 index
    oracle at k=20, refinement via the brute-force cosine fragment over
    exactly those pairs."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cand = similarity.ivfpq_topk(emb, queries, "vec_id", "embedding", dim=64, k=20, num_cells=16, nprobe=4)
    out = similarity.refine_topk(emb, queries, cand, "vec_id", "embedding", k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def q_em3(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar quantization gate (similarity.scalar_quantize_int8_gate):
    per-dimension affine uint8 coding of the embeddings table with the
    half-step reconstruction bound asserted over every value -- the 4x
    storage cut, contract-checked.  Every arithmetic step is a fixed IEEE
    sequence the oracle replays bit-for-bit (min/max/scale/round-trip are
    exact double ops on both engines)."""
    return similarity.scalar_quantize_int8_gate(load_table(spark, sf, "embeddings"), "vec_id", "embedding")


def q_em2(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector L2 and mean-centered L2 norms (the cosine-retrieval
    preprocessing audit; similarity.normalization_stats).  Corpus mean =
    one quantized hash aggregate collected as a dim-sized model; norms are
    map-side sequential folds the oracle replays element-for-element."""
    return similarity.normalization_stats(load_table(spark, sf, "embeddings"), "vec_id", "embedding")


def q_km1(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Lloyd's k-means, 2 iterations, k=8 on the embeddings
    corpus (operators/clustering.kmeans_lloyd).  Every iteration is
    map-side assignment + one (cell, pos) hash agg; the oracle replays
    both iterations bit-exactly via quantized integer sums."""
    from youtubeanalyzerproject_big_data__spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf, "embeddings")
    return kmeans_lloyd(emb, "vec_id", "embedding", dim=64, k=8, iters=2)


def q_m2(spark: SparkSession, sf: str) -> DataFrame:
    """ALS output CONTRACT, oracle-checked: the factorization itself is
    stochastic-but-seeded (m1 stays rows-only by design), but the pipeline's
    output contract is exact -- 50 users, all distinct, each with a full
    5-item rec list -- so the gate can pin it the way a12/a13 pin sketches."""
    recs = q_als(spark, sf)
    return recs.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.countDistinct("user_label").alias("n_distinct_users"),
        F.sum((F.size(F.split("recs_csv", ",")) == 5).cast("long")).alias("n_full_rec_lists"),
    )


def q_t1(spark: SparkSession, sf: str) -> DataFrame:
    return text.token_counts(load_table(spark, sf, "documents"), "doc_id", "text")


def q_t2(spark: SparkSession, sf: str) -> DataFrame:
    return text.quality_scores(load_table(spark, sf, "documents"), "doc_id", "text")


def q_t3(spark: SparkSession, sf: str) -> DataFrame:
    return text.language_id(load_table(spark, sf, "documents"), "doc_id", "text")


def q_t4(spark: SparkSession, sf: str) -> DataFrame:
    return text.fingerprints(load_table(spark, sf, "documents"), "doc_id", "text")


def q_sk1(spark: SparkSession, sf: str) -> DataFrame:
    """Salted two-phase aggregation (functions/skew.py) exercised as a
    driver query: per-type count + exact decimal value sum.  The decimal
    partials make the result salt-count- and partition-invariant, so the
    plain GROUP BY oracle must hash-match exactly -- proving the skew path
    changes the PLAN, never the answer."""
    from youtubeanalyzerproject_big_data__spark.functions.skew import salted_agg

    ev = load_events(spark, sf).select("event_type", "value")
    return salted_agg(
        ev,
        "event_type",
        [F.count(F.lit(1)).alias("_c"), F.sum(F.col("value").cast(DEC)).alias("_s")],
        [
            F.sum("_c").cast("long").alias("n"),
            # micro-materialized double (dec_sum_col recipe); NO ROUND(x, 6)
            # re-round on top -- it is an identity at gate scale but
            # ulp-fragile once |sum|*1e6 nears 2^53 (the q5 sf30 lesson)
            ((F.sum("_s") * 1_000_000).cast("long").cast("double") / F.lit(1_000_000.0)).alias("sum_value"),
        ],
        num_salts=16,
    )


def q_sk2(spark: SparkSession, sf: str) -> DataFrame:
    """Salted/replicated equi-JOIN (functions/skew.salted_join) as a driver
    query: every event enriched with its user's total click count.  The
    left (fact) side is salted, the per-user dim is replicated across the
    salt domain, and the join runs on (user, salt) -- a hot user's events
    spread over 16 reducers instead of one.  The oracle is the PLAIN join:
    salting must change the plan, never the answer (sk1's contract, for
    joins).  No-click users keep the 0 sentinel via the left join."""
    from youtubeanalyzerproject_big_data__spark.functions.skew import salted_join

    evt = load_events(spark, sf).select("event_id", "user_id", "event_type")
    clicks = (
        evt.where(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("c_user"))
        .agg(F.count(F.lit(1)).alias("n_user_clicks"))
    )
    out = salted_join(evt, clicks, "user_id", "c_user", num_salts=16, how="left")
    return (
        out.select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce(F.col("n_user_clicks"), F.lit(0)).cast("long").alias("n_user_clicks"),
        )
        .orderBy("event_id")
    )


def q_a12(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate-distinct (HLL++) gated against the exact count: sketches
    are engine-specific, so the oracle pins the CONTRACT (relative error
    within 5% at rsd=0.01 -- a 5-sigma bound) plus the exact value, rather
    than the sketch internals."""
    li = load_table(spark, sf, "lineitem")
    out = li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    return out.select(
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05).cast("int").alias("within_5pct"),
        F.col("exact").cast("long").alias("exact_distinct"),
    )


def q_a14(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries heavy hitters, gated on the sketch GUARANTEES (present /
    no-overestimate / N-over-k underestimate bound) rather than sketch
    internals, which legitimately vary with partitioning -- the a12/a13
    contract pattern applied to a custom partition-local mergeable sketch
    (operators/sketches.py)."""
    return sketches.heavy_hitters_gate(load_events(spark, sf), "event_type", k=64)


def q_a23(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min point queries over the sk1 skew fixture (sketches.
    count_min_estimates): half of all events collapse onto key -1, probed
    alongside ten normal users.  The md5 row hashes make the ENTIRE
    sketch -- counters and estimates -- oracle-replayable, and the CM
    no-underestimate guarantee ships as a checked column."""
    e = load_events(spark, sf).select(
        F.when(F.col("user_id") % 10 < 5, F.lit(-1)).otherwise(F.col("user_id")).alias("cm_key")
    )
    return sketches.count_min_estimates(e, "cm_key", [-1] + [2 * u + 1 for u in range(10)], depth=4, width=256)


def q_bf1(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter membership gate (sketches.bloom_membership_gate): the
    filter is a DataFrame of set-bit positions (<= m rows, broadcast), 4
    md5-digest lanes per key, built on urgent-order custkeys and probed by
    all customers.  Gates: zero false negatives (structural) + fp count
    within 2x expected + 5 (Poisson slack).  Every count is
    hash-deterministic, so the oracle replays the filter bit-for-bit."""
    bits_m, k = 1 << 17, 4
    orders = load_table(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return sketches.bloom_membership_gate(
        orders.select("o_custkey"), load_table(spark, sf, "customer").select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey", m_bits=bits_m, k_hashes=k,
    )


def q_a20(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-priority order stats (aggregates.robust_group_stats):
    median + MAD + 3*1.4826*MAD outlier count -- three hash-aggregate
    passes with model-sized broadcasts, quantile_cont-replayed medians."""
    return agg.robust_group_stats(load_table(spark, sf, "orders"), "o_orderpriority", "o_totalprice").orderBy(
        "o_orderpriority"
    )


def q_p1(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot report: quantity sums per returnflag, one column per
    linestatus.  Explicit pivot values -> single hash aggregate, stable
    schema (operators/aggregates.pivot_stats)."""
    li = load_table(spark, sf, "lineitem")
    return agg.pivot_stats(li, "l_returnflag", "l_linestatus", ["F", "O"], "l_quantity")


def q_p2(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (melt): per-priority order stats widened to 3 measures, then
    melted to (priority, measure, value) long form via native unpivot."""
    o = load_table(spark, sf, "orders")
    base = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dec_sum("o_totalprice", "sum_price"),
        precision.micro_round(F.max("o_totalprice"), "max_price"),
    )
    return agg.unpivot_measures(base, ["o_orderpriority"], ["n_orders", "sum_price", "max_price"]).orderBy(
        "o_orderpriority", "measure"
    )


def q_a13(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate-percentile (GK sketch) gated against the exact
    percentile: like a12, the sketch is engine-specific, so the oracle pins
    the CONTRACT (approx median within 1% of exact) plus the exact value."""
    li = load_table(spark, sf, "lineitem")
    out = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.percentile("l_extendedprice", 0.5).alias("exact"),
    )
    return out.select(
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.01).cast("int").alias("within_1pct"),
        precision.micro_round(F.col("exact"), "exact_p50", scale=4),
    )


def q_e5(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join, binned (operators/joins.interval_join_binned): for
    each error event, the click events by the same user within the next 5
    minutes -- count + min reaction gap (-1 sentinel when none).  The
    equi-join key is (user, time-bucket), so one user's events spread over
    its time range instead of one reducer."""
    evt = load_events(spark, sf)
    errors = evt.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = evt.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    pairs = joins.interval_join_binned(
        errors, clicks, "user_id", "c_user", "ts", "c_ts", window_us=300_000_000
    )
    gaps = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min(F.unix_micros("c_ts") - F.unix_micros("ts")).alias("min_gap_us"),
    )
    return (
        joins.left_join_fill_zero(errors.select("event_id", "user_id"), gaps, "event_id", ["n_clicks"])
        .select(
            "event_id",
            "user_id",
            F.col("n_clicks").cast("long").alias("n_clicks"),
            F.coalesce(F.col("min_gap_us"), F.lit(-1)).cast("long").alias("min_gap_us"),
        )
        .orderBy("event_id")
    )


def _drive_stream(
    spark: SparkSession,
    source_df: DataFrame,
    build,
    output_mode: str,
    prefix: str,
    n_files: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Run a streaming operator END-TO-END for the gate: materialize a
    stream-readable source (micro-ts parquet -- the events table's
    TIMESTAMP(NANOS) can't feed readStream directly), build the stream over
    it, drain it through ev.run_stream_to_parquet (foreachBatch +
    availableNow), and read the sunk table back as a batch DataFrame.

    The sunk table -- not the in-memory stream -- is what the driver
    DuckDB-diffs, so streaming/batch equivalence is machine-checked by the
    gate instead of only by pytest.  Fresh temp dirs per call keep repeated
    runs in one session independent (new source, sink, checkpoint).

    With ``n_files > 1`` the source is range-partitioned on ``order_col``
    into that many parquet files with ascending mtimes; the builder is
    expected to cap the file source at 1 file/trigger, so the drain runs
    ``n_files`` micro-batches ARRIVING IN order_col ORDER (the file source
    picks oldest mtime first) and stateful operators genuinely carry state
    across batch boundaries.  The ordering is what keeps order-sensitive
    gates exact: doc_id-ascending files make first-seen dedup's winner the
    global min id; ts-ascending files keep every row ahead of the
    watermark, so nothing is late-dropped.  The batch count is asserted
    > 1 -- a single-batch drain would silently verify nothing about
    cross-batch state.
    """
    import glob

    base = _scratch_dir(prefix)
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    if n_files > 1:
        assert order_col is not None
        source_df.repartitionByRange(n_files, F.col(order_col)).write.parquet(src)
        parts = sorted(glob.glob(os.path.join(src, "part-*")))
        t0 = int(time.time()) - 3600
        for i, p in enumerate(parts):
            os.utime(p, (t0 + 10 * i, t0 + 10 * i))
    else:
        source_df.write.parquet(src)
    n_batches = ev.run_stream_to_parquet(build(src), sink, ckpt, output_mode)
    if n_files > 1 and n_batches < 2:
        raise RuntimeError(f"expected a multi-batch drain, got {n_batches} batch(es) (src={src})")
    # stderr: stdout stays reserved for the driver's contract output
    print(f"[stream {prefix.rstrip('_')}] {n_batches} micro-batches", file=sys.stderr)
    # The src dir holds a full parquet copy of the events table and is dead
    # once the drain finishes -- drop it NOW so repeated verify runs don't
    # accumulate events-sized garbage (the se11 leak, same class).  The
    # sink must outlive this call (the return is a lazy scan over it), so
    # it and the checkpoint go at process exit instead.
    import atexit
    import shutil

    shutil.rmtree(src, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return spark.read.parquet(sink)


def q_se1(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming tumbling-hour stats, gate-checked: stream_hourly_event_stats
    driven to a parquet sink in complete mode (final overwrite = full
    aggregate; complete mode never evicts state, and the source arrives as
    3 ts-ascending micro-batches via maxFilesPerTrigger=1, so window state
    genuinely accumulates across batch boundaries).  Oracle = the batch
    twin's SQL -- window(ts,'1 hour').start equals date_trunc('hour', ts)."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_hourly_event_stats(spark, src, max_files_per_trigger=1),
        "complete",
        "se1_",
        n_files=3,
        order_col="ts",
    )
    return out.select("hour", "event_type", "num_events", "sum_value").orderBy("hour", "event_type")


def q_se2(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming sessionization, gate-checked: session_window sessions sunk
    in complete mode, re-aggregated to the batch twin's (user_id,
    n_sessions, n_events) shape so e2's oracle applies verbatim.

    Boundary note: session_window's window end is exclusive (gap == g
    starts a new session) while the batch lag form splits on gap > g; the
    forms agree unless a gap is EXACTLY g microseconds -- verified absent
    in the test data at every sf (probability ~0 in micro-precision
    timestamps)."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_sessionize(spark, src, 1800, max_files_per_trigger=1),
        "complete",
        "se2_",
        n_files=3,
        order_col="ts",
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_se3(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming stream-stream interval join, gate-checked: error->click
    pairs within 5 minutes (stream_interval_join) appended to parquet
    across 3 ts-ascending micro-batches (maxFilesPerTrigger=1).  Inner
    joins emit eagerly per batch; ts-ordered arrival keeps every row ahead
    of the 10-minute watermark (nothing late-dropped), and an error near a
    file boundary is still in join state when its click arrives next batch
    (eviction needs the watermark to pass err_ts+300s, which ts-ordering
    forbids before the matching click shows up) -- so the multi-batch sink
    still equals the batch interval join exactly.  clk_ts is projected to
    unix micros for a type-stable compare."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_interval_join(spark, src, 300, max_files_per_trigger=1),
        "append",
        "se3_",
        n_files=3,
        order_col="ts",
    )
    return out.select(
        "err_id", "err_user", "clk_id", F.unix_micros("clk_ts").alias("clk_us")
    ).orderBy("err_id", "clk_id")


def q_se4(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming first-seen dedup, gate-checked: stream_exact_dedup's
    append-mode emissions (one row per distinct normalized-text digest,
    smallest doc_id wins) sunk to parquet across 3 micro-batches
    (maxFilesPerTrigger=1), so the seen-digest state genuinely suppresses
    re-arrivals in LATER batches.  The source files are doc_id-range
    partitioned ascending and processed oldest-mtime-first, so the first
    batch containing a digest also holds its global minimum doc_id --
    first-seen's winner stays exactly the d1-style MIN(doc_id) oracle."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    out = _drive_stream(
        spark,
        docs,
        lambda src: ev.stream_exact_dedup(spark, src, max_files_per_trigger=1),
        "append",
        "se4_",
        n_files=3,
        order_col="doc_id",
    )
    return out.select("text_key", "keep_id").orderBy("text_key")


def q_se5(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator, gate-checked:
    stream_user_totals (applyInPandasWithState) driven to a parquet sink
    in update mode across 3 micro-batches (maxFilesPerTrigger=1), so the
    per-user accumulator provably SURVIVES batch boundaries: each user's
    FINAL state row (max n_events -- the counter is monotone across
    micro-batches) must equal the batch per-user event count, and a
    boundary-dropped state would undercount.  Gates the integer half of the state exactly; the float
    accumulator half is covered by the pytest batch-equivalence test."""
    _utc(spark)
    e = load_events(spark, sf).select("user_id", "ts", "value")
    out = _drive_stream(
        spark,
        e,
        lambda src: ev.stream_user_totals(spark, src, max_files_per_trigger=1),
        "update",
        "se5_",
        n_files=3,
        order_col="ts",
    )
    return out.groupBy("user_id").agg(F.max("n_events").cast("long").alias("n_events"))


def q_se11(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint-restart recovery gate: stream_user_totals driven in TWO
    separate streaming queries over ONE checkpoint -- phase A drains the
    first 2 source files and stops (a planned shutdown); phase B reveals
    2 more files and restarts from the same checkpoint.  Exactly-once
    recovery is machine-checked from both sides: the restarted query must
    process ONLY the new files (asserted batch count -- a lost file log
    would re-read phase A and double-count into the retained state), and
    the final per-user totals must equal the batch count over ALL events
    (a lost state store would cover only phase B and undercount).  The
    production crash-recovery contract, gate-checked instead of assumed."""
    import glob
    import shutil

    _utc(spark)
    # restart reads phase-A state snapshots, which ship no checksum files;
    # the per-snapshot "no checksum" WARN would spam stderr ~70x per run
    ck_key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    ck_prev = spark.conf.get(ck_key, None)
    spark.conf.set(ck_key, "false")
    e = load_events(spark, sf).select("user_id", "ts", "value")
    base = _scratch_dir("se11_")
    stage, src, sink, ckpt = (os.path.join(base, d) for d in ("stage", "src", "sink", "ckpt"))
    e.repartitionByRange(4, F.col("ts")).write.parquet(stage)
    parts = sorted(glob.glob(os.path.join(stage, "part-*")))
    t0 = int(time.time()) - 3600
    for i, p in enumerate(parts):
        os.utime(p, (t0 + 10 * i, t0 + 10 * i))
    os.makedirs(src)

    def _reveal(ps: list[str]) -> None:
        for p in ps:
            shutil.move(p, os.path.join(src, os.path.basename(p)))

    try:
        _reveal(parts[:2])
        n_a = ev.run_stream_to_parquet(
            ev.stream_user_totals(spark, src, max_files_per_trigger=1), sink, ckpt, "update"
        )
        _reveal(parts[2:])
        n_b = ev.run_stream_to_parquet(
            ev.stream_user_totals(spark, src, max_files_per_trigger=1), sink, ckpt, "update"
        )
        if n_a != 2 or n_b != 2:
            raise RuntimeError(
                f"restart gate expected 2+2 micro-batches (phase B re-reading phase A's "
                f"files would break exactly-once), got {n_a}+{n_b}"
            )
        # Materialize the bounded result (user-cardinality rows) BEFORE the
        # tmp dirs go away: the dirs hold two full parquet copies of events
        # and must not leak across repeated verify runs (the v6 pattern).
        out = (
            spark.read.parquet(sink)
            .groupBy("user_id")
            .agg(F.max("n_events").cast("long").alias("n_events"))
            .orderBy("user_id")
        )
        rows, schema = out.collect(), out.schema
    finally:
        if ck_prev is None:
            spark.conf.unset(ck_key)
        else:
            spark.conf.set(ck_key, ck_prev)
        shutil.rmtree(base, ignore_errors=True)
    print(f"[stream se11] {n_a}+{n_b} micro-batches across restart", file=sys.stderr)
    return spark.createDataFrame(rows, schema)


def q_se12(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark closure
    (stream_interval_join how='left_outer'): se3's inner pairs PLUS one
    null-side row per error that provably got no click -- and 'provably'
    is the gated semantics: an outer row may emit only once the watermark
    passes the error's window end.  Probed empirically (sf0.001): the
    availableNow drain runs a final no-data batch, and the emitted outer
    set is exactly {unmatched errors: err_ts + window <= final_wm} with
    final_wm = least(max err ts, max click ts) - delay -- the PER-INPUT
    watermark minimum (multipleWatermarkPolicy=min), which the oracle
    replays in SQL.  -1 sentinels on the null side (no NULLs in outputs)."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_interval_join(spark, src, max_files_per_trigger=1, how="left_outer"),
        "append",
        "se12_",
        n_files=3,
        order_col="ts",
    )
    return out.select(
        "err_id",
        "err_user",
        F.coalesce(F.col("clk_id"), F.lit(-1)).cast("long").alias("clk_id"),
        F.coalesce(F.unix_micros("clk_ts"), F.lit(-1)).cast("long").alias("clk_us"),
    ).orderBy("err_id", "clk_id")


def q_se6(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-state streaming dedup (stream_dedup_with_ttl), gate-checked:
    the production TTL form of se4 -- digest state expires ttl_seconds of
    event time after last arrival (EventTimeTimeout), capping the state
    store at one TTL window of distinct digests.  Event time is derived
    deterministically (ts = timestamp_seconds(doc_id + 1e9) -- the offset
    keeps doc_id 0 off epoch 0, where the INITIAL watermark would drop it
    as late; doc_id-range file order IS event-time order so the 0s
    watermark never drops anything else); the gate TTL exceeds the
    data's event-time span, so no
    digest expires and the oracle stays se4's MIN(doc_id)-per-digest --
    while pytest's small-TTL two-batch replay verifies the expiry/re-emit
    contract the gate can't reach.  3 micro-batches (maxFilesPerTrigger=1)
    exercise cross-batch suppression AND per-batch timeout bookkeeping."""
    docs = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .withColumn("ts", F.timestamp_seconds(F.col("doc_id") + F.lit(1_000_000_000)))
    )
    out = _drive_stream(
        spark,
        docs,
        lambda src: ev.stream_dedup_with_ttl(spark, src, max_files_per_trigger=1),
        "append",
        "se6_",
        n_files=3,
        order_col="doc_id",
    )
    return out.select("text_key", "keep_id").orderBy("text_key")


def q_em1(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids, position-wise
    (operators/similarity.label_centroids): decimal-exact partial sums make
    the centroid partition-invariant, hence oracle-comparable."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.label_centroids(emb, "label", "embedding")


def _c1_plan(spark: SparkSession, sf: str):
    """Lazy c1 pipeline over ONE cached documents scan; returns
    (result_df, cached_base).  Split out so tests/test_plans.py can assert
    the single-scan shape before the eager pin in q_c1 hides it."""
    base = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    prof = text.profile_text(base, "doc_id", "text").select("doc_id", "n_tokens", "dup_token_ratio", "lang_pred")
    pairs = dedup.ngram_jaccard_pairs(base, "doc_id", "text", n=3, threshold=0.8)
    comp = graph.connected_components_star(pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")))
    reps = (
        base.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .where(F.coalesce("component", "doc_id") == F.col("doc_id"))
        .select("doc_id")
    )
    result = (
        prof.join(reps, "doc_id", "left_semi")
        .where((F.col("lang_pred") == "en") & (F.col("n_tokens") >= 10) & (F.col("dup_token_ratio") <= 0.6))
        .select("doc_id", "n_tokens", "lang_pred")
    )
    return result, base


def q_c1(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus curation end-to-end: the selection step of a training-data
    pipeline composed from the engine's own operators -- keep documents that
    are (a) English by marker vote, (b) above quality floors (length,
    repetition), and (c) the REPRESENTATIVE of their near-dup cluster
    (smallest doc_id; singletons represent themselves).

    Single-scan design (r4 advice): documents is scanned ONCE into a cached
    (doc_id, text) base; quality+lang come from one combined projection
    (text.profile_text) and the d2 shingle index reads the same cache -- the
    old form re-scanned and re-tokenized the corpus three times, which at
    100 TB is two full passes of wasted IO/CPU.  The curated id list
    (bounded: it only shrinks the corpus) is pinned eagerly, then the cache
    is released (pin-result-then-unpersist, same as ngram_jaccard_pairs)."""
    result, base = _c1_plan(spark, sf)
    pinned = result.localCheckpoint(eager=True)
    base.unpersist()
    return pinned


def q_dq1(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality audit gate (operators/quality.check_constraints,
    Deequ-style): the suite a pipeline runs before consuming a partition.
    Five constraints over orders -- unique key, null-free foreign key,
    price range, status domain (deliberately tight: 'P' rows COUNT as
    violations, proving the counter), and referential closure into
    customer (broadcast anti-join).  Row-local checks fuse into ONE
    conditional-sum aggregate over a single scan."""
    from youtubeanalyzerproject_big_data__spark.operators import quality

    o = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    return quality.check_constraints(
        o,
        [
            {"name": "01_orderkey_unique", "kind": "unique", "cols": ["o_orderkey"]},
            {"name": "02_custkey_not_null", "kind": "not_null", "col": "o_custkey"},
            {"name": "03_totalprice_range", "kind": "in_range", "col": "o_totalprice", "lo": 0.0, "hi": 1_000_000.0},
            {"name": "04_status_domain", "kind": "in_set", "col": "o_orderstatus", "values": ["O", "F"]},
            {"name": "05_custkey_in_customer", "kind": "subset_of", "col": "o_custkey", "ref": cust, "ref_col": "c_custkey"},
        ],
    )


def q_c9(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened source mixture (functions/sampling.
    temperature_mix_sample, T=2 alpha-sampling): per-source keep rates
    follow sqrt-flattened token shares against a 30k-token budget --
    sources under their flattened allowance keep everything (rate capped
    at 1.0), heavier ones thin deterministically.  Rates are all-integer
    (floor-quantized sqrt in micros, HUGEINT-exact products in the
    oracle); membership is the md5 predicate.  One model-sized aggregate
    + broadcast + map-side filter."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import temperature_mix_sample
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    kept = temperature_mix_sample(d, "doc_id", "source", "n_tokens", total_budget=30000, seed="temp")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
            F.min("rate_ppm").cast("long").alias("rate_ppm"),
        )
        .orderBy("source")
    )


def q_c8(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity-tier curation: documents bucketed into
    quality quartiles by their unigram-LM score (t8's integer-quantized
    mean logprob), per-tier doc/token accounting -- the head/middle/tail
    split a curation pipeline uses to budget training data by quality.

    Scale design (a16's recipe, not NTILE): a global NTILE would sort the
    corpus on one reducer; instead ONE aggregate collects 3 exact
    percentile cutpoints (model-sized), tier assignment is a map-side
    expression, and one hash aggregate closes the report.  Determinism:
    the per-doc score is integer (floor of int64-micro sum over tokens),
    so cutpoint comparisons are exact; quantile_cont replays Spark's
    percentile interpolation (proven by a16)."""
    lp = text.unigram_logprob(load_table(spark, sf, "documents"), "doc_id", "text")
    scored = lp.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("sum_lp_micro") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"))
        .cast("long")
        .alias("score"),
    )
    cuts = scored.agg(F.percentile("score", [0.25, 0.5, 0.75]).alias("c")).collect()[0]["c"]
    tier = sum([F.when(F.col("score") > F.lit(float(c)), 1).otherwise(0) for c in cuts], F.lit(0))
    return (
        scored.groupBy(tier.cast("long").alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
        )
        .orderBy("tier")
    )


def q_t6(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction)."""
    return text.tfidf_top_terms(load_table(spark, sf, "documents"), "doc_id", "text", k=3)


def q_t7(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals per document (top-token fraction,
    top-bigram fraction, distinct-bigram ratio) -- the boilerplate /
    degenerate-text quality gates.  Explode + two hash aggregates; see
    operators/textanalysis.repetition_signals for the 100 TB story."""
    return text.repetition_signals(load_table(spark, sf, "documents"), "doc_id", "text")


def q_t8(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style unigram-LM quality score: per-doc mean log-probability
    under a unigram model fit on the corpus itself, with integer-quantized
    per-token contributions so the sum is partition- and engine-invariant
    (operators/textanalysis.unigram_logprob).

    Residual risk (documented, accepted): the quantization floors ln()
    computed independently by JVM Math.log and DuckDB's libm, neither
    correctly rounded; a term within an ulp of an integer micro boundary
    can floor differently across engines (~1e-10/row, grows with SF).
    Green at every tested SF; if it ever trips, gate with +/-1 micro
    tolerance instead of exact hash equality."""
    return text.unigram_logprob(load_table(spark, sf, "documents"), "doc_id", "text")


def q_t10(spark: SparkSession, sf: str) -> DataFrame:
    """Add-1-smoothed bigram-LM fluency score per document
    (operators/textanalysis.bigram_logprob): ln((c(w1 w2)+1)/(c(w1)+V))
    summed over bigram occurrences, integer-quantized before the per-doc
    sum (t8's recipe, one model order up).  Same libm-ulp residual risk as
    t8, documented there."""
    return text.bigram_logprob(load_table(spark, sf, "documents"), "doc_id", "text")


def q_t11(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 for the query {table, scan, merge}
    (operators/textanalysis.bm25_topk): map-side term filter, model-sized
    df/avgdl aggregates inlined, quantized per-term contributions,
    TakeOrdered top-k with doc_id tiebreak.  idf crosses libm (Python
    math.log literal vs DuckDB ln) -- same documented ulp residual as
    t8/e7."""
    return text.bm25_topk(
        load_table(spark, sf, "documents"), "doc_id", "text", ["table", "scan", "merge"], k=10
    )


def q_t15(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 corpus collocations by PMI (textanalysis.pmi_collocations):
    one pair-count shuffle + vocab-sized broadcast joins, exact-int64 PMI
    argument quantized by the t8 floor(ln*1e6) recipe, deterministic
    (pmi desc, w1, w2) TakeOrdered cut.  min_count=5 drops hapax-pair
    noise before any join."""
    return text.pmi_collocations(load_table(spark, sf, "documents"), "text", min_count=5, k=20)


def q_t16(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve at 10 corpus-prefix checkpoints
    (textanalysis.vocab_growth): first-occurrence aggregate + integer
    id-range boundaries; no ordered scan, no data-sized collect."""
    return text.vocab_growth(load_table(spark, sf, "documents"), "doc_id", "text", n_checkpoints=10)


def q_t17(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law slope/intercept over the top-1000 token ranks
    (textanalysis.zipf_fit): integer-quantized per-point logs, exact-int
    regression sums, float(int)-then-divide sequence replayed by the
    oracle through HUGEINT casts."""
    return text.zipf_fit(load_table(spark, sf, "documents"), "text", top_n=1000)


def q_bp1(spark: SparkSession, sf: str) -> DataFrame:
    """BPE merge-candidate counting (textanalysis.bpe_pair_counts): top-20
    corpus-weighted adjacent char pairs; corpus reduces once to the
    (word, count) vocab, pair expansion is vocab-sized -- the real-BPE
    trainer shape."""
    return text.bpe_pair_counts(load_table(spark, sf, "documents"), "text", k=20)


def q_ds1(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style hashed-n-gram importance selection
    (textanalysis.dsir_importance_select, arXiv:2302.03169): top-50 corpus
    docs by importance weight toward the source='src0' in-domain set;
    4096-bucket hashed unigram+bigram models, add-1 smoothing, t8-quantized
    per-bucket log-ratios, deterministic (score desc, doc_id) cut."""
    docs = load_table(spark, sf, "documents")
    return text.dsir_importance_select(
        docs, docs.where(F.col("source") == "src0"), "doc_id", "text", m_buckets=4096, k=50
    )


def q_t14(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 distinctive tokens per source
    (operators/textanalysis.distinctive_terms): smoothed log-odds of each
    source's token rate vs the rest of the corpus, quantized, two-stage
    top-k cut.  t8-class libm residual on ln, documented there."""
    return text.distinctive_terms(load_table(spark, sf, "documents"), "source", "text", k=5)


def q_t13(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token-entropy diversity score
    (operators/textanalysis.token_entropy): Shannon entropy in nats over
    each doc's own token distribution, quantized sums; both tails are
    curation cuts (looped text ~0, token soup ~ln(n))."""
    return text.token_entropy(load_table(spark, sf, "documents"), "doc_id", "text")


def q_t12(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus drift monitor (operators/textanalysis.token_drift_kl):
    KL(P_old || P_new) over add-1-smoothed token distributions, the first
    250 doc_ids playing the prior snapshot and the rest the new batch.
    Quantized vocab-sized sum; t8-class libm residual documented."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return text.token_drift_kl(docs.where("doc_id < 250"), docs.where("doc_id >= 250"), "text")


def q_t9(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection/redaction signals per document (email/phone/digit-run
    pattern counts + md5 of the digit-redacted text).  Map-side regexp
    expressions only -- parquet-scan speed at 100 TB."""
    return text.pii_signals(load_table(spark, sf, "documents"), "doc_id", "text")


def q_r1(spark: SparkSession, sf: str) -> DataFrame:
    """ANN recall@5, gate-checked: per-query overlap of the LSH index (s2)
    with the exact brute-force top-5 (s1), via similarity.topk_recall.
    Both inputs have bit-exact DuckDB replays, so the recall METRIC itself
    is oracle-verified -- index-quality measurement as a first-class,
    machine-checked query instead of a test-only claim."""
    return similarity.topk_recall(q_s1(spark, sf), q_s2(spark, sf), k=5)


def q_r2(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the retrieve-then-refine route (s6) against exact
    brute force (s1) -- gate-checked like r1, so the refinement benefit
    over the raw compressed index is a measured, machine-verified fact."""
    return similarity.topk_recall(q_s1(spark, sf), q_s6(spark, sf), k=5)


def q_em7(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated-dimension retrieval audit (the Matryoshka-embedding
    question): recall@5 of brute-force search over the FIRST 16 of 64
    dims against full-dim search -- measures what a 4x cheaper index
    (shorter vectors: 4x less memory bandwidth, 4x more vectors per
    broadcast) actually costs in retrieval quality, per query, as a
    machine-checked number.  Reuses the exact s1 kernel on sliced
    vectors, so both legs AND the recall metric replay in the oracle."""
    emb = load_table(spark, sf, "embeddings")
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc = similarity.brute_force_topk(
        emb16, emb16.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )
    return similarity.topk_recall(q_s1(spark, sf), trunc, k=5).orderBy("query_id")


def q_c2(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus mixing (functions/sampling.token_budget_sample):
    each source/domain is deterministically thinned to a ~800-token
    allowance -- under-budget sources keep every row (rate 1.0), over-budget
    sources keep ~budget/total of theirs.  One corpus-wide hash agg collects
    #sources rows (model-sized), rates come back as a broadcast join, the
    filter is map-side.  Oracle replays the floor(double)-quantized ppm rates
    and the md5 membership predicate exactly."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import token_budget_sample
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    kept = token_budget_sample(d, "doc_id", "source", "n_tokens", budget_per_stratum=800, seed="mix")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
    )


def q_c4(spark: SparkSession, sf: str) -> DataFrame:
    """Document chunking for training/RAG: 64-token chunks on a 48-token
    stride (overlapping windows), zero-shuffle posexplode fan-out
    (operators/textanalysis.chunk_documents)."""
    return text.chunk_documents(load_table(spark, sf, "documents"), "doc_id", "text", chunk_tokens=64, stride=48)


def q_c5(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: greedy contiguous assignment of documents to
    512-token training sequences via a DISTRIBUTED prefix sum (bucketed
    local cumsum + model-sized bucket-offset cumsum + broadcast), never a
    global single-reducer window (functions/sampling.pack_sequences).
    Oracle: the plain global window cumsum it must equal."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import pack_sequences
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents").select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(docs, "doc_id", "n_tokens", seq_len=512, bucket_span=100)


def q_c7(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-order shuffle + round-robin sharding
    (functions/sampling.training_shuffle): the md5-seeded global
    permutation a pipeline applies before writing training shards.  The
    global rank is a distributed prefix sum over 256 md5-prefix buckets --
    no global-window single reducer -- and the oracle replays the
    permutation with ROW_NUMBER over the same md5 keys, so rank, shard,
    and position are all value-checked."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import training_shuffle

    return training_shuffle(load_table(spark, sf, "documents"), "doc_id", n_shards=8, seed=0).orderBy("ord_rank")


def q_c6(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted soft curation: each document survives with
    probability (1 - dup_token_ratio) -- repetitive docs rarely, clean
    docs almost always -- via the DETERMINISTIC weighted hash sample
    (functions/sampling.weighted_hash_sample), so the kept set is
    engine-replayable, unlike rand()-based importance sampling.
    Per-source kept counts + token mass."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import weighted_hash_sample

    docs = load_table(spark, sf, "documents")
    quality = text.quality_scores(docs, "doc_id", "text").select("doc_id", "dup_token_ratio", "n_tokens")
    d = docs.select("doc_id", "source").join(quality, "doc_id")
    kept = weighted_hash_sample(d, "doc_id", F.lit(1.0) - F.col("dup_token_ratio"), seed="qw")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
    )


def q_c3(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: documents with doc_id % 97 == 0 stand in
    for a held-out eval suite; every OTHER document is scored for 5-gram
    overlap with it (operators/dedup.decontaminate).  The eval gram set
    broadcasts; the corpus is scored map-side -- the contamination filter a
    training-data pipeline runs before every release."""
    docs = load_table(spark, sf, "documents")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.decontaminate(corpus, eval_docs, "doc_id", "text", n=5)


def q_mm1(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: binary wrap -> mapInPandas feature extraction
    (deterministic fake decode; real codecs stubbed, see operators/multimodal.py)."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"), "text")
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "text_blob")
    feats = multimodal.extract_features(media, decode_stub="fake", feat_dim=8)
    return feats.select("media_id", "modality", "n_bytes", precision.micro_round("feat_mean", "feat_mean"), "feat_dim")


def q_mm2(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal 1->N fan-out: per-blob frame sampling via mapInPandas
    (fake kernel, deterministic chunk hashes).  Oracle: DuckDB md5 over the
    same byte chunks."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"))
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "video")
    return multimodal.sample_video_frames(media, every_n_bytes=256, decode_stub="fake")


def q_mm3(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal full chain: attach -> transform (resize, fake byte-
    subsample kernel) -> feature extraction.  The transform emits a fresh
    media table (recomputed n_bytes/content_md5), so the oracle checks the
    TRANSFORMED metadata and features, not just plumbing."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"))
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "image")
    small = multimodal.transform_media(media, op="resize", factor=4, decode_stub="fake")
    feats = multimodal.extract_features(small, decode_stub="fake", feat_dim=8)
    return feats.select(
        "media_id", "modality", "n_bytes", "content_md5", precision.micro_round("feat_mean", "feat_mean"), "feat_dim"
    )


def _wav_media(spark: SparkSession, sf: str) -> DataFrame:
    """Shared mm4/mm6 fixture: every event row becomes a 16-sample 16-bit
    PCM WAV (stdlib wave module, samples a pure function of event_id --
    sample_j = ((event_id*7919 + j*104729) % 20000) - 10000), framed by
    attach_media_metadata.  Oracles replay the formula, so any decoder
    byte-offset bug breaks the hash.  Repartitions before the
    construction kernel (per-row CPU; small parquet arrives
    single-partition)."""
    ev_ids = (
        load_events(spark, sf)
        .select(F.col("event_id").cast("long").alias("event_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def build(batches):
        import io as _io
        import struct
        import wave

        import pandas as pd

        for pdf in batches:
            blobs = []
            for eid in pdf["event_id"]:
                samples = [((int(eid) * 7919 + j * 104729) % 20000) - 10000 for j in range(16)]
                buf = _io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(struct.pack("<16h", *samples))
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"event_id": pdf["event_id"], "blob": blobs})

    raw = ev_ids.mapInPandas(build, schema="event_id long, blob binary")
    return multimodal.attach_media_metadata(raw, "event_id", "blob", "audio")


def q_mm6(spark: SparkSession, sf: str) -> DataFrame:
    """Audio DSP features over real byte-parsed WAVs
    (multimodal.audio_features): exact int64 energy / zero-crossings /
    peak per clip + one correctly-rounded RMS; oracle replays the sample
    formula, never touching bytes."""
    return multimodal.audio_features(_wav_media(spark, sf))


def q_mm4(spark: SparkSession, sf: str) -> DataFrame:
    """REAL byte-parsing decode in-gate, no external codec: every event row
    becomes a 16-sample 16-bit PCM WAV (struct-packed via the stdlib wave
    module, samples a pure function of event_id), and
    extract_features(decode_stub='stdlib') walks the RIFF/fmt/data chunks
    back out.  decode(encode(x)) == x, so the oracle needs no WAV parser --
    it aggregates the sample formula directly; any header-offset or
    byte-order bug in the decoder breaks the hash.  Division is by 2^19
    (exact in binary FP), so no libm residual.  Repartitions before the
    construction kernel (per-row CPU; small parquet arrives
    single-partition)."""
    media = _wav_media(spark, sf)
    feats = multimodal.extract_features(media, decode_stub="stdlib")
    return feats.select(
        "media_id",
        precision.micro_round("feat_mean", "feat_mean"),
        F.col("feat_dim").cast("long").alias("feat_dim"),
    )


def _docs_as_avi(spark: SparkSession, sf: str) -> DataFrame:
    """Shared mm7/mm9 corpus: each document's first <= 3 12-byte ASCII
    slices become 4x1 BGR24 DIB frames of an uncompressed RIFF/AVI
    (stride = width*3 = 12, so each frame payload IS the text slice
    bytes), packed by multimodal.pack_raw_avi in one Arrow kernel.  Docs
    under 12 chars contribute no video.  Repartitions before the per-row
    pack kernel (dedup._shingles rule)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def pack(batches):
        import pandas as pd

        from youtubeanalyzerproject_big_data__spark.operators.multimodal import pack_raw_avi

        for pdf in batches:
            ids, blobs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")
                frames = [raw[12 * k : 12 * (k + 1)] for k in range(min(3, len(raw) // 12))]
                if not frames:
                    continue
                ids.append(int(did))
                blobs.append(pack_raw_avi(frames, width=4, height=1, rate=2, scale=1))
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    packed = docs.mapInPandas(pack, schema="doc_id long, blob binary")
    return multimodal.attach_media_metadata(packed, "doc_id", "blob", "video")


def q_mm7(spark: SparkSession, sf: str) -> DataFrame:
    """In-gate REAL video decode with NO external codec (VERDICT r5 item
    5): the _docs_as_avi corpus decoded back by the stdlib RIFF walk
    (sample_video_frames decode_stub='stdlib', fps = stream rate -> every
    stored frame kept).  The oracle recomputes each frame md5 from the
    SAME text slice directly -- one wrong byte in EITHER the container
    writer or the parser breaks the hash."""
    media = _docs_as_avi(spark, sf)
    return multimodal.sample_video_frames(media, decode_stub="stdlib", fps=2.0).orderBy(
        "media_id", "frame_no"
    )


def q_mm9(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-video duplicate-frame detection -- the keyframe-dedup
    pipeline composed end-to-end: pack (_docs_as_avi) -> REAL stdlib AVI
    decode (multimodal.sample_video_frames) -> frame-content hash ->
    distributed exact dedup (one hash groupBy, the d1 shape applied to
    decoded media).  Keeps frame contents appearing in >= 2 DISTINCT
    videos; the corpus's duplicate-document structure guarantees real
    hits.  Scale: the only shuffle carries (frame_md5, media_id) -- never
    pixels; counts/mins are order-free.  Oracle recomputes frame hashes
    from the generative text slices."""
    media = _docs_as_avi(spark, sf)
    frames = multimodal.sample_video_frames(media, decode_stub="stdlib", fps=2.0)
    return (
        frames.groupBy("frame_md5")
        .agg(
            F.countDistinct("media_id").cast("long").alias("n_videos"),
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.min("media_id").alias("first_media"),
        )
        .where(F.col("n_videos") >= 2)
        .orderBy("frame_md5")
    )


def q_mm8(spark: SparkSession, sf: str) -> DataFrame:
    """In-gate REAL image resize with no codec (multimodal._bmp_downsample
    via transform_media decode_stub='stdlib'): every event becomes a 4x2
    BMP whose channels are pure functions of (event_id, pixel index),
    box-downsampled 2x with EXACT integer channel means, then re-decoded
    by the stdlib BMP parser.  The oracle recomputes the two output
    pixels' luma straight from the generative formula -- one wrong byte
    in the writer, the box filter, or the parser breaks the hash.  The
    luma sum returns as an exact integer (round(feat_mean * 255 * n):
    feat_mean = S/510 in doubles reconstructs S exactly for S <= 510).
    Repartitions before the per-row pack kernel (dedup._shingles rule)."""
    _utc(spark)
    e = load_events(spark, sf).select("event_id").repartition(spark.sparkContext.defaultParallelism)

    def pack(batches):
        import pandas as pd

        from youtubeanalyzerproject_big_data__spark.operators.multimodal import pack_bmp

        for pdf in batches:
            ids, blobs = [], []
            for eid in pdf["event_id"]:
                eid = int(eid)
                px = [
                    ((eid * 7 + i * 13) % 256, (eid * 11 + i * 17) % 256, (eid * 13 + i * 19) % 256)
                    for i in range(8)
                ]
                ids.append(eid)
                blobs.append(pack_bmp(4, 2, px))
            yield pd.DataFrame({"event_id": ids, "blob": blobs})

    packed = e.mapInPandas(pack, schema="event_id long, blob binary")
    media = multimodal.attach_media_metadata(packed, "event_id", "blob", "image")
    small = multimodal.transform_media(media, op="resize", factor=2, decode_stub="stdlib")
    feats = multimodal.extract_features(small, decode_stub="stdlib")
    return feats.select(
        "media_id",
        "n_bytes",
        F.col("feat_dim").cast("long").alias("n_pixels"),
        F.round(F.col("feat_mean") * 255 * F.col("feat_dim")).cast("long").alias("luma_sum"),
    )


G8_SEEDS = ["P1", "P2"]


def q_g8(spark: SparkSession, sf: str) -> DataFrame:
    """3-hop BFS reachability from the seed parts G8_SEEDS over the
    UNDIRECTED order<->part graph (graph.k_hop_distances): exact min-hop
    distances, frontier-driven expansion, all-integer state.  Oracle:
    3 unrolled frontier CTEs (join - EXCEPT - union per hop).

    INTEGER vertex encoding (r11, guide par.2.3 narrower types): the loop is
    order-free (distinct + anti-join + min-hop set semantics only), so the
    "O<k>"/"P<k>" string ids -- 2-10 bytes + offsets on EVERY loop shuffle
    row -- ride as int64 (order 2k, part 2k+1, disjoint and reversible)
    and decode back to the contract strings only at the output projection.
    The final ORDER BY runs on the decoded strings, so ordering and every
    result byte are unchanged (oracle untouched)."""
    li = load_table(spark, sf, "lineitem")
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    res = graph.k_hop_distances(edges, [_encode_op_id(s) for s in G8_SEEDS], max_hops=3)
    return res.select(_decode_op_id(F.col("id")).alias("id"), "hops").orderBy("id")


def q_lp1(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synchronous label propagation, 2 rounds, over the
    undirected order<->part graph (graph.label_propagation): most-frequent
    neighbor label, min-label ties -- the GraphFrames labelPropagation
    analog with an oracle-replayable trajectory."""
    li = load_table(spark, sf, "lineitem")
    fwd = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.label_propagation(edges, max_iter=2).orderBy("id")


def q_mm5(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash media near-dup pairs (multimodal.perceptual_hashes
    + phash_near_dup_pairs): aHash bits by exact-integer greater-than-mean
    rule over the fake-decode samples, d4-style pigeonhole chunk blocking
    (60-bit hash -> 15-bit chunks so buckets stay sparse at 500k+ media;
    the r7 sf10 sweep caught the former 32-bit/8-bit config going
    quadratic exactly like d4 did), bucket cap 2000 mirrored in the
    oracle, bit_count(xor) verify on candidates only -- the media-dedup
    twin of SimHash, decode-kernel pluggable (fake/stdlib/auto)."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"))
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "image")
    h = multimodal.perceptual_hashes(media, decode_stub="fake", n_bits=60)
    return multimodal.phash_near_dup_pairs(h, n_bits=60, max_distance=3).orderBy("id1", "id2")


_PAGERANK_EDGE_HANDLES: dict[tuple, DataFrame] = {}


def _prepared_pagerank_edges(spark: SparkSession, sf: str, kind: str) -> DataFrame:
    """Session-scoped memo of the pagerank-family weighted edge table
    (graph.prepare_weighted_edges).  g4 ('fwd'), g5 and g7 ('cyclic') all
    rank over the same order<->part graph; without the memo a bench/serve
    session rebuilds edges -> repartition -> weight -> cache once per
    variant (3x per round -- VERDICT r5 item 6).  The handle is a
    deliberately long-lived session cache (the one exception to the
    pin-then-unpersist operator rule): keyed by (applicationId, sf, kind),
    with stale keys -- other sessions or sf dirs -- evicted and unpersisted
    on miss, so at most one graph's two handles are ever live."""
    key = (spark.sparkContext.applicationId, sf, kind)
    handle = _PAGERANK_EDGE_HANDLES.get(key)
    if handle is not None:
        try:
            lvl = handle.storageLevel
            # is_cached stays True after spark.catalog.clearCache(), but the
            # storage level collapses to NONE -- that is the honest signal
            if lvl.useMemory or lvl.useDisk:
                return handle
        except Exception:
            pass
        # a clearCache() elsewhere dropped the cache behind the memo -- the
        # handle would silently recompute per iteration; rebuild instead
        _PAGERANK_EDGE_HANDLES.pop(key, None)
    for k in [k for k in _PAGERANK_EDGE_HANDLES if k[0] != key[0] or k[1] != key[1]]:
        stale = _PAGERANK_EDGE_HANDLES.pop(k)
        try:
            stale.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release
    li = load_table(spark, sf, "lineitem")
    # INTEGER vertex encoding (r11, the g8/g14 scheme): order 2k, part
    # 2k+1 ride every loop exchange as int64 instead of "O%d"/"P%d"
    # strings.  The rank loops are id-order-free (joins + sums); the only
    # order-sensitive step is the callers' final top-k tiebreak, which
    # runs on the DECODED strings (_decode_op_id applied BEFORE
    # top_influencers), so results are byte-identical and the oracles are
    # untouched.
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"), (F.col("l_partkey") * 2 + 1).alias("dst")
    )
    pairs = fwd
    if kind == "cyclic":
        pairs = fwd.unionAll(
            li.select(
                (F.col("l_partkey") * 2 + 1).alias("src"), (F.col("l_orderkey") * 2).alias("dst")
            )
        )
    handle = graph.prepare_weighted_edges(graph.edges_from_pairs(pairs, "src", "dst"))
    _PAGERANK_EDGE_HANDLES[key] = handle
    return handle


def _encode_op_id(s: str) -> int:
    """Contract vertex string ("O%d" / "P%d") to its int64 loop id
    (order 2k, part 2k+1): the seed-side encoding of _decode_op_id."""
    k = int(s[1:])
    return 2 * k if s[0] == "O" else 2 * k + 1


def _sql_str_list(xs) -> str:
    """Seed constants as a SQL string-literal list body: 'P1', 'P2'."""
    return ", ".join(f"'{x}'" for x in xs)


def _decode_op_id(col):
    """int64 order/part vertex id (2k / 2k+1) back to the contract string
    ("O%d" / "P%d") -- the inverse of the _prepared_pagerank_edges / q_g8 /
    q_g14 encoding."""
    return F.concat(
        F.when(col % 2 == 0, F.lit("O")).otherwise(F.lit("P")),
        F.shiftright(col, 1).cast("string"),
    )


def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """G4 PageRank (PageRank_Spark_v5.py:102: resetProb 0.15, maxIter 10)
    over the order->part bipartite graph; top-100 (O1).  Oracle: 10 unrolled
    CTE iterations replaying the engine's integer-quantized contribution
    sums (_pagerank_oracle) -- exact match, no tolerance."""
    ranks = graph.pagerank(
        None, reset_prob=0.15, max_iter=10, weighted=_prepared_pagerank_edges(spark, sf, "fwd")
    )
    # decode BEFORE the top-k so the (pagerank desc, id asc) tiebreak runs
    # on the contract strings -- result identical to the string-id build
    return graph.top_influencers(ranks.select(_decode_op_id(F.col("id")).alias("id"), "pagerank"), 100)


def q_pagerank_cyclic(spark: SparkSession, sf: str) -> DataFrame:
    """G4 PageRank on a CYCLIC graph: order<->part edges in both directions,
    so rank mass genuinely propagates through all 10 iterations (the
    bipartite g4 graph converges after 2 -- this query is the hard evidence
    that the iteration machinery, dangling handling, and per-iteration
    quantization match the oracle at depth).  Top-100."""
    ranks = graph.pagerank(
        None, reset_prob=0.15, max_iter=10, weighted=_prepared_pagerank_edges(spark, sf, "cyclic")
    )
    return graph.top_influencers(ranks.select(_decode_op_id(F.col("id")).alias("id"), "pagerank"), 100)


PPR_SEEDS = ["P1", "P2", "P3", "P4", "P5"]


def q_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank from a 5-part seed set over the cyclic
    order<->part graph: proximity-to-seeds ranking (the related-items
    primitive), with the same integer-quantized full-depth oracle replay
    as g4/g5 (operators/graph.personalized_pagerank)."""
    # trajectory is seed-SET driven, so only the membership matters --
    # decode before the top-k as in g4/g5
    ranks = graph.personalized_pagerank(
        None,
        [_encode_op_id(s) for s in PPR_SEEDS],
        reset_prob=0.15,
        max_iter=10,
        weighted=_prepared_pagerank_edges(spark, sf, "cyclic"),
    )
    return graph.top_influencers(ranks.select(_decode_op_id(F.col("id")).alias("id"), "pagerank"), 100)


def q_als(spark: SparkSession, sf: str) -> DataFrame:
    """M1-M4 ALS pipeline (run_alsrecs_job.py) on (customer, part, quantity)
    ratings; 10pc Bernoulli sample seed=42 mirroring the reference's S11
    (run_alsrecs_job.py:55); 50 users x 5 recs.  Rows-only: ALS is
    stochastic-but-seeded."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").cast("string").alias("user"),
        F.col("l_partkey").cast("string").alias("item"),
        F.col("l_quantity").cast("double").alias("rating"),
    )
    ratings = recommend.build_ratings(base, "user", "item", "rating", sample_fraction=0.1)
    # 10% sample leaves ~rows/10 ratings; 4 blocks ~= rows/20k at sf0.1
    # (train_als docstring) -- fewer stages, same factorization.
    model = recommend.train_als(ratings, max_iter=10, reg_param=0.1, rank=10, seed=42, num_blocks=4)
    return recommend.recommend_for_users(model, ratings, n_users=50, n_recs=5).select(
        "user_idx", "user_label", F.concat_ws(",", "recommendations").alias("recs_csv")
    )


def q_m3(spark: SparkSession, sf: str) -> DataFrame:
    """ALS run-to-run reproducibility gate: train the SAME seeded pipeline
    twice in one session and compare order-invariant md5 digests of the
    full rec output.  Seeded ALS's engine claim is repeatability -- same
    seed, same data, same factorization -- and this pins it (m1 itself
    stays rows-only: no engine-independent oracle can replay the
    factorization, but the engine CAN witness its own determinism).
    Digest = sum of per-row md5_int32 over (user_idx, user_label,
    recs_csv) -- order-free by construction (functions/hashing.py), so
    partition/arrival order can't fake a mismatch.  Constant-contract
    oracle, m2-style."""
    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32

    def run_digest():
        recs = q_als(spark, sf)
        return recs.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                md5_int32(F.concat_ws("|", F.col("user_idx").cast("string"), "user_label", "recs_csv"))
            ).cast("long").alias("digest"),
        ).collect()[0]

    r1, r2 = run_digest(), run_digest()
    same = 1 if (r1["n"] == r2["n"] and r1["digest"] == r2["digest"]) else 0
    return spark.createDataFrame([(int(r1["n"]), same)], "n_users long, runs_identical long")


def q_bp2(spark: SparkSession, sf: str) -> DataFrame:
    """BPE train+apply round-trip gate (textanalysis.bpe_train_apply):
    10 merges learned and applied at vocab level; vocab/word/char totals
    are oracle-exact, merge count is contract-pinned, and the
    compression/round-trip bits are computed over the whole vocab."""
    return text.bpe_train_apply(load_table(spark, sf, "documents"), "text", n_merges=10)


def q_c11(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split (sampling.leakage_safe_split):
    split key = md5 of NORMALIZED TEXT (the d1 dup-group key), so
    duplicate groups can't straddle splits; n_leaky_groups is computed,
    not asserted, and must be 0."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import leakage_safe_split

    return leakage_safe_split(load_table(spark, sf, "documents"), "doc_id", "text")


def q_e11(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly volume-anomaly screen (streaming/events.hourly_anomaly):
    per-type z-scores from exact int64 moments, z = (n*H-S)/sqrt(H*Q-S^2)
    floor-quantized to micros, top-20 by |z| with deterministic ties."""
    _utc(spark)
    return ev.hourly_anomaly(load_events(spark, sf), top_k=20)


def q_e12(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation (aggregates.rfm_segments): integer
    recency/frequency/monetary-micros quartile scores -- dyadic-fraction
    cutpoints between int64 order statistics, engine-exact comparisons."""
    _utc(spark)
    return agg.rfm_segments(load_table(spark, sf, "orders"), "o_custkey", "o_orderdate", "o_totalprice")


def q_t19(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction (textanalysis.rake_keywords): stopword-run
    phrases, deg/freq word scores in integer micros, top-20 distinct
    phrases with deterministic ties."""
    return text.rake_keywords(load_table(spark, sf, "documents"), "doc_id", "text", k=20)


def q_l4(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction end-to-end (io.compact_parquet): documents
    deliberately shattered into 64 tiny files, compacted to 4
    range-partitioned sorted files.  The row count and XOR-fold md5
    fingerprint of the COMPACTED copy are oracle-matched against the
    parquet source (rewrite provably lossless); file count and per-file
    row balance (max <= 2x mean, range partitioner quality) ship as gate
    bits."""
    import glob as _glob
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import compact_parquet

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("l4_compact_")
    try:
        small, big = f"{tmp}/small", f"{tmp}/big"
        docs.repartition(64).write.mode("overwrite").parquet(small)
        compact_parquet(spark, small, big, n_files=4, sort_col="doc_id")
        n_small = len(_glob.glob(f"{small}/part-*"))
        n_big = len(_glob.glob(f"{big}/part-*"))
        back = spark.read.parquet(big)
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="l4", lanes=2)
        fp = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        ).collect()[0]
        per_file = (
            back.groupBy(F.input_file_name().alias("f")).count().agg(F.max("count")).collect()[0][0]
        )
        balanced = 1 if (n_big == 4 and per_file * 4 <= 2 * fp["n_rows"]) else 0
        return spark.createDataFrame(
            [(int(fp["n_rows"]), int(fp["fp_lane0"]), int(fp["fp_lane1"]), 1 if n_small >= 32 else 0, balanced)],
            "n_rows long, fp_lane0 long, fp_lane1 long, was_fragmented long, compacted_balanced long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_l6(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed CO-LOCATED join end-to-end: orders and customer written as
    16-bucket tables on the join key (bucketBy + sortBy + saveAsTable),
    re-read and merge-joined -- Catalyst plans the join with ZERO
    Exchanges because both sides' bucket layout already satisfies the
    join's distribution requirement.  THE layout lever for repeated
    100 TB fact-fact joins: the shuffle is paid once at write time and
    amortized over every subsequent join on that key.  Gate bits: the
    bucketed join's executed plan is SortMergeJoin with no Exchange
    (shuffle-free), and the identical unbucketed join carries >= 2
    (discriminating control).  Revenue-by-segment off the bucketed join
    is value-matched by the oracle from the raw tables, proving the
    bucketed write+read lost nothing."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan

    o = load_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    tmp = _scratch_dir("l6_bucketed_")
    try:
        spark.sql("DROP TABLE IF EXISTS l6_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS l6_customer_bkt")
        o.write.mode("overwrite").option("path", f"{tmp}/o").bucketBy(16, "o_custkey").sortBy(
            "o_custkey"
        ).saveAsTable("l6_orders_bkt")
        c.write.mode("overwrite").option("path", f"{tmp}/c").bucketBy(16, "c_custkey").sortBy(
            "c_custkey"
        ).saveAsTable("l6_customer_bkt")
        ob, cb = spark.table("l6_orders_bkt"), spark.table("l6_customer_bkt")
        joined = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
        plan_b = executed_plan(joined)
        bucketed_free = 1 if ("SortMergeJoin" in plan_b and plan_b.count("Exchange") == 0) else 0
        plan_u = executed_plan(o.hint("merge").join(c, o.o_custkey == c.c_custkey))
        control = 1 if plan_u.count("Exchange") >= 2 else 0
        agg = joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dec_sum("o_totalprice", "sum_totalprice"),
        )
        rows = [
            (r["c_mktsegment"], r["n_orders"], r["sum_totalprice"], bucketed_free, control)
            for r in agg.collect()
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS l6_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS l6_customer_bkt")
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "c_mktsegment string, n_orders long, sum_totalprice double, "
        "bucketed_shuffle_free long, unbucketed_has_shuffle long",
    ).orderBy("c_mktsegment")


def q_l7(spark: SparkSession, sf: str) -> DataFrame:
    """Hive-style partitioned layout + partition PRUNING gate: orders
    written ``partitionBy(o_orderpriority)`` (directory-per-value), read
    back with a single-partition predicate.  At 100 TB this is the
    difference between scanning one directory and scanning the lake:
    pruning happens at PLANNING time from directory names -- zero data
    files of other partitions are even listed into the scan.  Gate bits
    from the executed plan: (a) the scan carries a PartitionFilters
    entry binding o_orderpriority (planner-level pruning engaged), and
    (b) ReadSchema does NOT contain the partition column (it lives in
    directory names, not in data files -- the layout actually moved it
    out of the row payload).  The aggregate off the pruned read is
    value-matched by the oracle from the raw table."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan, scan_schemas

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    tmp = _scratch_dir("l7_partitioned_")
    try:
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
        back = spark.read.parquet(tmp)
        pruned = back.where(F.col("o_orderpriority") == "1-URGENT")
        plan = executed_plan(pruned)
        pf = [
            ln.split("PartitionFilters:", 1)[1]
            for ln in plan.splitlines()
            if "PartitionFilters:" in ln
        ]
        pruned_gate = 1 if any("o_orderpriority" in f and "1-URGENT" in f for f in pf) else 0
        schema_gate = 1 if all("o_orderpriority" not in s for s in scan_schemas(pruned)) else 0
        agg = pruned.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dec_sum("o_totalprice", "sum_totalprice"),
        )
        rows = [
            (r["o_orderstatus"], r["n_orders"], r["sum_totalprice"], pruned_gate, schema_gate)
            for r in agg.collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_orderstatus string, n_orders long, sum_totalprice double, "
        "partition_pruned long, partition_col_not_in_files long",
    ).orderBy("o_orderstatus")


def q_a21(spark: SparkSession, sf: str) -> DataFrame:
    """HLL sketch MERGEABILITY gate (Datasketches hll_sketch_agg /
    hll_union_agg): per-event-type user sketches merged via union must
    estimate the same cardinality as one direct global sketch to within
    2% (sketch algebra: merge-then-estimate ~= estimate-of-all -- what
    makes pre-aggregated sketch tables valid at 100 TB; exact sketch
    equality is NOT guaranteed because the union path can promote the
    HLL representation, observed at sf0.1), and land within 5% of the
    exact distinct count.  Exact count is oracle-replayed; the two
    estimator bits are engine-computed gates (estimates are Datasketches
    state, deterministic in-engine but not engine-portable)."""
    e = load_events(spark, sf).select("event_type", "user_id")
    per = e.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")).collect()[0]["est"]
    direct = e.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")).collect()[0]["est"]
    n_groups = per.count()
    exact = e.select("user_id").distinct().count()
    within = 1 if abs(int(merged) - exact) <= 0.05 * exact else 0
    merge_ok = 1 if abs(float(merged) - float(direct)) <= max(1.0, 0.02 * float(direct)) else 0
    return spark.createDataFrame(
        [(int(n_groups), int(exact), merge_ok, within)],
        "n_groups long, exact_distinct long, merge_within_2pct long, union_within_5pct long",
    )


def q_v2(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL corpus round trip (io.write_jsonl / read_jsonl): documents ->
    sharded newline-JSON -> explicit-schema read-back, fingerprinted with
    l2's order-invariant XOR-folded md5 lanes.  The oracle computes the
    SAME fingerprint from the parquet source, so a hash match proves the
    JSONL sink+source preserved every row and byte of the corpus -- the
    training-data interchange format, verified, not assumed."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import read_jsonl, write_jsonl

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v2_jsonl_")
    try:
        write_jsonl(docs, tmp, n_files=8)
        back = read_jsonl(
            spark, tmp, schema="doc_id long, text string, lang string, source string, n_chars long"
        ).select("doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v2", lanes=2)
        out = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_v4(spark: SparkSession, sf: str) -> DataFrame:
    """CSV corpus round trip (io.write_csv / read_csv): documents ->
    quoted RFC-4180 CSV (quoteAll, quote-doubling escape, out-of-band
    null token, multiLine read) -> explicit-schema read-back,
    fingerprinted with v2's order-invariant XOR-folded md5 lanes.  The
    oracle computes the SAME fingerprint from the parquet source, so a
    hash match proves the CSV sink+source preserved every row and byte --
    the spreadsheet-facing interchange format, verified like v2's JSONL."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import read_csv, write_csv

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v4_csv_")
    try:
        write_csv(docs, tmp, n_files=8)
        back = read_csv(
            spark, tmp, schema="doc_id long, text string, lang string, source string, n_chars long"
        ).select("doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v4", lanes=2)
        out = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_v6(spark: SparkSession, sf: str) -> DataFrame:
    """ORC corpus round trip (io.write_orc / read_orc): documents ->
    sharded zlib ORC -> read-back, fingerprinted with v2/v4's
    order-invariant XOR-folded md5 lanes.  The oracle computes the SAME
    fingerprint from the parquet source, so a hash match proves the ORC
    sink+source preserved every row -- closing the interchange matrix
    (JSONL v2, CSV v4, ORC v6, hive-partitioned parquet v5) with the
    Hive-ecosystem columnar format."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import read_orc, write_orc

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v6_orc_")
    try:
        write_orc(docs, tmp, n_files=8)
        back = read_orc(
            spark, tmp, schema="doc_id long, text string, lang string, source string, n_chars long"
        ).select("doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v6", lanes=2)
        out = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_v5(spark: SparkSession, sf: str) -> DataFrame:
    """Sharded training-data export WITH a verifiable manifest
    (io.export_sharded): documents hash-sharded 8 ways on
    pmod(md5(doc_id)) -- a pure function of the data, never rand() or
    partition index -- written hive-partitioned, read back, and
    manifested (per shard: row count, XOR-md5 fingerprint lanes).  The
    oracle recomputes the IDENTICAL manifest from the parquet source
    alone, so a hash match proves (a) the shard assignment is
    deterministic and (b) the export wrote and reads back every row --
    the ship-to-training handoff, audited."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import export_sharded

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v5_export_")
    try:
        staged = docs.withColumn(
            "shard", F.pmod(md5_int32(F.col("doc_id").cast("string"), seed="v5"), F.lit(8))
        )
        export_sharded(staged, "shard", tmp)
        back = spark.read.parquet(tmp).select("shard", "doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v5", lanes=2)
        out = (
            back.select(F.col("shard").cast("long").alias("shard"), lanes[0].alias("l0"), lanes[1].alias("l1"))
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.bit_xor("l0").cast("long").alias("fp_lane0"),
                F.bit_xor("l1").cast("long").alias("fp_lane1"),
            )
            .orderBy("shard")
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_v3(spark: SparkSession, sf: str) -> DataFrame:
    """Schema EVOLUTION read (mergeSchema): the lakehouse append pattern
    where a later batch adds columns.  Even-doc_id documents written with
    the original 3-column schema, odd with the evolved 5-column one;
    ``mergeSchema=true`` reconciles footers at read time -- old rows
    surface NULL for the added columns and no rewrite of historical data
    ever happens (the 100 TB schema-change story: evolution is a metadata
    act, not a backfill job).  Gates: the merged read carries all 5
    columns; added-column values are non-null EXACTLY on the evolved
    batch.  Per-lang aggregate off the merged read (sentinel-filled, per
    repo invariant) is value-matched from the raw table."""
    import shutil

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v3_evolve_")
    try:
        even, odd = F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1
        docs.where(even).select("doc_id", "text", "lang").write.parquet(f"{tmp}/b1")
        docs.where(odd).select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
            f"{tmp}/b2"
        )
        back = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/b1", f"{tmp}/b2")
        has_all = 1 if set(back.columns) >= {"doc_id", "text", "lang", "source", "n_chars"} else 0
        is_old = F.col("doc_id") % 2 == 0
        mismatch = (is_old != F.col("source").isNull()) | (is_old != F.col("n_chars").isNull())
        nulls_exact = back.agg(
            F.sum(F.when(mismatch, 1).otherwise(0)).alias("bad")
        ).collect()[0]["bad"]
        null_gate = 1 if (nulls_exact or 0) == 0 else 0
        agg = back.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("source").cast("long").alias("n_evolved"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("sum_chars_evolved"),
        )
        rows = [
            (r["lang"], r["n_docs"], r["n_evolved"], r["sum_chars_evolved"], has_all, null_gate)
            for r in agg.collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "lang string, n_docs long, n_evolved long, sum_chars_evolved long, "
        "merged_schema_complete long, nulls_exactly_on_old_batch long",
    ).orderBy("lang")


def q_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): HAVING-filtered order
    quantities (decimal-exact) joined back through orders to customer,
    top-100 by (o_totalprice desc, o_orderkey).  The order-qty aggregate
    shuffles once; the join-back carries only qualifying orders; customer
    broadcasts."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity", "sum_qty"))
        .where(F.col("sum_qty") > 250.0)
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q_se9(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment (ev.stream_static_enrich) across 3 real
    micro-batches: the event stream joins the static customer dimension
    (user_id -> mktsegment, broadcast per trigger -- the stateless
    streaming join shape, no watermark/state) and aggregates per segment
    in complete mode.  Oracle = the batch join + aggregate; '__none__'
    sentinel for unmatched users keeps NULLs out of outputs."""
    _utc(spark)
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_static_enrich(
            spark, src, c, "user_id", "c_custkey", "c_mktsegment", max_files_per_trigger=1
        ),
        "complete",
        "se9_",
        n_files=3,
        order_col="ts",
    )
    return out.select("segment", "n_events", "sum_value").orderBy("segment")


def q_se10(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark LATE-DROP semantics, machine-gated (the one streaming
    behavior se1-se9 never pinned): the hourly aggregate runs in APPEND
    mode with a 1-hour watermark over 3 explicitly-constructed arrival
    batches (event_id % 3 -- each spans the full time range, so batches 1
    and 2 genuinely arrive late vs the advanced watermark and lose rows).
    Append mode emits ONLY windows the final watermark closed.

    The oracle replays Spark's micro-batch watermark protocol in SQL,
    calibrated EMPIRICALLY against the engine: the watermark filtering
    batch i is the one computed from batches <= i-2 (a one-batch LAG --
    the update from batch i-1 lands after batch i was planned in this
    availableNow drain; hypothesis-tested against the kept-row count,
    666 vs 335 under the no-lag reading).  A row is dropped when its
    window END <= that watermark (state already evicted); a window is
    emitted when its end <= the FINAL watermark (max ts - delay over all
    batches).  Batch membership is exact (explicitly written files, one
    per trigger, mtime-ordered) -- no range-partitioner sampling in the
    arrival path."""
    import glob
    import shutil

    _utc(spark)
    e = load_events(spark, sf).select("event_id", "event_type", "ts", "value")
    base = _scratch_dir("se10_")
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)
    t0 = int(time.time()) - 3600
    for i in range(3):
        bdir = os.path.join(base, f"b{i}")
        e.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(bdir)
        part = glob.glob(os.path.join(bdir, "part-*.parquet"))[0]
        dst = os.path.join(src, f"part-{i:05d}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
    stream = ev.stream_hourly_event_stats(spark, src, watermark="1 hour", max_files_per_trigger=1)
    n_batches = ev.run_stream_to_parquet(stream, sink, ckpt, "append")
    print(f"[stream se10] {n_batches} micro-batches", file=sys.stderr)
    return spark.read.parquet(sink).orderBy("hour", "event_type")


def q_dr1(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-recall audit ('measure, don't guess' applied to the dedup
    family itself): on a ~1-in-4 GROUP-stable doc sample, compute the TRUE
    near-dup pair set (exact uncapped Jaccard >= 0.8 -- feasible BECAUSE
    sampled: the uncapped inverted index is quadratic in hot-shingle df,
    which the sample bounds) and the d3 MinHash+LSH pipeline's pairs on
    the same sample; report n_true / n_found / recall_ppm (exact integer
    floor division; -1 sentinel if the sample holds no true pair).

    Sampling is by md5(first token) % 4 -- NOT by doc_id: a pair survives
    sampling only if BOTH endpoints do, so id-sampling shears near-dup
    pairs apart (measured: doc_id%20 kept ZERO of sf0.01's 25 true pairs;
    every true pair at every SF shares its first token, so token-group
    sampling keeps pairs intact -- the c11 leakage-safe-split lesson
    applied to auditing).  This is how LSH parameter quality (16 hashes x
    4 bands at t=0.8) is audited at 100 TB: a sampled recall gate, the
    r1/r2 ANN pattern applied to text dedup.  Fully deterministic (md5
    everywhere), so even the recall number is oracle-hash-exact."""
    first_tok = F.element_at(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""), 1)
    docs = load_table(spark, sf, "documents").where(
        F.pmod(md5_int32(first_tok, "dr1"), F.lit(4)) == 0
    )
    true_pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8, max_df=None).select(
        "doc1", "doc2"
    )
    lsh_pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8
    ).select("doc1", "doc2")
    found = true_pairs.join(lsh_pairs, ["doc1", "doc2"], "left_semi")
    t = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    f_ = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    return t.crossJoin(f_).select(  # two 1-row totals: the sanctioned crossJoin shape
        "n_true",
        "n_found",
        F.when(F.col("n_true") == 0, F.lit(-1))
        .otherwise(F.expr("(1000000 * n_found) DIV n_true"))
        .cast("long")
        .alias("recall_ppm"),
    )


def q_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): promo revenue share per ship
    month -- part type broadcast onto the fact, decimal-exact revenue
    sums.  The ppm share needs 1e6 * micro-sum, which OVERFLOWS int64
    already at sf0.1 (first caught by the scale replays), so the ratio is
    computed over the month-cardinality aggregate DRIVER-SIDE in exact
    Python big-ints (model-sized collect: months are calendar-bounded --
    the cutpoints pattern); the oracle uses HUGEINT for the same exact
    floor division."""
    import decimal as _dec

    _utc(spark)
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    g = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_trunc("month", F.col("l_shipdate").cast("timestamp")).alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC))).alias("_p"),
            F.sum(rev).alias("_t"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("ship_month")
    )
    rows = g.collect()  # month-cardinality, model-sized
    data = []
    for r in rows:
        p_i = int(_dec.Decimal(r["_p"]).scaleb(6))  # exact micro integers
        t_i = int(_dec.Decimal(r["_t"]).scaleb(6))
        # doubles via int-micros / 1e6 (the dec_sum_col recipe): Python's
        # int->float is correctly rounded, so this matches the oracle's
        # CAST(BIGINT AS DOUBLE)/1e6 bit-for-bit at any magnitude
        data.append(
            (r["ship_month"], p_i / 1e6, t_i / 1e6, r["n_lines"], (1_000_000 * p_i) // t_i)
        )
    return spark.createDataFrame(
        data,
        "ship_month timestamp, promo_revenue double, total_revenue double, n_lines long, promo_ppm long",
    )


def q_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one filtered scan,
    one row -- shipdate year, discount band, quantity cap, revenue =
    sum(extendedprice * discount) decimal-exact.  The pushdown sanity
    query: every predicate must reach the parquet scan."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        dec_sum((F.col("l_extendedprice") * F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def q_q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over one ship
    year, keep the supplier(s) whose revenue EQUALS the max -- the
    view-plus-max correlated pattern.  Revenue compares as exact integer
    micros (decimal sums), so the equality join cannot miss a tie by a
    ulp; the 1-row max broadcasts."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    per_supp = li.groupBy("l_suppkey").agg((F.sum(rev) * 1_000_000).cast("long").alias("rev_micro"))
    mx = per_supp.agg(F.max("rev_micro").alias("mx"))
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(mx), per_supp["rev_micro"] == F.col("mx"))
        .join(F.broadcast(s), per_supp["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name", "rev_micro",
            (F.col("rev_micro").cast("double") / F.lit(1e6)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lines of Brand#1
    parts whose quantity is below 20% of that part's average quantity --
    the correlated-average pattern.  The threshold compares EXACTLY via
    cross-multiplication (5 * qty * n_part < sum_qty in integer micros),
    never a float 0.2*avg; per-part aggregates broadcast (part-dim-sized)."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    p = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#1").select("p_partkey")
    branded = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    per_part = branded.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast(DEC)) * 1_000_000).cast("long").alias("sum_qty_micro"),
        F.count(F.lit(1)).cast("long").alias("n_part"),
    )
    qty_micro = (F.col("l_quantity").cast(DEC) * 1_000_000).cast("long")
    small = (
        branded.withColumn("qty_micro", qty_micro)
        .join(F.broadcast(per_part.withColumnRenamed("l_partkey", "pk")), F.col("l_partkey") == F.col("pk"))
        .where(F.col("qty_micro") * 5 * F.col("n_part") < F.col("sum_qty_micro"))
    )
    return small.agg(
        dec_sum("l_extendedprice", "small_qty_revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def q_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity, adapted to this schema):
    customers with NO RECENT order (nothing since 2000-01-01 -- every
    synthetic customer has some order, so the classic no-order-ever form
    is degenerate) and an account balance above the positive-balance
    average, counted per nation.  The average threshold compares exactly
    via cross-multiplication on integer micros (the q17 discipline); the
    idle test is a broadcast-keys anti join."""
    _utc(spark)
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    pos = c.where(F.col("c_acctbal") > 0.0)
    stats = pos.agg(
        (F.sum(F.col("c_acctbal").cast(DEC)) * 1_000_000).cast("long").alias("sum_micro"),
        F.count(F.lit(1)).cast("long").alias("n_pos"),
    )
    bal_micro = (F.col("c_acctbal").cast(DEC) * 1_000_000).cast("long")
    cand = (
        c.join(F.broadcast(o), c["c_custkey"] == o["o_custkey"], "left_anti")
        .crossJoin(F.broadcast(stats))  # 1-row totals: the sanctioned crossJoin shape
        .where(bal_micro * F.col("n_pos") > F.col("sum_micro"))
    )
    return (
        cand.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            dec_sum("c_acctbal", "total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunction of conjunction
    brackets): three (brand, size-range, quantity-range) OR-branches over
    the lineitem-part join -- the classic test that a multi-bracket
    predicate still evaluates as one broadcast join + one scan with the
    part-side brackets PUSHED to the dimension (each branch's brand/size
    terms prune parts before the join; residual quantity terms evaluate
    on the joined row).  One row out: decimal-exact revenue + line count."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    br = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return j.where(br).agg(
        dec_sum(rev, "revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def q_q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): for each STANDARD mid-size part,
    the ASIA supplier(s) achieving the minimum observed supply cost -- the
    correlated-min decorrelation (aggregate once, equi-join back on the
    min).  The schema has no partsupp table, so the supply relation is
    DERIVED from lineitem as min(l_extendedprice) per (part, supplier) --
    a pure MIN, no arithmetic, so the equality join-back compares doubles
    exactly.  Part and supplier prunes broadcast; the per-part min is
    part-dim-sized and broadcasts too.  Reference query semantics:
    YoutubeNetworkAgg_Final.py's dim-enrichment joins, widened to the
    classic decorrelated-subquery plan."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA").select("r_regionkey")
    asup = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        load_table(spark, sf, "part")
        .where((F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20))
        .select("p_partkey")
    )
    supply = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(asup.select("s_suppkey")), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = supply.groupBy("l_partkey").agg(F.min("cost").alias("best_cost")).withColumnRenamed("l_partkey", "bk")
    return (
        supply.join(F.broadcast(best), (supply["l_partkey"] == F.col("bk")) & (supply["cost"] == F.col("best_cost")))
        .join(F.broadcast(asup), supply["l_suppkey"] == asup["s_suppkey"])
        .select("s_acctbal", "s_name", "n_name", F.col("l_partkey").alias("p_partkey"), "cost", "s_suppkey")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "s_suppkey")
        .limit(100)
        .drop("s_suppkey")
    )


def q_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_6's share of PROMO
    revenue sold to AMERICA-region customers, per order year.  Supplier
    nation comes through l_suppkey; the share ratio is ppm computed
    DRIVER-SIDE in exact Python big-ints over the year-cardinality
    aggregate (the q14 pattern -- 1e6 * micro-sum overflows int64), the
    oracle's HUGEINT floor division is its twin."""
    import decimal as _dec

    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    p = load_table(spark, sf, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "AMERICA").select("r_regionkey")
    cust_am = (
        load_table(spark, sf, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    g = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust_am), o["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("s_nationkey") == 6, rev).otherwise(F.lit(0).cast(DEC))).alias("_n"),
            F.sum(rev).alias("_t"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("o_year")
    )
    rows = g.collect()  # year-cardinality, model-sized
    data = []
    for row in rows:
        n_i = int(_dec.Decimal(row["_n"]).scaleb(6))
        t_i = int(_dec.Decimal(row["_t"]).scaleb(6))
        data.append((row["o_year"], n_i / 1e6, t_i / 1e6, row["n_lines"], (1_000_000 * n_i) // t_i))
    return spark.createDataFrame(
        data,
        "o_year long, nation_revenue double, total_revenue double, n_lines long, mkt_share_ppm long",
    )


def q_q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation and
    order year over 'red' parts, profit = disc revenue minus a retail-price
    proxy cost (no partsupp table: cost = 0.5 * p_retailprice * l_quantity).
    Both terms cast DECIMAL(18,6) BEFORE the subtraction so the sum is
    exact; the double products underneath are single IEEE expressions both
    engines evaluate bit-identically (left-assoc, same literal)."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf, "part").where(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC) - (
        F.col("p_retailprice") * F.lit(0.5) * F.col("l_quantity")
    ).cast(DEC)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dec_sum(amount, "sum_profit"), F.count(F.lit(1)).cast("long").alias("n_lines"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose total disc revenue
    exceeds 1.5x the average per-part value -- the having-vs-global-scalar
    pattern.  (The classic fixed 1/10000-of-total fraction is scale-DEPENDENT
    -- it returned 0 rows already at sf0.1 -- so the threshold is relative
    to the mean, which is scale-free.)  Both sides are exact integer
    micros; the test is value_micro > (3*total_micro) DIV (2*n_parts), which
    for non-negative int64 is EXACTLY equivalent to the cross-multiplied
    2*value*n > 3*total (proof in oracle comment) without the 1e22 overflow
    the multiplication would hit at sf1.  The 1-row total broadcasts
    (sanctioned crossJoin)."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    per_part = li.groupBy("l_partkey").agg((F.sum(rev) * 1_000_000).cast("long").alias("value_micro"))
    tot = per_part.agg(
        F.sum("value_micro").alias("total_micro"), F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .where(F.col("value_micro") > F.expr("(3 * total_micro) DIV (2 * n_parts)"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "value_micro",
            (F.col("value_micro").cast("double") / F.lit(1e6)).alias("value"),
        )
        .orderBy(F.desc("value_micro"), "p_partkey")
        .limit(100)
    )


def q_q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay priority census): lines bucketed by
    ship latency (180-day buckets, clamped to [0, 4] -- the synthetic data
    has negative latencies) counting critical (1-URGENT/2-HIGH) vs other
    orders per bucket.  All-integer: datediff days, GREATEST/LEAST clamp,
    DIV -- both engines truncate identically on non-negative ints."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    days = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    bucket = F.least(F.expr("GREATEST(_days, 0) DIV 180"), F.lit(4)).cast("long")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .withColumn("_days", days)
        .groupBy(bucket.alias("latency_bucket"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).cast("long").alias("critical_lines"),
            F.sum(F.when(crit, 0).otherwise(1)).cast("long").alias("other_lines"),
        )
        .orderBy("latency_bucket")
    )


def q_q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attributes): distinct
    suppliers per (brand, type, size) over the DERIVED lineitem
    part-supplier relation, excluding one brand and negative-balance
    suppliers (the NOT IN -> broadcast anti join).  The distinct pair
    projection is the only corpus-sized shuffle; part attrs broadcast."""
    pairs = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = load_table(spark, sf, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    p = (
        load_table(spark, sf, "part")
        .where(F.col("p_brand") != "Brand#5")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(F.broadcast(bad), pairs["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(100)
    )


def q_q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (excess-share suppliers): EUROPE suppliers who in
    1997 shipped MORE THAN HALF of some red part's total 1997 quantity --
    nested semi-joins over per-(part,supplier) vs per-part aggregates (the
    partsupp availqty>0.5*sum correlation, derived from lineitem).  The
    half test cross-multiplies exact integer micros (2*supp > part); the
    per-part totals are part-dim-sized and broadcast; the supplier keyset
    semi-joins (never materializes a wide row)."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf, "part").where(F.col("p_name").like("red%")).select("p_partkey")
    red = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select("l_partkey", "l_suppkey", "l_quantity")
    qty_micro = (F.sum(F.col("l_quantity").cast(DEC)) * 1_000_000).cast("long")
    per_ps = red.groupBy("l_partkey", "l_suppkey").agg(qty_micro.alias("supp_qty_micro"))
    per_p = red.groupBy("l_partkey").agg(qty_micro.alias("part_qty_micro")).withColumnRenamed("l_partkey", "pk")
    excess = (
        per_ps.join(F.broadcast(per_p), F.col("l_partkey") == F.col("pk"))
        .where(F.lit(2) * F.col("supp_qty_micro") > F.col("part_qty_micro"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "EUROPE").select("r_regionkey")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(excess), s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


def q_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per order, at
    least two distinct suppliers but EXACTLY ONE distinct late supplier
    (ship > order date + 730 days; no commit/receipt dates in this schema)
    -- the exists + not-exists double correlation collapsed into ONE
    grouped pass over the fact (conditional countDistinct + conditional
    max recovers the sole late supplier), instead of the classic l1/l2/l3
    triple self-join.  One fact shuffle on l_orderkey, then an
    order-cardinality regroup; supplier names broadcast."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    late = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) > 730
    per_order = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(s), F.col("late_supp") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name", "s_suppkey")
        .limit(100)
    )


def q_u6(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-incremental MV refresh (merge.refresh_partitions): a
    daily event-stats view maintained by recomputing ONLY the days a
    batch touches (broadcast semi-join prune -- partition pruning on a
    partitioned table) while untouched days pass through from state via a
    broadcast anti join.  The complement of i1's pure merge: this is the
    REPLACE-a-partition pattern late/corrected data needs.  Oracle
    recomputes from the full table -- equality is the refresh proof."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import agg_state, refresh_partitions

    _utc(spark)
    e = load_events(spark, sf).select(F.date_trunc("day", F.col("ts")).alias("day"), "event_id", "value")
    old = e.where(F.col("event_id") % 10 != 0)
    batch = e.where(F.col("event_id") % 10 == 0)
    state = agg_state(old, ["day"], "value")
    refreshed = refresh_partitions(state, e, batch, "day", lambda src: agg_state(src, ["day"], "value"))
    return refreshed.orderBy("day")


def q_u7(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time dimension lookup (merge.pit_lookup): every order is
    enriched with the customer's SCD2 event-type state (u3's history,
    built from the event feed) valid AT THE ORDER DATE -- the leakage-free
    feature join (an order must never see a state change from its future).
    LEFT equi-join on the key with the interval test residual; validity
    intervals partition each key's timeline, so no fact can match twice.
    Orders before a user's first event (or for users with no events) get
    the '__none__' / -1 sentinels.  Oracle replays the u3 history CTE plus
    the same interval join."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import pit_lookup

    _utc(spark)
    hist = merge_scd2(load_events(spark, sf), "user_id", "event_type", "ts", "event_id")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    out = pit_lookup(
        o, hist, "o_custkey", F.unix_micros(F.col("o_orderdate").cast("timestamp")), "user_id"
    )
    return out.select("o_orderkey", "state", "version").orderBy("o_orderkey")


def q_u8(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-be-forgotten purge CASCADE + audit: a deterministic ~0.5%
    of customers (md5 % 1000 < 5 -- the deletion-request queue) is purged
    from customer, cascaded to their orders, and cascaded again to those
    orders' lineitems.  Per table: before/purged/after counts and an
    order-invariant XOR-md5 fingerprint of the SURVIVING keys, so the
    oracle hash proves the purge removed exactly the cascade closure and
    nothing else -- the audit artifact a deletion pipeline must produce.
    Scale: the deletion keyset is request-queue-sized -> broadcast
    anti/semi joins against customer and orders; the order-level cascade
    set is fact-sized (0.5% of orders), so lineitem purges through a
    SHUFFLE anti-join, never a broadcast."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    deleted = c.where(
        md5_int32(F.col("c_custkey").cast("string"), seed="forget") % 1000 < 5
    ).select("c_custkey")
    surv_c = c.join(F.broadcast(deleted), "c_custkey", "left_anti")
    surv_o = o.join(F.broadcast(deleted), o.o_custkey == deleted.c_custkey, "left_anti")
    del_o = o.join(F.broadcast(deleted), o.o_custkey == deleted.c_custkey, "left_semi").select(
        "o_orderkey"
    )
    surv_li = li.join(del_o, li.l_orderkey == del_o.o_orderkey, "left_anti")

    def _row(base: DataFrame, surv: DataFrame, key, tbl: str) -> DataFrame:
        b = base.agg(F.count(F.lit(1)).cast("long").alias("n_before"))
        s = surv.select(md5_int32(key, seed="u8fp").alias("h")).agg(
            F.count(F.lit(1)).cast("long").alias("n_after"),
            F.coalesce(F.bit_xor("h"), F.lit(0)).cast("long").alias("survivor_fp"),
        )
        return b.crossJoin(s).select(  # two 1-row totals: the sanctioned crossJoin shape
            F.lit(tbl).alias("tbl"),
            "n_before",
            (F.col("n_before") - F.col("n_after")).cast("long").alias("n_purged"),
            "n_after",
            "survivor_fp",
        )

    li_key = F.concat_ws("#", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
    return (
        _row(c, surv_c, F.col("c_custkey").cast("string"), "customer")
        .unionByName(_row(o, surv_o, F.col("o_orderkey").cast("string"), "orders"))
        .unionByName(_row(li, surv_li, li_key, "lineitem"))
        .orderBy("tbl")
    )


def q_e15(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap fill (timeseries.gap_fill): the hourly event series
    of every 10th user densified to a regular grid -- missing hours
    materialized from a per-key generated spine (never a global calendar
    cross join), zero counts, and the last observed event type carried
    forward (as-of state between observations).  One corpus shuffle (the
    hourly pre-aggregate); spine + forward-fill run on bucket-cardinality
    rows.  Oracle: generate_series spine + LAST_VALUE IGNORE NULLS."""
    from youtubeanalyzerproject_big_data__spark.operators.timeseries import gap_fill

    _utc(spark)
    e = load_events(spark, sf).where(F.col("user_id") % 10 == 0)
    out = gap_fill(e, "user_id", "ts", "event_type", unit="hour")
    return out.select(
        "user_id", F.col("bucket").alias("hour"), "n_events", "is_gap", "carried_type"
    ).orderBy("user_id", "hour")


G13_CORE_K = 80  # median co-purchase degree ~117; 80 peels 5 rounds with a large surviving core
G13_CORE_ROUNDS = 10


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled synchronous-peeling twin of graph.kcore: round i keeps
    vertices with degree >= k in e_{i-1} and the edges among them.  Extra
    rounds after the fixpoint are no-ops, so a fixed unroll equals the
    engine's early-exited loop whenever BOTH reach the fixpoint -- and
    equals its max_rounds-step peel otherwise (same round semantics).

    Every CTE is AS MATERIALIZED: round i references round i-1 THREE
    times, so inlining (DuckDB's default for single-reference CTEs, and
    the same failure mode as the Hilbert pure-Column fold) re-expands the
    tree 3^rounds-fold -- the un-materialized form exhausted file handles
    re-opening the lineitem scan before it could run."""
    ctes = [
        """e0 AS MATERIALIZED (
              SELECT DISTINCT x.l_partkey AS v, y.l_partkey AS u
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey != y.l_partkey)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"g{i} AS MATERIALIZED (SELECT v FROM e{i-1} GROUP BY v HAVING COUNT(*) >= {k})")
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT e.v, e.u FROM e{i-1} e JOIN g{i} a ON e.v = a.v JOIN g{i} b ON e.u = b.v)"
        )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            SELECT v AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
            FROM e{rounds} GROUP BY v ORDER BY core_degree DESC, part"""
    )


def q_g13(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph (graph.kcore):
    synchronous peeling at k=80 -- each round drops ALL sub-k vertices at
    once (unique fixpoint, so deletion order cannot matter).  Edge build
    via graph.copurchase_edges (one groupBy + in-array pair expansion,
    never a fact-fact self-join); survivor keysets semi-join WITHOUT a
    forced broadcast (vertex-sized -- the r5 g10 lesson).  Converges in 5
    rounds at both gate scales; the oracle unrolls 10 identical rounds."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # distinct=False: kcore canonicalizes + distincts internally, so the
    # builder's own dedup shuffle would just stack under it (r10).
    edges = graph.copurchase_edges(li, "l_orderkey", "l_partkey", distinct=False)
    core = graph.kcore(edges, k=G13_CORE_K, max_rounds=G13_CORE_ROUNDS)
    return core.select(F.col("src").alias("part"), "core_degree").orderBy(
        F.desc("core_degree"), "part"
    )


def _g14_oracle_sql(seeds: list[str], hops: int) -> str:
    """Unrolled (min,+) Bellman-Ford twin of graph.weighted_shortest_paths
    over the quantity-weighted order<->part graph.  Every round CTE is AS
    MATERIALIZED (each references the previous twice -- the g13 inlining
    lesson)."""
    seed_list = _sql_str_list(seeds)
    ctes = [
        """f AS MATERIALIZED (
              SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src,
                     'P' || CAST(l_partkey AS VARCHAR) AS dst,
                     CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS w
              FROM lineitem)""",
        "e AS MATERIALIZED (SELECT src, dst, w FROM f UNION ALL SELECT dst, src, w FROM f)",
        f"d0 AS (SELECT unnest([{seed_list}]) AS id, CAST(0 AS BIGINT) AS dist)",
    ]
    for i in range(1, hops + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
              SELECT id, MIN(dist) AS dist FROM (
                SELECT id, dist FROM d{i-1}
                UNION ALL
                SELECT e.dst AS id, d{i-1}.dist + e.w AS dist FROM e JOIN d{i-1} ON e.src = d{i-1}.id
              ) GROUP BY id)"""
        )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            SELECT id, CAST(dist AS BIGINT) AS dist FROM d{hops} ORDER BY id"""
    )


G14_SEEDS = ["P1", "P2"]


def q_g14(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-hop weighted shortest paths (graph.weighted_shortest_paths):
    min-plus Bellman-Ford from the seed parts G14_SEEDS over the order<->part
    graph with integer-micro quantity edge costs -- the weighted twin of
    g8's BFS (hops count there; cost accumulates here).  3 synchronous
    relaxation rounds, exact integer arithmetic, edge table repartitioned
    once.  Oracle: the identical recurrence unrolled (MATERIALIZED).

    INTEGER vertex encoding (r11): same order-2k/part-2k+1 int64 scheme as
    g8 -- the (min,+) relaxation is id-order-free, ids decode at the output
    projection, and the final ORDER BY runs on the decoded strings, so the
    result is byte-identical (oracle untouched)."""
    li = load_table(spark, sf, "lineitem")
    w = (F.col("l_quantity").cast(DEC) * 1_000_000).cast("long").alias("w")
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
        w,
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    res = graph.weighted_shortest_paths(edges, [_encode_op_id(s) for s in G14_SEEDS], max_hops=3)
    return res.select(_decode_op_id(F.col("id")).alias("id"), "dist").orderBy("id")


def _hits_oracle(edges_sql: str, rounds: int = 3, quantum: int = 1_000_000, k: int = 20) -> str:
    """Unrolled DuckDB twin of graph.hits: EXACT-INTEGER mutual
    reinforcement with max-renormalization by integer floor division
    (``//`` == Spark ``div`` on non-negative int64), so every round is
    bit-identical across engines -- no float normalization anywhere.
    Round CTEs are AS MATERIALIZED: each renorm references its raw table
    twice (value + scalar max), the g13 inlining lesson."""
    q = int(quantum)
    ctes = [
        f"edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        # round 1: every hub score is the constant quantum -> a_raw = indeg * quantum
        f"a1r AS MATERIALIZED (SELECT dst AS id, COUNT(*) * {q} AS raw FROM edges GROUP BY dst)",
        f"a1 AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM a1r) AS s FROM a1r)",
        f"h1r AS MATERIALIZED (SELECT e.src AS id, SUM(a1.s) AS raw FROM edges e JOIN a1 ON e.dst = a1.id GROUP BY e.src)",
        f"h1 AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM h1r) AS s FROM h1r)",
    ]
    for i in range(2, rounds + 1):
        ctes.append(
            f"a{i}r AS MATERIALIZED (SELECT e.dst AS id, SUM(h{i-1}.s) AS raw "
            f"FROM edges e JOIN h{i-1} ON e.src = h{i-1}.id GROUP BY e.dst)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM a{i}r) AS s FROM a{i}r)"
        )
        ctes.append(
            f"h{i}r AS MATERIALIZED (SELECT e.src AS id, SUM(a{i}.s) AS raw "
            f"FROM edges e JOIN a{i} ON e.dst = a{i}.id GROUP BY e.src)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM h{i}r) AS s FROM h{i}r)"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT role, rank, id, score_ppm FROM (
  SELECT 'authority' AS role, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rank, id, s AS score_ppm FROM a{rounds}
  UNION ALL
  SELECT 'hub' AS role, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rank, id, s AS score_ppm FROM h{rounds}
) WHERE rank <= {k} ORDER BY role, rank
"""


def q_g15(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities over the directed order->part graph
    (graph.hits): 3 exact-integer mutual-reinforcement rounds with
    max-renormalization by int64 floor division -- hub-heavy orders vs
    authority-heavy parts, the link-analysis complement of g4's PageRank
    (which ranks by in-link mass only).  No float normalization, so both
    engines replay the scores bit-exactly; each renormalized table is
    localCheckpoint-pinned (it's referenced twice -- value + max -- and an
    expression fold would double the plan per half-round, the Hilbert
    lesson).  Top-20 per role with (score desc, id) deterministic ranks.

    INTEGER vertex encoding (r11): the order-2k/part-2k+1 int64 scheme of
    g4/g8 -- the mutual-reinforcement loop is id-order-free; the top-k
    tiebreak runs on DECODED strings via hits(decode_id=), so the result
    is byte-identical and the oracle untouched."""
    li = load_table(spark, sf, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    return graph.hits(edges, rounds=3, quantum=1_000_000, k=20, decode_id=_decode_op_id)


def q_t23(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level duplicate trigram mass per source
    (textanalysis.dup_ngram_fraction): fraction of each source's trigram
    OCCURRENCES that repeat an already-seen trigram -- the cross-document
    redundancy diagnostic (t7/t21 are within-document).  Occurrence-
    preserving trigrams by iterated zip_with against the shifted token
    array; md5(gram) is the only shuffled key; dup_ppm is exact int64
    floor division."""
    return text.dup_ngram_fraction(load_table(spark, sf, "documents"), "text", "source", n=3)


M5_PRICE_GRID = [float(t) for t in range(20_000, 520_000, 20_000)]
M5_CUST_GRID = [float(t) for t in range(0, 16_000, 1_000)]


def q_m5(spark: SparkSession, sf: str) -> DataFrame:
    """Exact decision-stump trainer (classify.decision_stump): label =
    (o_totalprice > 150000) with a 5% md5-parity flip, candidate grid =
    literal price/custkey thresholds.  The stump must pick a price split
    adjacent to the rule boundary; misclassification counts, argmin, and
    acc_ppm are pure int64, so the WHOLE training trajectory (one
    map-side grid expansion + one aggregate) replays in the oracle --
    the boosting weak learner with a hash-exact gate."""
    o = load_table(spark, sf, "orders").select(
        "o_totalprice",
        F.col("o_custkey").cast("double").alias("o_custkey_d"),
        (
            (F.col("o_totalprice") > 150_000).cast("long")
            != (md5_int32(F.col("o_orderkey").cast("string"), seed="m5") % 20 == 0).cast("long")
        ).cast("long").alias("y"),
    )
    return classify_ops.decision_stump(
        o,
        ["o_totalprice", "o_custkey_d"],
        "y",
        {"o_totalprice": M5_PRICE_GRID, "o_custkey_d": M5_CUST_GRID},
    )


def q_m6(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC-AUC gate (classify.auc_exact): tie-corrected Mann-Whitney
    over o_totalprice as the score for m5's flipped rule label -- pure
    int64 pair counting via a distributed two-level prefix sum (never a
    global window), final ppm division driver-side in Python big-ints
    (the tpch_q14 overflow recipe; oracle uses HUGEINT).  The standard
    ranking-quality metric for any scoring model, hash-exactly
    replayable."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_totalprice").alias("score"),
        (
            (F.col("o_totalprice") > 150_000).cast("long")
            != (md5_int32(F.col("o_orderkey").cast("string"), seed="m5") % 20 == 0).cast("long")
        ).cast("long").alias("y"),
    )
    return classify_ops.auc_exact(o, "score", "y", bucket_span=1000.0)


def q_e17(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive backtest (timeseries.seasonal_naive_backtest):
    predict each hour's per-type event count with the count 24 h earlier,
    score with WAPE -- the baseline every forecaster must beat and the
    forecast-monitoring primitive.  Integer epoch-hour alignment (div,
    never a double quotient), inner alignment (absent hours are gap
    fill's job, e15), all-int64 WAPE.  One corpus shuffle."""
    from youtubeanalyzerproject_big_data__spark.operators.timeseries import seasonal_naive_backtest

    _utc(spark)
    return seasonal_naive_backtest(load_events(spark, sf), "ts", "event_type", period_hours=24)


E18_LAGS = (1, 2, 3, 24)


def q_e18(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly-series autocorrelation gate (timeseries.acf_ppm): ACF of
    the global hourly event-count series at lags 1/2/3/24 -- the
    seasonality detector that justifies e17's period choice.  Dense
    integer epoch-hour spine (zeros are real), denominator-cleared
    integer deviations, decimal(38,0) cross-product sums (HUGEINT twin),
    final ppm ratio driver-side in Python big ints (the q14/m6 recipe)."""
    from youtubeanalyzerproject_big_data__spark.operators.timeseries import acf_ppm

    _utc(spark)
    return acf_ppm(load_events(spark, sf), "ts", lags=E18_LAGS)


M7_THRESHOLDS = [float(t) for t in range(50_000, 450_000, 25_000)]


def q_m7(spark: SparkSession, sf: str) -> DataFrame:
    """Precision/recall/F1 curve (classify.pr_curve) over a 16-point
    threshold grid for m5/m6's flipped rule label -- one broadcast-grid
    pass (the stump shape) computes every operating point; all-integer
    ppm metrics with -1 sentinels on empty denominators.  The
    operating-point companion to m6's threshold-free AUC."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_totalprice").alias("score"),
        (
            (F.col("o_totalprice") > 150_000).cast("long")
            != (md5_int32(F.col("o_orderkey").cast("string"), seed="m5") % 20 == 0).cast("long")
        ).cast("long").alias("y"),
    )
    return classify_ops.pr_curve(o, "score", "y", M7_THRESHOLDS)


def q_w7(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-pinned value windows (first_value / last_value / nth_value):
    per order, its priority class's cheapest, most expensive, and
    second-cheapest order keys -- the leaderboard-context primitive
    (show each row against its group's extremes).  The full-partition
    frame (unbounded both ways) makes last/nth well-defined; deterministic
    (price, orderkey) tiebreaks; key-partitioned windows only."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first_value("o_orderkey").over(w).cast("long").alias("cheapest_key"),
        F.last_value("o_orderkey").over(w).cast("long").alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(w).cast("long").alias("second_cheapest_key"),
    ).orderBy("o_orderkey")


def q_i3(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental distinct-count state maintenance (merge.kmv_state /
    merge_kmv_state / kmv_estimate): per-hour KMV summaries for the
    event_id % 10 != 0 history fold in the % 10 == 0 batch via the
    2k-rows-per-group merge; the oracle recomputes the estimate from the
    FULL table -- equality IS the mergeability proof (i1/i2's argument
    applied to cardinality; se8 is the streaming twin, same integer
    estimate formula)."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import (
        kmv_estimate,
        kmv_state,
        merge_kmv_state,
    )

    _utc(spark)
    k = 64
    e = load_events(spark, sf).select(
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        md5_int32(F.col("user_id").cast("string"), seed="kmv").alias("hv"),
    )
    base = kmv_state(e.where(F.col("event_id") % 10 != 0), ["hour"], "hv", k=k)
    batch = kmv_state(e.where(F.col("event_id") % 10 == 0), ["hour"], "hv", k=k)
    merged = merge_kmv_state(base, batch, ["hour"], k=k)
    return kmv_estimate(merged, ["hour"], k=k).orderBy("hour")


def q_a25(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set-operation estimates (the sketch family's SET ALGEBRA --
    union by sketch merge, intersection by inclusion-exclusion): distinct
    urgent-order customers (A) vs high-order customers (B).  The union
    sketch is the two k-sets unioned and re-cut (exactly merge_kmv_state's
    argument); |A n B|_est = max(0, est_A + est_B - est_U), all integer;
    the exact intersection rides along as the reference column.  Every
    hash is md5-derived, so sketch contents AND estimates replay
    hash-exactly in the oracle.  Scale: per-set states are k-row; the only
    corpus-sized work is the distinct + rank window kmv_state always pays;
    the union re-cut runs on 2k rows."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import kmv_estimate, kmv_state

    k = 64
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderpriority")
    hv = md5_int32(F.col("o_custkey").cast("string"), seed="kmvset")
    ab = o.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a").otherwise("b").alias("s"),
        hv.alias("hv"),
    )
    st = kmv_state(ab, ["s"], "hv", k=k)
    est = kmv_estimate(st, ["s"], k=k)
    u_st = kmv_state(st.select(F.lit("u").alias("s"), "hv"), ["s"], "hv", k=k)
    est_u = kmv_estimate(u_st, ["s"], k=k)
    ea = est.where(F.col("s") == "a").select(F.col("est_distinct").alias("est_a"))
    eb = est.where(F.col("s") == "b").select(F.col("est_distinct").alias("est_b"))
    eu = est_u.select(F.col("est_distinct").alias("est_union"))
    exact = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .join(
            o.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey").distinct(),
            "o_custkey",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    return (
        ea.crossJoin(eb)  # four 1-row totals: the sanctioned crossJoin shape
        .crossJoin(eu)
        .crossJoin(exact)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.greatest(F.lit(0), F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_inter"),
            "exact_inter",
        )
    )


def q_a26(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile summaries gate (sketches.quantile_merge_estimates):
    32 md5-sharded <= 65-row weighted samples of order totals merge into
    global p50/p90/p99 estimates whose TRUE ranks land within the merge
    theorem's bound (sum of per-shard steps) of their targets -- the
    pre-aggregated-quantile-table validity proof, all integer micro
    arithmetic, summaries AND estimates hash-replayed by the oracle."""
    from youtubeanalyzerproject_big_data__spark.operators.sketches import quantile_merge_estimates

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    v = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
    return quantile_merge_estimates(o, "o_orderkey", v)


def q_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    nations in either direction, by ship year -- supplier-side nation via
    lineitem->supplier, customer-side via lineitem->orders->customer; both
    dimension chains broadcast, the two fact-fact joins shuffle on their
    keys.  Decimal-exact revenue; UTC year extraction."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    n1, n2 = ("NATION_1", "NATION_2")  # fixture nation names
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))), F.col("s_nationkey") == F.col("snk"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))), F.col("c_nationkey") == F.col("cnk"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        df.groupBy("supp_nation", "cust_nation", F.year(F.col("l_shipdate").cast("timestamp")).cast("long").alias("l_year"))
        .agg(dec_sum(rev, "revenue"), F.count(F.lit(1)).cast("long").alias("n_lines"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    (l_returnflag = 'R') per customer, top 20 -- fact-fact join shuffles
    once, customer broadcast-enriches only the qualifying aggregate,
    decimal-exact revenue, deterministic (revenue desc, custkey) cut."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        # dec_sum_round, NOT ROUND(dec_sum, 4): the q5 sf30 lesson -- a
        # reduced-scale ROUND on the double sum splits one output ulp
        # between engines near the 2^53 limit (CLAUDE.md invariant; this
        # site was the one r9 missed when fixing q3/q5/sk1/e12)
        .agg(dec_sum_round(rev, 4).alias("revenue"), F.count(F.lit(1)).cast("long").alias("n_lines"))
    )
    return (
        per_cust.join(F.broadcast(c), per_cust["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "c_mktsegment", "revenue", "n_lines")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top-10 unshipped orders by
    revenue for one market segment -- customer filter broadcast into the
    orders scan, the one fact-fact join shuffles on orderkey, both date
    predicates push down to the parquet scans.  The fixture has no
    o_shippriority column, so the grouping carries o_orderpriority (same
    shape: a per-order dimension attribute riding through the aggregate).
    Revenue compares as exact integer micros so the top-10 cut cannot
    flip on a ulp; (rev desc, orderkey) is a total order."""
    _utc(spark)
    cut = F.lit("1998-06-01").cast("timestamp_ntz")
    c = load_table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, sf, "orders").where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf, "lineitem").where(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev) * 1_000_000).cast("long").alias("rev_micro"))
        .select(
            "l_orderkey",
            (F.col("rev_micro").cast("double") / 1e6).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue per nation for one
    region and one order year, counting only lines where the supplier and
    the ordering customer share a nation -- the equality that makes Q5
    different from a plain rollup.  Supplier/customer/nation/region all
    broadcast (dimension chains); the lineitem-orders join is the only
    shuffle.  Nation count bounds the output, exact-micros ordering."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA").select("r_regionkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    df = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(c),
            (o["o_custkey"] == c["c_custkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        df.groupBy("n_name")
        .agg(
            (F.sum(rev) * 1_000_000).cast("long").alias("rev_micro"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .select(
            "n_name",
            (F.col("rev_micro").cast("double") / 1e6).alias("revenue"),
            "n_lines",
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def q_t22(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source bigram novelty vs a reference corpus (textanalysis.
    bigram_novelty): corpus = doc_id % 7 != 0 scored against the % 7 == 0
    reference slice -- exact md5-keyed anti-join, integer ppm; the
    freshness profile that weights sources against an already-trained
    mix (c3's additive counterpart)."""
    docs = load_table(spark, sf, "documents")
    return text.bigram_novelty(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        "doc_id",
        "text",
        "source",
    )


def q_l5(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map skip audit (zorder.zonemap_skip_report): the same orders
    table cut into 200-row zones under TWO layouts -- clustered by the
    probe column (o_custkey) vs sorted by time -- probed with
    o_custkey IN [100, 200].  The report quantifies what a clustering
    rewrite buys in skippable zones BEFORE paying for it at 100 TB; the
    custkey layout must skip nearly everything, the time layout nearly
    nothing, and both replay engine-exactly (zones are data-derived
    positions, not physical files)."""
    _utc(spark)
    o = load_table(spark, sf, "orders")
    by_key = zorder_fns.zonemap_skip_report(
        o, F.col("o_custkey"), "o_custkey", 100, 200, rows_per_zone=200
    ).select(F.lit("custkey_sorted").alias("layout"), "*")
    by_time = zorder_fns.zonemap_skip_report(
        # NTZ -> timestamp under the pinned UTC session == DuckDB's epoch_us
        o, F.unix_micros(F.col("o_orderdate").cast("timestamp")), "o_custkey", 100, 200, rows_per_zone=200
    ).select(F.lit("date_sorted").alias("layout"), "*")
    return by_key.unionByName(by_time).orderBy("layout")


def q_g12(spark: SparkSession, sf: str) -> DataFrame:
    """Capped bipartite projection (graph.copurchase_edges): the part
    co-purchase edge list built as one groupBy + in-array pair expansion
    with max_group_size=8 -- the scale guard the naive self-join build
    (g6/g9/g10's current inputs) lacks: one 10k-item group is a 5*10^7-
    pair task at 100 TB.  Over-cap orders drop entirely; the oracle
    mirrors the cap, so the trade-off is machine-checked, and the sf0.01
    order-size distribution (up to ~13 parts) guarantees the cap path
    actually fires.

    ONE exchange, not two (r11, guide par.2.4 "share one exchange"):
    `.distinct().orderBy(src, dst)` hash-exchanged the pair stream for the
    dedup and then range-exchanged the survivors for the sort.  Range
    partitioning on (src, dst) ALSO satisfies the dedup aggregate's
    clustered-distribution requirement (equal keys co-locate), so
    range-partition FIRST, then partition-local dropDuplicates +
    partition-local sort -- same rows in the same total order (probed
    row-for-row identical at sf0.1; shuffle write 25.1 -> 14.2 MB)."""
    li = load_table(spark, sf, "lineitem")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        graph.copurchase_edges(li, "l_orderkey", "l_partkey", max_group_size=8, distinct=False)
        .repartitionByRange(n_part, "src", "dst")
        .dropDuplicates(["src", "dst"])
        .sortWithinPartitions("src", "dst")
    )


def q_dq5(spark: SparkSession, sf: str) -> DataFrame:
    """Dead-letter quarantine split (quality.quarantine_split): documents
    routed by the FIRST violated expectation (suite order: too_short ->
    too_long -> bad_lang), quarantined rows emitted with their reason --
    the Deequ-style split where bad rows are ROUTED, not just counted.
    Map-side conditional chain, no shuffle before the output sort."""
    docs = load_table(spark, sf, "documents")
    rules = [
        ("too_short", F.col("n_chars") < 80),
        ("too_long", F.col("n_chars") > 500),
        ("bad_lang", ~F.col("lang").isin("en", "de", "fr", "es") | F.col("lang").isNull()),
    ]
    out = quality_ops.quarantine_split(docs, rules)
    return (
        out.where(F.col("quarantine_reason") != "ok")
        .select("doc_id", "quarantine_reason", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


def q_dq4(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot column-profile drift (quality.profile_drift): orders
    minus the %10==0 keys (u1's CDC convention) vs the full table -- per
    column, exact null/distinct/row counts with ppm null rates; the
    pre-consumption audit for a refreshed partition.  One scan per
    snapshot, all metrics integer-exact."""
    o = load_table(spark, sf, "orders")
    old = o.where(F.col("o_orderkey") % 10 != 0)
    return quality_ops.profile_drift(
        old, o, ["o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    )


def q_em6(spark: SparkSession, sf: str) -> DataFrame:
    """SQ8 scalar-quantization calibration + reconstruction-error profile
    (similarity.scalar_quantization_profile): per-dim integer-micro
    min/max, all-integer code/midpoint-reconstruction, exact max/total
    error, machine-checked error bound -- the 4x memory lever for
    RAM-resident ANN, engine-exact with zero float division."""
    return similarity.scalar_quantization_profile(
        load_table(spark, sf, "embeddings"), "embedding", n_levels=256
    )


def q_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking, adapted to this schema's
    dates): per priority, how many orders have AT LEAST ONE line shipped
    more than 60 days after the order date -- the EXISTS/semi-join
    workhorse.  A left-semi join never duplicates orders however many
    lines qualify, and only (orderkey, shipdate) flows from the fact
    table.  UTC-pinned: the +60d arithmetic is timestamp arithmetic."""
    _utc(spark)
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("late_orders"))
        .orderBy("o_orderpriority")
    )


def q_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    zero-order customers land in the c_count=0 bucket, then a second
    aggregate histograms the counts.  Two shuffles total (per-customer
    count keyed on custkey, then the model-sized histogram); order by
    (custdist desc, c_count desc) -- the canonical Q13 sort."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_t21(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 most repetitive documents by Simpson bigram diversity
    (textanalysis.repetition_scores): the log-free degenerate-text
    detector -- exact int64 collision counts, engine-exact DIV
    quantization, bigram text never shuffles (md5 keys)."""
    return text.repetition_scores(load_table(spark, sf, "documents"), "doc_id", "text", k=20)


def q_e14(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-order-arrival audit (the watermark-design diagnostic): per
    event type, how many events arrive with a timestamp BEHIND the
    running per-user max (arrival order = event_id), how far behind at
    worst, and the total slippage.  Lateness is exact integer micros from
    a user-partitioned running-max window (no global window, per-reducer
    state = one user's history); the answer tells you what watermark
    delay the streaming jobs (se1-se7) actually need."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    us = F.unix_micros("ts")
    late_us = F.greatest(F.lit(0).cast("long"), (F.max(us).over(w) - us).cast("long"))
    per_event = e.select("event_type", F.coalesce(late_us, F.lit(0).cast("long")).alias("late_us"))
    return (
        per_event.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("late_us") > 0).cast("long")).cast("long").alias("n_late"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.sum("late_us").cast("long").alias("total_late_us"),
        )
        .orderBy("event_type")
    )


def q_se7(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming Misra-Gries heavy hitters (stream_heavy_hitters),
    gate-checked across 3 micro-batches: a deterministic skew fixture
    (half of all events collapse onto key -1, the sk1 recipe) guarantees
    a nonempty true-heavy set; the MG invariant -- every key with exact
    count*(k+1) > shard total MUST sit in that shard's final summary --
    is machine-checked against exact batch counts.  n_shards*k counters
    of state total, regardless of key cardinality."""
    _utc(spark)
    n_shards, k = 4, 8
    e = load_events(spark, sf).select(
        F.when(F.col("user_id") % 10 < 5, F.lit(-1)).otherwise(F.col("user_id")).alias("hh_key"),
        "ts",
    )
    out = _drive_stream(
        spark,
        e,
        lambda src: ev.stream_heavy_hitters(spark, src, "hh_key", n_shards=n_shards, k=k, max_files_per_trigger=1),
        "update",
        "se7_",
        n_files=3,
        order_col="ts",
    )
    w_last = Window.partitionBy("shard")
    final = (
        out.withColumn("_mx", F.max("n_seen").over(w_last))
        .where(F.col("n_seen") == F.col("_mx"))
        .select("shard", "key")
    )
    exact = (
        e.select(F.col("hh_key"), F.pmod(F.col("hh_key"), F.lit(n_shards)).alias("shard"))
        .groupBy("shard", "hh_key")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = exact.groupBy("shard").agg(F.sum("cnt").cast("long").alias("ns"))
    heavy = exact.join(F.broadcast(totals), "shard").where(F.col("cnt") * (k + 1) > F.col("ns"))
    missing = heavy.join(
        final.withColumnRenamed("key", "hh_key"), ["shard", "hh_key"], "left_anti"
    ).count()
    n_heavy = heavy.count()
    return spark.createDataFrame(
        [(n_shards, k, int(n_heavy), 1 if (missing == 0 and n_heavy > 0) else 0)],
        "n_shards long, k long, n_true_heavy long, all_captured long",
    )


def q_se8(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming KMV distinct-users-per-hour sketch (ev.stream_kmv_distinct)
    across 3 genuine micro-batches: bounded state (64 hashes per hour,
    regardless of user cardinality), and -- because KMV's merge is
    union+dedup+recut -- the final estimate is a pure function of the hash
    SET, so the DuckDB oracle replays n_tracked, the k-th minimum, AND the
    integer estimate bit-for-bit (a hash-exact oracle for a sketch).
    Hashes are computed Catalyst-side with the oracle-portable md5_int32
    family before the stream ever sees a row."""
    _utc(spark)
    k = 64
    e = load_events(spark, sf).select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        md5_int32(F.col("user_id").cast("string"), seed="kmv").alias("hv"),
        "ts",
    )
    out = _drive_stream(
        spark,
        e,
        lambda src: ev.stream_kmv_distinct(spark, src, "hour", "hv", k=k, max_files_per_trigger=1),
        "update",
        "se8_",
        n_files=3,
        order_col="ts",
    )
    w_last = Window.partitionBy("group")
    return (
        out.withColumn("_mx", F.max("n_seen").over(w_last))
        .where(F.col("n_seen") == F.col("_mx"))
        .select(F.col("group").alias("hour"), "n_tracked", "kth_min", "est_distinct")
        .orderBy("hour")
    )


def q_c10(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4 hard rule filter funnel (textanalysis.rule_filter_stats):
    five integer-comparison rules per doc, per-source rejection counts +
    survivor token budget.  All thresholds are cross-multiplied integer
    predicates, so the keep bit is engine-exact."""
    docs = load_table(spark, sf, "documents")
    # Repartition-first (dedup._shingles rule): the per-doc regexp/HOF work
    # is the CPU; a compact parquet source may arrive single-partition.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return text.rule_filter_stats(docs, "text", "source")


def q_t18(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source readability profile (textanalysis.readability): Flesch
    reading ease from integer word/sentence/vowel-group counts, per-doc
    scores floor-quantized to micros before the order-free group sum."""
    docs = load_table(spark, sf, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return text.readability(docs, "text", "source")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue-per-nation over the full dimension chain at sf0.001."""
    return q_q5(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "a1_event_type_stats": q_a1,
        "a2_quantity_bucket_stats": q_a2,
        "a3_global_price_stats": q_a3,
        "a4_price_histogram": q_a4,
        "a5_order_size_distribution": q_a5,
        "a6_top_orders_by_price": q_a6,
        "o7_keyset_pagination": q_o7,
        "a7_order_parts_csv": q_a7,
        "a8_table_counts": q_a8,
        "a9_distinct_customers": q_a9,
        "a10_rollup_order_stats": q_a10,
        "a11_cube_order_stats": q_a11,
        "f4_returned_mid_quantity": q_f4,
        "f5_price_range": q_f5,
        "f6_dynamic_search_count": q_f6,
        "f9_hash_sample": q_f9,
        "f10_stratified_sample": q_f10,
        "f13_exact_k_sample": q_f13,
        "f12_group_examples": q_f12,
        "sk1_salted_event_stats": q_sk1,
        "sk2_salted_join_user_clicks": q_sk2,
        "sk3_skew_diagnosis": q_sk3,
        "a12_approx_distinct_gate": q_a12,
        "a13_approx_quantile_gate": q_a13,
        "a14_heavy_hitters_gate": q_a14,
        "bf1_bloom_membership_gate": q_bf1,
        "a15_grouped_percentiles": q_a15,
        "a16_equidepth_histogram": q_a16,
        "a17_approx_grouped_percentiles_gate": q_a17,
        "a18_column_profile": q_a18,
        "a19_group_distinct_gate": q_a19,
        "a20_robust_group_stats": q_a20,
        "a21_hll_merge_gate": q_a21,
        "a22_grouped_mode": q_a22,
        "em5_anisotropy_histogram": q_em5,
        "e6_cohort_retention": q_e6,
        "e8_session_paths": q_e8,
        "e9_transition_matrix": q_e9,
        "e11_hourly_anomaly": q_e11,
        "e12_rfm_segments": q_e12,
        "e13_traffic_matrix": q_e13,
        "e7_decayed_engagement": q_e7,
        "p1_pivot_flag_status": q_p1,
        "p2_unpivot_priority_stats": q_p2,
        "e5_interval_join_reactions": q_e5,
        "se1_stream_hourly_stats": q_se1,
        "se2_stream_sessionize": q_se2,
        "se3_stream_interval_join": q_se3,
        "se4_stream_dedup_first_seen": q_se4,
        "se5_stream_user_totals": q_se5,
        "se11_stream_restart_recovery": q_se11,
        "se12_stream_interval_outer": q_se12,
        "se6_stream_dedup_ttl": q_se6,
        "se7_stream_heavy_hitters": q_se7,
        "em1_label_centroids": q_em1,
        "em2_normalization_stats": q_em2,
        "em3_int8_quantization_gate": q_em3,
        "em4_pca_gate": q_em4,
        "km1_kmeans_centroids": q_km1,
        "j1_orders_line_counts_top10": q_j1,
        "j6_topk_enriched_customers": q_j6,
        "tpch_q1_pricing_summary": q_tpch_q1,
        "tpch_q18_big_orders": q_q18,
        "tpch_q4_late_orders": q_q4,
        "tpch_q13_custdist": q_q13,
        "t21_repetition_score": q_t21,
        "e14_out_of_order_audit": q_e14,
        "dq4_profile_drift": q_dq4,
        "dq5_quarantine": q_dq5,
        "em6_scalar_quantization": q_em6,
        "em7_truncated_dim_recall": q_em7,
        "se8_stream_kmv_distinct": q_se8,
        "g12_copurchase_capped": q_g12,
        "t22_bigram_novelty": q_t22,
        "l5_zonemap_skip_report": q_l5,
        "l6_bucketed_join": q_l6,
        "l7_partition_pruning": q_l7,
        "tpch_q3_shipping_priority": q_tpch_q3,
        "tpch_q5_local_supplier_volume": q_tpch_q5,
        "tpch_q7_nation_volume": q_q7,
        "tpch_q10_returned_items": q_q10,
        "i3_incremental_kmv": q_i3,
        "w7_value_windows": q_w7,
        "m5_decision_stump": q_m5,
        "u6_partition_refresh": q_u6,
        "u7_pit_lookup": q_u7,
        "u8_forget_cascade": q_u8,
        "e15_gap_fill": q_e15,
        "e16_cumulative_uniques": q_e16,
        "g13_kcore": q_g13,
        "g14_weighted_paths": q_g14,
        "a24_grouping_sets": q_a24,
        "se10_stream_late_drop": q_se10,
        "dr1_dedup_recall": q_dr1,
        "a25_kmv_set_ops": q_a25,
        "a26_quantile_merge_gate": q_a26,
        "g15_hits_top20": q_g15,
        "t23_dup_ngram_fraction": q_t23,
        "m6_auc_gate": q_m6,
        "m7_pr_curve": q_m7,
        "m8_naive_bayes_confusion": q_m8,
        "e17_seasonal_backtest": q_e17,
        "e18_acf_gate": q_e18,
        "v4_csv_roundtrip": q_v4,
        "v6_orc_roundtrip": q_v6,
        "v5_export_manifest": q_v5,
        "se9_stream_static_enrich": q_se9,
        "tpch_q14_promo_effect": q_q14,
        "tpch_q19_bracket_revenue": q_q19,
        "tpch_q6_forecast_revenue": q_q6,
        "tpch_q15_top_supplier": q_q15,
        "tpch_q17_small_qty_revenue": q_q17,
        "tpch_q22_idle_customers": q_q22,
        "tpch_q2_min_cost_supplier": q_q2,
        "tpch_q8_market_share": q_q8,
        "tpch_q9_product_profit": q_q9,
        "tpch_q11_important_parts": q_q11_important_parts,
        "tpch_q12_latency_priority": q_q12,
        "tpch_q16_supplier_count": q_q16,
        "tpch_q20_excess_suppliers": q_q20,
        "tpch_q21_waiting_suppliers": q_q21,
        "q3_revenue_by_customer": q_q3,
        "q5_revenue_by_nation": q_q5,
        "w1_top3_orders_per_priority": q_w1,
        "w2_user_running_value": q_w2,
        "w3_order_lag_quartiles": q_w3,
        "w4_rolling_user_value": q_w4,
        "w5_trailing_window_rate": q_w5,
        "w6_percentile_scores": q_w6,
        "g6_triangle_census": q_g6,
        "u1_cdc_merge": q_u1,
        "i1_incremental_agg_state": q_i1,
        "i2_incremental_topk_state": q_i2,
        "u3_scd2_history": q_u3,
        "u4_snapshot_diff": q_u4,
        "u2_incremental_dedup_index": q_u2,
        "v1_served_category_stats": q_v1,
        "l1_zorder_keys": q_l1,
        "l2_table_fingerprint": q_l2,
        "l3_hilbert_keys": q_l3,
        "v2_jsonl_roundtrip": q_v2,
        "v3_schema_evolution": q_v3,
        "l4_compaction": q_l4,
        "f11_funnel_counts": q_f11,
        "e10_conversion_latency": q_e10,
        "sj_customers_with_orders": q_semi,
        "aj_customers_without_orders": q_anti,
        "set_ops_custkeys": q_setops,
        "g2_part_indegree_top20": q_g2,
        "g3_part_indegree_distribution": q_g3,
        "e1_events_hourly": q_e1,
        "e2_sessionize": q_e2,
        "e3_asof_attribution": q_e3,
        "e4_json_props_stats": q_e4,
        "d1_exact_dups": q_d1,
        "d2_ngram_jaccard_pairs": q_d2,
        "d3_minhash_lsh_pairs": q_d3,
        "d4_simhash_pairs": q_d4,
        "d5_embedding_near_dups": q_d5,
        "d6_duplicated_span_removal": q_d6,
        "d7_dup_clusters": q_d7,
        "d8_cross_corpus_dups": q_d8,
        "d9_embedding_lsh_near_dups": q_d9,
        "d10_semantic_dedup": q_d10,
        "d11_segment_dedup": q_d11,
        "d12_containment_pairs": q_d12,
        "d13_edit_distance_pairs": q_d13,
        "d14_sorted_neighborhood": q_d14,
        "d15_dedup_keep_best": q_d15,
        "c1_corpus_curation": q_c1,
        "s1_ann_bruteforce_top5": q_s1,
        "s2_ann_lsh_top5": q_s2,
        "s3_ann_ivf_top5": q_s3,
        "s4_ann_pq_top5": q_s4,
        "s5_ann_ivfpq_top5": q_s5,
        "s6_ann_refined_top5": q_s6,
        "s7_ann_filtered_top5": q_s7,
        "s8_hybrid_rrf": q_s8,
        "t1_token_counts": q_t1,
        "t2_quality_scores": q_t2,
        "t3_language_id": q_t3,
        "t4_fingerprints": q_t4,
        "t5_term_df": q_t5,
        "t7_repetition_signals": q_t7,
        "t8_unigram_logprob": q_t8,
        "t9_pii_signals": q_t9,
        "t10_bigram_logprob": q_t10,
        "t11_bm25_topk": q_t11,
        "t12_token_drift_kl": q_t12,
        "t13_token_entropy": q_t13,
        "t14_distinctive_terms": q_t14,
        "t15_pmi_collocations": q_t15,
        "ds1_dsir_importance_select": q_ds1,
        "bp1_bpe_pair_counts": q_bp1,
        "bp2_bpe_encode_gate": q_bp2,
        "t16_vocab_growth": q_t16,
        "t17_zipf_fit": q_t17,
        "t18_readability": q_t18,
        "t19_rake_keywords": q_t19,
        "t20_langid_confusion": q_t20,
        "c2_token_budget_mix": q_c2,
        "c3_decontamination": q_c3,
        "c6_quality_weighted_sample": q_c6,
        "c7_training_shuffle": q_c7,
        "c8_perplexity_tiers": q_c8,
        "c9_temperature_mix": q_c9,
        "c10_rule_filter": q_c10,
        "c11_leakage_safe_split": q_c11,
        "c12_target_mix": q_c12,
        "c14_contamination_report": q_c14,
        "c15_pipeline_e2e": q_c15,
        "dq1_constraint_audit": q_dq1,
        "dq2_psi_drift": q_dq2,
        "dq3_fact_reconciliation": q_dq3,
        "c4_doc_chunks": q_c4,
        "c5_sequence_packing": q_c5,
        "r1_ann_lsh_recall": q_r1,
        "r2_ann_refined_recall": q_r2,
        "t6_tfidf_top_terms": q_t6,
        "mm1_media_features": q_mm1,
        "mm2_frame_samples": q_mm2,
        "mm3_resized_features": q_mm3,
        "mm4_stdlib_wav_decode": q_mm4,
        "mm6_audio_features": q_mm6,
        "mm5_phash_near_dups": q_mm5,
        "mm7_avi_frame_samples": q_mm7,
        "mm8_bmp_box_downsample": q_mm8,
        "mm9_frame_dedup": q_mm9,
        "a23_count_min_gate": q_a23,
        "g4_pagerank_top100": q_pagerank,
        "g8_khop_reachability": q_g8,
        "g9_adamic_adar": q_g9,
        "g10_clustering_coefficient": q_g10,
        "g11_degree_assortativity": q_g11,
        "lp1_label_propagation": q_lp1,
        "g5_pagerank_cyclic_top100": q_pagerank_cyclic,
        "g7_personalized_pagerank": q_ppr,
        "m1_als_recommendations": q_als,
        "m2_als_contract": q_m2,
        "m3_als_determinism_gate": q_m3,
        "m4_logreg_gate": q_m4,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _pagerank_oracle(edges_sql: str, reset: float = 0.15, max_iter: int = 10, k: int = 100, scale: float = 1e9) -> str:
    """DuckDB replay of graph.pagerank's integer-quantized iterations.

    Both engines compute, per edge and iteration, the IDENTICAL IEEE double
    rank*weight*scale (multiplication is deterministic given identical
    inputs; only summation order is not), quantize it with round -> int64,
    and sum integers -- exact in any order.  So the unrolled CTEs below are
    bit-for-bit the engine's arithmetic, and the final ROUND(...,6) matches
    without tolerance.  Literals go through repr() so the oracle parses the
    exact doubles the Spark plan carries.
    """
    r = f"CAST({reset!r} AS DOUBLE)"
    d = f"CAST({1.0 - reset!r} AS DOUBLE)"
    s = f"CAST({int(scale)} AS DOUBLE)"
    ctes = [
        f"edges AS ({edges_sql})",
        "deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src)",
        "w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.dg AS wt FROM edges e JOIN deg ON e.src = deg.src)",
        # iteration 1: every rank is the constant 1.0 -> contribution = wt
        f"r1 AS (SELECT dst AS id, {r} + {d} * (SUM(CAST(round(wt * {s}) AS BIGINT)) / {s}) AS rank FROM w GROUP BY dst)",
    ]
    for i in range(2, max_iter + 1):
        # absent src ranks coalesce to reset (a vertex with no in-edges
        # settles there after iteration 1) -- mirrors the engine loop.
        ctes.append(
            f"r{i} AS (SELECT w.dst AS id, {r} + {d} * "
            f"(SUM(CAST(round(COALESCE(p.rank, {r}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank "
            f"FROM w LEFT JOIN r{i - 1} p ON w.src = p.id GROUP BY w.dst)"
        )
    last = f"r{max_iter}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
allr AS (
  SELECT id, rank FROM {last}
  UNION ALL
  SELECT src AS id, {r} AS rank FROM (SELECT DISTINCT src FROM edges) so
  WHERE src NOT IN (SELECT id FROM {last})
)
SELECT id, ROUND(rank, 6) AS pagerank FROM allr ORDER BY pagerank DESC, id LIMIT {k}
"""


_PAGERANK_EDGES_SQL = (
    "SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src, 'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem"
)


def _ppr_oracle(edges_sql: str, sources: list, reset: float = 0.15, max_iter: int = 10, k: int = 100, scale: float = 1e9) -> str:
    """DuckDB replay of graph.personalized_pagerank: _pagerank_oracle's
    integer-quantized unrolled CTEs with the seed-set reset vector --
    initial rank CASE-folds to 1.0 on seeds / 0.0 elsewhere, absent-src
    ranks coalesce to reset on seeds / 0.0 elsewhere, and each iteration
    adds reset only on seed dsts.  Same bit-exact arithmetic argument."""
    r = f"CAST({reset!r} AS DOUBLE)"
    d = f"CAST({1.0 - reset!r} AS DOUBLE)"
    s = f"CAST({int(scale)} AS DOUBLE)"
    lst = _sql_str_list(sources)
    reset_dst = f"CASE WHEN w.dst IN ({lst}) THEN {r} ELSE CAST(0.0 AS DOUBLE) END"
    init_src = f"CASE WHEN w.src IN ({lst}) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    absent_src = f"CASE WHEN w.src IN ({lst}) THEN {r} ELSE CAST(0.0 AS DOUBLE) END"
    ctes = [
        f"edges AS ({edges_sql})",
        "deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src)",
        "w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.dg AS wt FROM edges e JOIN deg ON e.src = deg.src)",
        f"r1 AS (SELECT w.dst AS id, {reset_dst} + {d} * "
        f"(SUM(CAST(round(({init_src}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank FROM w GROUP BY w.dst)",
    ]
    for i in range(2, max_iter + 1):
        ctes.append(
            f"r{i} AS (SELECT w.dst AS id, {reset_dst} + {d} * "
            f"(SUM(CAST(round(COALESCE(p.rank, {absent_src}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank "
            f"FROM w LEFT JOIN r{i - 1} p ON w.src = p.id GROUP BY w.dst)"
        )
    last = f"r{max_iter}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
allr AS (
  SELECT id, rank FROM {last} WHERE rank > 0
  UNION ALL
  SELECT sid AS id, {r} AS rank FROM (SELECT unnest([{lst}]) AS sid)
  WHERE sid NOT IN (SELECT id FROM {last})
)
SELECT id, ROUND(rank, 6) AS pagerank FROM allr ORDER BY pagerank DESC, id LIMIT {k}
"""


def _refined_ann_oracle(k_cand: int = 20, k: int = 5) -> str:
    """DuckDB replay of similarity.refine_topk over ivfpq_topk candidates
    (the s6 two-phase route): the composed-index replay proposes at
    ``k_cand``, the exact brute-force cosine fragment decides ``k``."""
    return f"""
            WITH cand AS (
              SELECT query_id, neighbor_id
              FROM ({_ivfpq_ann_oracle(dim=64, num_cells=16, nprobe=4, num_sub=8, num_codes=16, k=k_cand)})),
            s AS (
              SELECT cand.query_id, cand.neighbor_id,
                     {_cos_sql("q.embedding", "c.embedding")} AS cos
              FROM cand
              JOIN embeddings q ON cand.query_id = q.vec_id
              JOIN embeddings c ON cand.neighbor_id = c.vec_id)
            SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s)
            WHERE rk <= {k}
        """


def _hyperplane_band_sql(dim: int, num_planes: int, bands: int) -> list[str]:
    """SQL for the engine's hyperplane band values (similarity.
    _hyperplane_signature): the hyperplanes are deterministic md5
    derivations evaluated driver-side (similarity._plane_component), so the
    SQL inlines the SAME float literals (repr round-trips to identical
    doubles) and replays the signature fold -- each dot product is the
    sequential left-assoc chain 0.0 + x1*p1 + ... + xd*pd, bit-identical
    to Catalyst's aggregate/zip_with fold, so bucket membership matches
    exactly.  Returns one expression per band (unaliased)."""
    from youtubeanalyzerproject_big_data__spark.operators.similarity import _plane_component

    bits_per_band = num_planes // bands
    bit_sql = []
    for p in range(num_planes):
        terms = " + ".join(
            f"CAST(embedding[{c + 1}] AS DOUBLE) * CAST({_plane_component(p, c)!r} AS DOUBLE)" for c in range(dim)
        )
        bit_sql.append(f"(CASE WHEN CAST(0.0 AS DOUBLE) + {terms} >= 0 THEN 1 ELSE 0 END)")
    return [
        " + ".join(f"{bit_sql[b * bits_per_band + r]} * {1 << r}" for r in range(bits_per_band))
        for b in range(bands)
    ]


def _bruteforce_ann_oracle(k: int = 5) -> str:
    """DuckDB replay of similarity.brute_force_topk (exact cosine top-k):
    shared by the s1 oracle and r1's recall denominator."""
    cos = _cos_sql("q.embedding", "c.embedding")
    return f"""
WITH s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos} AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s)
WHERE rk <= {k}
"""


def _lsh_ann_oracle(dim: int = 64, num_planes: int = 16, bands: int = 4, k: int = 5) -> str:
    """DuckDB replay of similarity.lsh_topk (see _hyperplane_band_sql):
    candidates = any shared band value; exact cosine re-rank on candidates.
    """
    band_cols = ",\n         ".join(
        f"{e} AS b{b}" for b, e in enumerate(_hyperplane_band_sql(dim, num_planes, bands))
    )
    any_band = " OR ".join(f"q.b{b} = c.b{b}" for b in range(bands))
    cos = _cos_sql("qv", "cv")
    return f"""
WITH sig AS (
  SELECT vec_id, embedding,
         {band_cols}
  FROM embeddings
),
cand AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv, c.vec_id AS neighbor_id, c.embedding AS cv
  FROM sig q JOIN sig c
    ON q.vec_id != c.vec_id AND ({any_band})
  WHERE q.vec_id < 10
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cand)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


def _lsh_embedding_dedup_oracle(
    threshold: float, dim: int = 64, num_planes: int = 16, bands: int = 4, max_bucket: int | None = None
) -> str:
    """DuckDB replay of dedup.embedding_near_dup_pairs_lsh: band buckets
    (capped like the engine), distinct id1<id2 candidates, cosine verify."""
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {e} AS bval FROM embeddings"
        for b, e in enumerate(_hyperplane_band_sql(dim, num_planes, bands))
    )
    cap = "" if max_bucket is None else f"HAVING COUNT(*) <= {max_bucket}"
    cos = _cos_sql("e1.embedding", "e2.embedding")
    return f"""
WITH bexp AS ({band_union}),
bok AS (SELECT band, bval FROM bexp GROUP BY band, bval {cap}),
cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM bexp a
  JOIN bok ON a.band = bok.band AND a.bval = bok.bval
  JOIN bexp b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
)
SELECT id1, id2, {_dmicro(cos)} AS cos_sim
FROM cand JOIN embeddings e1 ON id1 = e1.vec_id JOIN embeddings e2 ON id2 = e2.vec_id
WHERE {cos} >= {threshold}
"""


def _ivf_ann_oracle(dim: int = 64, num_cells: int = 16, nprobe: int = 4, k: int = 5) -> str:
    """DuckDB replay of similarity.ivf_topk_catalyst -- the full IVF index
    pipeline, not just the re-rank.

    The centroid model is reconstructed IN SQL: seeds = the num_cells
    vectors of smallest (md5_int32(vec_id, 'ivf'), vec_id), normalized with
    the same sequential square-sum chain the engine computes driver-side
    (_centroids_exact), so centroid components are bit-identical.  Cell
    assignment replays the per-cell sequential dot fold with the same
    (dot DESC, cell ASC) tiebreak; probing, candidate join, and exact
    cosine re-rank then mirror the engine plan.
    """
    normchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)" for i in range(dim)
    )
    dotchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(v.embedding[{i + 1}] AS DOUBLE) * c.cv[{i + 1}]" for i in range(dim)
    )
    h = md5_int32_sql("CAST(vec_id AS VARCHAR)", "ivf")
    cos = _cos_sql("qv", "cv2")
    return f"""
WITH ordered AS (
  SELECT vec_id, embedding, sqrt({normchain}) AS nrm,
         ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn
  FROM embeddings
),
cents AS (
  SELECT rn - 1 AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS cv
  FROM ordered WHERE rn <= {num_cells}
),
assign AS (
  SELECT v.vec_id, v.embedding, c.cell, {dotchain} AS dp
  FROM embeddings v CROSS JOIN cents c
),
cellof AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign WHERE vec_id < 10) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, p.qv, s.vec_id AS neighbor_id, s.embedding AS cv2
  FROM probes p JOIN cellof s USING (cell)
  WHERE p.query_id != s.vec_id
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cand)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


def _pq_ann_oracle(dim: int = 64, num_sub: int = 8, num_codes: int = 16, k: int = 5) -> str:
    """DuckDB replay of similarity.pq_topk -- the full PQ pipeline.

    The codebook is rebuilt IN SQL (sources = num_codes vectors of smallest
    (md5_int32(vec_id,'pq'), vec_id), subvector m taken verbatim), encoding
    replays the per-subspace sequential squared-L2 fold with the engine's
    (dist ASC, codeword ASC) tiebreak, reconstruction concatenates the
    chosen codewords, and scoring reuses the exact cosine chain -- all
    bit-identical IEEE sequences, so values hash-match without tolerance.
    """
    sub = dim // num_sub
    h = md5_int32_sql("CAST(vec_id AS VARCHAR)", "pq")
    # sequential fold ((0+t1)+t2)+... identical to zip_with+aggregate
    distchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        f" * (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        for i in range(sub)
    )
    cos = _cos_sql("qv", "rv")
    return f"""
WITH ordered AS (
  SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn
  FROM embeddings
),
codes AS (SELECT rn - 1 AS j, embedding FROM ordered WHERE rn <= {num_codes}),
ms AS (SELECT UNNEST(generate_series(0, {num_sub - 1})) AS m),
dists AS (
  SELECT v.vec_id, ms.m, c.j, {distchain} AS d
  FROM embeddings v CROSS JOIN ms CROSS JOIN codes c
),
enc AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, j ASC) AS rn
    FROM dists) WHERE rn = 1
),
recon AS (
  SELECT e.vec_id,
         flatten(list(list_transform(c.embedding[e.m*{sub} + 1 : (e.m + 1)*{sub}],
                                     x -> CAST(x AS DOUBLE)) ORDER BY e.m)) AS rv
  FROM enc e JOIN codes c ON e.j = c.j
  GROUP BY e.vec_id
),
pairs AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv, r.vec_id AS neighbor_id, r.rv
  FROM embeddings q JOIN recon r ON q.vec_id != r.vec_id
  WHERE q.vec_id < 10
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM pairs)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


def _ivfpq_ann_oracle(
    dim: int = 64, num_cells: int = 16, nprobe: int = 4, num_sub: int = 8, num_codes: int = 16, k: int = 5
) -> str:
    """DuckDB replay of similarity.ivfpq_topk -- the COMPOSED IVF+PQ index.

    IVF half (verbatim from _ivf_ann_oracle, seed 'ivf'): centroid seeding +
    normalization, sequential-dot cell assignment with (dp DESC, cell ASC)
    tiebreak, nprobe probing.  PQ half (verbatim from _pq_ann_oracle, seed
    'pq'): codebook rebuild, per-subspace squared-L2 encode with
    (d ASC, j ASC) tiebreak, reconstruction.  Candidates = corpus rows in
    probed cells; scoring = exact cosine of query vs RECONSTRUCTED vector
    (asymmetric distance).  Every arithmetic step is the same IEEE sequence
    the engine computes, so values hash-match without tolerance.
    """
    sub = dim // num_sub
    hi = md5_int32_sql("CAST(vec_id AS VARCHAR)", "ivf")
    hp = md5_int32_sql("CAST(vec_id AS VARCHAR)", "pq")
    normchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)" for i in range(dim)
    )
    dotchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(v.embedding[{i + 1}] AS DOUBLE) * c.cv[{i + 1}]" for i in range(dim)
    )
    distchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        f" * (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        for i in range(sub)
    )
    cos = _cos_sql("qv", "rv")
    return f"""
WITH iord AS (
  SELECT vec_id, embedding, sqrt({normchain}) AS nrm,
         ROW_NUMBER() OVER (ORDER BY {hi}, vec_id) AS rn
  FROM embeddings
),
cents AS (
  SELECT rn - 1 AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS cv
  FROM iord WHERE rn <= {num_cells}
),
assign AS (
  SELECT v.vec_id, v.embedding, c.cell, {dotchain} AS dp
  FROM embeddings v CROSS JOIN cents c
),
cellof AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign WHERE vec_id < 10) WHERE rn <= {nprobe}
),
pord AS (
  SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY {hp}, vec_id) AS rn FROM embeddings
),
codes AS (SELECT rn - 1 AS j, embedding FROM pord WHERE rn <= {num_codes}),
ms AS (SELECT UNNEST(generate_series(0, {num_sub - 1})) AS m),
dists AS (
  SELECT v.vec_id, ms.m, c.j, {distchain} AS d
  FROM embeddings v CROSS JOIN ms CROSS JOIN codes c
),
enc AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, j ASC) AS rn
    FROM dists) WHERE rn = 1
),
recon AS (
  SELECT e.vec_id,
         flatten(list(list_transform(c.embedding[e.m*{sub} + 1 : (e.m + 1)*{sub}],
                                     x -> CAST(x AS DOUBLE)) ORDER BY e.m)) AS rv
  FROM enc e JOIN codes c ON e.j = c.j
  GROUP BY e.vec_id
),
cand AS (
  SELECT p.query_id, p.qv, s.vec_id AS neighbor_id, r.rv
  FROM probes p JOIN cellof s USING (cell) JOIN recon r ON s.vec_id = r.vec_id
  WHERE p.query_id != s.vec_id
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cand)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


def _kmeans_ctes(dim: int, k: int, iters: int, final_grid: bool = True) -> str:
    """Shared CTE chain replaying clustering's Lloyd trajectory: seed
    selection, every assignment (sequential squared-L2 fold, (dist, cell)
    tiebreak), every centroid update (floor-quantized int64 sums, IEEE
    division).  Yields cell{iters-1} (final assignment) and, when
    ``final_grid``, g{iters-1} (the output grid).  Used by both the km1
    oracle and the d10 semantic-dedup oracle so their cells are the SAME
    trajectory."""
    h = md5_int32_sql("CAST(vec_id AS VARCHAR)", "km")
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (CAST(v.embedding[i] AS DOUBLE) - c.cv[i]) * (CAST(v.embedding[i] AS DOUBLE) - c.cv[i])))"
    )

    def assign(i: int) -> str:
        return f"""
a{i} AS (
  SELECT v.vec_id, v.embedding, c.cell, {dist} AS d
  FROM embeddings v CROSS JOIN cents{i} c
),
cell{i} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM a{i})
  WHERE rn = 1
)"""

    def grid(i: int) -> str:
        return f"""
g{i} AS (
  SELECT cell, p - 1 AS pos,
         SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM (SELECT cell, UNNEST(embedding) AS val, GENERATE_SUBSCRIPTS(embedding, 1) AS p FROM cell{i})
  GROUP BY cell, p
)"""

    parts = [
        f"""ordered AS (
  SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn FROM embeddings
),
cents0 AS (
  SELECT rn - 1 AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM ordered WHERE rn <= {k}
)"""
    ]
    for i in range(iters):
        parts.append(assign(i))
        if i < iters - 1:
            # next centroids: quantized means; empty cells keep the previous centroid
            parts.append(grid(i))
            parts.append(f"""
upd{i} AS (
  SELECT cell, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
  FROM g{i} GROUP BY cell
),
cents{i + 1} AS (
  SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
  FROM cents{i} p LEFT JOIN upd{i} u ON p.cell = u.cell
)""")
        elif final_grid:
            parts.append(grid(i))
    return ",".join(parts)


def _kmeans_oracle(dim: int = 64, k: int = 8, iters: int = 2) -> str:
    """DuckDB replay of clustering.kmeans_lloyd: both engines walk the same
    trajectory (see _kmeans_ctes), so the final grid hash-matches exactly."""
    return f"""
WITH {_kmeans_ctes(dim, k, iters, final_grid=True)}
SELECT CAST(cell AS INT) AS cell, CAST(pos AS INT) AS pos,
       CAST(s AS DOUBLE) / (n * 1000000.0) AS centroid,
       CAST(n AS BIGINT) AS n_members
FROM g{iters - 1}
"""


def _semantic_dedup_oracle(
    dim: int = 64, k: int = 8, iters: int = 2, threshold: float = 0.95, max_cell: int | None = None
) -> str:
    """DuckDB replay of dedup.semantic_dedup_flags: the km1 cell trajectory
    (shared _kmeans_ctes), within-cell ordered pairs, the exact-sequential
    cosine, and the smallest-id-wins drop rule; over-``max_cell`` cells
    skip pair generation exactly like the engine."""
    last = iters - 1
    mem = f"cell{last}"
    cap_cte = ""
    if max_cell is not None:
        cap_cte = f""",
sizes AS (SELECT cell, COUNT(*) AS n FROM cell{last} GROUP BY cell),
mem AS (SELECT c.* FROM cell{last} c JOIN sizes s ON c.cell = s.cell WHERE s.n <= {max_cell})"""
        mem = "mem"
    return f"""
WITH {_kmeans_ctes(dim, k, iters, final_grid=False)}{cap_cte},
pairs AS (
  SELECT b.vec_id AS id2, {_cos_sql("a.embedding", "b.embedding")} AS cos
  FROM {mem} a JOIN {mem} b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
dropped AS (SELECT DISTINCT id2 FROM pairs WHERE cos >= {threshold})
SELECT c.vec_id AS id, CAST(c.cell AS INT) AS cell,
       CAST(CASE WHEN d.id2 IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM cell{last} c LEFT JOIN dropped d ON c.vec_id = d.id2
"""


# dr1's group-stable sample: md5(first token) % 4 (see q_dr1 docstring).
_DR1_SAMPLE_SQL = rf"""(
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
    FROM documents)
  WHERE ({md5_int32_sql("w[1]", "dr1")}) % 4 = 0)"""


def _minhash_lsh_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    source: str = "documents",
) -> str:
    rpb = num_hashes // bands
    # Hash j = lane j%4 of md5 digest seeded j//4 (four 32-bit lanes per
    # digest -- mirrors functions.hashing.md5_int32_lanes).
    mins = ", ".join(f"MIN({md5_int32_lane_sql('shingle', j // 4, j % 4)}) AS h{j}" for j in range(num_hashes))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', {', '.join(f'h{b * rpb + r}' for r in range(rpb))}) AS sig FROM sig_t"
        for b in range(bands)
    )
    # Band-bucket cap mirrors the engine's max_bucket (one row per (doc,
    # band) -> COUNT(*) == distinct docs in the bucket); the verification
    # jaccard stays EXACT (max_df=None), like _jaccard_for_pairs.
    bucket_cap = "" if max_bucket is None else f"HAVING COUNT(*) <= {max_bucket}"
    return f"""
WITH {_shingles_cte(None, source)},
sig_t AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
bok AS (SELECT band, sig FROM bands GROUP BY band, sig {bucket_cap}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a
  JOIN bok ON a.band = bok.band AND a.sig = bok.sig
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT c.doc1, c.doc2, j.jaccard
FROM cand c JOIN jac j ON c.doc1 = j.doc1 AND c.doc2 = j.doc2
WHERE j.jaccard >= {threshold}
"""


def _simhash_oracle(bits: int = 32, max_hamming: int = 3, max_bucket: int | None = None) -> str:
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    if bits <= 32:
        th_expr = f"{md5_int32_sql('t', 'simhash')}"
    else:
        # two lanes of one digest: (lane0 & 2^(bits-32)-1) * 2^32 + lane1
        # (twin of simhash_signatures' wide path; always positive)
        th_expr = (
            f"(({md5_int32_lane_sql('t', 'simhash', 0)}) % {1 << (bits - 32)}) * 4294967296"
            f" + ({md5_int32_lane_sql('t', 'simhash', 1)})"
        )
    cap = "" if max_bucket is None else f"HAVING COUNT(*) <= {max_bucket}"
    return rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS t
    FROM documents
  )
),
th AS (SELECT doc_id, {th_expr} AS h FROM tok),
bits_t AS (SELECT doc_id, unnest(generate_series(0, {bits - 1})) AS bit, h FROM th),
votes AS (
  SELECT doc_id, bit, CAST(SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM bits_t GROUP BY doc_id, bit
),
sig AS (
  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
blk AS (SELECT doc_id, simhash, unnest(generate_series(0, {chunks - 1})) AS chunk FROM sig),
blk2 AS (SELECT doc_id, simhash, chunk, (simhash >> (chunk * {chunk_bits})) & {mask} AS cval FROM blk),
okb AS (SELECT chunk, cval FROM blk2 GROUP BY chunk, cval {cap}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2, a.simhash AS s1, b.simhash AS s2
  FROM blk2 a
  JOIN okb USING (chunk, cval)
  JOIN blk2 b ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= {max_hamming}
"""


_MARKERS = text.LANG_MARKERS


def _lang_id_oracle() -> str:
    langs = sorted(_MARKERS)
    cnts = ", ".join(
        rf"CAST(len(regexp_extract_all(lower(text), '\b({'|'.join(_MARKERS[lang])})\b', 1)) AS BIGINT) AS c_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('c_' + lang for lang in langs)})"
    case = " ".join(f"WHEN best > 0 AND c_{lang} = best THEN '{lang}'" for lang in langs)
    return f"""
WITH m AS (SELECT doc_id, {cnts} FROM documents),
b AS (SELECT doc_id, {', '.join('c_' + lang for lang in langs)}, {best} AS best FROM m)
SELECT doc_id, CASE {case} ELSE 'und' END AS lang_pred, best AS marker_hits FROM b
"""


def _bloom_gate_oracle(m_bits: int, k: int) -> str:
    """Bit-for-bit DuckDB replay of q_bf1: same md5 digest lanes, same
    set-bit position semijoin, same fp budget arithmetic (q*q*q*q sequential
    multiplication; exp() is the only libm call, t8-class ulp residual)."""
    lane = lambda j: f"({md5_int32_lane_sql('k', 'bloom', j)}) % {m_bits}"
    b_lanes = " UNION ALL ".join(f"SELECT k, {lane(j)} AS pos FROM bk" for j in range(k))
    p_lanes = " UNION ALL ".join(f"SELECT k, {lane(j)} AS pos FROM pk" for j in range(k))
    qk = " * ".join(["q.v"] * k)
    return f"""
        WITH bk AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
        pk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
        bits AS (SELECT DISTINCT pos FROM ({b_lanes})),
        pp AS (SELECT DISTINCT k, pos FROM ({p_lanes})),
        need AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS need FROM pp GROUP BY k),
        hit AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS hit FROM pp JOIN bits USING (pos) GROUP BY k),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM bk),
        flags AS (SELECT need.k,
                         COALESCE(hit.hit, 0) = need.need AS maybe,
                         bk.k IS NOT NULL AS member
                  FROM need LEFT JOIN hit USING (k) LEFT JOIN bk ON need.k = bk.k),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_keys,
                       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
                       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
                       CAST(SUM(CASE WHEN member AND NOT maybe THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives,
                       CAST(SUM(CASE WHEN maybe AND NOT member THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
                       CAST(SUM(CASE WHEN NOT member THEN 1 ELSE 0 END) AS BIGINT) AS n_nonmembers
                FROM flags),
        q AS (SELECT 1.0 - exp((-{k} * nb.v) / {float(m_bits)}) AS v FROM nb)
        SELECT nb.v AS n_build_keys, n_probe_keys, n_members, n_maybe,
               false_negatives, false_positives,
               {_dratio('false_positives', 'greatest(n_nonmembers, 1)')} AS fp_rate,
               CAST(floor((2.0 * ({qk})) * n_nonmembers) + 5 AS BIGINT) AS fp_budget,
               false_negatives = 0 AS zero_false_negatives,
               false_positives <= CAST(floor((2.0 * ({qk})) * n_nonmembers) + 5 AS BIGINT) AS fp_within_budget
        FROM agg, nb, q
    """


def oracle_sql() -> dict[str, str]:
    en = "|".join(_MARKERS["en"])
    return {
        "a1_event_type_stats": f"""
            SELECT event_type, COUNT(*) AS num_rows, {_davg('value')} AS avg_value,
                   {_dmicro('MAX(value)')} AS max_value, {_dmicro('MIN(value)')} AS min_value
            FROM events GROUP BY event_type
        """,
        "a2_quantity_bucket_stats": f"""
            WITH b AS (
              SELECT CASE WHEN l_quantity < 10 THEN 'q1_lt10'
                          WHEN l_quantity < 30 THEN 'q2_10to29'
                          ELSE 'q3_ge30' END AS bucket, l_extendedprice
              FROM lineitem)
            SELECT bucket, COUNT(*) AS num_rows, {_davg('l_extendedprice')} AS avg_l_extendedprice,
                   {_dmicro('MAX(l_extendedprice)')} AS max_l_extendedprice
            FROM b GROUP BY bucket
        """,
        "a3_global_price_stats": f"""
            SELECT COUNT(l_extendedprice) AS cnt, {_davg('l_extendedprice')} AS avg_val,
                   {_dmicro('stddev(l_extendedprice)', 4)} AS stddev_val,
                   {_dmicro('CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)', 4)} AS p50_val,
                   {_dmicro('CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE)', 4)} AS p90_val,
                   {_dmicro('MAX(l_extendedprice)')} AS max_val,
                   {_dsum('l_extendedprice')} AS sum_val
            FROM lineitem
        """,
        "a4_price_histogram": """
            SELECT CASE WHEN o_totalprice < 50000 THEN '<50k'
                        WHEN o_totalprice < 150000 THEN '50k-150k'
                        WHEN o_totalprice < 300000 THEN '150k-300k'
                        WHEN o_totalprice < 450000 THEN '300k-450k'
                        ELSE '>=450k' END AS bucket,
                   COUNT(*) AS num_rows
            FROM orders GROUP BY bucket
        """,
        "a5_order_size_distribution": """
            WITH d AS (SELECT l_orderkey, COUNT(*) AS degree FROM lineitem GROUP BY l_orderkey)
            SELECT degree, COUNT(*) AS num_keys FROM d GROUP BY degree
        """,
        "a6_top_orders_by_price": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
        """,
        "a7_order_parts_csv": """
            SELECT l_orderkey, array_to_string(list(l_partkey ORDER BY l_partkey), ',') AS parts_csv,
                   COUNT(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        """,
        "a8_table_counts": """
            SELECT 'lineitem' AS tbl, COUNT(*) AS n_rows FROM lineitem
            UNION ALL SELECT 'orders', COUNT(*) FROM orders
            UNION ALL SELECT 'customer', COUNT(*) FROM customer
        """,
        "a9_distinct_customers": "SELECT COUNT(DISTINCT o_custkey) AS n_distinct FROM orders",
        "f9_hash_sample": f"""
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "s1")}) % 1000000 < 100000
        """,
        "f10_stratified_sample": f"""
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE (o_orderpriority = '1-URGENT'
                   AND ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "s2")}) % 1000000 < 1000000)
               OR (o_orderpriority = '5-LOW'
                   AND ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "s2")}) % 1000000 < 100000)
        """,
        # f13: same keyed-md5 rank, k-row cut; (hash, key) is a total order.
        "f13_exact_k_sample": f"""
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "f13")}) ASC, o_orderkey ASC
            LIMIT 50
        """,
        "f12_group_examples": f"""
            SELECT source, doc_id, CAST(rk AS BIGINT) AS sample_rank
            FROM (SELECT source, doc_id,
                         ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "ex")}), doc_id) AS rk
                  FROM documents)
            WHERE rk <= 3
        """,
        "sk1_salted_event_stats": f"""
            SELECT event_type, COUNT(*) AS n,
                   {_dsum("value")} AS sum_value
            FROM events GROUP BY event_type
        """,
        # Oracle = the UNSALTED join: proves salted_join is plan-only.
        "sk2_salted_join_user_clicks": """
            WITH clicks AS (
              SELECT user_id, COUNT(*) AS n FROM events
              WHERE event_type = 'click' GROUP BY user_id)
            SELECT e.event_id, e.user_id, e.event_type,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS n_user_clicks
            FROM events e LEFT JOIN clicks c ON e.user_id = c.user_id
        """,
        "a12_approx_distinct_gate": """
            SELECT 1 AS within_5pct, COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem
        """,
        # Equi-depth replay: quantile_cont's interpolated cutpoints sit
        # STRICTLY between neighboring data values (or exactly on one when
        # g=0), so a last-ulp interpolation difference cannot move any
        # value across a bucket boundary.
        "a16_equidepth_histogram": f"""
            WITH c AS (SELECT quantile_cont(o_totalprice, [{", ".join(str(i / 10) for i in range(1, 10))}]) AS cuts FROM orders)
            SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN o_totalprice > t THEN 1 ELSE 0 END)) AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {_dmicro('MIN(o_totalprice)')} AS lo,
                   {_dmicro('MAX(o_totalprice)')} AS hi
            FROM orders, c
            GROUP BY bucket ORDER BY bucket
        """,
        # Path replay: identical lag/gap/session-number windows on integer
        # micros; string_agg with the same (ts, event_id) order.
        "e8_session_paths": """
            WITH g AS (
              SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS tus,
                     LAG(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
              FROM events),
            s AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS ns FROM g),
            sn AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS sess FROM s),
            p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY tus, event_id) AS path
                  FROM sn GROUP BY user_id, sess)
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
        """,
        # Serve-layer replay: the oracle recomputes the Phase-1
        # category-stats job over the same derived videos model; the Spark
        # side answers from the materialized JSON artifact (cache HIT), so
        # equality proves the write-through/read-back round-trip too.  The
        # 5-category result is far under the job's top-50 limit.
        "v1_served_category_stats": f"""
            WITH v AS (
              SELECT event_type AS category, value AS views,
                     CAST((epoch_ns(ts) // 1000) % 1000 AS DOUBLE) AS length,
                     CAST((user_id % 5) + 1 AS DOUBLE) AS rate
              FROM events)
            SELECT category, COUNT(*) AS num_videos,
                   {_davg("views")} AS avg_views,
                   {_dmicro('MAX(views)')} AS max_views,
                   {_davg("length")} AS avg_length,
                   {_davg("rate")} AS avg_rating
            FROM v GROUP BY category
        """,
        # Per-group HLL gate: sketch internals are engine-specific, so the
        # oracle pins the contract bit + exact counts (a12's pattern).
        "a19_group_distinct_gate": """
            SELECT event_type, 1 AS within_5pct,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY event_type
        """,
        # Transition replay: same lag over (epoch-micros, event_id) order;
        # p is the exact integer ratio rounded identically.
        "e9_transition_matrix": f"""
            WITH o AS (
              SELECT user_id, event_type,
                     LAG(event_type) OVER (PARTITION BY user_id
                                           ORDER BY epoch_ns(ts) // 1000, event_id) AS from_type
              FROM events),
            c AS (SELECT from_type, event_type AS to_type,
                         CAST(COUNT(*) AS BIGINT) AS n_transitions
                  FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2)
            SELECT from_type, to_type, n_transitions,
                   {_dratio('n_transitions', 'CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)')} AS p
            FROM c
        """,
        # Profile replay: per-column UNION ALL of the same aggregates;
        # o_totalprice min/max through DECIMAL(18,6) strings.
        "a18_column_profile": """
            SELECT 'o_custkey' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
                   COALESCE(CAST(MIN(o_custkey) AS VARCHAR), '__null__') AS min_str,
                   COALESCE(CAST(MAX(o_custkey) AS VARCHAR), '__null__') AS max_str
            FROM orders
            UNION ALL
            SELECT 'o_orderkey', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
                   COALESCE(CAST(MIN(o_orderkey) AS VARCHAR), '__null__'),
                   COALESCE(CAST(MAX(o_orderkey) AS VARCHAR), '__null__')
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
                   COALESCE(MIN(o_orderpriority), '__null__'),
                   COALESCE(MAX(o_orderpriority), '__null__')
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
                   COALESCE(MIN(o_orderstatus), '__null__'),
                   COALESCE(MAX(o_orderstatus), '__null__')
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
                   CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
                   COALESCE(CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,6)) AS VARCHAR), '__null__'),
                   COALESCE(CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,6)) AS VARCHAR), '__null__')
            FROM orders
        """,
        # GK-sketch gate, per group: the oracle pins the rank-window
        # contract bit (holds mathematically for rank error 1e-4) plus the
        # exact median; sketch internals are engine-specific by design.
        "a17_approx_grouped_percentiles_gate": f"""
            SELECT event_type, 1 AS in_rank_window,
                   {_dmicro('CAST(quantile_cont(value, 0.5) AS DOUBLE)', 4)} AS exact_p50
            FROM events GROUP BY event_type
        """,
        "a15_grouped_percentiles": f"""
            SELECT event_type, COUNT(value) AS cnt,
                   {_dmicro('CAST(quantile_cont(value, 0.25) AS DOUBLE)', 4)} AS p25,
                   {_dmicro('CAST(quantile_cont(value, 0.5) AS DOUBLE)', 4)} AS p50,
                   {_dmicro('CAST(quantile_cont(value, 0.75) AS DOUBLE)', 4)} AS p75,
                   {_dmicro('CAST(quantile_cont(value, 0.9) AS DOUBLE)', 4)} AS p90
            FROM events GROUP BY event_type
        """,
        # Cohort replay: dates from nanos timestamps truncate identically
        # (flooring ns->us never crosses a day boundary).
        "e6_cohort_retention": """
            WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date FROM events GROUP BY user_id),
            a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
            SELECT cohort_date, CAST(day - cohort_date AS BIGINT) AS day_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY cohort_date, day_offset
        """,
        # Decay replay: integer epoch-micros age, double exp() term
        # floor-quantized to micros BEFORE the per-user integer sum -- the
        # unigram-logprob recipe for order-invariant float reductions.
        "e7_decayed_engagement": """
            WITH m AS (SELECT MAX(epoch_ns(ts) // 1000) AS t_ref FROM events),
            t AS (
              SELECT user_id,
                     CAST(floor(value * exp(-(CAST(t_ref - (epoch_ns(ts) // 1000) AS DOUBLE)
                                              / CAST(604800000000 AS DOUBLE))) * 1e6) AS BIGINT) AS trm
              FROM events, m)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(trm) AS BIGINT) AS engagement_micro,
                   (CAST(SUM(trm) AS BIGINT) / 1000000.0) AS engagement
            FROM t GROUP BY user_id
        """,
        # MG gate: the oracle pins exact-heavy cardinality + the contract
        # bits; candidate contents are partitioning-dependent by design.
        # MAD replay: quantile_cont median, abs-dev median, identical
        # 3*1.4826 cut-line arithmetic on the unrounded MAD.
        "a20_robust_group_stats": f"""
            WITH med AS (SELECT o_orderpriority, CAST(COUNT(o_totalprice) AS BIGINT) AS cnt,
                                quantile_cont(o_totalprice, 0.5) AS m
                         FROM orders GROUP BY o_orderpriority),
            mad AS (SELECT o.o_orderpriority, ANY_VALUE(med.cnt) AS cnt, ANY_VALUE(med.m) AS m,
                           quantile_cont(abs(o.o_totalprice - med.m), 0.5) AS d
                    FROM orders o JOIN med USING (o_orderpriority)
                    GROUP BY o.o_orderpriority)
            SELECT o.o_orderpriority,
                   ANY_VALUE(mad.cnt) AS cnt,
                   {_dmicro('ANY_VALUE(mad.m)')} AS median_v,
                   {_dmicro('ANY_VALUE(mad.d)')} AS mad,
                   CAST(SUM(CASE WHEN abs(o.o_totalprice - mad.m) > (3.0 * 1.4826) * mad.d THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM orders o JOIN mad USING (o_orderpriority)
            GROUP BY o.o_orderpriority
            ORDER BY o.o_orderpriority
        """,
        "bf1_bloom_membership_gate": _bloom_gate_oracle(1 << 17, 4),
        "a14_heavy_hitters_gate": """
            WITH c AS (SELECT CAST(event_type AS VARCHAR) AS k, COUNT(*) AS exact FROM events GROUP BY 1),
            n AS (SELECT COUNT(*) AS nt FROM events),
            h AS (SELECT CAST(COUNT(*) AS BIGINT) AS nh FROM c, n WHERE exact > nt / 64.0)
            SELECT nh AS n_heavy, nh AS n_heavy_found,
                   CAST(1 AS INTEGER) AS all_heavy_found,
                   CAST(1 AS INTEGER) AS no_overestimate,
                   CAST(1 AS INTEGER) AS underestimate_ok
            FROM h
        """,
        "a13_approx_quantile_gate": f"""
            SELECT 1 AS within_1pct,
                   {_dmicro('CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)', 4)} AS exact_p50
            FROM lineitem
        """,
        "p1_pivot_flag_status": f"""
            SELECT l_returnflag,
                   COALESCE({_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")}, 0.0) AS sum_l_quantity_f,
                   COALESCE({_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")}, 0.0) AS sum_l_quantity_o
            FROM lineitem GROUP BY l_returnflag
        """,
        "p2_unpivot_priority_stats": f"""
            WITH base AS (
              SELECT o_orderpriority,
                     CAST(COUNT(*) AS DOUBLE) AS n_orders,
                     {_dsum("o_totalprice")} AS sum_price,
                     {_dmicro('CAST(MAX(o_totalprice) AS DOUBLE)')} AS max_price
              FROM orders GROUP BY o_orderpriority)
            SELECT o_orderpriority, 'n_orders' AS measure, n_orders AS value FROM base
            UNION ALL SELECT o_orderpriority, 'sum_price', sum_price FROM base
            UNION ALL SELECT o_orderpriority, 'max_price', max_price FROM base
        """,
        "e5_interval_join_reactions": """
            WITH err AS (
              SELECT event_id, user_id, (epoch_ns(ts) // 1000) AS lus
              FROM events WHERE event_type = 'error'),
            clk AS (
              SELECT user_id, (epoch_ns(ts) // 1000) AS rus
              FROM events WHERE event_type = 'click')
            SELECT e.event_id, e.user_id,
                   COUNT(c.rus) AS n_clicks,
                   CAST(COALESCE(MIN(c.rus - e.lus), -1) AS BIGINT) AS min_gap_us
            FROM err e LEFT JOIN clk c
              ON c.user_id = e.user_id AND c.rus >= e.lus AND c.rus < e.lus + 300000000
            GROUP BY e.event_id, e.user_id
        """,
        # Streaming-family gates: the engine side sinks the STREAM via
        # foreachBatch and reads the parquet back, so these oracles check
        # streaming/batch equivalence end-to-end (not just the batch twin).
        "se1_stream_hourly_stats": f"""
            SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS num_events,
                   {_dsum('value')} AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "se2_stream_sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_ts
              FROM events),
            s AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                               OR ((epoch_ns(ts) // 1000)
                                   - (epoch_ns(prev_ts) // 1000)) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM g)
            SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
            FROM s GROUP BY user_id
        """,
        # se7: true-heavy count replays exactly (integer cross-multiplied
        # threshold); capture bit is the engine-computed MG-invariant gate.
        "se7_stream_heavy_hitters": """
            WITH k AS (
              SELECT CASE WHEN user_id % 10 < 5 THEN -1 ELSE user_id END AS hh_key
              FROM events),
            c AS (
              SELECT ((hh_key % 4) + 4) % 4 AS shard, hh_key, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM k GROUP BY 1, 2),
            n AS (SELECT shard, CAST(SUM(cnt) AS BIGINT) AS ns FROM c GROUP BY shard)
            SELECT CAST(4 AS BIGINT) AS n_shards, CAST(8 AS BIGINT) AS k,
                   CAST(SUM(CASE WHEN c.cnt * 9 > n.ns THEN 1 ELSE 0 END) AS BIGINT) AS n_true_heavy,
                   CAST(1 AS BIGINT) AS all_captured
            FROM c JOIN n USING (shard)
        """,
        # i2: full-table recompute == merged incremental state (top-k
        # mergeability); deterministic (price desc, orderkey) cut.
        # o7: cursor = the 100th row under (price desc, key); page = rows
        # strictly after it.  QUALIFY-free formulation via ROW_NUMBER.
        "o7_keyset_pagination": """
            WITH r AS (
              SELECT o_orderkey, o_totalprice, o_orderpriority,
                     ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM r WHERE rn > 100 AND rn <= 150 ORDER BY rn
        """,
        "sk3_skew_diagnosis": f"""
            WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id),
            t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM per),
            top AS (
              SELECT user_id, n_events,
                     CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS rk
              FROM per ORDER BY n_events DESC, user_id LIMIT 20)
            SELECT rk, user_id, n_events,
                   {_dratio('n_events', 't.total')} AS share,
                   {_dratio('CAST(SUM(n_events) OVER (ORDER BY rk) AS BIGINT)', 't.total')} AS cum_share
            FROM top, t ORDER BY rk
        """,
        "i2_incremental_topk_state": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rank
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 5 ORDER BY o_orderpriority, rank
        """,
        "a22_grouped_mode": """
            WITH per AS (
              SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2),
            rk AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                           ORDER BY n DESC, o_orderstatus) AS r
              FROM per)
            SELECT o_orderpriority, o_orderstatus AS mode_status, n
            FROM rk WHERE r = 1 ORDER BY o_orderpriority
        """,
        "a21_hll_merge_gate": """
            SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_groups,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
                   CAST(1 AS BIGINT) AS merge_within_2pct,
                   CAST(1 AS BIGINT) AS union_within_5pct
            FROM events
        """,
        "se5_stream_user_totals": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        """,
        # se12: inner pairs replay as a plain batch join; outer rows
        # replay the watermark-closure protocol -- unmatched AND window
        # end <= final_wm, final_wm = least(per-input max ts) - 10 min
        # (multipleWatermarkPolicy=min), empirically probed.
        "se12_stream_interval_outer": """
            WITH err AS (SELECT event_id AS err_id, user_id AS err_user,
                                (epoch_ns(ts) // 1000) AS err_us
                         FROM events WHERE event_type = 'error'),
            clk AS (SELECT event_id AS clk_id, user_id AS clk_user,
                           (epoch_ns(ts) // 1000) AS clk_us
                    FROM events WHERE event_type = 'click'),
            wm AS (SELECT LEAST((SELECT MAX(err_us) FROM err),
                                (SELECT MAX(clk_us) FROM clk)) - 600000000 AS wm_us),
            matched AS (
              SELECT e.err_id, e.err_user, c.clk_id, c.clk_us
              FROM err e JOIN clk c ON c.clk_user = e.err_user
                AND c.clk_us >= e.err_us
                AND c.clk_us < e.err_us + 300000000),
            outer_rows AS (
              SELECT e.err_id, e.err_user,
                     CAST(-1 AS BIGINT) AS clk_id, CAST(-1 AS BIGINT) AS clk_us
              FROM err e, wm
              WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.err_id = e.err_id)
                AND e.err_us + 300000000 <= wm.wm_us)
            SELECT err_id, err_user, clk_id, clk_us FROM matched
            UNION ALL
            SELECT err_id, err_user, clk_id, clk_us FROM outer_rows
            ORDER BY err_id, clk_id
        """,
        # se11: the restarted stream's final totals must equal the batch
        # count over ALL events -- state-store recovery undercounts and
        # file-log loss double-counts both hash-mismatch here.
        "se11_stream_restart_recovery": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "se3_stream_interval_join": """
            SELECT e.event_id AS err_id, e.user_id AS err_user, c.event_id AS clk_id,
                   (epoch_ns(c.ts) // 1000) AS clk_us
            FROM events e JOIN events c
              ON c.user_id = e.user_id
             AND (epoch_ns(c.ts) // 1000) >= (epoch_ns(e.ts) // 1000)
             AND (epoch_ns(c.ts) // 1000) < (epoch_ns(e.ts) // 1000) + 300000000
            WHERE e.event_type = 'error' AND c.event_type = 'click'
        """,
        "se4_stream_dedup_first_seen": r"""
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_key,
                   MIN(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """,
        # TTL dedup at gate scale: the TTL exceeds the event-time span, so
        # nothing expires and the answer equals se4's; the expiry path is
        # pinned by the small-TTL pytest replay instead.
        "se6_stream_dedup_ttl": r"""
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_key,
                   MIN(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """,
        # Quantization replay: same UNNEST/pos convention as em1; scale,
        # code, and round-trip error are the identical double sequence, so
        # the half-step gate bit matches exactly (constant dims: sc=0 ->
        # code 0, error 0, vacuously within bound).
        "em3_int8_quantization_gate": f"""
            WITH x AS (
              SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
                     GENERATE_SUBSCRIPTS(embedding, 1) AS p
              FROM embeddings),
            x2 AS (SELECT vec_id, CAST(p - 1 AS INT) AS pos, v FROM x),
            s AS (SELECT pos, MIN(v) AS dmin, MAX(v) AS dmax FROM x2 GROUP BY pos),
            jj AS (SELECT x2.pos, v, dmin, dmax, (dmax - dmin) / 255.0 AS sc
                   FROM x2 JOIN s USING (pos)),
            c AS (SELECT pos, v, dmin, dmax, sc,
                         CASE WHEN sc = 0 THEN CAST(0 AS BIGINT)
                              ELSE CAST(GREATEST(0, LEAST(255, FLOOR((v - dmin) / sc + 0.5))) AS BIGINT)
                         END AS code
                  FROM jj),
            e AS (SELECT pos, dmin, dmax,
                         CASE WHEN ABS(v - (dmin + code * sc)) <= sc * 0.5 THEN 1 ELSE 0 END AS ok
                  FROM c)
            SELECT pos, CAST(COUNT(*) AS BIGINT) AS n_values,
                   CAST(MIN(ok) AS INT) AS all_within_half_step,
                   {_dmicro('MIN(dmin)')} AS dim_min,
                   {_dmicro('MIN(dmax)')} AS dim_max
            FROM e GROUP BY pos
        """,
        "em1_label_centroids": f"""
            WITH x AS (
              SELECT label, UNNEST(embedding) AS val,
                     GENERATE_SUBSCRIPTS(embedding, 1) AS p
              FROM embeddings)
            SELECT label, CAST(p - 1 AS INT) AS pos,
                   CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                         / (COUNT(val) * 1000000.0) AS centroid
            FROM x GROUP BY label, p
        """,
        # Mean list assembled from the SAME quantized integer sums the
        # engine collects; both norms are the 0.0 + x1*x1 + ... sequential
        # chains (list_sum == Catalyst aggregate fold, the _cos_sql
        # equivalence).
        "em2_normalization_stats": f"""
            WITH x AS (
              SELECT UNNEST(embedding) AS val, GENERATE_SUBSCRIPTS(embedding, 1) AS p
              FROM embeddings),
            mn AS (
              SELECT p, CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                        / (COUNT(val) * 1000000.0) AS m
              FROM x GROUP BY p),
            ml AS (SELECT list(m ORDER BY p) AS mv FROM mn)
            SELECT vec_id,
                   {_dmicro("sqrt(list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))")} AS l2_norm,
                   {_dmicro("sqrt(list_sum(list_transform(generate_series(1, len(embedding)), i -> (CAST(embedding[i] AS DOUBLE) - mv[i]) * (CAST(embedding[i] AS DOUBLE) - mv[i]))))")} AS centered_l2_norm
            FROM embeddings, ml
        """,
        "a10_rollup_order_stats": f"""
            SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
                   COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
                   COUNT(*) AS num_rows,
                   {_dsum("o_totalprice")} AS sum_o_totalprice
            FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "a11_cube_order_stats": f"""
            SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
                   COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
                   COUNT(*) AS num_rows,
                   {_dsum("o_totalprice")} AS sum_o_totalprice
            FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """,
        "a24_grouping_sets": f"""
            SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
                   COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
                   COUNT(*) AS num_rows,
                   {_dsum("o_totalprice")} AS sum_o_totalprice
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
        """,
        "f4_returned_mid_quantity": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag
            FROM lineitem WHERE l_quantity BETWEEN 10 AND 30 AND l_returnflag = 'R'
        """,
        "f5_price_range": """
            SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
            WHERE o_totalprice BETWEEN 50000 AND 150000
        """,
        "f6_dynamic_search_count": """
            SELECT COUNT(*) AS num_matches FROM lineitem
            WHERE l_returnflag = 'A' AND l_quantity >= 5 AND l_quantity <= 40
        """,
        "j1_orders_line_counts_top10": """
            WITH c AS (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey)
            SELECT o_orderkey, COALESCE(n, 0) AS n_lines
            FROM orders LEFT JOIN c ON o_orderkey = l_orderkey
            ORDER BY n_lines DESC, o_orderkey LIMIT 10
        """,
        "j6_topk_enriched_customers": """
            SELECT o_orderkey, o_totalprice, c_name
            FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50) o
            LEFT JOIN customer ON o.o_custkey = customer.c_custkey
        """,
        "tpch_q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   {_dsum('l_quantity')} AS sum_qty,
                   {_dsum('l_extendedprice')} AS sum_base_price,
                   {_dsum(_REV)} AS sum_disc_price,
                   {_davg('l_quantity')} AS avg_qty,
                   {_davg('l_extendedprice')} AS avg_price,
                   {_davg('l_discount')} AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q3_revenue_by_customer": f"""
            SELECT c_custkey, c_name, {_dsum_round(_REV, 4)} AS revenue, COUNT(*) AS n_lines
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q5_revenue_by_nation": f"""
            SELECT r_name, n_name, {_dsum_round(_REV, 4)} AS revenue,
                   COUNT(*) AS n_lines, COUNT(DISTINCT c_custkey) AS n_customers
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "w1_top3_orders_per_priority": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rank_in_group
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 3
        """,
        # Z-order replay: identical rescale ((x-lo)/(hi-lo))*cells -> floor
        # -> clamp, then the same Morton bit-interleave; integer bit ops
        # are engine-exact, the rescale is the same IEEE sequence.
        # Fingerprint replay: identical canonical bytes (decimal(18,6)
        # string form on both engines), same md5 lanes, XOR fold.
        "l4_compaction": f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "l4", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "l4", 1)}) AS BIGINT) AS fp_lane1,
                   CAST(1 AS BIGINT) AS was_fragmented,
                   CAST(1 AS BIGINT) AS compacted_balanced
            FROM c
        """,
        # v3: values from the raw table (the evolved batch is the odd
        # doc_ids); schema/null gates are literal 1s computed engine-side
        # from the merged read.
        "v3_schema_evolution": """
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_evolved,
                   CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0) AS BIGINT)
                       AS sum_chars_evolved,
                   CAST(1 AS BIGINT) AS merged_schema_complete,
                   CAST(1 AS BIGINT) AS nulls_exactly_on_old_batch
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        "v2_jsonl_roundtrip": f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v2", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v2", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """,
        # v4: identical fingerprint recipe to v2 (different seed) -- the
        # oracle never sees the CSV, proving the round trip lossless.
        "v4_csv_roundtrip": f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v4", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v4", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """,
        # v6: identical source-side fingerprint as v2/v4 (seed v6) -- a
        # match proves the ORC sink+source lossless.
        "v6_orc_roundtrip": f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v6", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v6", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """,
        # v5: the oracle recomputes the manifest (shard assignment + per-
        # shard fingerprints) from the SOURCE alone -- a match proves the
        # hash-sharded export deterministic and lossless.
        "v5_export_manifest": f"""
            WITH c AS (
              SELECT ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "v5")}) % 8 AS shard,
                     concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v5", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v5", 1)}) AS BIGINT) AS fp_lane1
            FROM c GROUP BY shard ORDER BY shard
        """,
        "l2_table_fingerprint": f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
                               COALESCE(event_type, '__null__'),
                               CAST(epoch_ns(ts) // 1000 AS VARCHAR),
                               CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR)) AS canon
              FROM events)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "fp", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "fp", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """,
        "l3_hilbert_keys": hilbert_sql_2d(
            """
            SELECT o_orderkey,
                   LEAST(CAST(FLOOR((CAST(o_custkey AS DOUBLE) - st.lox) / (st.hix - st.lox) * 256.0) AS BIGINT), 255) AS qx,
                   LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - st.loy) / (st.hiy - st.loy) * 256.0) AS BIGINT), 255) AS qy
            FROM orders, (
              SELECT MIN(CAST(o_custkey AS DOUBLE)) AS lox, MAX(CAST(o_custkey AS DOUBLE)) AS hix,
                     MIN(CAST(o_totalprice AS DOUBLE)) AS loy, MAX(CAST(o_totalprice AS DOUBLE)) AS hiy
              FROM orders) st
            """,
            "o_orderkey",
            bits=8,
            out_name="hkey",
        ),
        "l1_zorder_keys": f"""
            WITH st AS (
              SELECT MIN(CAST(o_custkey AS DOUBLE)) AS lox, MAX(CAST(o_custkey AS DOUBLE)) AS hix,
                     MIN(CAST(o_totalprice AS DOUBLE)) AS loy, MAX(CAST(o_totalprice AS DOUBLE)) AS hiy
              FROM orders),
            q AS (
              SELECT o_orderkey,
                     LEAST(CAST(FLOOR((CAST(o_custkey AS DOUBLE) - lox) / (hix - lox) * 256.0) AS BIGINT), 255) AS qx,
                     LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - loy) / (hiy - loy) * 256.0) AS BIGINT), 255) AS qy
              FROM orders, st)
            SELECT o_orderkey,
                   CAST({" + ".join(f"(((q{'xy'[c]} >> {b}) & 1) << {b * 2 + c})" for c in range(2) for b in range(8))} AS BIGINT) AS zkey
            FROM q
        """,
        # CDC replay: identical md5 membership predicates build the batch;
        # NOT IN + UNION ALL is the oracle's merge. *1.1/*0.5 and ROUND(,6)
        # are the same IEEE double ops on both sides.
        # Incremental-index replay: historic index from doc_id < 400,
        # batch digests folded in; first-seen (historic) winners stable.
        "u2_incremental_dedup_index": r"""
            WITH n AS (SELECT doc_id,
                              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k
                       FROM documents),
            hist AS (SELECT k, MIN(doc_id) AS keep FROM n WHERE doc_id < 400 GROUP BY k),
            newb AS (SELECT k, MIN(doc_id) AS keep FROM n WHERE doc_id >= 400 GROUP BY k)
            SELECT k AS text_key, keep AS keep_id, 'kept' AS status FROM hist
            UNION ALL
            SELECT k AS text_key, keep AS keep_id, 'new' AS status
            FROM newb WHERE k NOT IN (SELECT k FROM hist)
        """,
        # Incremental-agg oracle: recompute from the FULL table; equality
        # with the two-way state merge is the mergeability proof.
        "i1_incremental_agg_state": f"""
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
                   MIN(o_totalprice) AS min_v,
                   MAX(o_totalprice) AS max_v,
                   {_dratio('CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)', '(COUNT(*) * 1000000)')} AS avg_v
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        # Conversion-latency replay: per-step first-event minima, micro
        # arithmetic, quantile_cont FILTER for the converting subset.
        "e10_conversion_latency": """
            WITH us AS (SELECT user_id AS u, epoch_ns(ts) // 1000 AS ts_us, event_type AS et FROM events),
            f AS (SELECT u, MIN(ts_us) AS t0 FROM us WHERE et = 'signup' GROUP BY u),
            t AS (SELECT u, MIN(ts_us) AS t1 FROM us WHERE et = 'purchase' GROUP BY u),
            l AS (SELECT f.u, t0, t1, t1 - t0 AS dt FROM f LEFT JOIN t USING (u))
            SELECT CAST(COUNT(*) AS BIGINT) AS n_from_users,
                   CAST(SUM(CASE WHEN t1 IS NOT NULL AND dt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                   CAST(COALESCE(floor(quantile_cont(dt, 0.25) FILTER (t1 IS NOT NULL AND dt > 0)), -1) AS BIGINT) AS p25_us,
                   CAST(COALESCE(floor(quantile_cont(dt, 0.50) FILTER (t1 IS NOT NULL AND dt > 0)), -1) AS BIGINT) AS p50_us,
                   CAST(COALESCE(floor(quantile_cont(dt, 0.75) FILTER (t1 IS NOT NULL AND dt > 0)), -1) AS BIGINT) AS p75_us,
                   CAST(COALESCE(floor(CAST(SUM(dt) FILTER (t1 IS NOT NULL AND dt > 0) AS BIGINT)
                                       / CAST(GREATEST(SUM(CASE WHEN t1 IS NOT NULL AND dt > 0 THEN 1 ELSE 0 END), 1) AS DOUBLE)),
                                 -1) AS BIGINT) AS mean_us
            FROM l
        """,
        # SCD2 replay: LAG collapses no-change rows, LEAD closes intervals,
        # 9999-12-31 epoch-micros sentinel for open ends.
        "u3_scd2_history": """
            WITH e AS (SELECT user_id, event_type AS state, epoch_ns(ts) // 1000 AS t_us, event_id
                       FROM events),
            l AS (SELECT *, LAG(state) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e),
            k AS (SELECT * FROM l WHERE prev IS NULL OR state != prev),
            v AS (SELECT user_id, state,
                         CAST(t_us AS BIGINT) AS valid_from_us,
                         CAST(COALESCE(LEAD(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id),
                                       253402214400000000) AS BIGINT) AS valid_to_us,
                         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) AS version
                  FROM k)
            SELECT user_id, state, valid_from_us, valid_to_us, version,
                   valid_to_us = 253402214400000000 AS is_current
            FROM v ORDER BY user_id, version
        """,
        "u4_snapshot_diff": f"""
            WITH b AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders),
            kept AS (
              SELECT * FROM b
              WHERE NOT ((({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4del")}) % 1000000 < 20000)
                         AND NOT (({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4upd")}) % 1000000 < 50000))),
            mut AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4upd")}) % 1000000 < 50000
                          THEN '5-LOW' ELSE o_orderpriority END AS o_orderpriority,
                     CASE WHEN ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4upd")}) % 1000000 < 50000
                          THEN {_dmicro('o_totalprice * 1.1')} ELSE o_totalprice END AS o_totalprice
              FROM kept),
            ins AS (
              SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus,
                     '9-NEW' AS o_orderpriority, {_dmicro('o_totalprice * 0.5')} AS o_totalprice
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4ins")}) % 1000000 < 10000),
            nw AS (SELECT * FROM mut UNION ALL SELECT * FROM ins),
            j AS (
              SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                     o.o_orderkey IS NOT NULL AS op, n.o_orderkey IS NOT NULL AS np,
                     (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) AS eq_status,
                     (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) AS eq_prio,
                     (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) AS eq_price
              FROM b o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey),
            st AS (
              SELECT CASE WHEN op AND NOT np THEN 'deleted'
                          WHEN np AND NOT op THEN 'inserted'
                          WHEN eq_status AND eq_prio AND eq_price THEN 'unchanged'
                          ELSE 'changed' END AS status,
                     (NOT eq_status) AS c_status, (NOT eq_prio) AS c_prio, (NOT eq_price) AS c_price,
                     op, np
              FROM j)
            SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(CASE WHEN status = 'changed' AND c_status THEN 1 ELSE 0 END) AS BIGINT) AS changed_o_orderstatus,
                   CAST(SUM(CASE WHEN status = 'changed' AND c_prio THEN 1 ELSE 0 END) AS BIGINT) AS changed_o_orderpriority,
                   CAST(SUM(CASE WHEN status = 'changed' AND c_price THEN 1 ELSE 0 END) AS BIGINT) AS changed_o_totalprice
            FROM st GROUP BY status ORDER BY status
        """,
        "u1_cdc_merge": f"""
            WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders),
            upd AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     '5-LOW' AS o_orderpriority, {_dmicro('o_totalprice * 1.1')} AS o_totalprice,
                     FALSE AS _del
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1upd")}) % 1000000 < 50000),
            del_ AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice, TRUE AS _del
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1del")}) % 1000000 < 20000
                AND NOT (({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1upd")}) % 1000000 < 50000)),
            ins AS (
              SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
                     '9-NEW' AS o_orderpriority, {_dmicro('o_totalprice * 0.5')} AS o_totalprice,
                     FALSE AS _del
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1ins")}) % 1000000 < 10000),
            u AS (SELECT * FROM upd UNION ALL SELECT * FROM del_ UNION ALL SELECT * FROM ins)
            SELECT * FROM b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
            FROM u WHERE NOT _del
        """,
        # Funnel replay: strict-after joins on the shrinking per-user reach
        # tables, timestamps as integer epoch-micros.
        "f11_funnel_counts": """
            WITH ev AS (SELECT user_id AS u, epoch_ns(ts) // 1000 AS ts_us, event_type AS et FROM events),
            s1 AS (SELECT u, MIN(ts_us) AS t FROM ev WHERE et = 'view' GROUP BY u),
            s2 AS (SELECT ev.u, MIN(ts_us) AS t FROM ev JOIN s1 ON ev.u = s1.u AND ev.ts_us > s1.t
                   WHERE et = 'click' GROUP BY ev.u),
            s3 AS (SELECT ev.u, MIN(ts_us) AS t FROM ev JOIN s2 ON ev.u = s2.u AND ev.ts_us > s2.t
                   WHERE et = 'purchase' GROUP BY ev.u)
            SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_no, (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
            UNION ALL
            SELECT 'click', CAST(2 AS BIGINT), (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
            UNION ALL
            SELECT 'purchase', CAST(3 AS BIGINT), (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
        """,
        # Sliding frame ordered by integer epoch-MICROS (epoch_ns // 1000),
        # not raw nanos: Spark frames rows at microsecond resolution, so the
        # oracle must collapse sub-microsecond distinctions the same way
        # before the (ts, event_id) tiebreak.
        # RANGE-frame replay: value-defined frames over the same integer
        # micros, inclusive bounds, peers included -- no tiebreak needed.
        "w5_trailing_window_rate": """
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER win AS BIGINT) AS trailing_n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE), 6) AS trailing_sum
            FROM events
            WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
                           RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        """,
        "w4_rolling_user_value": """
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER win AS BIGINT) AS rolling_n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE), 6) AS rolling_sum,
                   ROUND(MIN(value) OVER win, 6) AS rolling_min,
                   ROUND(MAX(value) OVER win, 6) AS rolling_max
            FROM events
            WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        # Triangle replay: identical degree-ordered orientation; the LEFT
        # JOIN marker counts wedges and closed wedges in one pass, like the
        # engine's single wedge-scan aggregate.
        "g11_degree_assortativity": """
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
                    FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
            ed AS (
              SELECT da.d AS ja, db.d AS jb
              FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
            s AS (
              SELECT CAST(COUNT(*) AS HUGEINT) AS m,
                     CAST(SUM(CAST(ja AS HUGEINT) * jb) AS HUGEINT) AS sjk,
                     CAST(SUM(CAST(ja AS HUGEINT) + jb) AS HUGEINT) AS s2,
                     CAST(SUM(CAST(ja AS HUGEINT) * ja + CAST(jb AS HUGEINT) * jb) AS HUGEINT) AS h2
              FROM ed)
            SELECT CAST(m AS BIGINT) AS n_edges,
                   CAST(sjk AS BIGINT) AS sum_jk,
                   CAST(s2 AS BIGINT) AS sum_j_plus_k,
                   CAST(h2 AS BIGINT) AS sum_j2_plus_k2,
                   CAST(CASE WHEN 2 * m * h2 - s2 * s2 = 0 THEN 0
                        ELSE FLOOR(1e6 * (CAST(4 * m * sjk - s2 * s2 AS DOUBLE)
                                          / CAST(2 * m * h2 - s2 * s2 AS DOUBLE))) END AS BIGINT) AS assortativity_micro,
                   (CAST(CASE WHEN 2 * m * h2 - s2 * s2 = 0 THEN 0
                        ELSE FLOOR(1e6 * (CAST(4 * m * sjk - s2 * s2 AS DOUBLE)
                                          / CAST(2 * m * h2 - s2 * s2 AS DOUBLE))) END AS BIGINT) / 1000000.0) AS assortativity
            FROM s
        """,
        "g10_clustering_coefficient": """
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
                    FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
            tri AS (
              SELECT e1.a AS a, e1.b AS b, e2.b AS c
              FROM e e1 JOIN e e2 ON e1.b = e2.a
                        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
            pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
                   FROM (SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri UNION ALL SELECT c AS v FROM tri)
                   GROUP BY v)
            SELECT pv.v, deg.d, pv.n_triangles,
                   CAST(FLOOR(2000000 * pv.n_triangles / (deg.d * (deg.d - 1))) AS BIGINT) AS coef_micro,
                   (CAST(FLOOR(2000000 * pv.n_triangles / (deg.d * (deg.d - 1))) AS BIGINT) / 1000000.0) AS clustering_coef
            FROM pv JOIN deg ON pv.v = deg.v
            WHERE deg.d >= 2
            ORDER BY pv.n_triangles DESC, pv.v LIMIT 20
        """,
        "g9_adamic_adar": """
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            adj AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e),
            w AS (SELECT v AS z, CAST(floor(1e6 / ln(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w_micro
                  FROM adj GROUP BY v HAVING COUNT(*) >= 2),
            seeds AS (SELECT DISTINCT l_partkey AS s FROM lineitem WHERE l_partkey % 1000 = 1),
            sadj AS (SELECT s.s, a.n AS z FROM adj a JOIN seeds s ON a.v = s.s),
            cand AS (SELECT sa.s, a2.n AS y, w.w_micro
                     FROM sadj sa JOIN adj a2 ON sa.z = a2.v JOIN w ON w.z = sa.z
                     WHERE a2.n != sa.s),
            sc AS (SELECT s, y, CAST(COUNT(*) AS BIGINT) AS n_common, CAST(SUM(w_micro) AS BIGINT) AS aa_micro
                   FROM cand GROUP BY s, y),
            nl AS (SELECT sc.* FROM sc LEFT JOIN adj ON adj.v = sc.s AND adj.n = sc.y WHERE adj.v IS NULL),
            rk AS (SELECT s, y, n_common, aa_micro,
                          CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY aa_micro DESC, y) AS BIGINT) AS rank
                   FROM nl)
            SELECT s AS src, y AS dst, rank, n_common, aa_micro, (CAST(aa_micro AS BIGINT) / 1000000.0) AS aa_score
            FROM rk WHERE rank <= 5 ORDER BY src, rank
        """,
        "g6_triangle_census": """
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
                    FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
            o AS (
              SELECT CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
                     CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.a < e.b) THEN e.b ELSE e.a END AS w
              FROM e JOIN deg d1 ON e.a = d1.v JOIN deg d2 ON e.b = d2.v),
            wedges AS (
              SELECT o1.w AS a, o2.w AS b FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.w < o2.w)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
                   CAST(COUNT(*) AS BIGINT) AS n_wedges,
                   CAST(COUNT(ec.a) AS BIGINT) AS n_triangles
            FROM wedges w LEFT JOIN e ec ON w.a = ec.a AND w.b = ec.b
        """,
        # Frame ordered by integer epoch-micros (not raw nanos): the engine
        # frames at microsecond resolution, so the oracle must collapse
        # sub-microsecond distinctions before the event_id tiebreak (same
        # hardening as w4).
        "w2_user_running_value": """
            SELECT event_id, user_id,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                       PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS running_value
            FROM events
        """,
        # datediff on DATE-truncated timestamps matches Spark's datediff
        # (timestamps here are date-valued; UTC pinned on both sides).
        "w3_order_lag_quartiles": """
            SELECT o_orderkey,
                   CAST(COALESCE(datediff('day',
                                 LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                                 CAST(o_orderdate AS DATE)), -1) AS BIGINT) AS days_since_prev,
                   CAST(NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_quartile
            FROM orders
        """,
        "sj_customers_with_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "aj_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "set_ops_custkeys": """
            SELECT c_custkey, 'intersect' AS set_op
            FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
            UNION ALL
            SELECT c_custkey, 'except' AS set_op
            FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        """,
        "g2_part_indegree_top20": """
            WITH d AS (SELECT l_partkey, COUNT(*) AS in_degree FROM lineitem GROUP BY l_partkey)
            SELECT p_partkey, p_name, in_degree FROM d JOIN part ON l_partkey = p_partkey
            ORDER BY in_degree DESC, p_partkey LIMIT 20
        """,
        "g3_part_indegree_distribution": """
            WITH d AS (SELECT l_partkey, COUNT(*) AS degree FROM lineitem GROUP BY l_partkey)
            SELECT degree, COUNT(*) AS num_keys FROM d GROUP BY degree
        """,
        "tpch_q18_big_orders": """
            WITH big AS (
              SELECT l_orderkey, (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) > 250.0)
            SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice, b.sum_qty
            FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
                       JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
        """,
        "tpch_q4_late_orders": """
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "tpch_q13_custdist": """
            WITH pc AS (
              SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
              FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey)
            SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
            FROM pc GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
        # t21: Simpson bigram diversity -- same lower(trim)+whitespace
        # tokenization as t8, bigrams from adjacent positions, md5 group
        # keys mirrored, ALL-integer quantization ((1e6*r) DIV (n*(n-1))).
        "t21_repetition_score": r"""
            WITH tk AS (SELECT doc_id,
                               list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
                        FROM documents),
            b AS (SELECT doc_id,
                         unnest(list_transform(generate_series(1, len(toks) - 1),
                                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
                  FROM tk WHERE len(toks) >= 2),
            c AS (SELECT doc_id, md5(bg) AS bh, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
            agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                           CAST(SUM(c * (c - 1)) AS BIGINT) AS n_repeats
                    FROM c GROUP BY doc_id),
            s AS (SELECT doc_id, n_bigrams, n_repeats,
                         CASE WHEN n_bigrams >= 2
                              THEN (1000000 * n_repeats) // (n_bigrams * (n_bigrams - 1))
                              ELSE 0 END AS rep_micro
                  FROM agg)
            SELECT doc_id, n_bigrams, n_repeats, CAST(rep_micro AS BIGINT) AS rep_micro,
                   (CAST(rep_micro AS BIGINT) / 1000000.0) AS rep_score
            FROM s ORDER BY rep_micro DESC, doc_id LIMIT 20
        """,
        "tpch_q6_forecast_revenue": """
            SELECT (CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        # q15: revenue ties compare as exact integer micros, so the
        # equality against the max cannot miss by a ulp.
        "tpch_q15_top_supplier": """
            WITH pr AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY l_suppkey),
            mx AS (SELECT MAX(rev_micro) AS mx FROM pr)
            SELECT s.s_suppkey, s.s_name, pr.rev_micro,
                   (CAST(pr.rev_micro AS BIGINT) / 1000000.0) AS total_revenue
            FROM pr, mx, supplier s
            WHERE pr.rev_micro = mx.mx AND pr.l_suppkey = s.s_suppkey
            ORDER BY s.s_suppkey
        """,
        # q17: threshold via cross-multiplied integer micros (5*qty*n < sum),
        # never a float 0.2*avg.
        "tpch_q17_small_qty_revenue": """
            WITH b AS (
              SELECT l.l_partkey, l.l_quantity, l.l_extendedprice,
                     CAST(CAST(l.l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty_micro
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_brand = 'Brand#1'),
            pp AS (
              SELECT l_partkey AS pk,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
                     CAST(COUNT(*) AS BIGINT) AS n_part
              FROM b GROUP BY l_partkey)
            SELECT (CAST(CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS small_qty_revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM b JOIN pp ON b.l_partkey = pp.pk
            WHERE b.qty_micro * 5 * pp.n_part < pp.sum_qty_micro
        """,
        # q22: above-positive-average balance via cross-multiplication;
        # no-order customers via anti join.
        "tpch_q22_idle_customers": """
            WITH st AS (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_micro,
                     CAST(COUNT(*) AS BIGINT) AS n_pos
              FROM customer WHERE c_acctbal > 0.0),
            idle AS (
              SELECT c.c_nationkey, c.c_acctbal
              FROM customer c, st
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
                AND CAST(CAST(c.c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) * st.n_pos > st.sum_micro)
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
                   (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS total_acctbal
            FROM idle GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        "tpch_q19_bracket_revenue": f"""
            SELECT {_dsum(_REV)} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
               OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
        """,
        # q2: derived supply relation (min extendedprice per part,supplier);
        # pure MIN -> exact double equality on the join-back.
        "tpch_q2_min_cost_supplier": """
            WITH asup AS (
              SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'ASIA'),
            pp AS (SELECT p_partkey FROM part WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20),
            supply AS (
              SELECT l.l_partkey, l.l_suppkey, MIN(l.l_extendedprice) AS cost
              FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey
              JOIN asup ON l.l_suppkey = asup.s_suppkey
              GROUP BY 1, 2),
            best AS (SELECT l_partkey, MIN(cost) AS best_cost FROM supply GROUP BY 1)
            SELECT a.s_acctbal, a.s_name, a.n_name, sp.l_partkey AS p_partkey, sp.cost
            FROM supply sp JOIN best b ON sp.l_partkey = b.l_partkey AND sp.cost = b.best_cost
            JOIN asup a ON sp.l_suppkey = a.s_suppkey
            ORDER BY a.s_acctbal DESC, a.n_name, a.s_name, p_partkey, sp.l_suppkey
            LIMIT 100
        """,
        # q8: year-grouped ppm share in HUGEINT floor division (the q14
        # overflow discipline).
        "tpch_q8_market_share": """
            WITH am AS (
              SELECT c.c_custkey FROM customer c
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'AMERICA')
            SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                   (CAST(CAST(SUM(CASE WHEN s.s_nationkey = 6
                                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS nation_revenue,
                   (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS total_revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST((1000000 * SUM(CASE WHEN s.s_nationkey = 6
                                            THEN CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
                                            ELSE CAST(0 AS HUGEINT) END))
                        // SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)) AS BIGINT) AS mkt_share_ppm
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN am ON o.o_custkey = am.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1 ORDER BY o_year
        """,
        # q9: profit terms cast DECIMAL(18,6) BEFORE subtraction; the double
        # products are single left-assoc IEEE expressions on both engines.
        "tpch_q9_product_profit": """
            SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                   (CAST(CAST(SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                                 - CAST(p.p_retailprice * 0.5 * l.l_quantity AS DECIMAL(18,6)) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_profit,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """,
        # q11: v > (3t) // (2n) is exactly 2*v*n > 3t for non-negative
        # int64 (3t = q*2n + r, 0<=r<2n: v>q <=> v>=q+1 <=> 2vn >= 2qn+2n
        # > 3t; v<=q <=> 2vn <= 2qn <= 3t) -- without the 1e22 overflow of
        # the literal cross-multiplication at sf1.
        "tpch_q11_important_parts": """
            WITH pv AS (
              SELECT l_partkey,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS value_micro
              FROM lineitem GROUP BY 1),
            t AS (SELECT SUM(value_micro) AS total_micro, CAST(COUNT(*) AS BIGINT) AS n_parts FROM pv)
            SELECT pv.l_partkey AS p_partkey, pv.value_micro,
                   (CAST(pv.value_micro AS BIGINT) / 1000000.0) AS value
            FROM pv, t WHERE pv.value_micro > (3 * t.total_micro) // (2 * t.n_parts)
            ORDER BY pv.value_micro DESC, p_partkey
            LIMIT 100
        """,
        # q12: all-integer latency bucketing (GREATEST clamp keeps // on
        # non-negative ints, where both engines truncate identically).
        "tpch_q12_latency_priority": """
            SELECT CAST(LEAST(GREATEST(datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)), 0) // 180, 4) AS BIGINT) AS latency_bucket,
                   CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
                   CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS other_lines
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1 ORDER BY latency_bucket
        """,
        # q16: NOT IN -> anti join on the derived distinct pair relation.
        "tpch_q16_supplier_count": """
            WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
            ok AS (
              SELECT * FROM pairs
              WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
            SELECT p.p_brand, p.p_type, p.p_size,
                   CAST(COUNT(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
            FROM ok JOIN part p ON ok.l_partkey = p.p_partkey
            WHERE p.p_brand != 'Brand#5'
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
            LIMIT 100
        """,
        # q20: half-share test cross-multiplies exact integer micros.
        "tpch_q20_excess_suppliers": """
            WITH red AS (
              SELECT l.l_partkey, l.l_suppkey, l.l_quantity
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_name LIKE 'red%'
                AND l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'),
            ps AS (
              SELECT l_partkey, l_suppkey,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS supp_qty_micro
              FROM red GROUP BY 1, 2),
            pt AS (
              SELECT l_partkey AS pk,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS part_qty_micro
              FROM red GROUP BY 1),
            ex AS (
              SELECT DISTINCT ps.l_suppkey
              FROM ps JOIN pt ON ps.l_partkey = pt.pk
              WHERE 2 * ps.supp_qty_micro > pt.part_qty_micro)
            SELECT s.s_suppkey, s.s_name, n.n_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
              AND s.s_suppkey IN (SELECT l_suppkey FROM ex)
            ORDER BY s.s_suppkey
        """,
        # q21: the exists/not-exists double correlation as one grouped pass
        # (conditional COUNT DISTINCT + conditional MAX).
        "tpch_q21_waiting_suppliers": """
            WITH po AS (
              SELECT l.l_orderkey,
                     COUNT(DISTINCT l.l_suppkey) AS n_supp,
                     COUNT(DISTINCT CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 730
                                         THEN l.l_suppkey END) AS n_late_supp,
                     MAX(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 730
                              THEN l.l_suppkey END) AS late_supp
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY 1)
            SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
            FROM po JOIN supplier s ON po.late_supp = s.s_suppkey
            WHERE po.n_supp >= 2 AND po.n_late_supp = 1
            GROUP BY 1, 2
            ORDER BY numwait DESC, s.s_name, s.s_suppkey
            LIMIT 100
        """,
        # a26: full mergeable-quantile replay -- md5 shards, per-shard
        # step-sampled weighted summaries, merged cumulative weights,
        # estimates, exact rank counts, and the merge-theorem bound check.
        "a26_quantile_merge_gate": f"""
            WITH t AS (
              SELECT CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
                     o_orderkey AS key,
                     ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "qmerge")}) % 32 AS shard
              FROM orders),
            per AS (SELECT shard, COUNT(*) AS ns, (COUNT(*) + 63) // 64 AS step
                    FROM t GROUP BY shard),
            r AS (SELECT t.shard, v, key, step, ns,
                         row_number() OVER (PARTITION BY t.shard ORDER BY v, key) AS rn
                  FROM t JOIN per ON t.shard = per.shard),
            smp AS (SELECT shard, v, rn, LEAST(step, ns - (rn - 1)) AS w
                    FROM r WHERE (rn - 1) % step = 0),
            cum AS (SELECT v, SUM(w) OVER (ORDER BY v, shard, rn) AS cw FROM smp),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
            bnd AS (SELECT CAST(SUM(step) AS BIGINT) AS rank_bound FROM per),
            qq AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm
                   FROM (VALUES (500000), (900000), (990000)) AS qv(q_ppm)),
            tgt AS (SELECT q_ppm, (q_ppm * n + 999999) // 1000000 AS target_rank, rank_bound
                    FROM qq, tot, bnd),
            est AS (SELECT q_ppm, target_rank, rank_bound, MIN(v) AS est_micro
                    FROM tgt JOIN cum ON cw >= target_rank
                    GROUP BY q_ppm, target_rank, rank_bound),
            rk AS (SELECT q_ppm, est_micro, target_rank, rank_bound,
                          CAST(SUM(CASE WHEN t.v < est_micro THEN 1 ELSE 0 END) AS BIGINT) AS r_lo,
                          CAST(SUM(CASE WHEN t.v <= est_micro THEN 1 ELSE 0 END) AS BIGINT) AS r_hi
                   FROM est, t GROUP BY q_ppm, est_micro, target_rank, rank_bound)
            SELECT q_ppm, est_micro, r_lo, r_hi,
                   CAST(target_rank AS BIGINT) AS target_rank, rank_bound,
                   CAST(CASE WHEN r_hi >= target_rank - rank_bound
                              AND r_lo <= target_rank - 1 + rank_bound
                             THEN 1 ELSE 0 END AS BIGINT) AS within_bound
            FROM rk ORDER BY q_ppm
        """,
        # a25: full sketch replay (md5 hashes) -- per-set KMV, union re-cut,
        # inclusion-exclusion intersection, exact reference.
        "a25_kmv_set_ops": f"""
            WITH h AS (
              SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS s,
                     {md5_int32_sql("CAST(o_custkey AS VARCHAR)", "kmvset")} AS hv
              FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
            d AS (SELECT DISTINCT s, hv FROM h),
            r AS (SELECT s, hv, row_number() OVER (PARTITION BY s ORDER BY hv) AS rn,
                         COUNT(*) OVER (PARTITION BY s) AS nd
                  FROM d),
            st AS (SELECT s, hv, rn, nd FROM r WHERE rn <= 64),
            est AS (SELECT s,
                           CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                                     THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                                     ELSE LEAST(nd, 64) END AS BIGINT) AS e
                    FROM st GROUP BY s, nd),
            ud AS (SELECT DISTINCT hv FROM st),
            ur AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn, COUNT(*) OVER () AS nd FROM ud),
            uest AS (SELECT CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                                      THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                                      ELSE LEAST(nd, 64) END AS BIGINT) AS e
                     FROM (SELECT hv, rn, nd FROM ur WHERE rn <= 64) GROUP BY nd),
            ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
                     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
                     INTERSECT
                     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'))
            SELECT a.e AS est_a, b.e AS est_b, u.e AS est_union,
                   CAST(GREATEST(0, a.e + b.e - u.e) AS BIGINT) AS est_inter,
                   ex.exact_inter
            FROM (SELECT e FROM est WHERE s = 'a') a,
                 (SELECT e FROM est WHERE s = 'b') b,
                 uest u, ex
        """,
        # dr1: sampled dedup-recall audit -- nested-WITH subqueries reuse
        # the d3 LSH replay and the exact-Jaccard CTE on the same
        # group-stable (first-token-hash) sample.
        "dr1_dedup_recall": f"""
            WITH lsh AS ({_minhash_lsh_oracle(max_bucket=2000, source=_DR1_SAMPLE_SQL)}),
            tru AS (
              WITH {_shingles_cte(None, source=_DR1_SAMPLE_SQL)}
              SELECT doc1, doc2 FROM jac WHERE jaccard >= 0.8),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tru),
            f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found FROM tru
                  WHERE EXISTS (SELECT 1 FROM lsh WHERE lsh.doc1 = tru.doc1 AND lsh.doc2 = tru.doc2))
            SELECT t.n_true, f.n_found,
                   CAST(CASE WHEN t.n_true = 0 THEN -1
                             ELSE (1000000 * f.n_found) // t.n_true END AS BIGINT) AS recall_ppm
            FROM t, f
        """,
        # se10: Spark's micro-batch watermark protocol replayed in SQL --
        # the watermark filtering batch i derives from batches <= i-2
        # (one-batch lag, empirically calibrated -- see q_se10 docstring);
        # drop when window end <= that; emit when end <= the final
        # watermark.
        "se10_stream_late_drop": f"""
            WITH b AS (SELECT event_id % 3 AS batch, event_type,
                              CAST(ts AS TIMESTAMP) AS ts, value FROM events),
            bm AS (SELECT batch, MAX(ts) AS mx FROM b GROUP BY batch),
            wm AS (SELECT batch,
                          MAX(mx) OVER (ORDER BY batch
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                          - INTERVAL 1 HOUR AS w
                   FROM bm),
            kept AS (
              SELECT b.event_type, b.ts, b.value
              FROM b JOIN wm ON b.batch = wm.batch
              WHERE wm.w IS NULL OR date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wm.w),
            fw AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM b)
            SELECT date_trunc('hour', kept.ts) AS hour, kept.event_type,
                   COUNT(*) AS num_events,
                   {_dsum("value")} AS sum_value
            FROM kept, fw
            WHERE date_trunc('hour', kept.ts) + INTERVAL 1 HOUR <= fw.w
            GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        # se9: batch twin of the stream-static join + complete-mode agg.
        "se9_stream_static_enrich": f"""
            SELECT COALESCE(c.c_mktsegment, '__none__') AS segment,
                   COUNT(*) AS n_events,
                   {_dsum('e.value')} AS sum_value
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1 ORDER BY segment
        """,
        # q14: decimal-exact sums; the ppm floor division runs in HUGEINT
        # (1e6 * micro-sum overflows int64 at sf0.1 -- scale-replay catch).
        "tpch_q14_promo_effect": """
            SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
                   (CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS promo_revenue,
                   (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS total_revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST((1000000 * SUM(CASE WHEN p.p_type = 'PROMO'
                                            THEN CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
                                            ELSE CAST(0 AS HUGEINT) END))
                        // SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)) AS BIGINT) AS promo_ppm
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1 ORDER BY ship_month
        """,
        # u6: full-table recompute; equality with the partition-selective
        # refresh is the maintenance proof (i1's idiom for replacement).
        # mm9: frame hashes recomputed from the generative text slices
        # (the mm7 oracle), then the d1 dedup shape on top.
        "mm9_frame_dedup": """
            WITH fr AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     md5(substring(text, CAST(12 * i + 1 AS BIGINT), 12)) AS frame_md5
              FROM documents,
                   unnest(generate_series(0, CAST(least(floor(strlen(text) / 12), 3) AS BIGINT) - 1)) AS t(i))
            SELECT frame_md5,
                   CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_videos,
                   CAST(COUNT(*) AS BIGINT) AS n_frames,
                   MIN(media_id) AS first_media
            FROM fr GROUP BY 1 HAVING COUNT(DISTINCT media_id) >= 2
            ORDER BY frame_md5
        """,
        # g13: generated unrolled peeling rounds (see _kcore_oracle_sql).
        "g13_kcore": _kcore_oracle_sql(G13_CORE_K, G13_CORE_ROUNDS),
        # g14: generated unrolled min-plus relaxation (see _g14_oracle_sql).
        "g14_weighted_paths": _g14_oracle_sql(G14_SEEDS, 3),
        # g15: generated unrolled exact-integer HITS rounds (see _hits_oracle).
        "g15_hits_top20": _hits_oracle(_PAGERANK_EDGES_SQL, rounds=3, quantum=1_000_000, k=20),
        "t23_dup_ngram_fraction": r"""
            WITH tk AS (SELECT source,
                               list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
                        FROM documents),
            g AS (SELECT source,
                         md5(unnest(list_transform(generate_series(1, len(toks) - 2),
                                                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gh
                  FROM tk WHERE len(toks) >= 3),
            c AS (SELECT source, gh, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
            s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_occurrences,
                         CAST(COUNT(*) AS BIGINT) AS n_distinct
                  FROM c GROUP BY source)
            SELECT source AS "group", n_occurrences, n_distinct,
                   (1000000 * (n_occurrences - n_distinct)) // n_occurrences AS dup_ppm
            FROM s ORDER BY "group"
        """,
        # e15: per-key generated spine (generate_series) + running
        # last-non-null; leading buckets are active by construction, so
        # carried_type is never NULL.
        "e15_gap_fill": """
            WITH h AS (
              SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS n, MAX(event_type) AS tt
              FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
            s AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM h GROUP BY 1),
            sp AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM s),
            f AS (SELECT sp.user_id, sp.bucket, h.n, h.tt
                  FROM sp LEFT JOIN h ON sp.user_id = h.user_id AND sp.bucket = h.bucket)
            SELECT user_id, CAST(bucket AS TIMESTAMP) AS hour,
                   CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
                   n IS NULL AS is_gap,
                   LAST_VALUE(tt IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_type
            FROM f ORDER BY user_id, hour
        """,
        # u7: the u3 history CTE + as-of interval join; intervals partition
        # each key's timeline so the LEFT join cannot duplicate facts.
        # u8: the survivor-fingerprint hash proves the purge removed exactly
        # the cascade closure (deleted customers -> their orders -> those
        # orders' lineitems) and nothing else.
        "u8_forget_cascade": f"""
            WITH del AS (
              SELECT c_custkey FROM customer
              WHERE ({md5_int32_sql("CAST(c_custkey AS VARCHAR)", "forget")}) % 1000 < 5),
            del_o AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del)),
            sc AS (SELECT {md5_int32_sql("CAST(c_custkey AS VARCHAR)", "u8fp")} AS h
                   FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM del)),
            so AS (SELECT {md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u8fp")} AS h
                   FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM del)),
            sl AS (SELECT {md5_int32_sql("concat(CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR))", "u8fp")} AS h
                   FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_o))
            SELECT tbl, n_before, CAST(n_before - n_after AS BIGINT) AS n_purged, n_after, survivor_fp
            FROM (
              SELECT 'customer' AS tbl,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_before,
                     CAST(COUNT(*) AS BIGINT) AS n_after,
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT) AS survivor_fp FROM sc
              UNION ALL
              SELECT 'orders',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
                     CAST(COUNT(*) AS BIGINT),
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT) FROM so
              UNION ALL
              SELECT 'lineitem',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                     CAST(COUNT(*) AS BIGINT),
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT) FROM sl)
            ORDER BY tbl
        """,
        "u7_pit_lookup": """
            WITH e AS (SELECT user_id, event_type AS state, epoch_ns(ts) // 1000 AS t_us, event_id
                       FROM events),
            l AS (SELECT *, LAG(state) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e),
            k AS (SELECT * FROM l WHERE prev IS NULL OR state != prev),
            v AS (SELECT user_id, state,
                         CAST(t_us AS BIGINT) AS valid_from_us,
                         CAST(COALESCE(LEAD(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id),
                                       253402214400000000) AS BIGINT) AS valid_to_us,
                         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) AS version
                  FROM k)
            SELECT o.o_orderkey,
                   COALESCE(v.state, '__none__') AS state,
                   CAST(COALESCE(v.version, -1) AS BIGINT) AS version
            FROM orders o LEFT JOIN v
              ON o.o_custkey = v.user_id
             AND epoch_ns(o.o_orderdate) // 1000 >= v.valid_from_us
             AND epoch_ns(o.o_orderdate) // 1000 < v.valid_to_us
            ORDER BY o.o_orderkey
        """,
        "u6_partition_refresh": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
                   MIN(value) AS min_v,
                   MAX(value) AS max_v
            FROM events GROUP BY 1 ORDER BY day
        """,
        # m5: full stump-training replay -- literal grid, exact counts,
        # min(pos,neg) leaf errors, deterministic argmin.
        "m5_decision_stump": f"""
            WITH lab AS (
              SELECT o_totalprice, CAST(o_custkey AS DOUBLE) AS o_custkey_d,
                     CAST(CAST(o_totalprice > 150000 AS BIGINT)
                          != CAST(({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "m5")}) % 20 = 0 AS BIGINT) AS BIGINT) AS y
              FROM orders),
            grid AS (SELECT 'o_totalprice' AS feature, unnest([{", ".join(str(t) for t in M5_PRICE_GRID)}]) AS threshold
                     UNION ALL
                     SELECT 'o_custkey_d', unnest([{", ".join(str(t) for t in M5_CUST_GRID)}])),
            sc AS (SELECT g.feature, g.threshold, lab.y,
                          (CASE WHEN g.feature = 'o_totalprice' THEN lab.o_totalprice
                                ELSE lab.o_custkey_d END) >= g.threshold AS r
                   FROM lab, grid g),
            agg AS (SELECT feature, threshold, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN NOT r AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lpos,
                           CAST(SUM(CASE WHEN NOT r AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lneg,
                           CAST(SUM(CASE WHEN r AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rpos,
                           CAST(SUM(CASE WHEN r AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rneg
                    FROM sc GROUP BY 1, 2)
            SELECT feature, threshold, n,
                   CAST(LEAST(lpos, lneg) + LEAST(rpos, rneg) AS BIGINT) AS errors,
                   CAST((1000000 * (n - (LEAST(lpos, lneg) + LEAST(rpos, rneg)))) // n AS BIGINT) AS acc_ppm
            FROM agg ORDER BY errors, feature, threshold LIMIT 1
        """,
        # m6: tie-corrected Mann-Whitney AUC -- the oracle may use a global
        # window (it's DuckDB); the ENGINE side is the distributed prefix
        # sum.  HUGEINT for the ppm step (the q14 recipe).
        "m6_auc_gate": f"""
            WITH f AS (
              SELECT o_totalprice AS s,
                     CAST(CAST(o_totalprice > 150000 AS BIGINT)
                          != CAST(({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "m5")}) % 20 = 0 AS BIGINT) AS BIGINT) AS y
              FROM orders),
            ps AS (SELECT s, CAST(SUM(y) AS BIGINT) AS npos,
                          CAST(COUNT(*) - SUM(y) AS BIGINT) AS nneg
                   FROM f GROUP BY s),
            c AS (SELECT npos, nneg,
                         CAST(COALESCE(SUM(nneg) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cnb
                  FROM ps),
            t AS (SELECT CAST(SUM(npos * (2 * cnb + nneg)) AS BIGINT) AS num2,
                         CAST(SUM(npos) AS BIGINT) AS n_pos,
                         CAST(SUM(nneg) AS BIGINT) AS n_neg
                  FROM c)
            SELECT CAST(n_pos + n_neg AS BIGINT) AS n, n_pos, n_neg, num2,
                   CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT)
                        ELSE CAST((CAST(1000000 AS HUGEINT) * num2) // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) END AS auc_ppm
            FROM t
        """,
        # e17: integer epoch-hours from nanos (// 1000 // 3600e6, the e2
        # micros-normalization), inner 24h self-alignment, int64 WAPE.
        "e17_seasonal_backtest": """
            WITH c AS (
              SELECT event_type AS grp, (epoch_ns(ts) // 1000) // 3600000000 AS h,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
            s AS (
              SELECT a.grp, a.n, f.n AS fc
              FROM c a JOIN c f ON a.grp = f.grp AND a.h = f.h + 24)
            SELECT grp AS event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(SUM(n) AS BIGINT) AS total_actual,
                   CAST(SUM(ABS(n - fc)) AS BIGINT) AS total_abs_err,
                   (1000000 * CAST(SUM(ABS(n - fc)) AS BIGINT)) // CAST(SUM(n) AS BIGINT) AS wape_ppm
            FROM s GROUP BY grp ORDER BY event_type
        """,
        # e18: dense integer-hour spine, denominator-cleared deviations
        # (d = nh*x - s, exact int64), HUGEINT cross-product sums, signed
        # ppm division truncated toward zero (twin of the Python big-int
        # driver-side ratio in timeseries.acf_ppm).
        "e18_acf_gate": f"""
            WITH hourly AS (
              SELECT (epoch_ns(ts) // 1000) // 3600000000 AS h,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1),
            bounds AS (
              SELECT MIN(h) AS h0, MAX(h) AS h1,
                     CAST(SUM(x) AS BIGINT) AS s,
                     CAST(MAX(h) - MIN(h) + 1 AS BIGINT) AS nh
              FROM hourly),
            spine AS (
              SELECT unnest(generate_series(h0, h1)) AS h FROM bounds),
            dev AS (
              SELECT spine.h,
                     (SELECT nh FROM bounds) * COALESCE(hourly.x, 0) - (SELECT s FROM bounds) AS d
              FROM spine LEFT JOIN hourly USING (h)),
            den AS (SELECT GREATEST(SUM(CAST(d AS HUGEINT) * d), 1) AS dd FROM dev),
            lags AS (SELECT unnest([{", ".join(str(l) for l in E18_LAGS)}]) AS lag),
            num AS (
              SELECT lags.lag,
                     SUM(CAST(a.d AS HUGEINT) * b.d) AS nm,
                     CAST(COUNT(*) AS BIGINT) AS n_pairs
              FROM lags CROSS JOIN dev a JOIN dev b ON b.h = a.h + lags.lag
              GROUP BY lags.lag)
            SELECT CAST(num.lag AS BIGINT) AS lag, num.n_pairs,
                   (SELECT nh FROM bounds) AS n_hours,
                   CAST(CASE WHEN num.nm < 0
                             THEN -((1000000 * (-num.nm)) // den.dd)
                             ELSE (1000000 * num.nm) // den.dd END AS BIGINT) AS acf_ppm
            FROM num, den ORDER BY lag
        """,
        # m8: the t8 floor(ln*1e6) quantization on every log term makes
        # (doc,label) scores exact int64; argmax ties break by label asc.
        "m8_naive_bayes_confusion": r"""
            WITH tr AS (SELECT doc_id, lang AS y, text FROM documents WHERE doc_id % 5 != 0),
            te AS (SELECT doc_id, lang AS true_label, text FROM documents WHERE doc_id % 5 = 0),
            trtok AS (SELECT y, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                      FROM tr),
            tf AS (SELECT y, token, CAST(COUNT(*) AS BIGINT) AS c FROM trtok GROUP BY 1, 2),
            ny AS (SELECT y, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
            v AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS nv FROM tf),
            dt AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM tr),
            prior AS (
              SELECT pc.y,
                     CAST(floor(ln(CAST(pc.cnt AS DOUBLE) / CAST(dt.d AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro,
                     CAST(floor(ln(1.0 / CAST(ny.n + v.nv AS DOUBLE)) * 1e6) AS BIGINT) AS default_micro
              FROM (SELECT y, COUNT(*) AS cnt FROM tr GROUP BY y) pc
              JOIN ny ON ny.y = pc.y CROSS JOIN dt CROSS JOIN v),
            lp AS (
              SELECT tf.y, tf.token,
                     CAST(floor(ln(CAST(tf.c + 1 AS DOUBLE) / CAST(ny.n + v.nv AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
              FROM tf JOIN ny ON ny.y = tf.y CROSS JOIN v),
            tetok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                      FROM te),
            tetf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tetok GROUP BY 1, 2),
            ts AS (
              SELECT tetf.doc_id, p.y,
                     CAST(SUM(tetf.tf * COALESCE(lp.lp_micro, p.default_micro)) AS BIGINT) AS s
              FROM tetf CROSS JOIN prior p
              LEFT JOIN lp ON lp.y = p.y AND lp.token = tetf.token
              GROUP BY 1, 2),
            sc AS (
              SELECT te.doc_id, te.true_label, p.y,
                     p.prior_micro + COALESCE(ts.s, 0) AS score
              FROM te CROSS JOIN prior p
              LEFT JOIN ts ON ts.doc_id = te.doc_id AND ts.y = p.y),
            pred AS (
              SELECT doc_id, true_label, y,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, y ASC) AS rk
              FROM sc)
            SELECT true_label, y AS pred_label, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # m7: the stump-shape grid evaluation as an eval curve; integer ppm
        # with -1 sentinels on empty denominators.
        "m7_pr_curve": f"""
            WITH lab AS (
              SELECT o_totalprice AS s,
                     CAST(CAST(o_totalprice > 150000 AS BIGINT)
                          != CAST(({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "m5")}) % 20 = 0 AS BIGINT) AS BIGINT) AS y
              FROM orders),
            grid AS (SELECT unnest([{", ".join(str(t) for t in M7_THRESHOLDS)}]) AS threshold),
            agg AS (SELECT g.threshold,
                           CAST(SUM(CASE WHEN lab.s >= g.threshold AND lab.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                           CAST(SUM(CASE WHEN lab.s >= g.threshold AND lab.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                           CAST(SUM(CASE WHEN lab.s < g.threshold AND lab.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
                    FROM lab, grid g GROUP BY g.threshold)
            SELECT threshold, CAST(tp + fp AS BIGINT) AS n_pred_pos, tp, fp, fn,
                   CASE WHEN tp + fp = 0 THEN CAST(-1 AS BIGINT) ELSE (1000000 * tp) // (tp + fp) END AS precision_ppm,
                   CASE WHEN tp + fn = 0 THEN CAST(-1 AS BIGINT) ELSE (1000000 * tp) // (tp + fn) END AS recall_ppm,
                   CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(-1 AS BIGINT) ELSE (1000000 * 2 * tp) // (2 * tp + fp + fn) END AS f1_ppm
            FROM agg ORDER BY threshold
        """,
        "w7_value_windows": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(first_value(o_orderkey) OVER w AS BIGINT) AS cheapest_key,
                   CAST(last_value(o_orderkey) OVER w AS BIGINT) AS priciest_key,
                   CAST(nth_value(o_orderkey, 2) OVER w AS BIGINT) AS second_cheapest_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_orderkey
        """,
        # i3: the full-table recompute -- equality with the merged
        # incremental state IS the KMV mergeability proof (same body as
        # se8's oracle minus the streaming drive).
        "i3_incremental_kmv": f"""
            WITH h AS (
              SELECT date_trunc('hour', ts) AS hour,
                     {md5_int32_sql("CAST(user_id AS VARCHAR)", "kmv")} AS hv
              FROM events),
            d AS (SELECT DISTINCT hour, hv FROM h),
            r AS (SELECT hour, hv,
                         row_number() OVER (PARTITION BY hour ORDER BY hv) AS rn,
                         COUNT(*) OVER (PARTITION BY hour) AS nd
                  FROM d)
            SELECT hour,
                   CAST(LEAST(nd, 64) AS BIGINT) AS n_tracked,
                   CAST(MAX(CASE WHEN rn = LEAST(nd, 64) THEN hv END) AS BIGINT) AS kth_min,
                   CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                             THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                             ELSE LEAST(nd, 64) END AS BIGINT) AS est_distinct
            FROM r GROUP BY hour, nd ORDER BY hour
        """,
        # q3/q5: revenue materializes via exact integer micros (the _dsum
        # recipe inlined because the ORDER BY reuses the micros column);
        # ties on the rounded double are broken by key, so the top-10 cut
        # and nation ordering are total orders in both engines.
        "tpch_q3_shipping_priority": """
            WITH a AS (
              SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                     CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment = 'BUILDING'
                AND o.o_orderdate < TIMESTAMP '1998-06-01'
                AND l.l_shipdate > TIMESTAMP '1998-06-01'
              GROUP BY 1, 2, 3)
            SELECT l_orderkey, CAST(rev_micro AS DOUBLE) / 1000000 AS revenue,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
                   o_orderpriority
            FROM a ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "tpch_q5_local_supplier_volume": """
            WITH a AS (
              SELECT n.n_name,
                     CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro,
                     CAST(COUNT(*) AS BIGINT) AS n_lines
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN customer c ON o.o_custkey = c.c_custkey
                             AND c.c_nationkey = s.s_nationkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'ASIA'
                AND o.o_orderdate >= TIMESTAMP '1997-01-01'
                AND o.o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY 1)
            SELECT n_name, CAST(rev_micro AS DOUBLE) / 1000000 AS revenue, n_lines
            FROM a ORDER BY revenue DESC, n_name
        """,
        "tpch_q7_nation_volume": f"""
            WITH j AS (
              SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                     CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
                     l.l_extendedprice, l.l_discount
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation sn ON s.s_nationkey = sn.n_nationkey
              JOIN nation cn ON c.c_nationkey = cn.n_nationkey
              WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                 OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
            SELECT supp_nation, cust_nation, l_year,
                   {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM j GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year
        """,
        "tpch_q10_returned_items": f"""
            WITH pc AS (
              SELECT o.o_custkey, {_dsum_round(_REV, 4)} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_returnflag = 'R' GROUP BY o.o_custkey)
            SELECT c.c_custkey, c.c_name, c.c_mktsegment,
                   pc.revenue, pc.n_lines
            FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
            ORDER BY pc.revenue DESC, c.c_custkey LIMIT 20
        """,
        # t22: same lower(trim)+whitespace tokenization and adjacent-pair
        # bigrams as t21; novelty = anti-join on md5 keys, integer ppm.
        "t22_bigram_novelty": r"""
            WITH tk AS (SELECT doc_id, source,
                               list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
                        FROM documents),
            cb AS (SELECT doc_id, source,
                          md5(unnest(list_transform(generate_series(1, len(toks) - 1),
                                                    i -> toks[i] || ' ' || toks[i + 1]))) AS bh
                   FROM tk WHERE doc_id % 7 != 0 AND len(toks) >= 2),
            rf AS (SELECT DISTINCT md5(unnest(list_transform(generate_series(1, len(toks) - 1),
                                                             i -> toks[i] || ' ' || toks[i + 1]))) AS bh
                   FROM tk WHERE doc_id % 7 = 0 AND len(toks) >= 2),
            nov AS (SELECT cb.source, COUNT(*) AS n_novel
                    FROM cb LEFT JOIN rf ON cb.bh = rf.bh WHERE rf.bh IS NULL GROUP BY cb.source),
            tot AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                           CAST(COUNT(*) AS BIGINT) AS n_bigrams
                    FROM cb GROUP BY source)
            SELECT tot.source AS "group", tot.n_docs, tot.n_bigrams,
                   CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel,
                   (1000000 * CAST(COALESCE(nov.n_novel, 0) AS BIGINT)) // tot.n_bigrams AS novelty_ppm
            FROM tot LEFT JOIN nov ON tot.source = nov.source
            ORDER BY "group"
        """,
        # l5: zones are data-derived rank ranges, so plain row_number
        # replays them; two layouts, one probe.
        # l6: values from the raw tables (bucketed write+read must lose
        # nothing); the two plan-gate bits are literal 1s -- Spark computes
        # them from the executed plans (shuffle-free bucketed join, >= 2
        # Exchanges in the unbucketed control).
        "l6_bucketed_join": """
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_totalprice,
                   CAST(1 AS BIGINT) AS bucketed_shuffle_free,
                   CAST(1 AS BIGINT) AS unbucketed_has_shuffle
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        # l7: values from the raw table; the two plan-gate bits are literal
        # 1s -- Spark computes them from the pruned scan's executed plan.
        "l7_partition_pruning": """
            SELECT o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_totalprice,
                   CAST(1 AS BIGINT) AS partition_pruned,
                   CAST(1 AS BIGINT) AS partition_col_not_in_files
            FROM orders WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "l5_zonemap_skip_report": """
            WITH r1 AS (SELECT o_custkey AS p,
                               row_number() OVER (ORDER BY o_custkey, o_custkey) - 1 AS rn
                        FROM orders),
            z1 AS (SELECT rn // 200 AS z, MIN(p) AS zmin, MAX(p) AS zmax, COUNT(*) AS zn FROM r1 GROUP BY 1),
            s1 AS (SELECT 'custkey_sorted' AS layout,
                          CAST(SUM(zn) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_zones,
                          CAST(SUM(CASE WHEN zmax >= 100 AND zmin <= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_hit,
                          CAST(SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_skipped,
                          (1000000 * SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END)) // COUNT(*) AS skip_ppm
                   FROM z1),
            r2 AS (SELECT o_custkey AS p,
                          row_number() OVER (ORDER BY epoch_us(o_orderdate), o_custkey) - 1 AS rn
                   FROM orders),
            z2 AS (SELECT rn // 200 AS z, MIN(p) AS zmin, MAX(p) AS zmax, COUNT(*) AS zn FROM r2 GROUP BY 1),
            s2 AS (SELECT 'date_sorted' AS layout,
                          CAST(SUM(zn) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_zones,
                          CAST(SUM(CASE WHEN zmax >= 100 AND zmin <= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_hit,
                          CAST(SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_skipped,
                          (1000000 * SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END)) // COUNT(*) AS skip_ppm
                   FROM z2)
            SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY layout
        """,
        # g12: capped bipartite projection -- list positions i < j expand
        # each within-cap group's sorted distinct items to ordered pairs.
        "g12_copurchase_capped": """
            WITH g AS (
              SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS items
              FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_orderkey),
            f AS (SELECT items FROM g WHERE len(items) BETWEEN 2 AND 8)
            SELECT DISTINCT items[i.i] AS src, items[j.j] AS dst
            FROM f,
                 unnest(generate_series(1, len(items))) AS i(i),
                 unnest(generate_series(1, len(items))) AS j(j)
            WHERE i.i < j.j
            ORDER BY src, dst
        """,
        # se8: KMV's final state is a pure function of the hash SET, so the
        # sketch's estimate replays exactly: k-th smallest distinct hash per
        # hour, integer (k-1)*2^32 DIV kth when full, exact count otherwise.
        "se8_stream_kmv_distinct": f"""
            WITH h AS (
              SELECT date_trunc('hour', ts) AS hour,
                     {md5_int32_sql("CAST(user_id AS VARCHAR)", "kmv")} AS hv
              FROM events),
            d AS (SELECT DISTINCT hour, hv FROM h),
            r AS (SELECT hour, hv,
                         row_number() OVER (PARTITION BY hour ORDER BY hv) AS rn,
                         COUNT(*) OVER (PARTITION BY hour) AS nd
                  FROM d)
            SELECT hour,
                   CAST(LEAST(nd, 64) AS BIGINT) AS n_tracked,
                   CAST(MAX(CASE WHEN rn = LEAST(nd, 64) THEN hv END) AS BIGINT) AS kth_min,
                   CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                             THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                             ELSE LEAST(nd, 64) END AS BIGINT) AS est_distinct
            FROM r GROUP BY hour, nd ORDER BY hour
        """,
        # dq4: per-column profile pairs; each snapshot is one aggregate.
        # dq5: first-violated-rule routing, same suite order as the engine.
        "dq5_quarantine": """
            SELECT doc_id,
                   CASE WHEN n_chars < 80 THEN 'too_short'
                        WHEN n_chars > 500 THEN 'too_long'
                        WHEN lang IS NULL OR lang NOT IN ('en','de','fr','es') THEN 'bad_lang'
                        ELSE 'ok' END AS quarantine_reason,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM documents
            WHERE n_chars < 80 OR n_chars > 500
               OR lang IS NULL OR lang NOT IN ('en','de','fr','es')
            ORDER BY doc_id
        """,
        "dq4_profile_drift": """
            WITH o AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS old_rows,
                     CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS on1,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS od1,
                     CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS on2,
                     CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS od2,
                     CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS on3,
                     CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS od3,
                     CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS on4,
                     CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS od4
              FROM orders WHERE o_orderkey % 10 != 0),
            n AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS new_rows,
                     CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS nn1,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd1,
                     CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS nn2,
                     CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd2,
                     CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS nn3,
                     CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
                     CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS nn4,
                     CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd4
              FROM orders),
            m AS (
              SELECT * FROM (VALUES
                ('o_custkey', 1), ('o_totalprice', 2), ('o_orderstatus', 3), ('o_orderpriority', 4)
              ) AS v(col, i))
            SELECT m.col AS "column", o.old_rows, n.new_rows,
                   CASE m.i WHEN 1 THEN o.on1 WHEN 2 THEN o.on2 WHEN 3 THEN o.on3 ELSE o.on4 END AS old_nulls,
                   CASE m.i WHEN 1 THEN n.nn1 WHEN 2 THEN n.nn2 WHEN 3 THEN n.nn3 ELSE n.nn4 END AS new_nulls,
                   (1000000 * CASE m.i WHEN 1 THEN o.on1 WHEN 2 THEN o.on2 WHEN 3 THEN o.on3 ELSE o.on4 END) // o.old_rows AS old_null_ppm,
                   (1000000 * CASE m.i WHEN 1 THEN n.nn1 WHEN 2 THEN n.nn2 WHEN 3 THEN n.nn3 ELSE n.nn4 END) // n.new_rows AS new_null_ppm,
                   CASE m.i WHEN 1 THEN o.od1 WHEN 2 THEN o.od2 WHEN 3 THEN o.od3 ELSE o.od4 END AS old_distinct,
                   CASE m.i WHEN 1 THEN n.nd1 WHEN 2 THEN n.nd2 WHEN 3 THEN n.nd3 ELSE n.nd4 END AS new_distinct,
                   CASE m.i WHEN 1 THEN n.nd1 - o.od1 WHEN 2 THEN n.nd2 - o.od2
                            WHEN 3 THEN n.nd3 - o.od3 ELSE n.nd4 - o.od4 END AS distinct_delta
            FROM m, o, n ORDER BY "column"
        """,
        # em6: the entire SQ8 pipeline is integer micros; DuckDB replays
        # calibration, code, midpoint reconstruction, and error exactly.
        "em6_scalar_quantization": """
            WITH pos AS (
              SELECT t.i - 1 AS dim,
                     CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x_m
              FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
            calib AS (SELECT dim, MIN(x_m) AS min_m, MAX(x_m) AS max_m FROM pos GROUP BY dim),
            s AS (
              SELECT p.dim, p.x_m, c.min_m, c.max_m,
                     ((p.x_m - c.min_m) * 256) // (c.max_m - c.min_m + 1) AS code
              FROM pos p JOIN calib c USING (dim)),
            e AS (
              SELECT dim, min_m, max_m,
                     ABS(x_m - (min_m + ((2 * code + 1) * (max_m - min_m + 1)) // 512)) AS err
              FROM s)
            SELECT dim, CAST(MIN(min_m) AS BIGINT) AS min_m, CAST(MAX(max_m) AS BIGINT) AS max_m,
                   CAST(COUNT(*) AS BIGINT) AS n_vectors,
                   CAST(MAX(err) AS BIGINT) AS max_err_m,
                   CAST(SUM(err) AS BIGINT) AS sum_err_m,
                   CAST(MAX(err) <= (MAX(max_m) - MIN(min_m) + 1) // 512 + 1 AS BIGINT) AS within_bound
            FROM e GROUP BY dim ORDER BY dim
        """,
        # e14: lateness vs the per-user running max over ARRIVAL order
        # (event_id); exact integer micros, window frame excludes self.
        "e14_out_of_order_audit": """
            WITH l AS (
              SELECT event_type,
                     GREATEST(0, COALESCE(MAX(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), epoch_us(ts))
                       - epoch_us(ts)) AS late_us
              FROM events)
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                   CAST(MAX(late_us) AS BIGINT) AS max_late_us,
                   CAST(SUM(late_us) AS BIGINT) AS total_late_us
            FROM l GROUP BY event_type ORDER BY event_type
        """,
        "e13_traffic_matrix": f"""
            WITH c AS (
              SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                     CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
                     CAST(COUNT(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1, 2),
            t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
            SELECT dow, hour, n_events, {_dratio('n_events', 't.total')} AS share
            FROM c, t ORDER BY dow, hour
        """,
        "e11_hourly_anomaly": """
            WITH h AS (
              SELECT event_type, date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1, 2),
            t AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS h_cnt,
                     CAST(SUM(n_events) AS BIGINT) AS s1,
                     CAST(SUM(n_events * n_events) AS BIGINT) AS s2
              FROM h GROUP BY 1),
            z AS (
              SELECT h.event_type, h.hour, h.n_events,
                     CASE WHEN t.h_cnt * t.s2 - t.s1 * t.s1 > 0
                          THEN CAST(floor(CAST(h.n_events * t.h_cnt - t.s1 AS DOUBLE) * 1e6
                                          / sqrt(CAST(t.h_cnt * t.s2 - t.s1 * t.s1 AS DOUBLE))) AS BIGINT)
                          ELSE 0 END AS z_micro
              FROM h JOIN t USING (event_type))
            SELECT event_type, hour, n_events, z_micro, (CAST(z_micro AS DOUBLE) / 1000000.0) AS z
            FROM z ORDER BY abs(z_micro) DESC, event_type, hour LIMIT 20
        """,
        "e12_rfm_segments": """
            WITH rfm AS (
              SELECT o_custkey,
                     ((SELECT MAX(epoch_us(o_orderdate)) FROM orders) - MAX(epoch_us(o_orderdate))) // 86400000000 AS rec_days,
                     CAST(COUNT(*) AS BIGINT) AS frequency,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS mon_micros
              FROM orders GROUP BY o_custkey),
            q AS (
              SELECT quantile_cont(rec_days, 0.25) AS r1, quantile_cont(rec_days, 0.5) AS r2, quantile_cont(rec_days, 0.75) AS r3,
                     quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2, quantile_cont(frequency, 0.75) AS f3,
                     quantile_cont(mon_micros, 0.25) AS m1, quantile_cont(mon_micros, 0.5) AS m2, quantile_cont(mon_micros, 0.75) AS m3
              FROM rfm),
            s AS (
              SELECT CAST(5 - (1 + CASE WHEN rec_days > q.r1 THEN 1 ELSE 0 END
                                 + CASE WHEN rec_days > q.r2 THEN 1 ELSE 0 END
                                 + CASE WHEN rec_days > q.r3 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
                     CAST(1 + CASE WHEN frequency > q.f1 THEN 1 ELSE 0 END
                            + CASE WHEN frequency > q.f2 THEN 1 ELSE 0 END
                            + CASE WHEN frequency > q.f3 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
                     CAST(1 + CASE WHEN mon_micros > q.m1 THEN 1 ELSE 0 END
                            + CASE WHEN mon_micros > q.m2 THEN 1 ELSE 0 END
                            + CASE WHEN mon_micros > q.m3 THEN 1 ELSE 0 END AS BIGINT) AS m_score,
                     mon_micros
              FROM rfm, q)
            SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment,
                   r_score, f_score, m_score,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   (CAST(CAST(SUM(mon_micros) AS BIGINT) AS DOUBLE) / 1000000) AS monetary_total
            FROM s GROUP BY 1, 2, 3, 4 ORDER BY segment
        """,
        "dq3_fact_reconciliation": """
            WITH d AS (
              SELECT l_orderkey AS k,
                     CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1e6) AS BIGINT)) AS BIGINT) AS detail_micros
              FROM lineitem GROUP BY l_orderkey),
            h AS (SELECT o_orderkey AS k, CAST(FLOOR(o_totalprice * 1e6) AS BIGINT) AS head_micros FROM orders),
            j AS (SELECT h.k, h.head_micros, COALESCE(d.detail_micros, 0) AS detail_micros
                  FROM h LEFT JOIN d USING (k))
            SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CASE WHEN ABS(head_micros - detail_micros) <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
                   CAST(SUM(CASE WHEN ABS(head_micros - detail_micros) > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
                   CAST(SUM(ABS(head_micros - detail_micros)) AS BIGINT) AS total_drift_micros
            FROM j
        """,
        "w6_percentile_scores": f"""
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   {_dmicro('PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)')} AS pct_rank,
                   {_dmicro('CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)')} AS cume
            FROM orders ORDER BY o_orderkey
        """,
        # e16: COUNT(DISTINCT) OVER via the first-occurrence rewrite.
        "e16_cumulative_uniques": """
            WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
            p AS (SELECT date_trunc('hour', first_ts) AS hour,
                         CAST(COUNT(*) AS BIGINT) AS new_users
                  FROM f GROUP BY 1)
            SELECT hour, new_users,
                   CAST(SUM(new_users) OVER (ORDER BY hour
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
            FROM p ORDER BY hour
        """,
        "e1_events_hourly": f"""
            SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS num_events,
                   {_dsum('value')} AS sum_value, {_davg('value')} AS avg_value
            FROM events GROUP BY 1, 2
        """,
        # Gap compares integer MICROSECONDS on both sides (engine:
        # unix_micros; here: nanos floor-divided to micros, matching the
        # engine's nanos->us normalization in io.load_events) -- second-level
        # epoch() rounds vs truncates differently across engines.
        "e2_sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_ts
              FROM events),
            s AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                               OR ((epoch_ns(ts) // 1000)
                                   - (epoch_ns(prev_ts) // 1000)) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM g)
            SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "e4_json_props_stats": f"""
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   {_davg("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS avg_k,
                   CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # As-of oracle: same merge-union + running-last shape, with ts
        # truncated to MICROSECONDS to match the engine's nanos->us events
        # normalization (io.load_events) -- ordering must agree exactly.
        "e3_asof_attribution": """
            WITH u AS (
              SELECT event_id, user_id, (epoch_ns(ts) // 1000) AS tsu,
                     1 AS side, CAST(NULL AS BIGINT) AS r_event_id, CAST(NULL AS DOUBLE) AS r_value
              FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT event_id, user_id, (epoch_ns(ts) // 1000),
                     0, event_id, value
              FROM events WHERE event_type = 'view'
            ),
            w AS (
              SELECT event_id, user_id, side,
                     last_value(r_event_id IGNORE NULLS) OVER win AS prior_view_id,
                     last_value(r_value IGNORE NULLS) OVER win AS prior_view_value
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY tsu, side, event_id ROWS UNBOUNDED PRECEDING)
            )
            SELECT event_id, user_id,
                   COALESCE(prior_view_id, -1) AS prior_view_id,
                   COALESCE(prior_view_value, -1.0) AS prior_view_value
            FROM w WHERE side = 1
        """,
        "d1_exact_dups": r"""
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups,
                   array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY CAST(doc_id AS VARCHAR)), ',') AS dup_ids_csv
            FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k FROM documents)
            GROUP BY k
        """,
        "d2_ngram_jaccard_pairs": f"WITH {_shingles_cte(dedup.DEFAULT_MAX_DF)} SELECT doc1, doc2, jaccard FROM jac WHERE jaccard >= 0.8",
        "d13_edit_distance_pairs": r"""
            WITH nrm AS (
              SELECT doc_id,
                     substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 16) AS blk,
                     substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 64) AS head
              FROM documents
              WHERE length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) >= 16),
            g AS (SELECT blk FROM nrm GROUP BY blk HAVING COUNT(*) BETWEEN 2 AND 64),
            p AS (
              SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                     CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_distance
              FROM nrm a JOIN nrm b ON a.blk = b.blk AND a.doc_id < b.doc_id
              JOIN g ON g.blk = a.blk)
            SELECT doc1, doc2, edit_distance FROM p WHERE edit_distance <= 10
            ORDER BY doc1, doc2
        """,
        # d14: the oracle's global row_number IS the spec the engine's
        # two-level bucketed rank must equal (bucket = key prefix, so
        # (bucket, key, id) order == (key, id) order).
        "d14_sorted_neighborhood": r"""
            WITH k AS (
              SELECT doc_id, substring(nt, 1, 24) AS sk, substring(nt, 1, 64) AS head
              FROM (SELECT doc_id,
                           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
                    FROM documents)
              WHERE length(nt) >= 24),
            r AS (SELECT doc_id, head,
                         row_number() OVER (ORDER BY sk, doc_id) AS rn
                  FROM k),
            p AS (
              SELECT LEAST(a.doc_id, b.doc_id) AS doc1,
                     GREATEST(a.doc_id, b.doc_id) AS doc2,
                     CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_distance
              FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3)
            SELECT doc1, doc2, edit_distance FROM p WHERE edit_distance <= 10
            ORDER BY doc1, doc2
        """,
        "d12_containment_pairs": f"""
            WITH {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            b AS (
              SELECT doc1, doc2, n_common, s1.n AS n1, s2.n AS n2
              FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id)
            SELECT contained_id, container_id, containment FROM (
              SELECT doc1 AS contained_id, doc2 AS container_id, {_dratio('n_common', 'n1')} AS containment FROM b
              UNION ALL
              SELECT doc2 AS contained_id, doc1 AS container_id, {_dratio('n_common', 'n2')} AS containment FROM b)
            WHERE containment >= 0.9
            ORDER BY contained_id, container_id
        """,
        "d3_minhash_lsh_pairs": _minhash_lsh_oracle(16, 4, 0.8, max_bucket=dedup.DEFAULT_MAX_BUCKET),
        # d15: d3's pair replay -> recursive closure (d7's idiom) ->
        # keep-longest canonical per cluster.
        "d15_dedup_keep_best": f"""
            WITH RECURSIVE
            p AS (SELECT doc1, doc2 FROM ({_minhash_lsh_oracle(16, 4, 0.8, max_bucket=dedup.DEFAULT_MAX_BUCKET)})),
            e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
            reach(a, b) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
            ),
            m AS (
              SELECT c.doc_id, c.cluster_id, d.n_chars
              FROM (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a) c
              JOIN documents d USING (doc_id)),
            rk AS (SELECT cluster_id, doc_id, n_chars,
                          row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY n_chars DESC, doc_id) AS rn
                   FROM m),
            sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
                   FROM m GROUP BY cluster_id)
            SELECT sz.cluster_id, sz.n_members,
                   rk.doc_id AS canonical_id,
                   CAST(rk.n_chars AS BIGINT) AS canonical_chars,
                   CAST(sz.n_members - 1 AS BIGINT) AS n_removed
            FROM sz JOIN rk ON sz.cluster_id = rk.cluster_id AND rk.rn = 1
            WHERE sz.n_members >= 2
            ORDER BY sz.cluster_id
        """,
        # Components via recursive transitive closure (pair graphs from
        # dedup are tiny relative to the corpus, so closure is affordable
        # oracle-side; the engine itself uses
        # graph.connected_components_star).
        "d7_dup_clusters": f"""
            WITH RECURSIVE {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            p AS (SELECT doc1, doc2 FROM jac WHERE jaccard >= 0.8),
            e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
            reach(a, b) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
            ),
            comp AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a)
            SELECT d.doc_id, CAST(COALESCE(LEAST(c.doc_id, c.mn), d.doc_id) AS BIGINT) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        """,
        "d4_simhash_pairs": _simhash_oracle(60, 3, max_bucket=dedup.DEFAULT_MAX_BUCKET),
        # Cross-corpus: same shingle machinery, sides split by source and
        # only cross-side pairs counted.
        "d8_cross_corpus_dups": f"""
            WITH {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            side AS (SELECT doc_id, (source = 'src0') AS is_new FROM documents),
            xj AS (
              SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS n_common
              FROM shf a JOIN side sa ON a.doc_id = sa.doc_id
              JOIN shf b ON a.shingle = b.shingle
              JOIN side sb ON b.doc_id = sb.doc_id
              WHERE sa.is_new AND NOT sb.is_new
              GROUP BY 1, 2
            )
            SELECT new_id, corpus_id,
                   {_dratio('n_common', '(s1.n + s2.n - n_common)')} AS jaccard
            FROM xj JOIN sizes s1 ON new_id = s1.doc_id JOIN sizes s2 ON corpus_id = s2.doc_id
            WHERE {_dratio('n_common', '(s1.n + s2.n - n_common)')} >= 0.8
        """,

        # Exact-substring span removal, full replay: stride-1 window md5s
        # via lateral generate_series, >=2-distinct-doc dup set, islands
        # merge (gap > span_len breaks), LAG-segment splice, md5 of the
        # reassembled text.  Mirrors dedup.duplicated_span_removal 1:1.
        "d6_duplicated_span_removal": r"""
            WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
                       FROM documents),
            w0 AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 29)) AS i FROM n),
            w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, md5(substr(t, CAST(i AS INT), 30)) AS h
                  FROM w0),
            d AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
            m AS (SELECT doc_id, pos FROM w JOIN d USING (h)),
            b AS (SELECT doc_id, pos,
                         CASE WHEN pos > COALESCE(MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
                                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2147483648) + 30
                              THEN 1 ELSE 0 END AS brk
                  FROM m),
            i AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM b),
            sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 29 AS e FROM i GROUP BY doc_id, isl),
            sp2 AS (SELECT doc_id, s, e,
                           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
                    FROM sp),
            x AS (SELECT sp2.doc_id, s, e,
                         substr(t, CAST(pe + 1 AS INT), CAST(s - pe - 1 AS INT)) AS piece
                  FROM sp2 JOIN n USING (doc_id)),
            y AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                         CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars,
                         MAX(e) AS me,
                         COALESCE(string_agg(piece, '' ORDER BY s), '') AS kept
                  FROM x GROUP BY doc_id),
            z AS (SELECT y.doc_id, n_spans, removed_chars,
                         kept || substr(t, CAST(me + 1 AS INT)) AS clean
                  FROM y JOIN n ON y.doc_id = n.doc_id)
            SELECT doc_id, n_spans, removed_chars,
                   CAST(length(clean) AS BIGINT) AS clean_len, md5(clean) AS clean_md5
            FROM z
        """,
        # Segment-dedup replay: c4-style 1-indexed stride-12 window starts,
        # list_slice end-inclusive; dup rule = md5(segment) in >= 2 distinct
        # docs; clean text = kept segments string_agg'd in window order
        # ('' sentinel when everything was removed).
        "d11_segment_dedup": r"""
            WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
                        FROM documents),
            st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 12)) AS s
                   FROM tk WHERE len(toks) >= 1),
            segs AS (SELECT doc_id, s,
                            array_to_string(list_slice(toks, s, least(s + 11, len(toks))), ' ') AS txt,
                            least(s + 11, len(toks)) - s + 1 AS ntok
                     FROM st),
            h AS (SELECT doc_id, s, txt, ntok, md5(txt) AS sh FROM segs),
            d AS (SELECT sh FROM h GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
            marked AS (SELECT h.*, (d.sh IS NOT NULL) AS dup
                       FROM h LEFT JOIN d ON h.sh = d.sh),
            pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
                          CAST(COUNT(*) FILTER (dup) AS BIGINT) AS n_removed,
                          CAST(COALESCE(SUM(ntok) FILTER (NOT dup), 0) AS BIGINT) AS clean_n_tokens,
                          md5(COALESCE(string_agg(txt, ' ' ORDER BY s) FILTER (NOT dup), '')) AS clean_md5
                   FROM marked GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(pd.n_segments, 0) AS n_segments,
                   COALESCE(pd.n_removed, 0) AS n_removed,
                   COALESCE(pd.clean_n_tokens, 0) AS clean_n_tokens,
                   COALESCE(pd.clean_md5, md5('')) AS clean_md5
            FROM tk t LEFT JOIN pd USING (doc_id)
            ORDER BY t.doc_id
        """,
        "d5_embedding_near_dups": f"""
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   {_dmicro(_cos_sql('a.embedding', 'b.embedding'))} AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.46
        """,
        "d9_embedding_lsh_near_dups": _lsh_embedding_dedup_oracle(
            0.46, dim=64, max_bucket=dedup.DEFAULT_MAX_BUCKET
        ),
        "d10_semantic_dedup": _semantic_dedup_oracle(
            dim=64, k=8, iters=2, threshold=0.44, max_cell=dedup.DEFAULT_MAX_BUCKET
        ),
        # Curation = lang filter (t3 logic) + quality floors (t2 logic) +
        # dup-cluster representative (d7 closure); fragments reused verbatim.
        "c1_corpus_curation": rf"""
            WITH RECURSIVE {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            p AS (SELECT doc1, doc2 FROM jac WHERE jaccard >= 0.8),
            e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
            reach(a, b) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
            ),
            comp AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a),
            rep AS (
              SELECT d.doc_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
              WHERE COALESCE(LEAST(c.doc_id, c.mn), d.doc_id) = d.doc_id
            ),
            q AS (
              SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                     {_dratio('(len(tk) - len(list_distinct(tk)))', 'greatest(len(tk), 1)')} AS dup_token_ratio
              FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
                    FROM documents)
            ),
            lng AS (SELECT doc_id, lang_pred FROM ({_lang_id_oracle()}))
            SELECT q.doc_id, q.n_tokens, lng.lang_pred
            FROM q JOIN lng ON q.doc_id = lng.doc_id
            JOIN rep ON q.doc_id = rep.doc_id
            WHERE lng.lang_pred = 'en' AND q.n_tokens >= 10 AND q.dup_token_ratio <= 0.6
        """,
        "m4_logreg_gate": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
                   CAST(64 AS BIGINT) AS n_features,
                   CAST(1 AS BIGINT) AS auc_ok,
                   CAST(1 AS BIGINT) AS runs_identical
            FROM embeddings
        """,
        "em5_anisotropy_histogram": f"""
            WITH t AS (SELECT COUNT(*) AS n FROM embeddings),
            a AS (SELECT vec_id AS pid, embedding AS ea FROM embeddings, t WHERE vec_id < n // 2),
            b AS (SELECT vec_id - n // 2 AS pid, embedding AS eb FROM embeddings, t WHERE vec_id >= n // 2),
            p AS (SELECT {_cos_sql("ea", "eb")} AS cos FROM a JOIN b USING (pid))
            SELECT CAST(FLOOR(cos * 10) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM p GROUP BY 1 ORDER BY bucket
        """,
        "s1_ann_bruteforce_top5": _bruteforce_ann_oracle(k=5),
        "s7_ann_filtered_top5": f"""
            WITH s AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_cos_sql("q.embedding", "c.embedding")} AS cos
              FROM embeddings q JOIN embeddings c
                ON q.vec_id != c.vec_id AND q.label = c.label
              WHERE q.vec_id < 10)
            SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s)
            WHERE rk <= 5
        """,
        # Recall is a JOIN of two already-replayable indexes: both CTEs are
        # the bit-exact s1/s2 oracles, so the metric itself is gate-checked.
        # em7: full-dim exact vs first-16-dim exact, recall join replayed.
        "em7_truncated_dim_recall": f"""
            WITH exact AS (SELECT query_id, neighbor_id FROM ({_bruteforce_ann_oracle(k=5)})),
            ts AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_cos_sql("q.embedding[1:16]", "c.embedding[1:16]")} AS cos
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 10),
            approx AS (
              SELECT query_id, neighbor_id
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                                 ORDER BY cos DESC, neighbor_id) AS rk FROM ts)
              WHERE rk <= 5)
            SELECT e.query_id,
                   CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
                   {_dratio('COUNT(a.neighbor_id)', 'COUNT(*)')} AS recall_at_5
            FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
            GROUP BY e.query_id
            ORDER BY e.query_id
        """,
        "r1_ann_lsh_recall": f"""
            WITH exact AS (SELECT query_id, neighbor_id FROM ({_bruteforce_ann_oracle(k=5)})),
            approx AS (SELECT query_id, neighbor_id FROM ({_lsh_ann_oracle()}))
            SELECT e.query_id,
                   CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
                   {_dratio('COUNT(a.neighbor_id)', 'COUNT(*)')} AS recall_at_5
            FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
            GROUP BY e.query_id
        """,
        "t1_token_counts": r"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS BIGINT) AS n_subword_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_measured
            FROM documents
        """,
        "t5_term_df": rf"""
            WITH tok AS (
              SELECT DISTINCT doc_id, t AS token FROM (
                SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS t
                FROM documents)
            ),
            n AS (SELECT COUNT(*) AS nd FROM documents),
            d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token)
            SELECT token, df, {_dmicro('(ln((nd + 1.0) / (df + 1.0)) + 1.0)')} AS idf
            FROM d, n ORDER BY df DESC, token LIMIT 200
        """,
        "t2_quality_scores": rf"""
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
                     CAST(length(regexp_replace(text, '[^\s]', '', 'g')) AS BIGINT) AS n_space,
                     CAST(len(regexp_extract_all(lower(text), '\b({en})\b', 1)) AS BIGINT) AS n_stop
              FROM documents)
            SELECT doc_id, n_chars AS n_chars_measured,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   {_dratio('n_alpha', 'greatest(n_chars, 1)')} AS alpha_ratio,
                   {_dratio('n_space', 'greatest(n_chars, 1)')} AS space_ratio,
                   {_dratio('(len(toks) - len(list_distinct(toks)))', 'greatest(len(toks), 1)')} AS dup_token_ratio,
                   {_dratio('n_stop', 'greatest(len(toks), 1)')} AS stopword_ratio,
                   {_dratio('greatest(n_chars, 0)', 'greatest(len(toks), 1)')} AS chars_per_token
            FROM t
        """,
        "t3_language_id": _lang_id_oracle(),
        "t20_langid_confusion": f"""
            WITH p AS ({_lang_id_oracle()}),
            j AS (SELECT d.lang AS truth, p.lang_pred AS pred
                  FROM documents d JOIN p ON d.doc_id = p.doc_id),
            per AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
            t AS (SELECT truth, CAST(SUM(n) AS BIGINT) AS t FROM per GROUP BY truth)
            SELECT per.truth, per.pred, per.n, {_dratio('per.n', 't.t')} AS recall
            FROM per JOIN t USING (truth) ORDER BY truth, pred
        """,
        # Unigram-LM replay: per-token logprob quantized to integer micros
        # (floor(ln(c/N)*1e6)) BEFORE the per-doc sum, so the reduction is
        # exact integer arithmetic in both engines; the only float op is the
        # final rounded mean.  DOUBLE casts mirror the engine's c/N double
        # division and double 1e6 multiply bit-for-bit.
        # Distinctive-terms replay: same smoothed log-odds sequence with
        # scalar totals; ROW_NUMBER over (score DESC, token) = the
        # engine's two-stage top-k (order-equivalent by construction).
        # Heaps replay: first-occurrence doc per token + integer range
        # boundaries; conditional sums per checkpoint.
        "t16_vocab_growth": r"""
            WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                        FROM documents),
            pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tk GROUP BY doc_id),
            fs AS (SELECT token, MIN(doc_id) AS fd FROM tk GROUP BY token),
            r AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
            b AS (SELECT c, lo - 1 + ((hi - lo + 1) * c) // 10 AS bound
                  FROM (SELECT unnest(generate_series(1, 10)) AS c), r),
            d AS (SELECT b.c, CAST(SUM(CASE WHEN pd.doc_id <= b.bound THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                         CAST(SUM(CASE WHEN pd.doc_id <= b.bound THEN pd.n_tok ELSE 0 END) AS BIGINT) AS n_tokens_cum
                  FROM pd, b GROUP BY b.c),
            v AS (SELECT b.c, CAST(SUM(CASE WHEN fs.fd <= b.bound THEN 1 ELSE 0 END) AS BIGINT) AS vocab_cum
                  FROM fs, b GROUP BY b.c)
            SELECT d.c AS checkpoint, d.n_docs, d.n_tokens_cum, v.vocab_cum
            FROM d JOIN v ON d.c = v.c ORDER BY checkpoint
        """,
        # Zipf replay: quantized per-point logs, HUGEINT-exact regression
        # sums, and the same float-then-divide sequence as the engine.
        "t19_rake_keywords": r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS w
              FROM documents),
            base AS (
              SELECT doc_id, i AS pos, w[i] AS token,
                     CASE WHEN w[i] IN ('the','and','of','to','a') THEN 1 ELSE 0 END AS stop
              FROM toks, unnest(generate_series(1, len(w))) AS t(i)),
            runs AS (
              SELECT doc_id, pos, token, run FROM (
                SELECT doc_id, pos, token, stop,
                       SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS run
                FROM base)
              WHERE stop = 0),
            inst AS (
              SELECT doc_id, run, CAST(COUNT(*) AS BIGINT) AS plen,
                     string_agg(token, ' ' ORDER BY pos) AS phrase
              FROM runs GROUP BY doc_id, run HAVING COUNT(*) <= 4),
            pw AS (
              SELECT r.doc_id, r.run, r.token, i.plen
              FROM runs r JOIN inst i ON r.doc_id = i.doc_id AND r.run = i.run),
            ws AS (
              SELECT token, CAST(FLOOR((1000000 * SUM(plen)) / COUNT(*)) AS BIGINT) AS wscore_micro
              FROM pw GROUP BY token),
            ps AS (
              SELECT pw.doc_id, pw.run, CAST(SUM(ws.wscore_micro) AS BIGINT) AS score_micro
              FROM pw JOIN ws ON pw.token = ws.token GROUP BY pw.doc_id, pw.run)
            SELECT i.phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(MIN(ps.score_micro) AS BIGINT) AS score_micro,
                   (CAST(MIN(ps.score_micro) AS BIGINT) / 1000000.0) AS rake_score
            FROM ps JOIN inst i ON ps.doc_id = i.doc_id AND ps.run = i.run
            GROUP BY i.phrase ORDER BY score_micro DESC, phrase LIMIT 20
        """,
        "t18_readability": rf"""
            WITH s AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w,
                GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) != '')), 1) AS n_sent,
                len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
              FROM documents),
            d AS (
              SELECT source,
                CAST(len(w) AS BIGINT) AS n_words,
                CAST(n_sent AS BIGINT) AS n_sent,
                CAST(n_syll AS BIGINT) AS n_syll,
                CAST(len(list_filter(w, x -> len(regexp_extract_all(lower(x), '[aeiouy]+')) >= 3)) AS BIGINT) AS n_poly
              FROM s WHERE len(w) > 0),
            q AS (
              SELECT source, n_words, n_sent, n_syll, n_poly,
                CAST(floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
                                    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))) * 1e6) AS BIGINT) AS flesch_micro
              FROM d)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_words) AS BIGINT) AS n_words,
              {_dratio('SUM(n_words)', 'SUM(n_sent)')} AS words_per_sentence,
              {_dratio('SUM(n_syll)', 'SUM(n_words)')} AS syllables_per_word,
              {_dratio('(100 * SUM(n_poly))', 'SUM(n_words)')} AS pct_polysyllabic,
              {_davg('(flesch_micro / 1000000.0)')} AS avg_flesch
            FROM q GROUP BY source ORDER BY source
        """,
        # bp2: vocab/word/char totals replay exactly; merge count is the
        # contract constant; compression/round-trip bits are engine-side
        # gates (the merge sequence is data-dependent state an engine-
        # independent oracle can't replay without reimplementing BPE).
        "bp2_bpe_encode_gate": r"""
            WITH tk AS (
              SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS w
              FROM documents),
            v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tk GROUP BY w)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
                   CAST(SUM(wc) AS BIGINT) AS total_words,
                   CAST(SUM(len(w) * wc) AS BIGINT) AS total_chars,
                   CAST(10 AS BIGINT) AS n_merges_applied,
                   CAST(1 AS BIGINT) AS compression_ok,
                   CAST(1 AS BIGINT) AS roundtrip_ok
            FROM v
        """,
        "c11_leakage_safe_split": rf"""
            WITH b AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k,
                     CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS ntok
              FROM documents),
            s AS (
              SELECT b.*, CASE WHEN {md5_int32_sql('k', 'split')} % 10 < 1 THEN 'val'
                               WHEN {md5_int32_sql('k', 'split')} % 10 < 2 THEN 'test'
                               ELSE 'train' END AS split
              FROM b),
            st AS (
              SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(COUNT(DISTINCT k) AS BIGINT) AS n_groups,
                     CAST(SUM(ntok) AS BIGINT) AS n_tokens
              FROM s GROUP BY split),
            lk AS (
              SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky_groups
              FROM (SELECT k, COUNT(DISTINCT split) AS ns FROM s GROUP BY k))
            SELECT split, n_docs, n_groups, n_tokens, n_leaky_groups FROM st, lk ORDER BY split
        """,
        "c10_rule_filter": r"""
            WITH s AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
                lower(text) AS low
              FROM documents),
            r AS (
              SELECT source,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_distinct(w)) AS BIGINT) AS n_dis,
                CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_tok,
                n_nonspace,
                (CASE WHEN regexp_matches(low, '\bthe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\band\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bof\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bto\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\ba\b') THEN 1 ELSE 0 END) AS n_stop
              FROM s),
            b AS (
              SELECT source, n_tok,
                (n_tok >= 20 AND n_tok <= 100000) AS r_wc,
                (2 * n_tok <= n_nonspace AND n_nonspace <= 5 * n_tok) AS r_mwl,
                (10 * n_alpha_tok >= 7 * n_tok) AS r_alpha,
                (n_stop >= 2) AS r_stop,
                (10 * (n_tok - n_dis) <= 6 * n_tok) AS r_dup
              FROM r)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wc,
              CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mwl,
              CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
              CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
              CAST(SUM(CASE WHEN NOT r_dup THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup,
              CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop AND r_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop AND r_dup THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
            FROM b GROUP BY source ORDER BY source
        """,
        # c15: the c10 rule bits, d1 canonical digest, integer tiers, and
        # the digest-keyed split composed as nested CTEs -- one pipeline,
        # one hash-exact manifest.
        "c15_pipeline_e2e": rf"""
            WITH s AS (
              SELECT doc_id, text,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
                lower(text) AS low
              FROM documents),
            r AS (
              SELECT doc_id, text,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_distinct(w)) AS BIGINT) AS n_dis,
                CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_tok,
                n_nonspace,
                (CASE WHEN regexp_matches(low, '\bthe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\band\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bof\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bto\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\ba\b') THEN 1 ELSE 0 END) AS n_stop
              FROM s),
            kept AS (
              SELECT doc_id, n_tok,
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
              FROM r
              WHERE (n_tok >= 20 AND n_tok <= 100000)
                AND (2 * n_tok <= n_nonspace AND n_nonspace <= 5 * n_tok)
                AND (10 * n_alpha_tok >= 7 * n_tok)
                AND (n_stop >= 2)
                AND (10 * (n_tok - n_dis) <= 6 * n_tok)),
            winners AS (
              SELECT digest, MIN(doc_id) AS doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_dups,
                     MIN(n_tok) AS n_tok
              FROM kept GROUP BY digest),
            staged AS (
              SELECT CASE WHEN ({md5_int32_sql("digest", "c15")}) % 10 < 8 THEN 'train'
                          WHEN ({md5_int32_sql("digest", "c15")}) % 10 = 8 THEN 'val'
                          ELSE 'test' END AS split,
                     CASE WHEN n_tok < 50 THEN 'short'
                          WHEN n_tok < 200 THEN 'medium'
                          ELSE 'long' END AS tier,
                     n_dups, n_tok,
                     ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "c15fp")}) AS fp
              FROM winners)
            SELECT split, tier,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_dups) AS BIGINT) AS n_docs_with_dups,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                   CAST(bit_xor(fp) AS BIGINT) AS fp_ids
            FROM staged GROUP BY split, tier ORDER BY split, tier
        """,
        "t17_zipf_fit": r"""
            WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                        FROM documents),
            vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY token
                      ORDER BY c DESC, token LIMIT 1000),
            rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rn FROM vocab),
            pts AS (SELECT CAST(floor(ln(CAST(rn AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                           CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
                    FROM rk),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
                         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
                  FROM pts),
            f AS (SELECT CAST(n AS BIGINT) AS n_ranks,
                         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_d,
                         CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd, CAST(n AS DOUBLE) AS nd
                  FROM s)
            SELECT n_ranks,
                   CAST(floor(slope_d * 1e6) AS BIGINT) AS slope_micro,
                   CAST(floor(((syd - slope_d * sxd) / nd / 1e6) * 1e6) AS BIGINT) AS intercept_micro,
                   (CAST(floor(slope_d * 1e6) AS BIGINT) / 1000000.0) AS slope,
                   (CAST(floor(((syd - slope_d * sxd) / nd / 1e6) * 1e6) AS BIGINT) / 1000000.0) AS intercept
            FROM f
        """,
        # BPE pair-count replay: vocab word counts, per-word char pairs
        # weighted by word count, deterministic top-20.
        "bp1_bpe_pair_counts": r"""
            WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS w
                        FROM documents),
            vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tk GROUP BY w),
            pairs AS (SELECT substring(w, CAST(s AS INT), 2) AS pair, wc
                      FROM (SELECT w, wc, unnest(generate_series(1, length(w) - 1)) AS s
                            FROM vocab WHERE length(w) >= 2))
            SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
            FROM pairs GROUP BY pair
            ORDER BY n_occurrences DESC, pair
            LIMIT 20
        """,
        # DSIR replay: hashed unigram+bigram bucket features for raw corpus
        # and src0 target, add-1 bucket models, per-bucket floor(ln*1e6)
        # quantization BEFORE subtraction and per-doc sums (all-integer
        # reductions), deterministic top-50 cut.
        "ds1_dsir_importance_select": f"""
            WITH tk AS (SELECT doc_id, source,
                               list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '') AS toks
                        FROM documents),
            feats AS (
              SELECT doc_id, source, unnest(toks) AS feat FROM tk
              UNION ALL
              SELECT doc_id, source, toks[s] || ' ' || toks[s + 1] AS feat
              FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 1)) AS s
                    FROM tk WHERE len(toks) >= 2)),
            fb AS (SELECT doc_id, source,
                          ({md5_int32_sql('feat', 'dsir')}) % 4096 AS bucket
                   FROM feats),
            db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf FROM fb GROUP BY 1, 2),
            rc AS (SELECT bucket, CAST(SUM(tf) AS BIGINT) AS cr FROM db GROUP BY bucket),
            tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM fb WHERE source = 'src0' GROUP BY bucket),
            nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS v FROM rc),
            nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS v FROM tc),
            model AS (SELECT rc.bucket,
                             CAST(floor(ln((COALESCE(tc.ct, 0) + 1) / CAST(nt.v + 4096 AS DOUBLE)) * 1e6)
                                  - floor(ln((rc.cr + 1) / CAST(nr.v + 4096 AS DOUBLE)) * 1e6) AS BIGINT) AS diff_micro
                      FROM rc LEFT JOIN tc USING (bucket), nr, nt),
            pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_feats,
                          CAST(SUM(tf * diff_micro) AS BIGINT) AS score_micro
                   FROM db JOIN model USING (bucket) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_feats, 0) AS BIGINT) AS n_feats,
                   CAST(COALESCE(pd.score_micro, 0) AS BIGINT) AS score_micro,
                   {_dratio('COALESCE(pd.score_micro, 0)', '(greatest(COALESCE(pd.n_feats, 0), 1) * 1000000)')} AS mean_score
            FROM documents d LEFT JOIN pd USING (doc_id)
            ORDER BY score_micro DESC, d.doc_id
            LIMIT 50
        """,
        # PMI replay: adjacent-pair counts, vocab counts, scalars via
        # cross-joined single-row CTEs; the ln() argument is the same
        # quotient of exact int64 products Spark evaluates, then the t8
        # floor(ln*1e6) quantization.
        "t15_pmi_collocations": r"""
            WITH tk AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
                        FROM documents),
            bg AS (SELECT toks[s] AS w1, toks[s + 1] AS w2
                   FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS s
                         FROM tk WHERE len(toks) >= 2)),
            pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM bg GROUP BY w1, w2),
            uni AS (SELECT unnest(toks) AS token FROM tk),
            uc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY token),
            nu AS (SELECT CAST(SUM(c1) AS BIGINT) AS v FROM uc),
            np AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS v FROM pc),
            cand AS (SELECT pc.w1, pc.w2, pc.n_pairs,
                            CAST(floor(ln((CAST(pc.n_pairs AS DOUBLE) * CAST(nu.v AS DOUBLE) * CAST(nu.v AS DOUBLE))
                                          / (CAST(np.v AS DOUBLE) * CAST(a.c1 AS DOUBLE) * CAST(b.c1 AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_micro
                     FROM pc, nu, np
                     JOIN uc a ON pc.w1 = a.token
                     JOIN uc b ON pc.w2 = b.token
                     WHERE pc.n_pairs >= 5)
            SELECT w1, w2, n_pairs, pmi_micro, (CAST(pmi_micro AS BIGINT) / 1000000.0) AS pmi
            FROM cand
            ORDER BY pmi_micro DESC, w1, w2
            LIMIT 20
        """,
        "t14_distinctive_terms": r"""
            WITH tk AS (
              SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            g AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_gt FROM tk GROUP BY 1, 2),
            t AS (SELECT token, CAST(SUM(c_gt) AS BIGINT) AS c_t FROM g GROUP BY token),
            ns AS (SELECT source, CAST(SUM(c_gt) AS BIGINT) AS n_g FROM g GROUP BY source),
            tots AS (SELECT CAST(SUM(c_gt) AS BIGINT) AS n_all FROM g),
            v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM t),
            sc AS (SELECT g.source, g.token,
                          CAST(floor(ln(
                            (CAST(c_gt + 1 AS DOUBLE) / CAST(n_g + vsz AS DOUBLE))
                            / (CAST(c_t - c_gt + 1 AS DOUBLE) / CAST(n_all - n_g + vsz AS DOUBLE))
                          ) * 1e6) AS BIGINT) AS score_micro
                   FROM g JOIN t USING (token) JOIN ns USING (source), tots, v),
            r AS (SELECT source, token, score_micro,
                         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                                 ORDER BY score_micro DESC, token) AS INT) AS rank
                  FROM sc)
            SELECT source, token, score_micro, rank FROM r WHERE rank <= 5
        """,
        # Entropy replay: same tokenization; per-doc n via a window, the
        # identical -(tf/n)ln(tf/n) floor-micro sequence.
        "t13_token_entropy": r"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
            x AS (SELECT doc_id, tf, CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM tf),
            t AS (SELECT doc_id, n,
                         CAST(floor(-((CAST(tf AS DOUBLE) / CAST(n AS DOUBLE))
                                      * ln(CAST(tf AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6) AS BIGINT) AS term
                  FROM x),
            pd AS (SELECT doc_id, CAST(MIN(n) AS BIGINT) AS n_tokens,
                          CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
                          CAST(SUM(term) AS BIGINT) AS entropy_micro
                   FROM t GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(pd.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
                   CAST(COALESCE(pd.entropy_micro, 0) AS BIGINT) AS entropy_micro,
                   (CAST(COALESCE(pd.entropy_micro, 0) AS BIGINT) / 1000000.0) AS entropy
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        # Drift replay: same tokenization, same add-1 smoothed p/q with
        # scalar totals, same (p * ln(p/q)) * 1e9 floor sequence.
        "t12_token_drift_kl": rf"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            c AS (SELECT token,
                         CAST(SUM(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
                         CAST(SUM(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
                  FROM tk GROUP BY token),
            g AS (SELECT CAST(SUM(c_old) AS BIGINT) AS n_old, CAST(SUM(c_new) AS BIGINT) AS n_new,
                         CAST(COUNT(*) AS BIGINT) AS vsz
                  FROM c),
            t AS (SELECT CAST(floor(
                           (CAST(c_old + 1 AS DOUBLE) / CAST(n_old + vsz AS DOUBLE))
                           * ln((CAST(c_old + 1 AS DOUBLE) / CAST(n_old + vsz AS DOUBLE))
                                / (CAST(c_new + 1 AS DOUBLE) / CAST(n_new + vsz AS DOUBLE)))
                           * 1e9) AS BIGINT) AS term
                  FROM c, g)
            SELECT g.n_old AS n_old_tokens, g.n_new AS n_new_tokens, g.vsz AS vocab_size,
                   s.k AS kl_micro9, {_dratio('s.k', '1000000000')} AS kl
            FROM g, (SELECT CAST(SUM(term) AS BIGINT) AS k FROM t) s
        """,
        # BM25 replay: identical IEEE sequence -- (idf * (tf*2.2)) / denom
        # * 1e6 floored; avgdl as the same double division; literals 2.2 /
        # 0.25 / 0.75 / 1.2 round-trip exactly.  ln crosses libm (t8-class
        # documented ulp residual).
        # s8: both retrieval legs replayed (t11's BM25 CTEs + s1's exact
        # cosine), fused by integer reciprocal-rank 10^9 DIV (60 + rank).
        "s8_hybrid_rrf": rf"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
              FROM documents),
            l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
            g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl FROM l),
            h AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, unnest(toks) AS token FROM tk)
                  WHERE token IN ('table', 'scan', 'merge') GROUP BY 1, 2),
            d AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfq FROM h GROUP BY token),
            s AS (SELECT h.doc_id,
                         CAST(floor(
                           ln(1.0 + (g.n - d.dfq + 0.5) / (d.dfq + 0.5))
                           * (CAST(tf AS DOUBLE) * 2.2)
                           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                                                          / (CAST(g.sdl AS DOUBLE) / CAST(g.n AS DOUBLE))))
                           * 1e6) AS BIGINT) AS c
                  FROM h JOIN d USING (token) JOIN l ON h.doc_id = l.doc_id, g),
            topt AS (
              SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank_text
              FROM (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
                    FROM s GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 20)),
            vleg AS (
              SELECT neighbor_id AS v_id, CAST(rk AS BIGINT) AS rank_vec
              FROM (SELECT c.vec_id AS neighbor_id,
                           ROW_NUMBER() OVER (ORDER BY {_cos_sql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
                    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
                    WHERE q.vec_id = 0)
              WHERE rk <= 20),
            f AS (
              SELECT COALESCE(t.doc_id, v.v_id) AS doc_id,
                     COALESCE(t.rank_text, -1) AS rank_text,
                     COALESCE(v.rank_vec, -1) AS rank_vec,
                     COALESCE(1000000000 // (60 + t.rank_text), 0)
                       + COALESCE(1000000000 // (60 + v.rank_vec), 0) AS rrf_nano
              FROM topt t FULL OUTER JOIN vleg v ON t.doc_id = v.v_id)
            SELECT doc_id, CAST(rank_text AS BIGINT) AS rank_text,
                   CAST(rank_vec AS BIGINT) AS rank_vec, CAST(rrf_nano AS BIGINT) AS rrf_nano
            FROM f ORDER BY rrf_nano DESC, doc_id LIMIT 10
        """,
        "t11_bm25_topk": r"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
              FROM documents),
            l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
            g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl FROM l),
            h AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, unnest(toks) AS token FROM tk)
                  WHERE token IN ('table', 'scan', 'merge') GROUP BY 1, 2),
            d AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfq FROM h GROUP BY token),
            s AS (SELECT h.doc_id,
                         CAST(floor(
                           ln(1.0 + (g.n - d.dfq + 0.5) / (d.dfq + 0.5))
                           * (CAST(tf AS DOUBLE) * 2.2)
                           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                                                          / (CAST(g.sdl AS DOUBLE) / CAST(g.n AS DOUBLE))))
                           * 1e6) AS BIGINT) AS c
                  FROM h JOIN d USING (token) JOIN l ON h.doc_id = l.doc_id, g)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms, CAST(SUM(c) AS BIGINT) AS score_micro
            FROM s GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 10
        """,
        # Bigram-LM replay: same tokenization as t8, bigrams via 1-based
        # list indexing, add-1 smoothing over (unigram count + |vocab|),
        # identical floor-micro quantization before the per-doc sum.
        "t10_bigram_logprob": rf"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
              FROM documents),
            bg AS (
              SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bigram
              FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tk)),
            bf AS (SELECT doc_id, w1, bigram, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2, 3),
            bc AS (SELECT bigram, w1, CAST(SUM(tf) AS BIGINT) AS c2 FROM bf GROUP BY 1, 2),
            u AS (SELECT unnest(toks) AS token FROM tk),
            uc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM u GROUP BY token),
            v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM uc),
            lp AS (SELECT bigram,
                          CAST(floor(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vsz AS DOUBLE)) * 1e6) AS BIGINT) AS lpm
                   FROM bc JOIN uc ON bc.w1 = uc.token, v),
            pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                          CAST(SUM(tf * lpm) AS BIGINT) AS s
                   FROM bf JOIN lp USING (bigram) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(COALESCE(pd.s, 0) AS BIGINT) AS sum_lp_micro,
                   {_dratio('COALESCE(pd.s, 0)', '(greatest(COALESCE(pd.n_bigrams, 0), 1) * 1000000)')} AS mean_logprob
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        "t8_unigram_logprob": rf"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
            vocab AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY token),
            n AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM vocab),
            lp AS (SELECT token, CAST(floor(ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
                   FROM vocab, n),
            pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                          CAST(SUM(tf * lp_micro) AS BIGINT) AS s
                   FROM tf JOIN lp USING (token) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(pd.s, 0) AS BIGINT) AS sum_lp_micro,
                   {_dratio('COALESCE(pd.s, 0)', '(greatest(COALESCE(pd.n_tokens, 0), 1) * 1000000)')} AS mean_logprob
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        # Perplexity tiers: t8's logprob chain -> integer per-token score
        # -> quantile_cont cutpoints (a16's replay of Spark percentile) ->
        # map-side tier assignment.  All-integer scores keep every
        # comparison exact.
        "c8_perplexity_tiers": r"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
            vocab AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY token),
            n AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM vocab),
            lp AS (SELECT token, CAST(floor(ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
                   FROM vocab, n),
            pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                          CAST(SUM(tf * lp_micro) AS BIGINT) AS s
                   FROM tf JOIN lp USING (token) GROUP BY doc_id),
            sc AS (
              SELECT d.doc_id,
                     CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                     CAST(FLOOR(COALESCE(pd.s, 0) / CAST(GREATEST(COALESCE(pd.n_tokens, 0), 1) AS DOUBLE)) AS BIGINT) AS score
              FROM documents d LEFT JOIN pd USING (doc_id)),
            cc AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS cuts FROM sc)
            SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN score > t THEN 1 ELSE 0 END)) AS BIGINT) AS tier,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(MIN(score) AS BIGINT) AS min_score,
                   CAST(MAX(score) AS BIGINT) AS max_score
            FROM sc, cc
            GROUP BY tier ORDER BY tier
        """,
        # Chunking replay: 1-indexed stride-48 starts; DuckDB list_slice is
        # end-INCLUSIVE, so the 64-token window is [s, s+63] clamped to len.
        "c4_doc_chunks": r"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
              FROM documents),
            st AS (
              SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS s
              FROM tk WHERE len(toks) >= 1)
            SELECT doc_id,
                   CAST((s - 1) // 48 AS BIGINT) AS chunk_no,
                   CAST(s AS BIGINT) AS start_token,
                   CAST(len(list_slice(toks, s, least(s + 63, len(toks)))) AS BIGINT) AS n_chunk_tokens,
                   md5(array_to_string(list_slice(toks, s, least(s + 63, len(toks))), ' ')) AS chunk_md5
            FROM st
        """,
        # Packing replay: ONE global window cumsum (fine at oracle scale) --
        # the engine's bucketed distributed prefix sum must equal it exactly.
        "c5_sequence_packing": r"""
            WITH d AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
              FROM d)
            SELECT doc_id, n_tokens, start_offset,
                   CAST(start_offset // 512 AS BIGINT) AS bin_id,
                   CAST(start_offset % 512 AS BIGINT) AS pos_in_bin
            FROM c
        """,
        # Shuffle replay: ROW_NUMBER over the same md5 permutation keys
        # equals the engine's bucketed prefix-sum rank (bucket = key
        # prefix, so bucket-then-key order IS key order); doc_id tiebreak
        # makes the order total even under (impossible) digest collisions.
        "c7_training_shuffle": """
            WITH k AS (SELECT doc_id, md5(concat('0:', CAST(doc_id AS VARCHAR))) AS key
                       FROM documents),
            r AS (SELECT doc_id,
                         CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) - 1 AS BIGINT) AS ord_rank
                  FROM k)
            SELECT doc_id, ord_rank,
                   CAST(ord_rank % 8 AS BIGINT) AS shard,
                   CAST(ord_rank // 8 AS BIGINT) AS pos_in_shard
            FROM r
        """,
        # Weighted-sample replay: dup_token_ratio exactly as t2 (raw-text
        # tokens, integer half-up _dratio), keep iff md5 ppm <
        # floor(clamp(1-ratio)*1e6) -- identical doubles -> identical
        # floors, no knife edges.
        "c6_quality_weighted_sample": rf"""
            WITH t AS (
              SELECT doc_id, source, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
              FROM documents),
            q AS (
              SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
                     {_dratio('(len(toks) - len(list_distinct(toks)))', 'greatest(len(toks), 1)')} AS dup_ratio
              FROM t),
            kept AS (
              SELECT * FROM q
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "qw")}) % 1000000
                    < CAST(floor(least(greatest(1.0 - dup_ratio, 0.0), 1.0) * 1000000) AS BIGINT))
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM kept GROUP BY source
        """,
        # Decontamination replay: distinct per-doc 5-grams on raw trimmed
        # text (the engine's _shingles spec); the engine joins on xxhash64 of
        # the gram, the oracle on the gram string -- only match COUNTS reach
        # the result, so they agree modulo 64-bit hash collisions.
        "c14_contamination_report": r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks WHERE len(w) >= 5)),
            ev AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 = 0),
            corp AS (SELECT doc_id AS c_doc, gram FROM g WHERE doc_id % 97 != 0),
            pe AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ev GROUP BY doc_id),
            leaks AS (SELECT DISTINCT gram FROM corp JOIN (SELECT DISTINCT gram FROM ev) e USING (gram)),
            lk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_leaked_grams
                   FROM ev JOIN leaks USING (gram) GROUP BY doc_id),
            dp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_corpus_docs_hit FROM (
                     SELECT DISTINCT ev.doc_id, corp.c_doc FROM ev JOIN corp USING (gram))
                   GROUP BY doc_id)
            SELECT d.doc_id AS eval_id,
                   COALESCE(pe.n_grams, 0) AS n_grams,
                   COALESCE(lk.n_leaked_grams, 0) AS n_leaked_grams,
                   COALESCE(dp.n_corpus_docs_hit, 0) AS n_corpus_docs_hit
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0) d
            LEFT JOIN pe USING (doc_id) LEFT JOIN lk USING (doc_id) LEFT JOIN dp USING (doc_id)
            ORDER BY eval_id
        """,
        "c3_decontamination": r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks WHERE len(w) >= 5)),
            ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 != 0),
            pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM corp GROUP BY doc_id),
            h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits
                  FROM corp JOIN ev USING (gram) GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(pd.n_grams, 0) AS n_grams,
                   COALESCE(h.n_eval_hits, 0) AS n_eval_hits,
                   COALESCE(h.n_eval_hits, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 != 0) d
            LEFT JOIN pd USING (doc_id) LEFT JOIN h USING (doc_id)
        """,
        # Portable regex subset only (char classes, +, {m,}) so Spark's Java
        # regex and DuckDB's RE2 find identical non-overlapping matches.
        "t9_pii_signals": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+)', 1)) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '([0-9]{7,})', 1)) AS BIGINT) AS n_phoneish,
                   CAST(len(regexp_extract_all(text, '([0-9]+)', 1)) AS BIGINT) AS n_digit_runs,
                   md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS redacted_md5
            FROM documents
        """,
        # Bigrams via 1-indexed generate_series (empty for <2 tokens, like
        # the engine's size>=2 guard); BIGINT/BIGINT '/' is double division
        # in DuckDB, matching Spark's fractional '/'.
        # Rate replay: ppm = floor(least(1.0, budget/total) * 1e6) on DOUBLE
        # quotients -- the exact IEEE sequence the engine computes driver-side
        # (sampling.token_budget_sample), so quantized rates agree bit-exactly.
        "c2_token_budget_mix": f"""
            WITH d AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            tot AS (SELECT source, SUM(n_tokens) AS total FROM d GROUP BY source),
            rate AS (SELECT source,
                            CAST(floor(least(1.0, CAST(800 AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS ppm
                     FROM tot),
            kept AS (
              SELECT d.source, d.n_tokens FROM d JOIN rate USING (source)
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "mix")}) % 1000000 < ppm)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM kept GROUP BY source
        """,
        # Constraint audit: each check replays in plain SQL; UNION ALL in
        # check-name order.
        # PSI replay: reference-decile cutpoints via quantile_cont (exact
        # percentile parity proven by a16), CASE-sum bin assignment, +1
        # Laplace smoothing, floor(term*1e9) quantization.
        "dq2_psi_drift": f"""
            WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
            cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
            cc AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM ref),
            rb AS (SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN v > t THEN 1 ELSE 0 END)) AS BIGINT) AS bin
                   FROM ref, cc),
            cb AS (SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN v > t THEN 1 ELSE 0 END)) AS BIGINT) AS bin
                   FROM cur, cc),
            counts AS (SELECT bin,
                              CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_count,
                              CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_count
                       FROM (SELECT bin, 0 AS side FROM rb UNION ALL SELECT bin, 1 FROM cb)
                       GROUP BY bin),
            tot AS (SELECT CAST(SUM(ref_count) AS BIGINT) AS nr, CAST(SUM(cur_count) AS BIGINT) AS nc FROM counts),
            terms AS (SELECT bin, ref_count, cur_count,
                             CAST(floor((((ref_count + 1) / CAST(nr + 10 AS DOUBLE))
                                         - ((cur_count + 1) / CAST(nc + 10 AS DOUBLE)))
                                        * ln(((ref_count + 1) / CAST(nr + 10 AS DOUBLE))
                                             / ((cur_count + 1) / CAST(nc + 10 AS DOUBLE))) * 1e9) AS BIGINT) AS psi_term_nano
                      FROM counts, tot)
            SELECT bin, ref_count, cur_count, psi_term_nano,
                   {_dratio('psi_term_nano', '1000000000')} AS psi_term
            FROM terms ORDER BY bin
        """,
        "dq1_constraint_audit": """
            WITH checks AS (
              SELECT '01_orderkey_unique' AS check_name,
                     CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_violations
              FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
              UNION ALL
              SELECT '02_custkey_not_null',
                     CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
              UNION ALL
              SELECT '03_totalprice_range',
                     CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
              UNION ALL
              SELECT '04_status_domain',
                     CAST(SUM(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
              UNION ALL
              SELECT '05_custkey_in_customer',
                     CAST(COUNT(*) AS BIGINT)
              FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
            )
            SELECT check_name, n_violations,
                   CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
            FROM checks ORDER BY check_name
        """,
        # Temperature mixture: sqrt-flattened shares (T=2), all-integer
        # rates through HUGEINT so the floor division is exact, f9's md5
        # membership predicate.
        "c12_target_mix": f"""
            WITH d AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            t AS (SELECT source, SUM(n_tokens) AS mass FROM d GROUP BY source),
            tg AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {p})" for s, p in sorted(C12_TARGETS.items()))}) AS v(source, t_ppm)),
            r AS (
              SELECT t.source,
                     CASE WHEN t.mass > 0
                          THEN LEAST(CAST(1000000 AS HUGEINT),
                                     (((CAST({C12_BUDGET} AS HUGEINT) * COALESCE(tg.t_ppm, 0)) // 1000000) * 1000000) // t.mass)
                          ELSE 0 END AS rate_ppm
              FROM t LEFT JOIN tg USING (source)),
            kept AS (
              SELECT d.source, d.n_tokens, r.rate_ppm FROM d JOIN r USING (source)
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "target")}) % 1000000 < rate_ppm)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
                   CAST(MIN(rate_ppm) AS BIGINT) AS rate_ppm
            FROM kept GROUP BY source ORDER BY source
        """,
        "c9_temperature_mix": f"""
            WITH d AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            t AS (SELECT source, SUM(n_tokens) AS mass FROM d GROUP BY source),
            q AS (SELECT source, mass, CAST(FLOOR(SQRT(CAST(mass AS DOUBLE)) * 1000000) AS BIGINT) AS qs FROM t),
            tot AS (SELECT SUM(qs) AS bq FROM q),
            r AS (SELECT source,
                         CAST(LEAST(CAST(1000000 AS HUGEINT),
                                    (CAST(30000 AS HUGEINT) * qs * 1000000) // (CAST(bq AS HUGEINT) * mass)) AS BIGINT) AS rate_ppm
                  FROM q, tot),
            kept AS (
              SELECT d.source, d.n_tokens, r.rate_ppm FROM d JOIN r USING (source)
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "temp")}) % 1000000 < rate_ppm)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
                   CAST(MIN(rate_ppm) AS BIGINT) AS rate_ppm
            FROM kept GROUP BY source ORDER BY source
        """,
        "t7_repetition_signals": rf"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
              FROM documents),
            b AS (
              SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
                     list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                    i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
              FROM tk),
            ug AS (SELECT doc_id, g, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(toks) AS g FROM b) GROUP BY 1, 2),
            ua AS (SELECT doc_id, MAX(c) AS top_token_n FROM ug GROUP BY doc_id),
            bg AS (SELECT doc_id, g, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(bigrams) AS g FROM b) GROUP BY 1, 2),
            ba AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams,
                          COUNT(*) AS n_distinct_bigrams
                   FROM bg GROUP BY doc_id)
            SELECT b.doc_id, b.n_tokens,
                   {_dratio('COALESCE(ua.top_token_n, 0)', 'greatest(b.n_tokens, 1)')} AS top_token_ratio,
                   CAST(COALESCE(ba.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   {_dratio('COALESCE(ba.top_bigram_n, 0)', 'greatest(COALESCE(ba.n_bigrams, 0), 1)')} AS top_bigram_ratio,
                   {_dratio('COALESCE(ba.n_distinct_bigrams, 0)', 'greatest(COALESCE(ba.n_bigrams, 0), 1)')} AS distinct_bigram_ratio
            FROM b LEFT JOIN ua ON b.doc_id = ua.doc_id LEFT JOIN ba ON b.doc_id = ba.doc_id
        """,
        # Explicit DOUBLE casts keep the idf arithmetic the same IEEE
        # sequence as the engine's (N+1.0)/(df+1.0) double division.
        "t6_tfidf_top_terms": rf"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents
            ),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
            dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY token),
            n AS (SELECT COUNT(*) AS nd FROM documents),
            s AS (
              SELECT doc_id, token,
                     tf * (ln(CAST(nd + 1 AS DOUBLE) / CAST(dfq + 1 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS score
              FROM tf JOIN dfq USING (token), n
            )
            SELECT doc_id, token, {_dmicro('score')} AS tfidf, CAST(rk AS BIGINT) AS rk
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rk FROM s)
            WHERE rk <= 3
        """,
        "t4_fingerprints": r"""
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
                   CAST(concat('0x', substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 8)) AS BIGINT) AS fingerprint32
            FROM documents
        """,
        # COALESCE + greatest(..., 1) mirror the kernel's max(len, 1) guard:
        # an empty document yields feat_mean 0.0, not NULL (no-NULLs-in-
        # outputs invariant).
        # pHash replay: exact-integer aHash bits over the first 32 ascii
        # bytes (documents are pure ASCII, verified for mm2), chunk-blocked
        # candidates, bit_count(xor) verify.
        # mm5: 60-bit aHash, 15-bit pigeonhole chunks, bucket cap 2000 --
        # the d4 scale recipe, mirrored exactly from phash_near_dup_pairs.
        "mm5_phash_near_dups": """
            WITH b AS (SELECT doc_id, text,
                              unnest(generate_series(1, least(strlen(text), 60))) AS i
                       FROM documents),
            v AS (SELECT doc_id, i,
                         CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT) AS bv,
                         CAST(least(strlen(text), 60) AS BIGINT) AS w
                  FROM b),
            tot AS (SELECT doc_id, CAST(SUM(bv) AS BIGINT) AS total FROM v GROUP BY doc_id),
            bits AS (SELECT v.doc_id,
                            CAST(SUM(CASE WHEN v.bv * v.w > tot.total
                                          THEN 1::BIGINT << CAST(v.i - 1 AS INT) ELSE 0 END) AS BIGINT) AS phash
                     FROM v JOIN tot USING (doc_id) GROUP BY v.doc_id),
            ph AS (SELECT CAST(d.doc_id AS VARCHAR) AS media_id, COALESCE(bits.phash, 0) AS phash
                   FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id),
            ch AS (SELECT media_id, phash, j AS ci, (phash >> CAST(15 * j AS INT)) & 32767 AS cv
                   FROM ph, generate_series(0, 3) AS t(j)),
            okb AS (SELECT ci, cv FROM ch GROUP BY ci, cv
                    HAVING COUNT(*) >= 2 AND COUNT(*) <= 2000),
            chf AS (SELECT ch.* FROM ch JOIN okb USING (ci, cv)),
            cand AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2, a.phash AS h1, b.phash AS h2
                     FROM chf a JOIN chf b ON a.ci = b.ci AND a.cv = b.cv AND a.media_id < b.media_id)
            SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(h1, h2)) <= 3
            ORDER BY id1, id2
        """,
        "mm1_media_features": f"""
            SELECT CAST(doc_id AS VARCHAR) AS media_id, 'text_blob' AS modality,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   {_dmicro("COALESCE(list_sum(list_transform(generate_series(1, least(strlen(text), 8)), i -> ascii(substring(text, i, 1)))), 0) / (255.0 * greatest(least(strlen(text), 8), 1))")} AS feat_mean,
                   CAST(8 AS INTEGER) AS feat_dim
            FROM documents
        """,
        # Frame sampling: one md5 per 256-byte chunk; documents are pure
        # ASCII (verified), so VARCHAR substring == byte slicing and
        # md5(VARCHAR) == md5 of the utf-8 bytes.  Empty text -> one empty
        # chunk, mirroring the kernel's max(len, 1).
        "mm2_frame_samples": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(i AS INTEGER) AS frame_no,
                   md5(substring(text, CAST(i * 256 + 1 AS BIGINT), 256)) AS frame_md5
            FROM documents,
                 unnest(generate_series(0, CAST(floor((greatest(length(text), 1) - 1) / 256) AS BIGINT))) AS t(i)
        """,
        # Resize fake-kernel: every 4th byte; documents are pure ASCII, so
        # char subsetting == byte slicing and md5(VARCHAR) == md5(bytes).
        # Feature guard mirrors mm1 (empty -> 0.0, never NULL).
        "mm3_resized_features": f"""
            WITH r AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     array_to_string(
                       list_transform(generate_series(1, CAST(ceil(strlen(text) / 4.0) AS BIGINT)),
                                      i -> substring(text, (i - 1) * 4 + 1, 1)), '') AS rs
              FROM documents
            )
            SELECT media_id, 'image' AS modality,
                   CAST(strlen(rs) AS BIGINT) AS n_bytes,
                   md5(rs) AS content_md5,
                   {_dmicro("COALESCE(list_sum(list_transform(generate_series(1, least(strlen(rs), 8)), i -> ascii(substring(rs, i, 1)))), 0) / (255.0 * greatest(least(strlen(rs), 8), 1))")} AS feat_mean,
                   CAST(8 AS INTEGER) AS feat_dim
            FROM r
        """,
        # mm4: decode(encode(x)) == x -- the oracle aggregates the WAV
        # sample formula directly, no RIFF parser needed; /2^19 is FP-exact.
        "mm4_stdlib_wav_decode": f"""
            SELECT CAST(event_id AS VARCHAR) AS media_id,
                   {_dmicro('SUM(ABS(((event_id * 7919 + t.j * 104729) % 20000) - 10000)) / (32768.0 * 16)')} AS feat_mean,
                   CAST(16 AS BIGINT) AS feat_dim
            FROM events, range(16) t(j)
            GROUP BY event_id
        """,
        # em4: n/dim/trace replay exactly (same quantized-sum formula);
        # eigenvalues/vectors are LAPACK state -- their invariants ship as
        # engine-computed gate bits (constant 1 here), like m3/a12.
        "em4_pca_gate": """
            WITH x AS (
              SELECT vec_id, t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS v
              FROM embeddings, range(1, 65) t(i)),
            s AS (
              SELECT i, CAST(SUM(FLOOR(v * v * 1e6)) AS BIGINT) AS gii,
                     CAST(SUM(FLOOR(v * 1e6)) AS BIGINT) AS mi,
                     COUNT(*) AS n
              FROM x GROUP BY i)
            SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
                   CAST(64 AS BIGINT) AS dim,
                   CAST(SUM(FLOOR((CAST(gii AS DOUBLE) / n / 1e6
                                   - (CAST(mi AS DOUBLE) / n / 1e6) * (CAST(mi AS DOUBLE) / n / 1e6)) * 1e9)) AS BIGINT) AS trace_cov_nano,
                   CAST(1 AS BIGINT) AS eigsum_matches_trace,
                   CAST(1 AS BIGINT) AS orthonormal_ok,
                   CAST(1 AS BIGINT) AS eigs_descending_ok
            FROM s
        """,
        # mm7: frame payload == text slice bytes by construction (ASCII
        # docs, stride 12 = width*3 so no padding), so the oracle never
        # parses a container -- md5 over the slice IS the frame hash.
        # generate_series(0, -1) is empty, so <12-char docs emit no rows.
        "mm7_avi_frame_samples": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(i AS INTEGER) AS frame_no,
                   md5(substring(text, CAST(12 * i + 1 AS BIGINT), 12)) AS frame_md5
            FROM documents,
                 unnest(generate_series(0, CAST(least(floor(strlen(text) / 12), 3) AS BIGINT) - 1)) AS t(i)
            ORDER BY media_id, frame_no
        """,
        # a23: the whole Count-Min sketch replays -- md5 row hashes are the
        # engine's portable family, so counters AND estimates are exact.
        "a23_count_min_gate": """
            WITH e AS (SELECT CASE WHEN user_id % 10 < 5 THEN -1 ELSE user_id END AS k FROM events),
            h AS (SELECT k, t.j,
                         CAST(concat('0x', substring(md5(concat('cm', CAST(t.j AS VARCHAR), ':', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS bucket
                  FROM e, unnest(generate_series(0, 3)) AS t(j)),
            c AS (SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1, 2),
            q AS (SELECT unnest([-1, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]) AS qk),
            p AS (SELECT q.qk, t.j,
                         CAST(concat('0x', substring(md5(concat('cm', CAST(t.j AS VARCHAR), ':', CAST(q.qk AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS bucket
                  FROM q, unnest(generate_series(0, 3)) AS t(j)),
            est AS (SELECT p.qk, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_n
                    FROM p LEFT JOIN c ON p.j = c.j AND p.bucket = c.bucket GROUP BY p.qk),
            tr AS (SELECT k AS qk, CAST(COUNT(*) AS BIGINT) AS true_n
                   FROM e WHERE k IN (-1, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19) GROUP BY k)
            SELECT CAST(est.qk AS VARCHAR) AS qkey,
                   CAST(COALESCE(tr.true_n, 0) AS BIGINT) AS true_n,
                   est.est_n,
                   CAST(est.est_n - COALESCE(tr.true_n, 0) AS BIGINT) AS overestimate,
                   CAST(est.est_n >= COALESCE(tr.true_n, 0) AS BIGINT) AS no_underestimate
            FROM est LEFT JOIN tr ON est.qk = tr.qk
            ORDER BY qkey
        """,
        # mm8: the two downsampled pixels' luma recomputed from the
        # generative channel formulas -- integer DIV box means and luma,
        # so the whole pack -> box-filter -> re-encode -> parse chain is
        # byte-sensitive.  n_bytes 62 = 54-byte headers + 2px*3B + 2B pad.
        "mm8_bmp_box_downsample": """
            WITH px AS (
              SELECT event_id, t.i,
                     (event_id * 7 + t.i * 13) % 256 AS r,
                     (event_id * 11 + t.i * 17) % 256 AS g,
                     (event_id * 13 + t.i * 19) % 256 AS b
              FROM events, unnest(generate_series(0, 7)) AS t(i)),
            blk AS (
              SELECT event_id, (i % 4) // 2 AS ox,
                     SUM(r) // 4 AS rr, SUM(g) // 4 AS gg, SUM(b) // 4 AS bb
              FROM px GROUP BY 1, 2),
            lum AS (SELECT event_id, (299 * rr + 587 * gg + 114 * bb) // 1000 AS l FROM blk)
            SELECT CAST(event_id AS VARCHAR) AS media_id,
                   CAST(62 AS BIGINT) AS n_bytes,
                   CAST(2 AS BIGINT) AS n_pixels,
                   CAST(SUM(l) AS BIGINT) AS luma_sum
            FROM lum GROUP BY event_id
        """,
        "mm6_audio_features": f"""
            WITH s AS (
              SELECT event_id, t.j, CAST(((event_id * 7919 + t.j * 104729) % 20000) - 10000 AS BIGINT) AS v
              FROM events, range(16) t(j)),
            p AS (
              SELECT a.event_id, a.v AS v1, b.v AS v2
              FROM s a JOIN s b ON a.event_id = b.event_id AND b.j = a.j + 1),
            agg AS (
              SELECT event_id, CAST(16 AS BIGINT) AS n_samples,
                     CAST(SUM(v * v) AS BIGINT) AS energy,
                     CAST(MAX(ABS(v)) AS BIGINT) AS peak
              FROM s GROUP BY event_id),
            zc AS (
              SELECT event_id, CAST(SUM(CASE WHEN v1 * v2 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
              FROM p GROUP BY event_id)
            SELECT CAST(a.event_id AS VARCHAR) AS media_id, n_samples, energy, zero_crossings, peak,
                   {_dmicro('sqrt(CAST(energy AS DOUBLE) / n_samples) / 32768.0')} AS rms_level
            FROM agg a JOIN zc USING (event_id)
        """,
        "s2_ann_lsh_top5": _lsh_ann_oracle(dim=64, num_planes=16, bands=4, k=5),
        "s3_ann_ivf_top5": _ivf_ann_oracle(dim=64, num_cells=16, nprobe=4, k=5),
        "s4_ann_pq_top5": _pq_ann_oracle(dim=64, num_sub=8, num_codes=16, k=5),
        "s5_ann_ivfpq_top5": _ivfpq_ann_oracle(dim=64, num_cells=16, nprobe=4, num_sub=8, num_codes=16, k=5),
        # Retrieve-then-refine: the s5 index replay at k=20 proposes, the
        # exact brute-force cosine fragment decides -- both phases the
        # same IEEE sequences as the engine's kernels.
        "s6_ann_refined_top5": _refined_ann_oracle(),
        # Refined-route recall: join of the s1 and s6 replays -- the
        # measured refinement benefit is itself gate-checked (r1 pattern).
        "r2_ann_refined_recall": f"""
            WITH exact AS (SELECT query_id, neighbor_id FROM ({_bruteforce_ann_oracle(k=5)})),
            approx AS (SELECT query_id, neighbor_id FROM ({_refined_ann_oracle()}))
            SELECT e.query_id,
                   CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
                   {_dratio('COUNT(a.neighbor_id)', 'COUNT(*)')} AS recall_at_5
            FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
            GROUP BY e.query_id
        """,
        "km1_kmeans_centroids": _kmeans_oracle(dim=64, k=8, iters=2),
        "m2_als_contract": """
            SELECT CAST(50 AS BIGINT) AS n_users,
                   CAST(50 AS BIGINT) AS n_distinct_users,
                   CAST(50 AS BIGINT) AS n_full_rec_lists
        """,
        "m3_als_determinism_gate": """
            SELECT CAST(50 AS BIGINT) AS n_users,
                   CAST(1 AS BIGINT) AS runs_identical
        """,
        # LPA replay: per round, neighbor-label counts + ROW_NUMBER argmax
        # (count desc, label asc) + isolated-vertex carry-through.
        "lp1_label_propagation": """
            WITH f AS (SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src,
                              'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
            e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
            v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
            l0 AS (SELECT id, id AS label FROM v),
            c1 AS (SELECT e.dst AS id, l.label, COUNT(*) AS c
                   FROM e JOIN l0 l ON e.src = l.id GROUP BY e.dst, l.label),
            p1 AS (SELECT id, label FROM
                     (SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM c1)
                   WHERE rn = 1),
            l1 AS (SELECT l0.id, COALESCE(p1.label, l0.label) AS label FROM l0 LEFT JOIN p1 USING (id)),
            c2 AS (SELECT e.dst AS id, l.label, COUNT(*) AS c
                   FROM e JOIN l1 l ON e.src = l.id GROUP BY e.dst, l.label),
            p2 AS (SELECT id, label FROM
                     (SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM c2)
                   WHERE rn = 1),
            l2 AS (SELECT l1.id, COALESCE(p2.label, l1.label) AS label FROM l1 LEFT JOIN p2 USING (id))
            SELECT id, label FROM l2 ORDER BY id
        """,
        # BFS replay: one (join, EXCEPT, union) triple per hop, unrolled.
        "g8_khop_reachability": f"""
            WITH f AS (SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src,
                              'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
            e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
            d0 AS (SELECT unnest([{_sql_str_list(G8_SEEDS)}]) AS id),
            r1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id),
            n1 AS (SELECT id FROM r1 EXCEPT SELECT id FROM d0),
            v1 AS (SELECT id FROM d0 UNION SELECT id FROM n1),
            r2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN n1 ON e.src = n1.id),
            n2 AS (SELECT id FROM r2 EXCEPT SELECT id FROM v1),
            v2 AS (SELECT id FROM v1 UNION SELECT id FROM n2),
            r3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN n2 ON e.src = n2.id),
            n3 AS (SELECT id FROM r3 EXCEPT SELECT id FROM v2)
            SELECT id, CAST(0 AS BIGINT) AS hops FROM d0
            UNION ALL SELECT id, 1 FROM n1
            UNION ALL SELECT id, 2 FROM n2
            UNION ALL SELECT id, 3 FROM n3
            ORDER BY id
        """,
        "g4_pagerank_top100": _pagerank_oracle(_PAGERANK_EDGES_SQL, reset=0.15, max_iter=10, k=100),
        "g7_personalized_pagerank": _ppr_oracle(
            _PAGERANK_EDGES_SQL
            + " UNION ALL SELECT 'P' || CAST(l_partkey AS VARCHAR), 'O' || CAST(l_orderkey AS VARCHAR) FROM lineitem",
            PPR_SEEDS,
            reset=0.15,
            max_iter=10,
            k=100,
        ),
        "g5_pagerank_cyclic_top100": _pagerank_oracle(
            _PAGERANK_EDGES_SQL
            + " UNION ALL SELECT 'P' || CAST(l_partkey AS VARCHAR), 'O' || CAST(l_orderkey AS VARCHAR) FROM lineitem",
            reset=0.15,
            max_iter=10,
            k=100,
        ),
        # m1_als_recommendations: intentionally omitted -> rows-only check
        # (ALS is stochastic-but-seeded; no engine-independent oracle exists).
    }
