"""Driver-contract query registry: every implemented operator family from
SURVEY.md §2 (plus the training-data operators) as a (spark_builder,
oracle_sql) pair over the driver's parquet tables.

Conventions that make the driver's order-insensitive value-hash comparison
work:
* every computed column is aliased identically in the DataFrame code and SQL;
* every floating result is ROUND()ed the same way on both sides (absorbs
  summation-order ulps);
* every top-k has a total deterministic tie-break;
* sketch operators run in exact mode at test scale (retained < k ⇒ zero
  error — the reference's own testing contract, theta/DataToSketchTest.java:137),
  so their oracle is plain COUNT(DISTINCT …)/quantile SQL.

Queries with no SQL-expressible oracle (murmur hashes, SimHash, LSH-bucketed
ANN) are registered without an oracle entry → the driver records the weaker
rows-only check; their semantics are pytest-verified instead.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datasketches_pig_spark.sketch.theta import (
    theta_a_not_b,
    theta_estimate,
    theta_intersect,
    theta_jaccard,
    theta_sketch_agg,
    theta_union_agg,
)
from datasketches_pig_spark.textops.analysis import (
    LANG_MARKERS,
    bpe_ish_token_count,
    lang_id,
    quality_features,
    token_count,
)
from datasketches_pig_spark.textops import dedup as dd
from datasketches_pig_spark.ann.knn import cosine_topk, rhp_lsh_topk
from datasketches_pig_spark.generated.oracles_adpcm import SQL_DEDUP_ADPCM

THETA_K = 4096


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# theta / distinct-counting family
# ---------------------------------------------------------------------------

def q_theta_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sk = theta_sketch_agg(li, ["l_returnflag"], "l_partkey", THETA_K)
    return sk.select(
        "l_returnflag", F.round(theta_estimate("sketch", THETA_K), 1).alias("estimate")
    )


SQL_THETA_DISTINCT = """
SELECT l_returnflag, ROUND(CAST(COUNT(DISTINCT l_partkey) AS DOUBLE), 1) AS estimate
FROM lineitem GROUP BY l_returnflag
"""


def q_theta_p(spark, sf_dir):
    """Theta ctor sampling probability p < 1 — the reference's last §2.1
    ctor argument (``theta/DataToSketch.java:129-135``): initial theta = p,
    hashes ≥ p·2^64 rejected BEFORE the shuffle, estimate = retained/p in
    the under-k region.  Deterministic given the murmur values, so the
    VALUES oracle is an independent scalar replication
    (tools/gen_theta_p_oracle.py).  Regenerate if testdata changes."""
    orders = _t(spark, sf_dir, "orders")
    sk = theta_sketch_agg(orders, ["o_orderstatus"], "o_custkey", THETA_K, p=0.25)
    return sk.select(
        "o_orderstatus",
        F.round(theta_estimate("sketch", THETA_K, p=0.25), 1).alias("estimate"),
    )


SQL_THETA_P = """
SELECT o_orderstatus, CAST(estimate AS DOUBLE) AS estimate FROM (VALUES
  ('F', 1524.0),
  ('O', 1560.0),
  ('P', 1540.0)
) t(o_orderstatus, estimate)
"""


def q_theta_union(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    per = theta_sketch_agg(li, ["l_linestatus"], "l_partkey", THETA_K)
    merged = theta_union_agg(per.withColumn("g", F.lit(1)), ["g"], "sketch", THETA_K)
    return merged.select(F.round(theta_estimate("sketch", THETA_K), 1).alias("estimate"))


SQL_THETA_UNION = """
SELECT ROUND(CAST(COUNT(DISTINCT l_partkey) AS DOUBLE), 1) AS estimate FROM lineitem
"""


def _flag_sketches(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sk = theta_sketch_agg(
        li.filter(F.col("l_returnflag").isin("A", "R")), ["l_returnflag"], "l_partkey", THETA_K
    ).localCheckpoint()  # 2 rows; the crossJoin's two filter branches would
    # otherwise each re-execute the whole scan→hash→bottom-k subtree
    # (guide §7.2 duplicated-subtree: one Exchange pair, not two)
    a = sk.filter(F.col("l_returnflag") == "A").select(F.col("sketch").alias("ska"))
    r = sk.filter(F.col("l_returnflag") == "R").select(F.col("sketch").alias("skr"))
    return a.crossJoin(r)


def q_theta_intersect(spark, sf_dir):
    pair = _flag_sketches(spark, sf_dir)
    return pair.select(
        F.size(theta_intersect(F.col("ska"), F.col("skr"), THETA_K))
        .cast("long")
        .alias("n_common")
    )


SQL_THETA_INTERSECT = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_common FROM (
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'
  INTERSECT
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
)
"""


def q_theta_anotb(spark, sf_dir):
    pair = _flag_sketches(spark, sf_dir)
    return pair.select(
        F.size(theta_a_not_b(F.col("ska"), F.col("skr"), THETA_K))
        .cast("long")
        .alias("n_a_not_b")
    )


SQL_THETA_ANOTB = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_a_not_b FROM (
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'
  EXCEPT
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
)
"""


def q_theta_jaccard(spark, sf_dir):
    pair = _flag_sketches(spark, sf_dir)
    return pair.select(
        F.round(theta_jaccard(F.col("ska"), F.col("skr"), THETA_K), 6).alias("jaccard")
    )


SQL_THETA_JACCARD = """
WITH a AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
     r AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
     i AS (SELECT COUNT(*) n FROM (SELECT * FROM a INTERSECT SELECT * FROM r)),
     u AS (SELECT COUNT(*) n FROM (SELECT * FROM a UNION SELECT * FROM r))
SELECT ROUND(i.n * 1.0 / u.n, 6) AS jaccard FROM i, u
"""


def q_theta_jaccard_bounds(spark, sf_dir):
    from datasketches_pig_spark.sketch.theta import theta_jaccard_bounds

    pair = _flag_sketches(spark, sf_dir)
    b = theta_jaccard_bounds(F.col("ska"), F.col("skr"), THETA_K)
    # exact mode at sf0.01 (distinct partkeys per flag < k) → lb == est == ub
    return pair.select(
        F.round(b["lb"], 6).alias("lb"),
        F.round(b["est"], 6).alias("est"),
        F.round(b["ub"], 6).alias("ub"),
    )


SQL_THETA_JACCARD_BOUNDS = """
WITH a AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
     r AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
     i AS (SELECT COUNT(*) n FROM (SELECT * FROM a INTERSECT SELECT * FROM r)),
     u AS (SELECT COUNT(*) n FROM (SELECT * FROM a UNION SELECT * FROM r))
SELECT ROUND(i.n * 1.0 / u.n, 6) AS lb,
       ROUND(i.n * 1.0 / u.n, 6) AS est,
       ROUND(i.n * 1.0 / u.n, 6) AS ub
FROM i, u
"""


def q_theta_to_string(spark, sf_dir):
    """Debug-summary parity (theta/SketchToString.java:39): deterministic in
    exact mode, so the formatted string itself is oracle-checkable."""
    from datasketches_pig_spark.sketch.theta import theta_sketch_to_string

    li = _t(spark, sf_dir, "lineitem")
    sk = theta_sketch_agg(li, ["l_returnflag"], "l_partkey", THETA_K)
    return sk.select(
        "l_returnflag", theta_sketch_to_string("sketch", THETA_K).alias("summary")
    )


SQL_THETA_TO_STRING = """
SELECT l_returnflag,
       'KMV theta sketch: retained=' || CAST(COUNT(DISTINCT l_partkey) AS VARCHAR)
       || ', k=4096, exact=true, theta=1.0, estimate='
       || CAST(CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS VARCHAR) AS summary
FROM lineitem GROUP BY l_returnflag
"""


def q_hll_to_string(spark, sf_dir):
    from datasketches_pig_spark.sketch.distinct import hll_to_string

    return hll_to_string(_t(spark, sf_dir, "orders"), "o_custkey", exact=True)


SQL_HLL_TO_STRING = """
SELECT 'HLL sketch: lgK=12, rsd=0.01625, estimate='
       || CAST(ROUND(CAST(COUNT(DISTINCT o_custkey) AS DOUBLE), 1) AS VARCHAR)
       AS summary FROM orders
"""


def q_cpc_to_string(spark, sf_dir):
    from datasketches_pig_spark.sketch.distinct import cpc_to_string

    return cpc_to_string(_t(spark, sf_dir, "lineitem"), "l_suppkey", exact=True)


SQL_CPC_TO_STRING = """
SELECT 'CPC sketch: lgK=11, rse=0.012993, estimate='
       || CAST(ROUND(CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE), 1) AS VARCHAR)
       AS summary FROM lineitem
"""


def q_kll_to_string(spark, sf_dir):
    from datasketches_pig_spark.sketch.quantiles import kll_to_string

    return kll_to_string(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


SQL_KLL_TO_STRING = """
SELECT 'KLL sketch: k=200, n=' || CAST(COUNT(l_extendedprice) AS VARCHAR)
       || ', min=' || CAST(ROUND(MIN(l_extendedprice), 4) AS VARCHAR)
       || ', max=' || CAST(ROUND(MAX(l_extendedprice), 4) AS VARCHAR)
       AS summary FROM lineitem
"""


def q_freq_to_string(spark, sf_dir):
    from datasketches_pig_spark.sketch.frequencies import frequent_items_to_string

    li = _t(spark, sf_dir, "lineitem")
    return frequent_items_to_string(
        li.withColumn("item", F.col("l_suppkey").cast("string")), "item", 4096
    )


SQL_FREQ_TO_STRING = """
SELECT 'FrequentItems sketch: maxMapSize=4096, items='
       || CAST(COUNT(DISTINCT l_suppkey) AS VARCHAR)
       || ', streamLen=' || CAST(COUNT(*) AS VARCHAR)
       || ', totalError=0' AS summary
FROM lineitem
"""


def q_sketch_summaries(spark, sf_dir):
    """All five SketchToString analogs (theta/hll/cpc/kll/frequencies —
    theta/SketchToString.java:39 and siblings) in one debug-summary table:
    (family, key, summary).  Deterministic in exact mode, so the formatted
    strings themselves are oracle-checkable."""
    theta = q_theta_to_string(spark, sf_dir).select(
        F.lit("theta").alias("family"),
        F.col("l_returnflag").alias("key"),
        "summary",
    )
    rest = [
        (fam, fn(spark, sf_dir))
        for fam, fn in (
            ("hll", q_hll_to_string),
            ("cpc", q_cpc_to_string),
            ("kll", q_kll_to_string),
            ("freq", q_freq_to_string),
        )
    ]
    out = theta
    for fam, df in rest:
        out = out.unionByName(
            df.select(F.lit(fam).alias("family"), F.lit("").alias("key"), "summary")
        )
    return out


SQL_SKETCH_SUMMARIES = f"""
SELECT 'theta' AS family, l_returnflag AS key, summary FROM ({SQL_THETA_TO_STRING})
UNION ALL SELECT 'hll', '', summary FROM ({SQL_HLL_TO_STRING})
UNION ALL SELECT 'cpc', '', summary FROM ({SQL_CPC_TO_STRING})
UNION ALL SELECT 'kll', '', summary FROM ({SQL_KLL_TO_STRING})
UNION ALL SELECT 'freq', '', summary FROM ({SQL_FREQ_TO_STRING})
"""


def q_rollup_agg(spark, sf_dir):
    """Grouping-sets coverage (SURVEY §2.10): rollup over (returnflag,
    linestatus) with grouping-level marker."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round("sum_qty", 2).alias("sum_qty"),
            "n",
            "gid",
        )
    )


SQL_ROLLUP_AGG = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_hll_bounds(spark, sf_dir):
    from datasketches_pig_spark.sketch.distinct import hll_estimate_with_bounds

    orders = _t(spark, sf_dir, "orders")
    # exact mode (distinct o_custkey per priority < coupon-list capacity at
    # test sf): lb == est == ub, same collapse as the theta bounds oracle
    out = hll_estimate_with_bounds(orders, "o_custkey", ["o_orderpriority"], exact=True)
    return out.select(
        "o_orderpriority",
        F.round("est", 1).alias("est"),
        F.round("lb", 1).alias("lb"),
        F.round("ub", 1).alias("ub"),
    )


SQL_HLL_BOUNDS = """
SELECT o_orderpriority,
       ROUND(CAST(COUNT(DISTINCT o_custkey) AS DOUBLE), 1) AS est,
       ROUND(CAST(COUNT(DISTINCT o_custkey) AS DOUBLE), 1) AS lb,
       ROUND(CAST(COUNT(DISTINCT o_custkey) AS DOUBLE), 1) AS ub
FROM orders GROUP BY o_orderpriority
"""


def q_hll_distinct(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    from datasketches_pig_spark.sketch.distinct import hll_distinct

    return hll_distinct(orders, "o_custkey", ["o_orderpriority"], exact=True)


SQL_HLL_DISTINCT = """
SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS estimate
FROM orders GROUP BY o_orderpriority
"""


def q_cpc_distinct(spark, sf_dir):
    from datasketches_pig_spark.sketch.distinct import cpc_distinct

    li = _t(spark, sf_dir, "lineitem")
    return cpc_distinct(li, "l_suppkey", exact=True)


SQL_CPC_DISTINCT = (
    "SELECT CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS estimate FROM lineitem"
)


def q_cpc_bounds(spark, sf_dir):
    """CPC estimate + kappa error bounds (cpc/GetEstimateAndErrorBounds.java:45);
    exact-mode collapse (lb == ub == est) makes it oracle-checkable."""
    from datasketches_pig_spark.sketch.distinct import cpc_estimate_with_bounds

    li = _t(spark, sf_dir, "lineitem")
    return cpc_estimate_with_bounds(li, "l_suppkey", kappa=3, exact=True)


SQL_CPC_BOUNDS = """
SELECT CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS est,
       CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS lb,
       CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS ub
FROM lineitem
"""


# ---------------------------------------------------------------------------
# quantiles family (KLL / classic analogs)
# ---------------------------------------------------------------------------

def q_kll_quantiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("q50"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 4).alias("q75"),
    )


SQL_KLL_QUANTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS q50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q75
FROM lineitem GROUP BY l_returnflag
"""


def q_kll_pmf(spark, sf_dir):
    from datasketches_pig_spark.sketch.quantiles import get_pmf

    li = _t(spark, sf_dir, "lineitem")
    out = get_pmf(li, "l_quantity", [10.0, 25.0, 40.0], ["l_linestatus"])
    return out.select(
        "l_linestatus", *[F.round(f"pmf_{i}", 6).alias(f"pmf_{i}") for i in range(4)]
    )


SQL_KLL_PMF = """
SELECT l_linestatus,
       ROUND(SUM(CASE WHEN l_quantity < 10 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_quantity), 6) AS pmf_0,
       ROUND(SUM(CASE WHEN l_quantity >= 10 AND l_quantity < 25 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_quantity), 6) AS pmf_1,
       ROUND(SUM(CASE WHEN l_quantity >= 25 AND l_quantity < 40 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_quantity), 6) AS pmf_2,
       ROUND(SUM(CASE WHEN l_quantity >= 40 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_quantity), 6) AS pmf_3
FROM lineitem GROUP BY l_linestatus
"""


def q_kll_cdf(spark, sf_dir):
    from datasketches_pig_spark.sketch.quantiles import get_cdf

    li = _t(spark, sf_dir, "lineitem")
    out = get_cdf(li, "l_discount", [0.02, 0.05, 0.08])
    return out.select(*[F.round(f"cdf_{i}", 6).alias(f"cdf_{i}") for i in range(4)])


SQL_KLL_CDF = """
SELECT ROUND(SUM(CASE WHEN l_discount < 0.02 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_discount), 6) AS cdf_0,
       ROUND(SUM(CASE WHEN l_discount < 0.05 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_discount), 6) AS cdf_1,
       ROUND(SUM(CASE WHEN l_discount < 0.08 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_discount), 6) AS cdf_2,
       ROUND(CAST(1.0 AS DOUBLE), 6) AS cdf_3
FROM lineitem
"""


def q_kll_rank(spark, sf_dir):
    from datasketches_pig_spark.sketch.quantiles import get_rank

    li = _t(spark, sf_dir, "lineitem")
    return get_rank(li, "l_quantity", 36.0).select(F.round("rank", 6).alias("rank"))


SQL_KLL_RANK = """
SELECT ROUND(SUM(CASE WHEN l_quantity < 36.0 THEN 1 ELSE 0 END) * 1.0 / COUNT(l_quantity), 6) AS rank
FROM lineitem
"""


def q_quantiles_strings(spark, sf_dir):
    """Lexicographic string quantile (ItemsSketch<String> analog): the value
    at rank ceil(q*n) of the sorted p_type values."""
    part = _t(spark, sf_dir, "part")
    w = Window.orderBy("p_type")
    ranked = part.select(
        "p_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") == F.ceil(F.col("n") * 0.5))
        .select(F.col("p_type").alias("median_type"))
    )


SQL_QUANTILES_STRINGS = """
SELECT p_type AS median_type FROM (
  SELECT p_type, ROW_NUMBER() OVER (ORDER BY p_type) rn, COUNT(*) OVER () n FROM part
) WHERE rn = CEIL(n * 0.5)
"""


# ---------------------------------------------------------------------------
# frequent items
# ---------------------------------------------------------------------------

def q_freq_items(spark, sf_dir):
    from datasketches_pig_spark.sketch.frequencies import frequent_items

    li = _t(spark, sf_dir, "lineitem")
    return frequent_items(li.withColumn("item", F.col("l_suppkey").cast("string")), "item", 10)


SQL_FREQ_ITEMS = """
SELECT CAST(l_suppkey AS VARCHAR) AS item, COUNT(*) AS est, COUNT(*) AS lb, COUNT(*) AS ub
FROM lineitem GROUP BY l_suppkey
ORDER BY est DESC, item ASC LIMIT 10
"""


def q_freq_events(spark, sf_dir):
    from datasketches_pig_spark.sketch.frequencies import frequent_items

    ev = _t(spark, sf_dir, "events")
    return frequent_items(ev, "event_type", 5)


SQL_FREQ_EVENTS = """
SELECT event_type AS item, COUNT(*) AS est, COUNT(*) AS lb, COUNT(*) AS ub
FROM events GROUP BY event_type ORDER BY est DESC, item ASC LIMIT 5
"""


# ---------------------------------------------------------------------------
# sampling (exact-mode shortcuts: n ≤ k returns everything)
# ---------------------------------------------------------------------------

def q_reservoir_shortcut(spark, sf_dir):
    from datasketches_pig_spark.sketch.sampling import reservoir_sample

    sup = _t(spark, sf_dir, "supplier")
    out = reservoir_sample(sup, k=100000, group_cols=["s_nationkey"])
    return out.select("s_suppkey", "s_nationkey")


SQL_RESERVOIR_SHORTCUT = "SELECT s_suppkey, s_nationkey FROM supplier"


def q_varopt_union(spark, sf_dir):
    from datasketches_pig_spark.sketch.sampling import varopt_sample, varopt_union

    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.col("s_acctbal").cast("double").alias("weight")
    )
    # partial VarOpt per nation, exact mode (k ≫ group size), then merge —
    # also exact mode, so the union returns every row at its original weight
    partials = varopt_sample(
        sup, k=100000, weight_col="weight", group_cols=["s_nationkey"]
    )
    merged = varopt_union(partials.drop("weight"), k=100000)
    return merged.select("s_suppkey", F.round("vo_weight", 2).alias("vo_weight"))


SQL_VAROPT_UNION = (
    "SELECT s_suppkey, ROUND(CAST(s_acctbal AS DOUBLE), 2) AS vo_weight FROM supplier"
)


def q_reservoir_state_union(spark, sf_dir):
    """Cross-job mergeable reservoir state (DataToSketch/ReservoirUnion
    split, sampling/ReservoirSampling.java:82 + ReservoirUnion.java:48): two
    'daily' jobs persist their per-group state to parquet; a later job reads
    both files back and merges.  Exact mode (per-slice group counts < k)
    makes the merge return every row — the SQL oracle."""
    import tempfile

    from datasketches_pig_spark.sketch.sampling import (
        reservoir_state,
        reservoir_union_states,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="dsps_rstate_")
    for tag, pred in (("d1", F.col("o_orderkey") % 2 == 0), ("d2", F.col("o_orderkey") % 2 == 1)):
        reservoir_state(orders.filter(pred), 4096, ["o_orderpriority"]).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/{tag}")
    states = spark.read.parquet(f"{tmp}/d1").unionByName(spark.read.parquet(f"{tmp}/d2"))
    merged = reservoir_union_states(states, 4096, ["o_orderpriority"])
    return merged.select(
        "o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


SQL_RESERVOIR_STATE_UNION = """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
"""


def q_varopt_state_union(spark, sf_dir):
    """Cross-job mergeable VarOpt state (DataToVarOptSketch.java:45 +
    VarOptUnion.java:46): persisted per-group state arrays round-trip
    through parquet, then merge.  Exact mode returns every row with
    vo_weight == original weight."""
    import tempfile

    from datasketches_pig_spark.sketch.sampling import (
        varopt_state,
        varopt_union_states,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="dsps_vstate_")
    for tag, pred in (("d1", F.col("o_orderkey") % 2 == 0), ("d2", F.col("o_orderkey") % 2 == 1)):
        varopt_state(
            orders.filter(pred), 4096, "o_totalprice", ["o_orderpriority"]
        ).write.mode("overwrite").parquet(f"{tmp}/{tag}")
    states = spark.read.parquet(f"{tmp}/d1").unionByName(spark.read.parquet(f"{tmp}/d2"))
    merged = varopt_union_states(states, 4096, ["o_orderpriority"])
    return merged.select(
        "o_orderpriority", "o_orderkey", F.round("vo_weight", 2).alias("vo_weight")
    )


SQL_VAROPT_STATE_UNION = """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS vo_weight
FROM orders
"""


def q_varopt_unpack(spark, sf_dir):
    """GetVarOptSamples analog (sampling/GetVarOptSamples.java:46): persisted
    state → flattened weighted rows; exact mode returns every original row
    with vo_weight == weight."""
    from datasketches_pig_spark.sketch.sampling import get_varopt_samples, varopt_state

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    st = varopt_state(orders, 4096, "o_totalprice", ["o_orderpriority"])
    out = get_varopt_samples(st, ["o_orderpriority"])
    return out.select(
        "o_orderpriority", "o_orderkey", F.round("vo_weight", 2).alias("vo_weight")
    )


SQL_VAROPT_UNPACK = """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS vo_weight
FROM orders
"""


def q_kll_even_quantiles(spark, sf_dir):
    from datasketches_pig_spark.sketch.quantiles import get_even_quantiles

    li = _t(spark, sf_dir, "lineitem")
    out = get_even_quantiles(li, "l_extendedprice", 5)
    return out.select(
        *[F.round(c, 2).alias(f"q{i}") for i, c in enumerate(out.columns)]
    )


SQL_KLL_EVEN_QUANTILES = """
SELECT ROUND(quantile_cont(l_extendedprice, 0.00), 2) AS q0,
       ROUND(quantile_cont(l_extendedprice, 0.25), 2) AS q1,
       ROUND(quantile_cont(l_extendedprice, 0.50), 2) AS q2,
       ROUND(quantile_cont(l_extendedprice, 0.75), 2) AS q3,
       ROUND(quantile_cont(l_extendedprice, 1.00), 2) AS q4
FROM lineitem
"""


def q_strings_pmf(spark, sf_dir):
    from datasketches_pig_spark.sketch.quantiles import get_pmf

    part = _t(spark, sf_dir, "part")
    out = get_pmf(part, "p_type", ["LARGE", "PROMO", "STANDARD"])
    return out.select(
        *[F.round(f"pmf_{i}", 6).alias(f"pmf_{i}") for i in range(4)]
    )


SQL_STRINGS_PMF = """
SELECT ROUND(SUM(CASE WHEN p_type < 'LARGE' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS pmf_0,
       ROUND(SUM(CASE WHEN p_type >= 'LARGE' AND p_type < 'PROMO' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS pmf_1,
       ROUND(SUM(CASE WHEN p_type >= 'PROMO' AND p_type < 'STANDARD' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS pmf_2,
       ROUND(SUM(CASE WHEN p_type >= 'STANDARD' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS pmf_3
FROM part
"""


def q_theta_bounds(spark, sf_dir):
    from datasketches_pig_spark.sketch.theta import theta_error_bounds, theta_sketch_agg

    li = _t(spark, sf_dir, "lineitem")
    sk = theta_sketch_agg(li, ["l_returnflag"], "l_partkey", THETA_K)
    b = theta_error_bounds("sketch", THETA_K)
    return sk.select(
        "l_returnflag",
        F.round(b["est"], 1).alias("est"),
        F.round(b["ub"], 1).alias("ub"),
        F.round(b["lb"], 1).alias("lb"),
    )


# exact mode (distinct l_partkey per flag < k=4096 at sf0.01): ub == lb == est
SQL_THETA_BOUNDS = """
SELECT l_returnflag,
       ROUND(CAST(COUNT(DISTINCT l_partkey) AS DOUBLE), 1) AS est,
       ROUND(CAST(COUNT(DISTINCT l_partkey) AS DOUBLE), 1) AS ub,
       ROUND(CAST(COUNT(DISTINCT l_partkey) AS DOUBLE), 1) AS lb
FROM lineitem GROUP BY l_returnflag
"""


def q_freq_approx(spark, sf_dir):
    from datasketches_pig_spark.sketch.frequencies import frequent_items_approx

    li = _t(spark, sf_dir, "lineitem")
    # map size > distinct supplier count at this sf → exact mode, err = 0
    return frequent_items_approx(
        li.withColumn("item", F.col("l_suppkey").cast("string")), "item", 10, 4096
    )


SQL_FREQ_APPROX = """
SELECT CAST(l_suppkey AS VARCHAR) AS item, COUNT(*) AS est, COUNT(*) AS lb, COUNT(*) AS ub
FROM lineitem GROUP BY l_suppkey
ORDER BY est DESC, item ASC LIMIT 10
"""


def q_reservoir_union(spark, sf_dir):
    from datasketches_pig_spark.sketch.sampling import reservoir_union_states

    cust = _t(spark, sf_dir, "customer")
    # per-nation partial reservoirs in exact mode (k ≫ rows per nation), then
    # merge in exact mode (k ≫ total) → the union returns every customer
    partials = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(F.struct("c_custkey", "c_nationkey")).alias("samples"),
    )
    merged = reservoir_union_states(partials, k=1000000)
    return merged.select("c_custkey", "c_nationkey")


SQL_RESERVOIR_UNION = "SELECT c_custkey, c_nationkey FROM customer"


def q_aod_ttest(spark, sf_dir):
    from datasketches_pig_spark.sketch.tuple_sketch import aod_p_values_df

    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A")
    b = li.filter(F.col("l_returnflag") == "N")
    out = aod_p_values_df(a, b, "l_partkey", ["l_quantity", "l_extendedprice"])
    return out.select(
        # 3 decimals: cross-engine float-summation order shifts the Welch
        # inputs by ~1e-6 relative, moving p by ~1e-5 — 6-decimal equality
        # is not meaningful for a p-value computed from ~4k-key aggregates
        F.round("p_l_quantity", 3).alias("p_qty"),
        F.round("p_l_extendedprice", 3).alias("p_price"),
    )


# Oracle provenance: expected p-values from an independent replication
# (tools/gen_ttest_oracle.py) — aggregates computed by DuckDB SQL, Student-t
# tail by Simpson quadrature of the density (vs the production continued-
# fraction incomplete beta; methods agree to ~1e-10 at these df).
# Regenerate: python tools/gen_ttest_oracle.py
SQL_AOD_TTEST = """
SELECT CAST(0.687 AS DOUBLE) AS p_qty, CAST(0.657 AS DOUBLE) AS p_price
"""


def q_varopt_shortcut(spark, sf_dir):
    from datasketches_pig_spark.sketch.sampling import varopt_sample

    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal").cast("double").alias("weight")
    )
    out = varopt_sample(sup, k=100000, weight_col="weight")
    return out.select("s_suppkey", F.round("vo_weight", 2).alias("vo_weight"))


SQL_VAROPT_SHORTCUT = (
    "SELECT s_suppkey, ROUND(CAST(s_acctbal AS DOUBLE), 2) AS vo_weight FROM supplier"
)


# ---------------------------------------------------------------------------
# tuple sketch analogs
# ---------------------------------------------------------------------------

def q_aod_sums(spark, sf_dir):
    from datasketches_pig_spark.sketch.tuple_sketch import aod_sketch

    li = _t(spark, sf_dir, "lineitem")
    sk = aod_sketch(li, "l_partkey", ["l_quantity", "l_extendedprice"])
    return sk.select(
        F.col("key").alias("l_partkey"),
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("sum_l_extendedprice", 2).alias("sum_price"),
    )


SQL_AOD_SUMS = """
SELECT l_partkey, ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY l_partkey
"""


def q_aod_estimates(spark, sf_dir):
    from datasketches_pig_spark.sketch.tuple_sketch import aod_estimates

    li = _t(spark, sf_dir, "lineitem")
    out = aod_estimates(li, "l_partkey", ["l_quantity"])
    return out.select(
        F.col("est").alias("est"), F.round("sum_l_quantity", 2).alias("sum_qty")
    )


SQL_AOD_ESTIMATES = """
SELECT CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS est,
       ROUND(SUM(l_quantity), 2) AS sum_qty FROM lineitem
"""


def q_aod_bounds(spark, sf_dir):
    """AoD estimate + theta-style error bounds
    (tuple/ArrayOfDoublesSketchToEstimateAndErrorBounds.java:42); exact-mode
    collapse (lb == ub == est below k retained keys)."""
    from datasketches_pig_spark.sketch.tuple_sketch import aod_estimate_with_bounds

    li = _t(spark, sf_dir, "lineitem")
    out = aod_estimate_with_bounds(li, "l_partkey", ["l_quantity"], exact=True)
    return out.select(
        "est", "lb", "ub", F.round("sum_l_quantity", 2).alias("sum_qty")
    )


SQL_AOD_BOUNDS = """
SELECT CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS est,
       CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS lb,
       CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS ub,
       ROUND(SUM(l_quantity), 2) AS sum_qty FROM lineitem
"""


def q_aod_retained(spark, sf_dir):
    """Retained-entries introspection
    (tuple/ArrayOfDoublesSketchToNumberOfRetainedEntries.java:39)."""
    from datasketches_pig_spark.sketch.tuple_sketch import aod_num_retained

    li = _t(spark, sf_dir, "lineitem")
    return aod_num_retained(li, "l_partkey")


SQL_AOD_RETAINED = (
    "SELECT CAST(COUNT(DISTINCT l_partkey) AS INT) AS n_retained FROM lineitem"
)


def q_freq_nfp(spark, sf_dir):
    """Frequent-items estimates with the NO_FALSE_POSITIVES error type
    (FrequentStringsSketchToEstimates.java:44-59, the no-arg default :50-52);
    exact mode (unsaturated maps) collapses both error types to the true
    frequent set, i.e. HAVING count(*) > threshold."""
    from datasketches_pig_spark.sketch.frequencies import (
        NO_FALSE_POSITIVES,
        frequent_items_estimates,
    )

    li = _t(spark, sf_dir, "lineitem")
    return frequent_items_estimates(
        li.withColumn("item", F.col("l_suppkey").cast("string")),
        "item",
        threshold=620,
        error_type=NO_FALSE_POSITIVES,
        max_map_size=4096,
    )


SQL_FREQ_NFP = """
SELECT CAST(l_suppkey AS VARCHAR) AS item, COUNT(*) AS est,
       COUNT(*) AS lb, COUNT(*) AS ub
FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 620
"""


def q_aod_means(spark, sf_dir):
    from datasketches_pig_spark.sketch.tuple_sketch import aod_means

    li = _t(spark, sf_dir, "lineitem")
    out = aod_means(li, "l_partkey", ["l_quantity", "l_extendedprice"])
    return out.select(
        F.round("mean_l_quantity", 4).alias("mean_qty"),
        F.round("mean_l_extendedprice", 2).alias("mean_price"),
    )


SQL_AOD_MEANS = """
WITH sums AS (
  SELECT l_partkey, SUM(l_quantity) sq, SUM(l_extendedprice) sp
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(AVG(sq), 4) AS mean_qty, ROUND(AVG(sp), 2) AS mean_price FROM sums
"""


def q_aod_variances(spark, sf_dir):
    from datasketches_pig_spark.sketch.tuple_sketch import aod_variances

    li = _t(spark, sf_dir, "lineitem")
    out = aod_variances(li, "l_partkey", ["l_quantity"])
    return out.select(F.round("var_l_quantity", 2).alias("var_qty"))


SQL_AOD_VARIANCES = """
WITH sums AS (SELECT l_partkey, SUM(l_quantity) sq FROM lineitem GROUP BY l_partkey)
SELECT ROUND(VAR_SAMP(sq), 2) AS var_qty FROM sums
"""


def q_double_summary_percentile(spark, sf_dir):
    from datasketches_pig_spark.sketch.tuple_sketch import double_summary_percentile

    li = _t(spark, sf_dir, "lineitem")
    out = double_summary_percentile(li, "l_partkey", "l_quantity", 95.0)
    return out.select(F.round("pctile", 4).alias("pctile"))


SQL_DOUBLE_SUMMARY_PERCENTILE = """
WITH sums AS (SELECT l_partkey, SUM(l_quantity) sq FROM lineitem GROUP BY l_partkey)
SELECT ROUND(quantile_cont(sq, 0.95), 4) AS pctile FROM sums
"""


def q_double_summary_minmax(spark, sf_dir):
    """DoubleSummary Min/Max modes (datasketches DoubleSummary.Mode; the Pig
    wrapper defaults to Sum, tuple/DataToDoubleSummarySketch.java:33): per
    distinct key keep the min / the max of its values; checked through the
    deterministic population totals of the two sketches."""
    from datasketches_pig_spark.sketch.tuple_sketch import double_summary_sketch

    li = _t(spark, sf_dir, "lineitem")
    mn = double_summary_sketch(li, "l_partkey", "l_quantity", mode="min")
    mx = double_summary_sketch(li, "l_partkey", "l_quantity", mode="max")
    return mn.join(mx, "key").agg(
        F.round(F.sum("min_l_quantity"), 2).alias("sum_min"),
        F.round(F.sum("max_l_quantity"), 2).alias("sum_max"),
    )


SQL_DOUBLE_SUMMARY_MINMAX = """
WITH s AS (
  SELECT l_partkey, MIN(l_quantity) mn, MAX(l_quantity) mx
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(SUM(CAST(mn AS DOUBLE)), 2) AS sum_min,
       ROUND(SUM(CAST(mx AS DOUBLE)), 2) AS sum_max
FROM s
"""


def q_aod_moments(spark, sf_dir):
    """One-pass AoD derived statistics (ToMeans / ToVariances /
    ToNumberOfRetainedEntries, tuple/ArrayOfDoublesSketchToMeans.java:42,
    ...ToVariances.java:42, ...ToNumberOfRetainedEntries.java:39): moments of
    the per-key summed values plus the retained-key count, from a single
    sketch build."""
    from datasketches_pig_spark.sketch.tuple_sketch import aod_sketch

    li = _t(spark, sf_dir, "lineitem")
    sk = aod_sketch(li, "l_partkey", ["l_quantity", "l_extendedprice"])
    return sk.agg(
        F.round(F.avg("sum_l_quantity"), 4).alias("mean_qty"),
        F.round(F.avg("sum_l_extendedprice"), 2).alias("mean_price"),
        F.round(F.var_samp("sum_l_quantity"), 2).alias("var_qty"),
        F.count(F.lit(1)).cast("int").alias("n_retained"),
    )


SQL_AOD_MOMENTS = """
WITH sums AS (
  SELECT l_partkey, SUM(l_quantity) sq, SUM(l_extendedprice) sp
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(AVG(sq), 4) AS mean_qty, ROUND(AVG(sp), 2) AS mean_price,
       ROUND(VAR_SAMP(CAST(sq AS DOUBLE)), 2) AS var_qty,
       CAST(COUNT(*) AS INT) AS n_retained
FROM sums
"""


def q_reservoir_mixed_k(spark, sf_dir):
    """Mixed-k reservoir merge (ReservoirUnion.java:48,73): two jobs persist
    per-segment reservoir states with DIFFERENT ks (50 and 400); the merge
    reconciles to the MINIMUM valid k — a smaller-k reservoir cannot be grown
    back.  The retained count per segment is deterministic even though the
    sampled membership is not: min(min(nA,50) + min(nB,400), 50)."""
    from datasketches_pig_spark.sketch.sampling import (
        reservoir_state,
        reservoir_union_states,
    )

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    a = reservoir_state(
        cust.filter(F.col("c_custkey") % 2 == 0), 50, ["c_mktsegment"]
    )
    b = reservoir_state(
        cust.filter(F.col("c_custkey") % 2 == 1), 400, ["c_mktsegment"]
    )
    merged = reservoir_union_states(
        a.unionByName(b), k=None, group_cols=["c_mktsegment"]
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_retained")
    )


SQL_RESERVOIR_MIXED_K = """
WITH a AS (SELECT c_mktsegment, COUNT(*) c FROM customer
           WHERE c_custkey % 2 = 0 GROUP BY c_mktsegment),
     b AS (SELECT c_mktsegment, COUNT(*) c FROM customer
           WHERE c_custkey % 2 = 1 GROUP BY c_mktsegment)
SELECT a.c_mktsegment AS c_mktsegment,
       CAST(LEAST(LEAST(a.c, 50) + LEAST(b.c, 400), 50) AS BIGINT) AS n_retained
FROM a JOIN b ON a.c_mktsegment = b.c_mktsegment
"""


def q_varopt_mixed_k(spark, sf_dir):
    """Mixed-k VarOpt merge (VarOptUnion.java:40-42): states persisted with
    ks 100 and 5000 merge under the LARGEST valid k — VarOpt partials stay
    valid at a larger target, so nothing is re-discarded.  Deterministic
    discriminator: retained per group = min(nA,100) + min(nB,5000) (the merge
    keeps everything because the union fits in k=5000); a min-k merge would
    collapse it to 100."""
    from datasketches_pig_spark.sketch.sampling import (
        varopt_state,
        varopt_union_states,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("double").alias("w")
    )
    a = varopt_state(
        orders.filter(F.col("o_orderkey") % 2 == 0), 100, "w", ["o_orderpriority"]
    )
    b = varopt_state(
        orders.filter(F.col("o_orderkey") % 2 == 1), 5000, "w", ["o_orderpriority"]
    )
    merged = varopt_union_states(
        a.unionByName(b), k=None, group_cols=["o_orderpriority"]
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_retained")
    )


SQL_VAROPT_MIXED_K = """
WITH a AS (SELECT o_orderpriority, COUNT(*) c FROM orders
           WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority),
     b AS (SELECT o_orderpriority, COUNT(*) c FROM orders
           WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority)
SELECT a.o_orderpriority AS o_orderpriority,
       CAST(LEAST(a.c, 100) + LEAST(b.c, 5000) AS BIGINT) AS n_retained
FROM a JOIN b ON a.o_orderpriority = b.o_orderpriority
"""


# ---------------------------------------------------------------------------
# table-level set ops / window top-k / streaming-analog event queries
# ---------------------------------------------------------------------------

def q_setop_intersect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    b = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    return a.intersect(b).select(F.col("o_custkey").alias("custkey"))


SQL_SETOP_INTERSECT = """
SELECT o_custkey AS custkey FROM orders WHERE YEAR(o_orderdate) = 1996
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE YEAR(o_orderdate) = 1997
"""


def q_setop_except(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    b = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    return a.distinct().exceptAll(b.distinct()).select(F.col("o_custkey").alias("custkey"))


SQL_SETOP_EXCEPT = """
SELECT o_custkey AS custkey FROM orders WHERE YEAR(o_orderdate) = 1996
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE YEAR(o_orderdate) = 1997
"""


def q_streaming_replay(spark, sf_dir):
    """THE oracle-gated genuinely-stateful streaming row (SURVEY §2.10
    streaming analog): the events table is replayed as 4 deterministic
    micro-batches through ``applyInPandasWithState``
    (``streaming/ops.py:streaming_replay_stats``) — per event_type the state
    carries cumulative (count, value sum, KMV user sketch) across every
    batch boundary, and the final emission matches the batch GROUP BY
    oracle only if that state survives.  Every event_type appears in every
    slice, so each key's state must survive 3 batch boundaries (the gate
    needs ≥2 batches per key; r7 trimmed 6→4 slices + 8→2 state partitions
    for a measured 4.0–5.1 → 2.7–3.1 s cut at identical hashes).
    distinct_users is exact because the sf0.01 corpus keeps the sketch
    below k (exact-below-k contract)."""
    from datasketches_pig_spark.streaming.replay import replay_events

    ev = _t(spark, sf_dir, "events")
    final = replay_events(spark, ev, n_slices=4)
    return final.select(
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        "distinct_users",
    )


SQL_STREAMING_REPLAY = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       COUNT(DISTINCT user_id) AS distinct_users
FROM events GROUP BY event_type
"""


def q_topk_window(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rnk")
    )


SQL_TOPK_WINDOW = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders WHERE o_custkey < 100
) WHERE rnk <= 3
"""


def q_events_tumbling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.col("ts"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


SQL_EVENTS_TUMBLING = """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sliding(spark, sf_dir):
    """Sliding-window counts (streaming_sliding_counts' batch analog,
    SURVEY §2.10): 1-hour windows sliding every 30 minutes — each event
    lands in exactly two windows via F.window(ts, window, slide)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )


SQL_EVENTS_SLIDING = """
WITH slid AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, event_type FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type
  FROM events
)
SELECT strftime(w, '%Y-%m-%d %H:%M') AS window_start, event_type,
       COUNT(*) AS n
FROM slid GROUP BY 1, 2
"""


def q_events_sessions(spark, sf_dir):
    """Sessionization analog: sessions = gaps > 30 min, per user (< 200)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts")
    lagged = ev.withColumn("prev_ts", F.lag("ts").over(w))
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
        1,
    ).otherwise(0)
    return (
        lagged.withColumn("ns", new_sess)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SQL_EVENTS_SESSIONS = """
WITH lagged AS (
  SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events WHERE user_id < 200
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM lagged GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# training-data ops: dedup / text analysis / ANN
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "doc_id", "text")


def q_dedup_containment(spark, sf_dir):
    """Word-boundary substring containment dedup (the document-level form of
    the suffix-array substring verifier): contained docs whose whole token
    sequence appears contiguously in a longer doc — invisible to
    Jaccard-threshold dedup (J ≈ |A|/|B|), found via rarest-anchor-shingle
    candidates + JVM contains() verify."""
    docs = _t(spark, sf_dir, "documents")
    return dd.containment_dedup_pairs(docs, "doc_id", "text", n=3)


SQL_DEDUP_CONTAINMENT = """
WITH d AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
  FROM documents
)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id
FROM d a JOIN d b
ON a.doc_id != b.doc_id
   AND len(a.t) < len(b.t)
   AND len(string_split(a.t, ' ')) >= 3
   AND contains(' ' || b.t || ' ', ' ' || a.t || ' ')
"""


def q_dedup_exact_fast(spark, sf_dir):
    """The 100 TB exact-dedup path (assume_collision_free=True: 128-bit
    composite key, no text shuffle) against the same full-text-equality
    oracle — demonstrating the scale path is result-identical."""
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "doc_id", "text", assume_collision_free=True)


SQL_DEDUP_EXACT = """
WITH keyed AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), canon AS (SELECT norm, MIN(doc_id) canonical_id FROM keyed GROUP BY norm)
SELECT k.doc_id, c.canonical_id FROM keyed k JOIN canon c USING (norm)
"""

_NGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, t[i.i] || ' ' || t[i.i+1] || ' ' || t[i.i+2] AS sh
  FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(len(t)-1, 1))) AS i) i
  WHERE len(t) >= 3
), sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
common AS (
  SELECT a.doc_id a, b.doc_id b, COUNT(*) c FROM grams a JOIN grams b USING (sh)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT a, b, ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard FROM common
JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
"""


def q_dedup_ngram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = dd.minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_near_pairs(docs, "doc_id", "text", n=3, max_hamming=6)


# Deterministic CJK corpus derived from the documents table (the driver's
# tables are pure ASCII): translate maps every ASCII letter to a distinct CJK
# codepoint and DELETES spaces — producing genuine no-space multi-byte text
# whose duplicate structure mirrors the source corpus.  Both engines apply
# the identical translate, so the oracle is self-contained.
CJK_FROM = "abcdefghijklmnopqrstuvwxyz "
CJK_TO = "的一是不了人我在有他这中大来上国个到说们为子和你地出"


def q_dedup_minhash_cjk(spark, sf_dir):
    """No-space-script near-dup dedup: the same MinHash-LSH operator over a
    CJK corpus (one whitespace token per document) — exercising the char
    ``char_fallback_n``-gram shingle fallback end-to-end (kernel signatures,
    LSH banding, and the relational exact-Jaccard verify all fall back
    together).  The oracle is brute-force char-5-gram Jaccard in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.translate(F.lower(F.col("text")), CJK_FROM, CJK_TO).alias("text"),
    )
    out = dd.minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


SQL_DEDUP_MINHASH_CJK = f"""
WITH d AS (
  SELECT doc_id, translate(lower(text), '{CJK_FROM}', '{CJK_TO}') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, substr(t, i.i, 5) AS sh
  FROM d CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(length(t)-3, 1))) AS i) i
  WHERE length(t) >= 5
), sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
common AS (
  SELECT a.doc_id a, b.doc_id b, COUNT(*) c FROM grams a JOIN grams b USING (sh)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT a, b, ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard FROM common
JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
"""


def q_dedup_jpeg(spark, sf_dir):
    """Compressed-media perceptual near-dup, end-to-end on a compressed
    format: a deterministic JPEG corpus derived from ``documents.doc_id``
    (``data/images.py`` — planted Hamming<=4 dups at ``doc_id % 5 == 4``),
    encoded AND decoded by the in-numpy baseline JPEG codec
    (``imageops/jpeg.py``) inside fused Arrow passes, then dHash + the
    Manku banded join (``imageops/features.py::image_near_pairs``).  Raw
    pixels and JPEG bytes never shuffle — only 8-byte fingerprints.

    Oracle: VALUES generated by ``tools/gen_jpeg_oracle.py`` — decode via
    the JDK's javax.imageio (an unrelated JPEG implementation), dHash via
    fresh scalar code, pairs via brute-force popcount — so a pass checks
    decoder interop AND banded-candidate completeness.  Reference n/a
    (the Pig repo has no media operators; LLM-pipeline brief item)."""
    from datasketches_pig_spark.data.images import synth_jpeg_frame
    from datasketches_pig_spark.imageops.features import image_near_pairs

    ids = (
        _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    )
    return image_near_pairs(synth_jpeg_frame(ids), max_hamming=4)


# Oracle provenance: tools/gen_jpeg_oracle.py (javax.imageio decode +
# independent scalar dHash + brute-force pairs; generator refuses to emit
# on any cross-decoder dHash disagreement).  Regenerate if data/images.py
# or the JPEG codec parameters change.
SQL_DEDUP_JPEG = """
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, CAST(hamming AS INT) AS hamming FROM (VALUES
  (2, 4, 0),
  (7, 9, 0),
  (12, 14, 0),
  (17, 19, 2),
  (22, 24, 1),
  (27, 29, 1),
  (32, 34, 1),
  (37, 39, 2),
  (42, 44, 0),
  (47, 49, 0),
  (52, 54, 2),
  (57, 59, 1),
  (62, 64, 0),
  (67, 69, 1),
  (72, 74, 0),
  (77, 79, 1),
  (82, 84, 0),
  (87, 89, 4),
  (92, 94, 1),
  (97, 99, 1),
  (102, 104, 0),
  (107, 109, 1),
  (112, 114, 0),
  (117, 119, 0),
  (122, 124, 1),
  (127, 129, 0),
  (132, 134, 1),
  (137, 139, 2),
  (142, 144, 0),
  (147, 149, 1)
) t(a, b, hamming)
"""


def q_dedup_adpcm(spark, sf_dir):
    """Compressed-AUDIO near-dup, end-to-end on a compressed codec: a
    deterministic IMA-ADPCM corpus derived from ``documents.doc_id``
    (``data/audio.py`` — half-octave note lattice, planted dups at
    ``doc_id % 5 == 4``), decoded by the vectorized in-numpy ADPCM codec
    (``audioops/adpcm.py``) inside the fused Arrow signature pass, then the
    shingle-hash inverted-index join (``audioops/neardup.audio_exact_pairs``
    — deterministically complete, so brute-force-oracle-checkable; the
    LSH-banded ``audio_near_pairs`` scale path of the same signature frame
    is recall-asserted in ``tests/test_audio_neardup.py``).  Raw ADPCM
    bytes and PCM never shuffle — only gram hashes and bottom-k arrays.

    Oracle: VALUES generated by ``tools/gen_adpcm_oracle.py`` — an
    independent scalar IMA-ADPCM decoder (public spec, plain ints), fresh
    scalar feature quantization, brute-force exact Jaccard; the generator
    refuses to emit on any decoder or kernel disagreement.  Reference n/a
    (the Pig repo has no media operators; LLM-pipeline brief item)."""
    from datasketches_pig_spark.audioops.neardup import audio_exact_pairs
    from datasketches_pig_spark.data.audio import synth_adpcm_clip

    ids = (
        _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    )
    return audio_exact_pairs(synth_adpcm_clip(ids), threshold=0.5)


def q_dedup_adpcm_lsh(spark, sf_dir):
    """The PRODUCTION banded-LSH audio path (`audio_near_pairs`) over the
    same ADPCM gate corpus, thresholded at 0.65 — above the corpus's dense
    background band (≤ 0.625), where the 32×4 banding curve is ≥ 0.999 per
    pair and, under the committed seed, deterministically finds EVERY
    oracle pair (verified exhaustively: 876/876, no extras).  Oracle = the
    committed brute-force VALUES restricted to jaccard ≥ 0.65."""
    from datasketches_pig_spark.audioops.neardup import audio_near_pairs
    from datasketches_pig_spark.data.audio import synth_adpcm_clip

    ids = (
        _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    )
    return audio_near_pairs(synth_adpcm_clip(ids), threshold=0.65)


SQL_DEDUP_ADPCM_LSH = (
    "SELECT * FROM (" + SQL_DEDUP_ADPCM + ") WHERE jaccard >= 0.65"
)

def q_dedup_mjpeg(spark, sf_dir):
    """Compressed-VIDEO near-dup, end-to-end across codecs: a deterministic
    mixed-codec corpus derived from ``documents.doc_id`` (``data/videos.py``
    — dHash-margin cell frames; every planted (d-2, d) pair is one
    ``rawrgb`` video and one MJPEG-in-AVI re-encode of the same frames),
    decoded by the in-numpy MJPEG codec (``videoops/mjpeg.py``) inside the
    fused frame-sample Arrow pass, then the exact-frame-hash bucket join
    (``videoops/frames.video_near_pairs`` — deterministically complete for
    buckets under the cap, so brute-force-oracle-checkable).  Raw pixels
    and JPEG bytes never shuffle — only 8-byte frame fingerprints.

    Oracle: VALUES generated by ``tools/gen_mjpeg_oracle.py`` — fresh
    scalar RIFF/AVI walk, javax.imageio per-frame decode, fresh scalar
    dHash, brute-force shared-frame counts; the generator refuses to emit
    on any decoder disagreement.  Reference n/a (LLM-pipeline brief)."""
    from datasketches_pig_spark.data.videos import synth_video_frame
    from datasketches_pig_spark.videoops.frames import video_near_pairs

    ids = (
        _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 120)
    )
    return video_near_pairs(
        synth_video_frame(ids), stride=1, min_shared_frames=2
    ).select("a", "b", F.col("shared_frames").cast("long").alias("shared_frames"))



SQL_DEDUP_MJPEG = """
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, CAST(shared_frames AS BIGINT) AS shared_frames FROM (VALUES
  (2, 4, 5),
  (7, 9, 4),
  (12, 14, 4),
  (17, 19, 4),
  (22, 24, 4),
  (27, 29, 3),
  (32, 34, 6),
  (37, 39, 4),
  (42, 44, 4),
  (47, 49, 4),
  (52, 54, 4),
  (57, 59, 3),
  (62, 64, 6),
  (67, 69, 4),
  (72, 74, 4),
  (77, 79, 4),
  (82, 84, 4),
  (87, 89, 3),
  (92, 94, 6),
  (97, 99, 4),
  (102, 104, 4),
  (107, 109, 4),
  (112, 114, 5),
  (117, 119, 3)
) t(a, b, shared_frames)
"""



def q_dedup_gif_anim(spark, sf_dir):
    """Compressed-video near-dup over ANIMATED GIF payloads (r7): same
    frame plans as the MJPEG gate, but the compressed leg is a real
    animation — frame 0 full (interlaced on a quarter of the corpus),
    every later frame a delta bounding-box region with disposal keep
    (``data/videos.py:synth_gif_video_bytes``) — so recovering a planted
    (d-2, d) raw↔gif pair proves the GIF89a disposal COMPOSITOR
    (``imageops/gif.py:gif_decode_frames``) end-to-end through the fused
    frame-sample Arrow pass and the exact-frame-hash bucket join.

    Oracle: VALUES generated by ``tools/gen_gif_anim_oracle.py`` — fresh
    scalar GIF parse (big-int LZW, list-of-lists compositor), JDK
    cross-check on every animated payload's first frame, fresh scalar
    dHash, brute-force shared-frame counts; the generator refuses to emit
    on any decoder disagreement.  The VALUES match SQL_DEDUP_MJPEG by
    construction: identical frame plans and two LOSSLESS codec paths give
    identical per-frame dHashes.  Reference n/a (LLM-pipeline brief)."""
    from datasketches_pig_spark.data.videos import (
        synth_gif_video_bytes,
        synth_video_frame,
    )
    from datasketches_pig_spark.videoops.frames import video_near_pairs

    ids = (
        _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 120)
    )
    return video_near_pairs(
        synth_video_frame(ids, bytes_fn=synth_gif_video_bytes),
        stride=1,
        min_shared_frames=2,
    ).select("a", "b", F.col("shared_frames").cast("long").alias("shared_frames"))


SQL_DEDUP_GIF_ANIM = """
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, CAST(shared_frames AS BIGINT) AS shared_frames FROM (VALUES
  (2, 4, 5),
  (7, 9, 4),
  (12, 14, 4),
  (17, 19, 4),
  (22, 24, 4),
  (27, 29, 3),
  (32, 34, 6),
  (37, 39, 4),
  (42, 44, 4),
  (47, 49, 4),
  (52, 54, 4),
  (57, 59, 3),
  (62, 64, 6),
  (67, 69, 4),
  (72, 74, 4),
  (77, 79, 4),
  (82, 84, 4),
  (87, 89, 3),
  (92, 94, 6),
  (97, 99, 4),
  (102, 104, 4),
  (107, 109, 4),
  (112, 114, 5),
  (117, 119, 3)
) t(a, b, shared_frames)
"""


def q_dedup_embedding(spark, sf_dir):
    from datasketches_pig_spark.ann.knn import embedding_near_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # exact method = the oracle-checkable brute-force baseline; the RHP-LSH
    # scale path of the same operator is recall-asserted on a planted corpus
    # in tests/test_textops.py (synthetic sf embeddings are near-orthogonal,
    # so the high-cosine near-dup regime has no rows here)
    out = embedding_near_pairs(emb, threshold=0.42, method="exact")
    return out.select("a", "b", F.round("cosine", 6).alias("cosine"))


SQL_DEDUP_EMBEDDING = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         list_dot_product(x.v, y.v)
           / (SQRT(list_dot_product(x.v, x.v)) * SQRT(list_dot_product(y.v, y.v)) + 1e-30)
           AS cosine
  FROM e x JOIN e y ON x.vec_id < y.vec_id
)
SELECT a, b, ROUND(cosine, 6) AS cosine FROM scored WHERE cosine >= 0.42
"""


# Oracle provenance: expected pairs computed by an independent scalar
# replication (tools/gen_simhash_oracle.py): spec murmur3 + pure-Python
# bit-majority simhash + brute-force all-pairs Hamming — cross-checking both
# the vectorized fingerprint kernel and the Manku banding completeness.
# Regenerate: python tools/gen_simhash_oracle.py
SQL_DEDUP_SIMHASH = """
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, CAST(hamming AS INT) AS hamming FROM (VALUES
  (8, 245, 4),
  (26, 455, 4),
  (31, 383, 6),
  (44, 446, 2),
  (45, 267, 4),
  (45, 413, 2),
  (58, 293, 4),
  (61, 185, 2),
  (70, 447, 4),
  (72, 377, 6),
  (87, 134, 5),
  (92, 450, 2),
  (98, 290, 1),
  (107, 387, 1),
  (120, 332, 4),
  (152, 178, 1),
  (166, 323, 1),
  (267, 413, 2),
  (285, 301, 4),
  (295, 374, 4),
  (310, 389, 3),
  (326, 457, 3),
  (393, 420, 1),
  (458, 462, 2)
) t(a, b, hamming)
"""


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("pred_lang"))


def _sql_marker(words: list[str]) -> str:
    # same boundary rule as textops.analysis._marker_pattern: \b for ASCII
    # markers, plain match for CJK (RE2 \b is ASCII-only in both engines)
    pat = "|".join(rf"\b{w}\b" if w.isascii() else w for w in words)
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


def _sql_lang_id() -> str:
    langs = list(LANG_MARKERS)
    score_cols = ", ".join(
        f"{_sql_marker(ws)} AS s_{lang}" for lang, ws in LANG_MARKERS.items()
    )
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= 1"]
        conds += [f"s_{lang} > s_{o}" for o in langs[:i]]
        conds += [f"s_{lang} >= s_{o}" for o in langs[i + 1 :]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
WITH scored AS (SELECT doc_id, {score_cols} FROM documents)
SELECT doc_id, {case} AS pred_lang FROM scored
"""


def q_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = quality_features(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def _sql_quality() -> str:
    all_markers = [w for ws in LANG_MARKERS.values() for w in ws]
    stop = _sql_marker(all_markers)
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_tokens,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
         {stop} AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
  ROUND(CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens ELSE 0.0 END, 4) AS mean_word_len,
  ROUND(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END, 6) AS punct_ratio,
  ROUND(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
  ROUND(LEAST(n_tokens / 50.0, 1.0) * 0.4
    + CASE WHEN n_tokens > 0 AND (n_chars - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END
    + CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END) <= 0.2 THEN 0.2 ELSE 0.0 END
    + LEAST((CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END) * 2, 0.1), 6) AS quality_score
FROM base
"""


def q_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("int").alias("n_ws_tokens"),
        bpe_ish_token_count("text").cast("int").alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = """
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    from datasketches_pig_spark.textops.analysis import doc_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprints(docs, "doc_id", "text")


# Oracle provenance: expected fingerprints from an independent pure-Python
# scalar replication (tools/gen_fingerprint_oracle.py) of the murmur +
# Karp-Rabin-min kernel.  Regenerate: python tools/gen_fingerprint_oracle.py
SQL_DOC_FINGERPRINT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(fingerprint AS BIGINT) AS fingerprint FROM (VALUES
  (0, 230127405450704452),
  (1, 152616222885506837),
  (2, 410978768034911182),
  (3, 256873268295702718),
  (4, 19147728193624515),
  (5, 358983202777341945),
  (6, 1251282070412683112),
  (7, 23727730515570186),
  (8, 86544867109340677),
  (9, 66784575653926982),
  (10, 58749869998213705),
  (11, 181321512380429156),
  (12, 133094337523742261),
  (13, 11982556083968919),
  (14, 101078767508932101),
  (15, 26868137233756221),
  (16, 3827164704362375287),
  (17, 607788109736856629),
  (18, 224154578660158385),
  (19, 1586189953160908477),
  (20, 492148784838654642),
  (21, 56670567638715693),
  (22, 61233321426916729),
  (23, 69559212050829020),
  (24, 491229715761230242),
  (25, 116651766734443852),
  (26, 2786201847482965944),
  (27, 110264804718039741),
  (28, 450091046035162641),
  (29, 1147998271751477584),
  (30, 1036998245068279147),
  (31, 403975020245887778),
  (32, 458751247134914862),
  (33, 156546384755905134),
  (34, 3228849935550803594),
  (35, 379179830076848006),
  (36, 632829198644188897),
  (37, 484324248824749460),
  (38, 1249685394757373272),
  (39, 203667147316841944),
  (40, 115470292109803030),
  (41, 825209654214165999),
  (42, 520171196620638777),
  (43, 372390870759314687),
  (44, 874320547754552523),
  (45, 10575392172117421),
  (46, 167336193523935866),
  (47, 233699732676610777),
  (48, 148816841369240072),
  (49, 1299546376461629572),
  (50, 282085268252321917),
  (51, 161577539530644383),
  (52, 630004862477639301),
  (53, 2011782824727387277),
  (54, 356189830196879653),
  (55, 248068512554644477),
  (56, 522421462784932697),
  (57, 605936124951860901),
  (58, 101132325097263206),
  (59, 591359683962861925),
  (60, 125228998606087288),
  (61, 323588912216529919),
  (62, 71961263355271190),
  (63, 78706154512472135),
  (64, 612925366017781126),
  (65, 2886860485736493875),
  (66, 236950491401699522),
  (67, 787477886752446026),
  (68, 287883035500828188),
  (69, 118861444265084456),
  (70, 205213823606602834),
  (71, 288201645869113883),
  (72, 565720964420714533),
  (73, 284191909479555402),
  (74, 1676634732169577300),
  (75, 342196390876150949),
  (76, 256872013842596013),
  (77, 108152036211765170),
  (78, 1862085429781559449),
  (79, 1163230574264197450),
  (80, 615474036865738637),
  (81, 517662034862866463),
  (82, 480969930044251194),
  (83, 154719472694112959),
  (84, 225546952468291543),
  (85, 992766077613943687),
  (86, 4590513414066961835),
  (87, 758035583258069609),
  (88, 809797553067836347),
  (89, 2599222452019255530),
  (90, 2643552927704713799),
  (91, 40700332933306902),
  (92, 825510953026311818),
  (93, 720107906073467464),
  (94, 585717078378698093),
  (95, 345560986762026993),
  (96, 994568207633015288),
  (97, 122288914082453853),
  (98, 50203596235312821),
  (99, 1068202011459109856),
  (100, 28547082092194753),
  (101, 447967926647123214),
  (102, 206255274161252379),
  (103, 207372551521686299),
  (104, 735315547778121720),
  (105, 75961277968738770),
  (106, 185587832618061458),
  (107, 3798960787886366),
  (108, 1950742125771452795),
  (109, 586670592736475063),
  (110, 4484040496133884955),
  (111, 479369227961632238),
  (112, 50690164631441957),
  (113, 3252176093749974),
  (114, 81272542331092211),
  (115, 866415456044461315),
  (116, 741536317282405800),
  (117, 815664729532830842),
  (118, 27899230976642371),
  (119, 1028917422721025107),
  (120, 989164318878320127),
  (121, 185784628229125606),
  (122, 2163490154640939022),
  (123, 677141991025175156),
  (124, 212363764158114309),
  (125, 993314526748571360),
  (126, 92589730403797592),
  (127, 155465830673770483),
  (128, 44361705094849863),
  (129, 161780226038243791),
  (130, 1132844061609521258),
  (131, 108880391038232720),
  (132, 262234763417424982),
  (133, 313676804108353270),
  (134, 337471736765284047),
  (135, 49545727345359571),
  (136, 762981976009437960),
  (137, 78418660805053211),
  (138, 32970221042518090),
  (139, 454178890068904336),
  (140, 251706288566167593),
  (141, 52472636806675663),
  (142, 62913647980287805),
  (143, 32510942989949619),
  (144, 2020057727564889222),
  (145, 89033522303956911),
  (146, 3454416752326283709),
  (147, 28361829890341031),
  (148, 2313694562598853275),
  (149, 151810172613134243),
  (150, 756076253118203327),
  (151, 122988592284933830),
  (152, 700368159474724978),
  (153, 118949334213850008),
  (154, 167781601168011069),
  (155, 29393044627233486),
  (156, 2300813219962724913),
  (157, 139203654419045272),
  (158, 5193446735624528),
  (159, 329788290780045606),
  (160, 570130145762210128),
  (161, 515113036620561268),
  (162, 307592155569013557),
  (163, 9040853126023278),
  (164, 325400660376051156),
  (165, 27901417576329671),
  (166, 267326806044807190),
  (167, 20624028611410532),
  (168, 455676740654703916),
  (169, 145597073224295831),
  (170, 1466694690829037633),
  (171, 560395863747038109),
  (172, 3507427170745215044),
  (173, 135493629433171764),
  (174, 860030833371179312),
  (175, 2998048927052879769),
  (176, 105578823429097916),
  (177, 257581951320592745),
  (178, 700368159474724978),
  (179, 394495360079920885),
  (180, 1262565717219855338),
  (181, 6367791122390319131),
  (182, 314689412839387051),
  (183, 1487766373837380921),
  (184, 364550847858246701),
  (185, 323588912216529919),
  (186, 118090262829406411),
  (187, 268161962256455950),
  (188, 642042343394419167),
  (189, 150792650946048340),
  (190, 55163926275398348),
  (191, 184524768453014),
  (192, 150703270724077963),
  (193, 757466435630105496),
  (194, 1115172922013639652),
  (195, 319879150765302345),
  (196, 136839502796808100),
  (197, 566787593186238656),
  (198, 221469174398174263),
  (199, 21075375797995925),
  (200, 9656787741494754),
  (201, 111666920970065015),
  (202, 33580720835576086),
  (203, 840780348322285150),
  (204, 826031814924994270),
  (205, 401514772029899694),
  (206, 1333755982156313275),
  (207, 130689948781367003),
  (208, 356173783378802822),
  (209, 1067237836133647488),
  (210, 13302662195549199),
  (211, 723647007373847197),
  (212, 181598736867551897),
  (213, 385383414447091133),
  (214, 396393739609840773),
  (215, 14007331306991402),
  (216, 42543173647179510),
  (217, 155424000124160156),
  (218, 337003331647371926),
  (219, 712955235249394607),
  (220, 236011449393688923),
  (221, 412772430708765277),
  (222, 207680822214201739),
  (223, 204000031162165377),
  (224, 201064940801598942),
  (225, 522240939242264262),
  (226, 1122758049592191875),
  (227, 78890552251916936),
  (228, 121112031887726476),
  (229, 141354340466888256),
  (230, 320850329234351693),
  (231, 2462209086864065165),
  (232, 335142860753179515),
  (233, 249835689330252881),
  (234, 1110968968524380065),
  (235, 734009012352159608),
  (236, 436916631943063629),
  (237, 156050336938885933),
  (238, 177187945552641048),
  (239, 247376597513661052),
  (240, 141771294038748370),
  (241, 258634165456035815),
  (242, 486037162371242450),
  (243, 1966945464513917547),
  (244, 14204447172764547),
  (245, 86544867109340677),
  (246, 592511020952715038),
  (247, 895563034946047356),
  (248, 159608564568348888),
  (249, 91153164484660144),
  (250, 999566830723635722),
  (251, 60684559052223961),
  (252, 111153156876117135),
  (253, 140523346750237663),
  (254, 2423760212817704679),
  (255, 2458798068564241594),
  (256, 3845878039597232713),
  (257, 2365097036974176194),
  (258, 124430329114362720),
  (259, 309020729810281513),
  (260, 5472091069398375),
  (261, 218414530095396504),
  (262, 256033774757719808),
  (263, 275757411400415696),
  (264, 577886321714123033),
  (265, 398086295425414594),
  (266, 1370095782727941735),
  (267, 10575392172117421),
  (268, 609819644729640878),
  (269, 9055084195800941),
  (270, 103296539255689367),
  (271, 16791178282261931),
  (272, 99572200276928384),
  (273, 952867503427584909),
  (274, 367946609563333113),
  (275, 4724626673776160339),
  (276, 126403500301929702),
  (277, 632710844012613780),
  (278, 359821958511569436),
  (279, 310319821575602808),
  (280, 169088459465435662),
  (281, 684072119289393288),
  (282, 378522033618849413),
  (283, 228508622324642472),
  (284, 416317035837035088),
  (285, 261299684218578627),
  (286, 94044088230165771),
  (287, 1530568193104713684),
  (288, 329366509281778795),
  (289, 13402368708092856),
  (290, 50203596235312821),
  (291, 306322534434068415),
  (292, 639157429125702644),
  (293, 101132325097263206),
  (294, 330571738424196340),
  (295, 2004720071958169779),
  (296, 93859266051809190),
  (297, 735029039972193321),
  (298, 2871462518490708413),
  (299, 32435712078866619),
  (300, 405483267046817915),
  (301, 261299684218578627),
  (302, 258498443090425681),
  (303, 1032835598486533),
  (304, 1494598179529958789),
  (305, 1067269706403579540),
  (306, 257906407799269220),
  (307, 82595867742895070),
  (308, 1386040718565797133),
  (309, 1280266005380524278),
  (310, 103775169110700593),
  (311, 77565995598845303),
  (312, 328166603245071224),
  (313, 2304021617444594331),
  (314, 93483222158851689),
  (315, 273121207244103305),
  (316, 118577572135876671),
  (317, 7459489933873584),
  (318, 439169647851107587),
  (319, 106804721409069360),
  (320, 588733731629901023),
  (321, 339203868887291878),
  (322, 408195397325300340),
  (323, 267326806044807190),
  (324, 604328209398785525),
  (325, 692562033515510703),
  (326, 24791437648694380),
  (327, 900152050959201608),
  (328, 390310278422839229),
  (329, 159255611296377336),
  (330, 340213366974007568),
  (331, 259003179850759133),
  (332, 989164318878320127),
  (333, 111259239259980064),
  (334, 226709728474568290),
  (335, 378344648924389986),
  (336, 57653893964410383),
  (337, 648315152224197320),
  (338, 1607706656887826451),
  (339, 878218699314721483),
  (340, 291333924978316040),
  (341, 88545437583532746),
  (342, 2814537938971702768),
  (343, 53148956289150573),
  (344, 118238915269748836),
  (345, 294657451523094986),
  (346, 61097284395154106),
  (347, 120498753848640660),
  (348, 21462415346961236),
  (349, 211176866144809445),
  (350, 43906645251578032),
  (351, 430295268609934164),
  (352, 22867294683063472),
  (353, 931562864203603120),
  (354, 74559006263806045),
  (355, 1836351101231548959),
  (356, 527432894493929683),
  (357, 721247603083539919),
  (358, 8367810029113593057),
  (359, 128208541097078734),
  (360, 36225007560006678),
  (361, 280254945622610562),
  (362, 1107648087529467162),
  (363, 177975943012479765),
  (364, 414340620150550946),
  (365, 5170860737635893231),
  (366, 75463839799981217),
  (367, 487779830003359419),
  (368, 2867987869798319532),
  (369, 53845339035293777),
  (370, 1013610993116381667),
  (371, 89074046037131108),
  (372, 320888938943844087),
  (373, 128296673281692198),
  (374, 2004720071958169779),
  (375, 18322788207100444),
  (376, 470838860115390105),
  (377, 565720964420714533),
  (378, 261449872167184535),
  (379, 218171392537628990),
  (380, 65996443761714895),
  (381, 250085484809869371),
  (382, 524808486932356558),
  (383, 403975020245887778),
  (384, 1270317960623865937),
  (385, 71823248634797662),
  (386, 758755004869692328),
  (387, 3798960787886366),
  (388, 395013311951909651),
  (389, 103775169110700593),
  (390, 722243796830676774),
  (391, 72797150997543516),
  (392, 466386621613718288),
  (393, 49832665415972477),
  (394, 191074093326550035),
  (395, 259970593573091905),
  (396, 604347134708335270),
  (397, 187408454399506839),
  (398, 1160630755866204357),
  (399, 87089754887128765),
  (400, 1264558946151411152),
  (401, 155417581875494036),
  (402, 1530078814856991731),
  (403, 121136793024097891),
  (404, 30720295317697670),
  (405, 632298497886080567),
  (406, 409861046842259515),
  (407, 282499127755142122),
  (408, 2421729606861590102),
  (409, 831063287875108247),
  (410, 293702699384931986),
  (411, 179648781529981769),
  (412, 258425069551399084),
  (413, 10575392172117421),
  (414, 132810238426418825),
  (415, 469958480071465011),
  (416, 351019209515395142),
  (417, 476928694952252710),
  (418, 154547122779683904),
  (419, 2159925991049176577),
  (420, 49832665415972477),
  (421, 28841897136326257),
  (422, 248161266983585241),
  (423, 1183421618978053075),
  (424, 48177434953626542),
  (425, 1395378071120763075),
  (426, 310408336531622689),
  (427, 31639758240634508),
  (428, 1242291040285777123),
  (429, 169998080721452931),
  (430, 52979832452325983),
  (431, 504014976756170099),
  (432, 80376807439230762),
  (433, 691512312451901810),
  (434, 125656035123120100),
  (435, 727063537665793061),
  (436, 7204175218099286),
  (437, 112578890078638677),
  (438, 23223560309387124),
  (439, 1276414020989175455),
  (440, 42261044627054364),
  (441, 242606757280823947),
  (442, 283344463554172074),
  (443, 189624263279791876),
  (444, 201715374036792212),
  (445, 356641058258225050),
  (446, 874320547754552523),
  (447, 205213823606602834),
  (448, 302158827249971999),
  (449, 300347015622048829),
  (450, 825510953026311818),
  (451, 185936025501604753),
  (452, 54546677487849120),
  (453, 47535673175625844),
  (454, 579147181330340653),
  (455, 2786201847482965944),
  (456, 511432665551484211),
  (457, 24791437648694380),
  (458, 529862363909117478),
  (459, 141362901879611082),
  (460, 498294629003532949),
  (461, 110579119159857508),
  (462, 529862363909117478),
  (463, 92319164341761486),
  (464, 225440428047816490),
  (465, 147827612848564747),
  (466, 123569211158964064),
  (467, 435567141256084057),
  (468, 1097579015923249909),
  (469, 4451366024135794514),
  (470, 323970609120103712),
  (471, 76511959668470197),
  (472, 469792934717891197),
  (473, 340296571613041118),
  (474, 392959660463029439),
  (475, 295525890537851472),
  (476, 728124855489268859),
  (477, 265151706619907111),
  (478, 644585751336398547),
  (479, 299015813547611401),
  (480, 330982695804939169),
  (481, 600648973375890211),
  (482, 1173322977358138171),
  (483, 397604580707221568),
  (484, 95070637892355351),
  (485, 1545771736623757455),
  (486, 727063537665793061),
  (487, 439503799285976196),
  (488, 1030250623067243470),
  (489, 21129445555368136),
  (490, 1566146461119530440),
  (491, 674948354065582247),
  (492, 3025680639772674480),
  (493, 71018160061709719),
  (494, 178383017664254166),
  (495, 21937509157597615),
  (496, 449053392265479420),
  (497, 307371842141650795),
  (498, 828510298657363860),
  (499, 1508065231192986740)
) t(doc_id, fingerprint)
"""


def q_ann_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = cosine_topk(corpus, queries, k=5)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


SQL_ANN_COSINE = """
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 3
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.e, q.e)
           / (SQRT(list_dot_product(c.e, c.e)) * SQRT(list_dot_product(q.e, q.e)) + 1e-30)
           AS cosine
  FROM c CROSS JOIN q
)
SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored
) WHERE rank <= 5
"""


def q_ann_lsh(spark, sf_dir):
    """RHP-LSH top-k in the regime the prefilter serves (see
    ``rhp_lsh_topk``'s contract): queries are deterministically perturbed
    copies of the first three corpus vectors (elementwise scale by
    1 + 0.01*((i%7)-3): cosine ~0.9999, signature Hamming ~0-3), so each
    query's planted neighbor MUST be found by the pigeonhole guarantee
    while the prefilter prunes the ~500 near-orthogonal others.  The same
    transform runs in the numpy oracle replication and the DuckDB SQL."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            F.col("embedding"), lambda x, i: x * (1 + 0.01 * ((i % 7) - 3))
        ).alias("embedding"),
    )
    out = rhp_lsh_topk(emb, queries, k=5, dim=64)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


# Oracle provenance: the candidate pair list below is produced by an
# independent Spark-free numpy replication of the RHP-LSH pipeline
# (tools/gen_ann_lsh_oracle.py) over the same sf0.01 embeddings; DuckDB then
# recomputes cosine + rank for those pairs itself.  Regenerate with:
#   python tools/gen_ann_lsh_oracle.py > /tmp/ann_lsh_oracle.sql
SQL_ANN_LSH = """
WITH cand(query_id, vec_id) AS (VALUES
  (0, 0),
  (1, 1),
  (2, 2)
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), q AS (
  SELECT vec_id AS query_id,
         list_transform(range(1, len(e)+1), i -> e[i] * (1 + 0.01*((i-1)%7 - 3))) AS e
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 3)
), scored AS (
  SELECT cand.query_id, cand.vec_id,
         list_dot_product(c.e, q.e)
           / (SQRT(list_dot_product(c.e, c.e)) * SQRT(list_dot_product(q.e, q.e)) + 1e-30)
           AS cosine
  FROM cand JOIN c ON cand.vec_id = c.vec_id JOIN q ON cand.query_id = q.query_id
)
SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
FROM scored
"""


def q_ann_ivf(spark, sf_dir):
    from datasketches_pig_spark.ann.knn import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    # n_probe == n_centroids is the structurally-exact collapse (every
    # inverted list probed ⇒ complete coverage), the ANN analog of running a
    # sketch below k: the full code path (k-means, list assignment, probe,
    # re-rank) executes, and the result provably equals brute force — so the
    # brute-force SQL is a valid oracle.  The pruned path (n_probe <
    # n_centroids) is recall-tested in tests/test_textops.py.
    out = ivf_topk(corpus, queries, k=5, n_centroids=8, n_probe=8)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_murmur3(spark, sf_dir):
    from datasketches_pig_spark.functions.spark_udfs import murmur3_128

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 50)
    return part.select(
        "p_partkey", murmur3_128(F.col("p_name"), seed=9001, divisor=7).alias("h")
    ).select("p_partkey", "h.h0", "h.h1", "h.mod")


# Oracle provenance: expected rows computed by the scalar pure-Python spec
# implementation (functions/murmur3.py, pytest-verified against the public
# MurmurHash3 reference vectors) — a different code path from the vectorized
# numpy kernel the UDF runs.  Regenerate: python tools/gen_murmur3_oracle.py
SQL_MURMUR3 = """
SELECT * FROM (VALUES
  (0, -2135694510796659233, -8909410107141689625, 4),
  (1, 5652312406094835316, -7165059251390297582, 1),
  (2, -883370753182888495, -5345207899077347148, 4),
  (3, 8071035840995872150, -643565619170381093, 3),
  (4, 2766033290405459966, 7273878203874416107, 5),
  (5, 1779574554894547982, 4419073537401243362, 0),
  (6, 4184507540876087398, 6613176087059693713, 5),
  (7, -7778410706533088755, 9063863625691917270, 3),
  (8, 127058411603923876, 8985526305027615844, 0),
  (9, 6890137931708621938, 279261214831630426, 4),
  (10, 6249389081288202330, 8044508817006608912, 5),
  (11, 5329737770452742349, 8952897491762796662, 1),
  (12, -7778410706533088755, 9063863625691917270, 3),
  (13, -8674591989606966749, 4702710057531118956, 0),
  (14, 2650174140238841288, 2037726336907167674, 5),
  (15, -4225722715438581915, 2557988204415678285, 2),
  (16, 7830775319368804327, -4271444729869702254, 0),
  (17, -1743200627567094944, 861312618345685068, 5),
  (18, 5073993431447684809, -4942370317347854796, 1),
  (19, -6783809215458004492, 3565039538955669232, 1),
  (20, 7830775319368804327, -4271444729869702254, 0),
  (21, -3712051436679452353, -2489115427969308312, 4),
  (22, 943021450927818869, 7026010252224840278, 4),
  (23, 5412195991593332905, 8789535217710388746, 4),
  (24, -3712051436679452353, -2489115427969308312, 4),
  (25, -7327965742691718048, -425800178633063100, 0),
  (26, -8500484249429875402, 6093985353657983403, 0),
  (27, 3695145214287263670, 7421638662013414769, 3),
  (28, 5652312406094835316, -7165059251390297582, 1),
  (29, -2417743853346515552, -7561585354744731082, 2),
  (30, -4225722715438581915, 2557988204415678285, 2),
  (31, 59731931958993520, -9032899306327133489, 6),
  (32, 6830375538012584244, -1642393744212683495, 2),
  (33, -4225722715438581915, 2557988204415678285, 2),
  (34, -8674591989606966749, 4702710057531118956, 0),
  (35, -883370753182888495, -5345207899077347148, 4),
  (36, 1425314499887368151, -8639054716914783473, 1),
  (37, -8137010452975213204, -9104415843907021822, 6),
  (38, 7830775319368804327, -4271444729869702254, 0),
  (39, 1425314499887368151, -8639054716914783473, 1),
  (40, -2135694510796659233, -8909410107141689625, 4),
  (41, 5587914256595383589, 548270757897718039, 6),
  (42, 59731931958993520, -9032899306327133489, 6),
  (43, -6021458987861834536, 4767987980197655328, 3),
  (44, 1903013698452751179, -3767741759789500376, 1),
  (45, 9204517251253989771, -4306596380779778209, 2),
  (46, 9059965511705618147, -8548447956215515081, 0),
  (47, 5412195991593332905, 8789535217710388746, 4),
  (48, 127058411603923876, 8985526305027615844, 0),
  (49, 376659406386245181, 5882125162063652133, 0),
  (50, -6783809215458004492, 3565039538955669232, 1)
) t(p_partkey, h0, h1, mod)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def registry() -> dict[str, tuple[Callable, str | None]]:
    """Ordered query registry.  ORDER IS LOAD-BEARING: the driver's
    correctness snapshot records the FIRST 50 entries, so the order is
    (1) the LLM-data-pipeline operators (dedup / ANN / text analysis — the
    brief's first-class components), (2) one query per sketch-operator
    family, (3) a tail of debug-string and near-duplicate variant queries
    whose operators already have an in-gate row; the tail is still checked
    by ``tools/check_oracle.py`` (driver-identical harness) every run."""
    return {
        # --- LLM-data-pipeline operators (dedup / ANN / text analysis) ---
        "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
        "dedup_minhash": (q_dedup_minhash, _NGRAM_ORACLE),
        "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
        "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
        "dedup_ngram": (q_dedup_ngram, _NGRAM_ORACLE),
        "ann_cosine": (q_ann_cosine, SQL_ANN_COSINE),
        "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
        "ann_ivf": (q_ann_ivf, SQL_ANN_COSINE),
        "murmur3": (q_murmur3, SQL_MURMUR3),
        "lang_id": (q_lang_id, _sql_lang_id()),
        "quality_score": (q_quality, _sql_quality()),
        "token_count": (q_token_count, SQL_TOKEN_COUNT),
        "doc_fingerprint": (q_fingerprint, SQL_DOC_FINGERPRINT),
        "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
        "dedup_minhash_cjk": (q_dedup_minhash_cjk, SQL_DEDUP_MINHASH_CJK),
        "dedup_jpeg": (q_dedup_jpeg, SQL_DEDUP_JPEG),
        "dedup_adpcm": (q_dedup_adpcm, SQL_DEDUP_ADPCM),
        # r6: the genuinely stateful streaming path (applyInPandasWithState
        # replay, ≥6 micro-batches, cumulative state hash-checked against
        # the batch GROUP BY) — promoted into the gate because it closes the
        # one §2.10 row the driver could not previously hash-check;
        # dedup_mjpeg moved to the tail (its two sibling media gates,
        # dedup_jpeg + dedup_adpcm, keep the compressed-media families
        # in-gate, and mjpeg rides the same JPEG codec + banding machinery)
        "streaming_replay": (q_streaming_replay, SQL_STREAMING_REPLAY),
        # --- sketch-operator families (one query per reference operator) ---
        "theta_distinct": (q_theta_distinct, SQL_THETA_DISTINCT),
        "theta_union": (q_theta_union, SQL_THETA_UNION),
        "theta_intersect": (q_theta_intersect, SQL_THETA_INTERSECT),
        "theta_anotb": (q_theta_anotb, SQL_THETA_ANOTB),
        "theta_jaccard": (q_theta_jaccard, SQL_THETA_JACCARD),
        "theta_bounds": (q_theta_bounds, SQL_THETA_BOUNDS),
        "hll_distinct": (q_hll_distinct, SQL_HLL_DISTINCT),
        "hll_bounds": (q_hll_bounds, SQL_HLL_BOUNDS),
        "cpc_distinct": (q_cpc_distinct, SQL_CPC_DISTINCT),
        "cpc_bounds": (q_cpc_bounds, SQL_CPC_BOUNDS),
        "kll_quantiles": (q_kll_quantiles, SQL_KLL_QUANTILES),
        "kll_pmf": (q_kll_pmf, SQL_KLL_PMF),
        "kll_cdf": (q_kll_cdf, SQL_KLL_CDF),
        "kll_rank": (q_kll_rank, SQL_KLL_RANK),
        "quantiles_strings": (q_quantiles_strings, SQL_QUANTILES_STRINGS),
        "freq_items": (q_freq_items, SQL_FREQ_ITEMS),
        "freq_approx": (q_freq_approx, SQL_FREQ_APPROX),
        "reservoir_shortcut": (q_reservoir_shortcut, SQL_RESERVOIR_SHORTCUT),
        "reservoir_state_union": (q_reservoir_state_union, SQL_RESERVOIR_STATE_UNION),
        "reservoir_mixed_k": (q_reservoir_mixed_k, SQL_RESERVOIR_MIXED_K),
        "varopt_shortcut": (q_varopt_shortcut, SQL_VAROPT_SHORTCUT),
        "varopt_state_union": (q_varopt_state_union, SQL_VAROPT_STATE_UNION),
        "varopt_mixed_k": (q_varopt_mixed_k, SQL_VAROPT_MIXED_K),
        "aod_sums": (q_aod_sums, SQL_AOD_SUMS),
        "aod_estimates": (q_aod_estimates, SQL_AOD_ESTIMATES),
        "aod_bounds": (q_aod_bounds, SQL_AOD_BOUNDS),
        "aod_ttest": (q_aod_ttest, SQL_AOD_TTEST),
        "aod_moments": (q_aod_moments, SQL_AOD_MOMENTS),
        "double_summary_percentile": (
            q_double_summary_percentile,
            SQL_DOUBLE_SUMMARY_PERCENTILE,
        ),
        "rollup_agg": (q_rollup_agg, SQL_ROLLUP_AGG),
        "topk_window": (q_topk_window, SQL_TOPK_WINDOW),
        "setop_intersect": (q_setop_intersect, SQL_SETOP_INTERSECT),
        # --- entry 51+: variants whose operator already has an in-gate row ---
        # freq_nfp moved here in r4 (frequencies keeps two in-gate rows) to
        # make room for dedup_minhash_cjk; events_sessions moved here in r5
        # to make room for dedup_jpeg — the streaming-analog family keeps
        # three still-checked rows (sessions/tumbling/sliding) and its
        # stateful paths are pytest-driven (tests/test_streaming.py);
        # double_summary_minmax moved here in r5 to make room for
        # dedup_adpcm — it is a min/max MODE variant of the same
        # DataTo(DoubleSummary)Sketch operator whose sum mode stays in-gate
        # (double_summary_percentile); sketch_summaries moved here later in
        # r5 to make room for dedup_mjpeg (compressed-video near-dup) — it
        # is a cross-family ToString round-up whose every constituent sketch
        # family keeps its own in-gate row
        "sketch_summaries": (q_sketch_summaries, SQL_SKETCH_SUMMARIES),
        "double_summary_minmax": (q_double_summary_minmax, SQL_DOUBLE_SUMMARY_MINMAX),
        "events_sessions": (q_events_sessions, SQL_EVENTS_SESSIONS),
        "freq_nfp": (q_freq_nfp, SQL_FREQ_NFP),
        "theta_p": (q_theta_p, SQL_THETA_P),
        "events_tumbling": (q_events_tumbling, SQL_EVENTS_TUMBLING),
        "events_sliding": (q_events_sliding, SQL_EVENTS_SLIDING),
        "dedup_exact_fast": (q_dedup_exact_fast, SQL_DEDUP_EXACT),
        "freq_events": (q_freq_events, SQL_FREQ_EVENTS),
        "setop_except": (q_setop_except, SQL_SETOP_EXCEPT),
        "reservoir_union": (q_reservoir_union, SQL_RESERVOIR_UNION),
        "varopt_union": (q_varopt_union, SQL_VAROPT_UNION),
        "varopt_unpack": (q_varopt_unpack, SQL_VAROPT_UNPACK),
        "kll_even_quantiles": (q_kll_even_quantiles, SQL_KLL_EVEN_QUANTILES),
        "strings_pmf": (q_strings_pmf, SQL_STRINGS_PMF),
        "theta_jaccard_bounds": (q_theta_jaccard_bounds, SQL_THETA_JACCARD_BOUNDS),
        "theta_to_string": (q_theta_to_string, SQL_THETA_TO_STRING),
        "hll_to_string": (q_hll_to_string, SQL_HLL_TO_STRING),
        "cpc_to_string": (q_cpc_to_string, SQL_CPC_TO_STRING),
        "kll_to_string": (q_kll_to_string, SQL_KLL_TO_STRING),
        "freq_to_string": (q_freq_to_string, SQL_FREQ_TO_STRING),
        "aod_means": (q_aod_means, SQL_AOD_MEANS),
        "aod_variances": (q_aod_variances, SQL_AOD_VARIANCES),
        "aod_retained": (q_aod_retained, SQL_AOD_RETAINED),
        "dedup_adpcm_lsh": (q_dedup_adpcm_lsh, SQL_DEDUP_ADPCM_LSH),
        "dedup_mjpeg": (q_dedup_mjpeg, SQL_DEDUP_MJPEG),
        "dedup_gif_anim": (q_dedup_gif_anim, SQL_DEDUP_GIF_ANIM),
    }
