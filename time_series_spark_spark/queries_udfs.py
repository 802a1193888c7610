"""Queries exercising the remaining UDF kinds (SURVEY.md §2.L1/L2/L3/L8)
plus backward fill (F3's second half).

Each UDF query filters + projects BEFORE the Python boundary (SURVEY.md
§4.3: Catalyst cannot push anything through a UDF node) and aggregates the
UDF output JVM-side, so the Arrow transfer carries only the columns the UDF
actually reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df

from time_series_spark_spark.functions.udfs import (
    ShinglesUDTF,
    embedding_norm_iter,
    token_count_pandas,
    value_band_row_udf,
)
from time_series_spark_spark.queries import register
from time_series_spark_spark.queries_timeseries import (
    _DAILY_USER_GRID_SQL,
    _daily_user_value,
)
from time_series_spark_spark.operators.timeseries import bfill
from time_series_spark_spark.sources.io import load


# --------------------------------------------------------------------------
# L1 row UDF (the one discouraged example)
# --------------------------------------------------------------------------
@register(
    "udf_value_band_row",
    """
    SELECT CASE WHEN value < 10 THEN 'low'
                WHEN value < 50 THEN 'mid'
                ELSE 'high' END AS band,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="L1 row-at-a-time Python UDF (banding) — kept as the single "
    "discouraged example; value_band_expr is the codegen-friendly twin",
)
def udf_value_band_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("value")
    return (
        ev.withColumn("band", value_band_row_udf("value"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# L2 scalar pandas UDF
# --------------------------------------------------------------------------
@register(
    "udf_token_count_pandas",
    """
    SELECT lang,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           max(len(string_split(text, ' ')))  AS max_tokens
    FROM documents
    GROUP BY lang
    """,
    doc="L2 scalar pandas UDF: Arrow-vectorized whitespace token count, "
    "aggregated JVM-side per language",
)
def udf_token_count_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    return (
        docs.withColumn("n_tok", token_count_pandas("text"))
        .groupBy("lang")
        .agg(
            F.sum("n_tok").alias("total_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


# --------------------------------------------------------------------------
# L3 iterator pandas UDF
# --------------------------------------------------------------------------
@register(
    "udf_embedding_norm_iter",
    """
    SELECT label,
           round(avg(sqrt(list_inner_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]))), 6)
               AS avg_norm,
           count(*) AS n
    FROM embeddings
    GROUP BY label
    """,
    doc="L3 iterator pandas UDF: per-partition-amortized L2 norm of the "
    "embedding column, averaged per label",
)
def udf_embedding_norm_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("label", "embedding")
    return (
        emb.withColumn("norm", embedding_norm_iter("embedding"))
        .groupBy("label")
        .agg(
            F.round(F.avg("norm"), 6).alias("avg_norm"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# L8 Python UDTF via LATERAL
# --------------------------------------------------------------------------
@register(
    "udtf_doc_shingles",
    """
    SELECT doc_id,
           len(sh) AS n_shingles,
           len(list_distinct(sh)) AS n_distinct
    FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents
              WHERE doc_id < 30 AND len(string_split(text, ' ')) >= 3)
    )
    """,
    doc="L8 Python UDTF: word-3-gram table function applied via LATERAL, "
    "shingle counts re-aggregated JVM-side. Docs under 3 tokens are "
    "filtered EXPLICITLY on both sides: Spark's inner LATERAL silently "
    "drops zero-row UDTF inputs while the DuckDB subquery would emit "
    "n_shingles=0 for them — pinning the filter makes the exclusion a "
    "stated semantic rather than a corpus accident.",
)
def udtf_doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("shingles_udtf", ShinglesUDTF)
    load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 30) & (F.size(F.split("text", " ")) >= 3)
    ).select("doc_id", "text").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id,
               count(*) AS n_shingles,
               count(DISTINCT s.shingle) AS n_distinct
        FROM _udtf_docs d, LATERAL shingles_udtf(d.text, 3) s
        GROUP BY d.doc_id
        """
    )


# --------------------------------------------------------------------------
# F3 backward fill (mirror of events_ffill_daily)
# --------------------------------------------------------------------------
@register(
    "events_bfill_daily",
    f"""
    WITH {_DAILY_USER_GRID_SQL}
    SELECT user_id, d,
           first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS v_filled
    FROM joined
    """,
    doc="F3 bfill: carry next observation backward over per-user daily gaps",
)
def events_bfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _daily_user_value(spark, sf_dir)
    return bfill(grid, ["user_id"], "d", ["v"]).select(
        "user_id", "d", F.col("v").alias("v_filled")
    )


# --------------------------------------------------------------------------
# L9 modern Python boundaries (round 4): Arrow UDF, mapInArrow,
# polymorphic UDTF
# --------------------------------------------------------------------------
@register(
    "udf_vowels_arrow",
    r"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '[aeiou]'))) AS BIGINT)
               AS n_vowels,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
    doc="L9a Arrow-optimized scalar UDF (useArrow=True): legacy row-UDF "
    "signature, Arrow-batched transfer — the drop-in upgrade for row "
    "UDFs; aggregated JVM-side and oracle-checked",
)
def udf_vowels_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.functions.udfs import vowel_count_arrow_udf

    vowels = vowel_count_arrow_udf()
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    return docs.groupBy("lang").agg(
        F.sum(vowels("text")).cast("long").alias("n_vowels"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "events_cents_map_in_arrow",
    """
    SELECT event_type,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    doc="L9b mapInArrow: pyarrow.compute kernel over raw RecordBatches "
    "(no pandas materialization — the cheapest Python boundary); floor "
    "semantics shared by pyarrow/Spark/DuckDB so the integer-cents "
    "aggregate is oracle-exact",
)
def events_cents_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.functions.udfs import cents_map_in_arrow

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    with_cents = cents_map_in_arrow(ev)
    return with_cents.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "udtf_first_tokens_dynamic",
    """
    SELECT doc_id,
           t[1] AS tok0, t[2] AS tok1, t[3] AS tok2
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    WHERE doc_id < 20
    """,
    doc="L9c polymorphic UDTF: analyze() computes the output schema from "
    "the constant width argument at plan time (first_tokens(text, 3) -> "
    "tok0..tok2) — one UDTF, any width, no per-call DDL",
)
def udtf_first_tokens_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.functions.udfs import make_first_tokens_udtf

    spark.udtf.register("first_tokens", make_first_tokens_udtf())
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.tok0, t.tok1, t.tok2
        FROM docs_udtf d, LATERAL first_tokens(d.text, 3) t
        WHERE d.doc_id < 20
        """
    )


@register(
    "user_value_stats_arrow",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           min(value)               AS v_min,
           max(value)               AS v_max,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS v_sum_cents
    FROM events GROUP BY user_id
    """,
    doc="L9d groupBy().applyInArrow: per-group stats computed on raw "
    "pyarrow Tables (the Arrow-native grouped map, no pandas per-group "
    "materialization) — integer-cents floor semantics keep it "
    "oracle-exact",
)
def user_value_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.functions.udfs import user_stats_apply_in_arrow

    return user_stats_apply_in_arrow(load(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# N1: supervised MLlib pipeline (round 4)
# --------------------------------------------------------------------------
@register(
    "ml_purchase_propensity",
    None,  # distributed L-BFGS training → rows-only; planted-signal
    # AUC > 0.75 and feature/label construction pinned in tests/test_ml.py
    doc="N1 supervised MLlib pipeline: next-day purchase propensity — "
    "per-(user, day) behavioral features on a dense calendar grid, "
    "VectorAssembler -> StandardScaler -> LogisticRegression in a "
    "Pipeline, time-based train/test split, ROC-AUC via "
    "BinaryClassificationEvaluator; completes the reference's 'MLlib' "
    "surface (KMeans shape clustering and MinHashLSH already in use) with the "
    "estimator/evaluator half",
)
def ml_purchase_propensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import purchase_propensity_auc

    m = purchase_propensity_auc(
        load(spark, sf_dir, "events"), cutoff="2024-01-22"
    )
    return local_df(spark, 
        [(m["n_train"], m["n_test"], m["pos_rate_test"], m["auc"])],
        "n_train long, n_test long, pos_rate_test double, auc double",
    )


@register(
    "ml_als_part_recommendations",
    None,  # block-partitioned factorization → rows-only; planted
    # block-preference recovery pinned in tests/test_ml.py
    doc="N2 ALS implicit-feedback recommender (Hu-Koren-Volinsky, MLlib "
    "ALS implicitPrefs): customer x part interaction strengths from "
    "lineitem quantities, factorized rank-8; top-3 part recommendations "
    "for the 10 lowest customer ids — MLlib's canonical distributed "
    "factorization, completing the N-surface beside the LR pipeline",
)
def ml_als_part_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import (
        als_recommend,
        purchase_matrix,
    )

    inter = purchase_matrix(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    )
    return als_recommend(inter, n_users=10, k=3).orderBy("user", "rec_rank")


@register(
    "ml_frequent_event_sequences",
    None,  # projection-database mining → rows-only; planted-sequence
    # recovery pinned in tests/test_ml.py
    doc="N3 PrefixSpan sequential-pattern mining (MLlib-native): "
    "frequent gapped event-type subsequences across per-user ordered "
    "histories (min support 0.4, length <= 3) — generalizes the F38 "
    "strictly-contiguous matcher",
)
def ml_frequent_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import frequent_event_sequences

    return frequent_event_sequences(
        load(spark, sf_dir, "events"), min_support=0.4, max_pattern_length=3
    )


@register(
    "ml_part_association_rules",
    None,  # FP-tree mining → rows-only; planted-basket recovery pinned
    # in tests/test_ml.py
    doc="N4 FPGrowth market-basket mining (MLlib-native): association "
    "rules over order baskets of part BRANDS (antecedent => consequent, "
    "confidence, lift) — top-20 by lift with deterministic stringified "
    "itemsets",
)
def ml_part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import frequent_itemsets

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    baskets = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
    )
    _, rules = frequent_itemsets(
        baskets, min_support=0.02, min_confidence=0.1
    )
    return rules.orderBy(F.desc("lift"), "antecedent", "consequent").limit(20)


@register(
    "ml_als_eval_precision",
    None,  # factorization + held-out ranking → rows-only; planted
    # block-preference precision pinned in tests/test_ml.py (including
    # the per-user-salted split — a global md5(item) order holds out the
    # SAME cold items for every user and ruins any recommender eval)
    doc="N2b recommender offline evaluation: per-user-salted 80/20 "
    "hold-out of the customer x part interactions, ALS trained on the "
    "rest, precision@5 / recall@5 of the top recommendations against "
    "the held-out items (training items excluded from credit; candidate "
    "count clears the user's own trained items)",
)
def ml_als_eval_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import (
        als_precision_at_k,
        purchase_matrix,
    )

    inter = purchase_matrix(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    )
    m = als_precision_at_k(inter, cutoff_frac=0.8, k=5)
    return local_df(spark, 
        [
            (
                m["n_users"],
                m["n_test_interactions"],
                m["precision_at_k"],
                m["recall_at_k"],
            )
        ],
        "n_users long, n_test_interactions long, precision_at_5 double, "
        "recall_at_5 double",
    )


@register(
    "ml_aft_session_lifetime",
    None,  # censored-likelihood L-BFGS fit → rows-only; planted
    # lifetime-separation and censoring-honesty pinned in tests/test_ml.py
    doc="N7 AFT (Weibull) survival regression on session durations with "
    "right-censoring at the corpus horizon — the parametric counterpart "
    "of the F46 Kaplan-Meier curve, on the identical session frame: "
    "censored (still-open) sessions enter the likelihood instead of "
    "being dropped (the bias the naive closed-only mean carries). "
    "Reports coefficients, Weibull scale, and mean predicted duration "
    "for censored vs ended sessions",
)
def ml_aft_session_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import aft_session_lifetime

    m = aft_session_lifetime(load(spark, sf_dir, "events"))
    return local_df(spark, 
        [tuple(m.values())],
        "n_sessions long, n_ended long, n_censored long, "
        "coef_events double, coef_purchase_share double, aft_scale double, "
        "mean_pred_ended double, mean_pred_censored double",
    )


@register(
    "synthetic_source_series_stats",
    # The series generator is fully deterministic (per-series PCG64
    # seeded by seed*100_003+sid, fixed epoch, 1 h step, 96 points), so
    # the expected per-series stats are a CLOSED FORM — pinned here as a
    # VALUES oracle, independently re-derived in plain numpy (not via
    # Spark) in tests/test_streaming.py (next to the A11 source's other
    # replay tests); pushdown-pruning laws are pinned in tests/test_udfs.py.
    """
    SELECT CAST(series_id AS BIGINT) AS series_id,
           CAST(96 AS BIGINT) AS n_points,
           CAST(mean_value AS DOUBLE) AS mean_value,
           TIMESTAMP '2023-11-14 22:13:20' AS first_ts,
           TIMESTAMP '2023-11-18 21:13:20' AS last_ts
    FROM (VALUES
        (0, 10.0507),
        (1, 10.927),
        (2, 12.0846),
        (3, 13.026),
        (4, 14.0988),
        (5, 14.9659),
        (6, 16.077),
        (7, 17.0091)
    ) AS t(series_id, mean_value)
    ORDER BY series_id
    """,
    doc="A11 custom Python DataSource (Spark 4 pyspark.sql.datasource): "
    "a deterministic synthetic-series generator source with REAL "
    "partition planning (one InputPartition per series shard) and "
    "filter PUSHDOWN (series_id range predicates prune shards before a "
    "row is generated — the Python analogue of row-group pruning). The "
    "query reads with series_id < 8 pushed into the source and "
    "aggregates per series",
)
def synthetic_source_series_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_series")
        .option("n_series", 16)
        .option("points_per_series", 96)
        .option("seed", 7)
        .load()
        .filter(F.col("series_id") < 8)
    )
    return (
        df.groupBy("series_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.avg("value"), 4).alias("mean_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("series_id")
    )
