"""Supervised MLlib pipeline: next-day purchase propensity.

The reference's driver category is "ML-lib" (BASELINE.json:5 — "MLlib +
UDFs for Prophet forecasting over partitioned time-series"); the engine
already uses MLlib for series-shape clustering (KMeans) and MinHash
LSH. This module adds the supervised half of that surface: a
feature-assembly → estimator → evaluation pipeline, built the idiomatic
way (`VectorAssembler` + `StandardScaler` + `LogisticRegression` inside
a `Pipeline`, time-based train/test split) with an exact rank-based
ROC-AUC (`rank_auc`) — the standard Spark propensity-model shape.

Scale notes: feature building is one conditional-aggregation pass per
(user, day) plus a lead() window on the same partitioning; MLlib LR
trains with distributed L-BFGS (tree-aggregated gradients), and scoring
is a broadcast of the coefficient vector — nothing driver-side beyond
the model object itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

FEATURES = ["n_click", "n_view", "n_error", "n_signup", "n_events", "day_value"]


def rank_auc(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "probability",
) -> float:
    """Exact ROC-AUC via the tie-averaged Mann-Whitney rank identity:

        AUC = (Σ_{positives} avgrank(score) − n_pos(n_pos+1)/2)
              / (n_pos · n_neg)

    Pure DataFrame — one hash aggregation to DISTINCT scores, one
    ordered window over that (bounded by score cardinality, not rows),
    one reduce. Replaces ``BinaryClassificationEvaluator`` everywhere in
    this repo for two reasons: (a) the evaluator's RDD conversion
    crashes with "Task not serializable: ObservationManager" whenever
    any query in the session has used ``Observation`` (the A8 quality
    gate does) — a session-ordering landmine; (b) the evaluator bins
    scores (numBins=1000 default), while the rank form is EXACT and
    deterministic. If ``score_col`` is an MLlib vector, P(class 1) is
    extracted; a plain numeric column is used as-is. Degenerate input
    (single class) returns nan, matching the evaluator's convention.
    """
    if dict(scored.dtypes).get(score_col) == "vector":
        from pyspark.ml.functions import vector_to_array

        score = vector_to_array(F.col(score_col))[1]
    else:
        score = F.col(score_col).cast("double")
    per = (
        scored.select(
            score.alias("p"), F.col(label_col).cast("double").alias("y")
        )
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    w_prev = Window.orderBy("p").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranks = per.select(
        "n",
        "n_pos",
        (
            F.coalesce(F.sum("n").over(w_prev), F.lit(0))
            + (F.col("n") + 1) / 2.0
        ).alias("avg_rank"),
    )
    # coalesce: an EMPTY input aggregates to NULL sums — the degenerate-
    # class guard below must see 0, not crash on None arithmetic
    row = ranks.agg(
        F.coalesce(
            F.sum(F.col("n_pos") * F.col("avg_rank")), F.lit(0.0)
        ).alias("r_pos"),
        F.coalesce(F.sum("n_pos"), F.lit(0)).alias("np"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("nt"),
    ).collect()[0]
    n_pos, n_neg = row["np"], row["nt"] - row["np"]
    if not n_pos or not n_neg:
        return float("nan")
    return float(
        (row["r_pos"] - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    )


def fit_clean(estimator, df: DataFrame, tmp_dir: str | None = None):
    """Fit, then roundtrip the fitted model through save/load — which
    strips ``trainingSummary`` (persisted models carry none).

    Why: ``LogisticRegressionModel.trainingSummary`` holds a reference to
    the fit-time SparkSession, whose ``observationManager`` field is not
    serializable; once ANY query in the session has used
    ``pyspark.sql.Observation`` (the A8 quality gate does), every
    ``model.transform`` closure that captures the summary-bearing model
    dies with "Task not serializable: ObservationManager" (Spark 4.1,
    reproduced in tests/test_ml.py). The roundtrip is the public-API way
    to drop the summary; it is also exactly the production train→persist
    →score flow. ``tmp_dir`` defaults to a driver-local temp dir (fine on
    local/client mode; pass a shared filesystem path on a real cluster).
    """
    import shutil
    import tempfile
    import uuid

    model = estimator.fit(df)
    base = tmp_dir or tempfile.mkdtemp(prefix="spark-fit-clean-")
    path = f"{base}/{uuid.uuid4().hex}"
    model.write().overwrite().save(path)
    clean = type(model).load(path)
    shutil.rmtree(path, ignore_errors=True)
    return clean


class RankAucEvaluator:
    """Drop-in ``Evaluator`` for CrossValidator backed by ``rank_auc``
    (driver-side .evaluate over a DataFrame — no RDD path, no
    Observation interaction)."""

    def __new__(cls, labelCol: str = "label", scoreCol: str = "probability"):
        from pyspark.ml.evaluation import Evaluator

        class _Impl(Evaluator):
            def _evaluate(self, dataset):
                return rank_auc(dataset, labelCol, scoreCol)

            def isLargerBetter(self):
                return True

        return _Impl()


def daily_user_features(events: DataFrame) -> DataFrame:
    """Per (user, day): event-type counts, total count, summed value,
    and the LABEL = did the user purchase on the NEXT calendar day
    (lead over the dense per-user day grid; trailing day dropped —
    its label is unobservable)."""
    daily = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        *[
            F.sum(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"n_{t}")
            for t in ["click", "view", "error", "signup"]
        ],
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchased_today"),
    )
    # dense grid so "next day" is the calendar next day, not the next
    # OBSERVED day (absence of activity is itself a signal)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    grid = (
        daily.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
        )
    )
    dense = grid.join(daily, ["user_id", "d"], "left").fillna(
        0, subset=[*FEATURES, "purchased_today"]
    )
    w = Window.partitionBy("user_id").orderBy("d")
    labeled = dense.withColumn(
        "label", F.lead("purchased_today").over(w).cast("double")
    ).filter(F.col("label").isNotNull())
    return labeled


def purchase_propensity_auc(
    events: DataFrame, cutoff: str, seed: int = 42
) -> dict:
    """Train LR on days < cutoff, evaluate ROC-AUC on days >= cutoff.
    Returns a metrics dict (n_train, n_test, pos_rate_test, auc)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    data = daily_user_features(events)
    train = data.filter(F.col("d") < cutoff)
    test = data.filter(F.col("d") >= cutoff)
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=FEATURES, outputCol="raw"),
            StandardScaler(inputCol="raw", outputCol="features"),
            LogisticRegression(
                maxIter=50, regParam=0.01, featuresCol="features"
            ),
        ]
    )
    model = fit_clean(pipe, train)
    scored = model.transform(test)
    auc = rank_auc(scored)
    n_train, n_test = train.count(), test.count()
    pos = test.agg(F.avg("label")).collect()[0][0]
    return {
        "n_train": int(n_train),
        "n_test": int(n_test),
        "pos_rate_test": round(float(pos), 4),
        "auc": round(float(auc), 4),
    }


def purchase_matrix(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Implicit-feedback interaction matrix: (customer, part, strength)
    where strength = total quantity purchased — the classic retail
    implicit signal (Hu, Koren & Volinsky, ICDM 2008)."""
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_quantity")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("strength"))
    )


def als_recommend(
    interactions: DataFrame,
    n_users: int = 10,
    k: int = 3,
    rank: int = 8,
    reg: float = 0.1,
    alpha: float = 10.0,
    seed: int = 42,
) -> DataFrame:
    """ALS implicit-feedback recommender (Hu-Koren-Volinsky via MLlib
    ``ALS(implicitPrefs=True)``): factorize the interaction matrix, then
    top-``k`` item recommendations for the ``n_users`` lowest user ids.

    Scale notes: ALS is MLlib's canonical distributed factorization —
    block-partitioned normal equations, no driver-side matrix; the
    recommendation step scores only the requested user subset.
    Output: (user, item, rec_rank) — scores are implementation-detail
    floats and deliberately NOT emitted (block partitioning perturbs
    them in the last bits; ranks are the stable contract).
    """
    from pyspark.ml.recommendation import ALS

    als = ALS(
        rank=rank,
        regParam=reg,
        alpha=alpha,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="strength",
        seed=seed,
        coldStartStrategy="drop",
    )
    model = als.fit(interactions)
    users = (
        interactions.select("user").distinct().orderBy("user").limit(n_users)
    )
    recs = model.recommendForUserSubset(users, k)
    return recs.select(
        "user", F.posexplode("recommendations").alias("i", "rec")
    ).select(
        "user",
        F.col("rec.item").alias("item"),
        (F.col("i") + 1).alias("rec_rank"),
    )


def frequent_event_sequences(
    events: DataFrame,
    min_support: float = 0.2,
    max_pattern_length: int = 3,
) -> DataFrame:
    """N3 PrefixSpan (Pei et al., ICDE 2001; MLlib-native): frequent
    event-TYPE subsequences across per-user ordered histories —
    generalizes the F38 contiguous matcher to gapped subsequences.
    Sequences are built with one sorted collect per user (array of
    1-item itemsets, as PrefixSpan expects). Output: (sequence string,
    freq), sorted by freq desc then pattern."""
    from pyspark.ml.fpm import PrefixSpan

    seqs = (
        events.withColumn(
            "_ok",
            F.format_string(
                "%020d-%012d", F.unix_micros("ts"), F.col("event_id")
            ),
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_ok", "event_type"))
            ).alias("_s")
        )
        .select(
            F.expr(
                "transform(_s, x -> array(x.event_type))"
            ).alias("sequence")
        )
    )
    ps = PrefixSpan(
        minSupport=min_support,
        maxPatternLength=max_pattern_length,
        maxLocalProjDBSize=32_000_000,
    )
    out = ps.findFrequentSequentialPatterns(seqs)
    return out.select(
        F.concat_ws(
            " -> ", F.expr("transform(sequence, x -> x[0])")
        ).alias("pattern"),
        F.col("freq").cast("long").alias("freq"),
    ).orderBy(F.desc("freq"), "pattern")


def frequent_itemsets(
    baskets: DataFrame,
    min_support: float = 0.001,
    min_confidence: float = 0.1,
) -> tuple[DataFrame, DataFrame]:
    """N4 FPGrowth market-basket mining (Han et al., SIGMOD 2000;
    MLlib-native): frequent itemsets + association rules over basket
    rows ``(…, items array)``. Item granularity is the caller's choice
    — raw part ids almost never co-repeat in a sparse catalog, so the
    registered query mines BRAND baskets. Returns (itemsets, rules)
    frames with stringified sorted item arrays (deterministic)."""
    from pyspark.ml.fpm import FPGrowth

    fp = FPGrowth(minSupport=min_support, minConfidence=min_confidence)
    model = fp.fit(baskets)
    itemsets = model.freqItemsets.select(
        F.concat_ws(",", F.expr("array_sort(items)")).alias("itemset"),
        F.col("freq").cast("long").alias("freq"),
        F.size("items").alias("n_items"),
    )
    rules = model.associationRules.select(
        F.concat_ws(",", F.expr("array_sort(antecedent)")).alias("antecedent"),
        F.concat_ws(",", F.expr("array_sort(consequent)")).alias("consequent"),
        F.round("confidence", 4).alias("confidence"),
        F.round("lift", 4).alias("lift"),
    )
    return itemsets, rules


def als_precision_at_k(
    interactions: DataFrame,
    cutoff_frac: float = 0.8,
    k: int = 5,
    rank: int = 8,
    seed: int = 42,
) -> dict:
    """N2b recommender evaluation: hold out each user's LAST
    (1-cutoff_frac) interactions by per-user md5 order (deterministic,
    partition-invariant), train ALS on the rest, and measure
    precision@k / recall@k of the top-k recommendations against the
    held-out items — the offline eval loop every recommender ships with.
    Items already seen in training are excluded from the recommendation
    credit (standard protocol)."""
    from pyspark.ml.recommendation import ALS

    # the hold-out order must differ per user: md5(item) alone sorts every
    # user's items identically, holding out the SAME items globally — those
    # become cold items ALS has never trained on and can never rank
    w = Window.partitionBy("user").orderBy(
        F.md5(F.concat_ws(":", F.col("user"), F.col("item")))
    )
    ranked = interactions.withColumn(
        "_rk",
        F.row_number().over(w)
        / F.count(F.lit(1)).over(Window.partitionBy("user")),
    )
    train = ranked.filter(F.col("_rk") <= cutoff_frac).drop("_rk")
    test = ranked.filter(F.col("_rk") > cutoff_frac).drop("_rk")
    als = ALS(
        rank=rank,
        implicitPrefs=True,
        alpha=10.0,
        userCol="user",
        itemCol="item",
        ratingCol="strength",
        seed=seed,
        coldStartStrategy="drop",
    )
    model = als.fit(train)
    users = test.select("user").distinct()
    # candidate count must clear the user's own training items: implicit
    # ALS naturally scores trained items highest, so k·3 candidates can
    # be fully consumed by them, leaving < k fresh recommendations
    max_seen = (
        train.groupBy("user").count().agg(F.max("count")).collect()[0][0]
    )
    recs = (
        model.recommendForUserSubset(users, k + int(max_seen))
        .select("user", F.posexplode("recommendations").alias("pos", "r"))
        .select("user", "pos", F.col("r.item").alias("item"))
    )
    # drop training items from credit, keep top-k of the remainder by the
    # model's own score order (posexplode position — explicit, not an
    # ordering accident)
    seen = train.select("user", "item")
    fresh = recs.join(seen, ["user", "item"], "left_anti")
    wtop = Window.partitionBy("user").orderBy("pos")
    topk = fresh.withColumn("_i", F.row_number().over(wtop)).filter(
        F.col("_i") <= k
    )
    hits = topk.join(test.select("user", "item"), ["user", "item"]).count()
    n_users = users.count()
    n_test = test.count()
    return {
        "n_users": int(n_users),
        "n_test_interactions": int(n_test),
        "precision_at_k": round(hits / (n_users * k), 4),
        "recall_at_k": round(hits / max(n_test, 1), 4),
    }


def text_quality_classifier_auc(
    docs: DataFrame, num_features: int = 1 << 15, split_mod: int = 5
) -> dict:
    """N6: learn the K6 quality heuristic with a linear model.

    Weak labels: the docs_quality_filter gate (20 <= n_tokens <= 80 and
    distinct_ratio >= 0.3). Features: HashingTF bag-of-words over
    whitespace tokens (2^15 buckets — fixed-width vectors, no vocabulary
    shuffle) plus three engineered numerics [n_tokens, n_tokens²,
    distinct_ratio] — the quadratic term lets a LINEAR model carve out
    the token-count BAND (an interval needs two thresholds; a downward
    parabola crosses zero twice). Split: md5(doc_id) % split_mod == 0
    held out — deterministic across runs and cluster layouts, unlike
    randomSplit.

    Returns {n_train, n_test, pos_rate_test, auc}. Scale: HashingTF and
    model.transform are per-row map work; only the L-BFGS gradient
    aggregation reduces, on fixed-width (2^15) dense gradients.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, StandardScaler, VectorAssembler

    labeled = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.expr("CAST(size(split(text, ' ')) AS DOUBLE)").alias("n_tok"),
        F.expr(
            "CAST(size(split(text, ' ')) AS DOUBLE)"
            " * CAST(size(split(text, ' ')) AS DOUBLE)"
        ).alias("n_tok_sq"),
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)"
            " / size(split(text, ' '))"
        ).alias("distinct_ratio"),
        F.expr(
            "CAST(size(split(text, ' ')) BETWEEN 20 AND 80 "
            "AND CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)"
            " / size(split(text, ' ')) >= 0.3 AS DOUBLE)"
        ).alias("label"),
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
         .cast("long") % split_mod == 0).alias("heldout"),
    )
    train = labeled.filter(~F.col("heldout"))
    test = labeled.filter(F.col("heldout"))
    pipe = Pipeline(
        stages=[
            HashingTF(
                inputCol="toks", outputCol="tf", numFeatures=num_features
            ),
            VectorAssembler(
                inputCols=["tf", "n_tok", "n_tok_sq", "distinct_ratio"],
                outputCol="raw",
            ),
            StandardScaler(inputCol="raw", outputCol="features"),
            LogisticRegression(maxIter=60, regParam=0.001),
        ]
    )
    model = fit_clean(pipe, train)
    scored = model.transform(test)
    auc = rank_auc(scored)
    n_train, n_test = train.count(), test.count()
    pos = test.agg(F.avg("label")).collect()[0][0]
    return {
        "n_train": int(n_train),
        "n_test": int(n_test),
        "pos_rate_test": round(float(pos), 4),
        "auc": round(float(auc), 4),
    }


def aft_session_lifetime(events: DataFrame) -> dict:
    """N7 (round 5): parametric survival — MLlib AFTSurvivalRegression
    (Weibull accelerated-failure-time) on SESSION durations, the model
    counterpart of the non-parametric Kaplan-Meier curve (F46) and built
    on the identical frame: 30-min-gap sessions, duration in minutes,
    right-CENSORED (censor = 0) when the session is still open at the
    corpus horizon (max ts − 30 min) — observation stopped, not the
    session. AFT keeps censored rows in the likelihood instead of
    dropping them — the honesty the naive "mean of closed sessions"
    lacks.

    Features: log(1 + session event count) and the session purchase
    share. Returns coefficients, Weibull scale, and mean predicted
    duration for censored vs ended sessions. Scale: one window pass +
    one groupBy(user, sid) agg; the L-BFGS fit reduces fixed-width
    gradients.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import AFTSurvivalRegression

    span = events.agg(F.max("ts").alias("t_max"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
             > 1_800_000_000)
            | F.lag("ts").over(wu).isNull(),
            1,
        ).otherwise(0).alias("new_s"),
    )
    sessions = flagged.withColumn(
        "sid",
        # same (ts, event_id) order as the flag window: with ts alone,
        # tied timestamps could interleave flag and cumsum differently
        # and split one session in two under shuffle/retry ordering
        F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    u = (
        sessions.crossJoin(F.broadcast(span))
        .groupBy("user_id", "sid")
        .agg(
            F.expr(
                "CAST((unix_micros(max(ts)) - unix_micros(min(ts)))"
                " DIV 60000000 AS DOUBLE) + 0.5"
            ).alias("label"),  # minutes, +0.5 so AFT's label is > 0
            F.expr("log(1 + count(*))").alias("f_events"),
            F.expr(
                "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
                " AS DOUBLE) / count(*)"
            ).alias("f_purchase_share"),
            F.when(
                F.max("ts") < F.expr("max(t_max) - INTERVAL 30 MINUTE"), 1.0
            ).otherwise(0.0).alias("censor"),  # 1 = session ended (event)
        )
    )
    data = VectorAssembler(
        inputCols=["f_events", "f_purchase_share"], outputCol="features"
    ).transform(u)
    aft = AFTSurvivalRegression(
        censorCol="censor", labelCol="label", maxIter=100
    )
    model = aft.fit(data)
    pred = model.transform(data)
    by_group = {
        int(r["censor"]): (r["n"], r["m"])
        for r in pred.groupBy("censor")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("prediction"), 4).alias("m"),
        )
        .collect()
    }
    return {
        "n_sessions": int(data.count()),
        "n_ended": int(by_group.get(1, (0, 0.0))[0]),
        "n_censored": int(by_group.get(0, (0, 0.0))[0]),
        "coef_events": round(float(model.coefficients[0]), 4),
        "coef_purchase_share": round(float(model.coefficients[1]), 4),
        "aft_scale": round(float(model.scale), 4),
        "mean_pred_ended": float(by_group.get(1, (0, 0.0))[1]),
        "mean_pred_censored": float(by_group.get(0, (0, 0.0))[1]),
    }


def _quality_frame(docs: DataFrame) -> DataFrame:
    """The N6 weak-label frame (tokens, engineered numerics, gate label)
    shared by the classifier, the CV tuner, and the calibrator."""
    return docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.expr("CAST(size(split(text, ' ')) AS DOUBLE)").alias("n_tok"),
        F.expr(
            "CAST(size(split(text, ' ')) AS DOUBLE)"
            " * CAST(size(split(text, ' ')) AS DOUBLE)"
        ).alias("n_tok_sq"),
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)"
            " / size(split(text, ' '))"
        ).alias("distinct_ratio"),
        F.expr(
            "CAST(size(split(text, ' ')) BETWEEN 20 AND 80 "
            "AND CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)"
            " / size(split(text, ' ')) >= 0.3 AS DOUBLE)"
        ).alias("label"),
    )


def _quality_pipeline(num_features: int, reg_param: float):
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, StandardScaler, VectorAssembler

    return Pipeline(
        stages=[
            HashingTF(
                inputCol="toks", outputCol="tf", numFeatures=num_features
            ),
            VectorAssembler(
                inputCols=["tf", "n_tok", "n_tok_sq", "distinct_ratio"],
                outputCol="raw",
            ),
            StandardScaler(inputCol="raw", outputCol="features"),
            LogisticRegression(maxIter=60, regParam=reg_param),
        ]
    )


def cv_tune_quality_lr(
    docs: DataFrame,
    reg_grid: tuple = (0.001, 0.1, 10.0),
    n_folds: int = 3,
    num_features: int = 1 << 15,
) -> list[dict]:
    """N8: hyperparameter tuning with DETERMINISTIC k-fold CV.

    Folds are ``md5(doc_id) % n_folds`` — the same lineage-stable split
    device as the N6 holdout, so every run and every cluster layout
    trains on identical folds (MLlib's default random folds are
    seed-stable but partitioning-sensitive; a fold column is a pure
    function of the data). Grid: LR regularization. Returns one dict per
    grid point: {reg_param, avg_auc, is_best} — avg_auc is the mean
    held-out-fold AUC, the quantity CV estimates.

    The loop is hand-rolled (the exact ``CrossValidator``+``foldCol``
    semantics) instead of using ``CrossValidator`` because the fitted LR
    models it transforms with internally carry a training summary whose
    SparkSession reference crashes task serialization once an
    ``Observation`` has run in the session (see ``fit_clean``); each
    fold's fit goes through ``fit_clean`` and is scored with the exact
    rank AUC.

    Scale: each (fold, param) fit is an independent L-BFGS run over
    fixed-width gradients; fits can be dispatched in parallel from the
    driver if wanted, and nothing but 2^15-wide gradient vectors is ever
    aggregated.
    """
    frame = _quality_frame(docs).withColumn(
        "fold",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("int")
            % n_folds
        ),
    ).cache()
    metrics = []
    for rp in reg_grid:
        fold_aucs = []
        for fold in range(n_folds):
            model = fit_clean(
                _quality_pipeline(num_features, reg_param=rp),
                frame.filter(F.col("fold") != fold),
            )
            fold_aucs.append(
                rank_auc(model.transform(frame.filter(F.col("fold") == fold)))
            )
        metrics.append(sum(fold_aucs) / len(fold_aucs))
    frame.unpersist()
    best = max(range(len(metrics)), key=lambda i: metrics[i])
    return [
        {
            "reg_param": float(reg_grid[i]),
            "avg_auc": round(metrics[i], 4),
            "is_best": i == best,
        }
        for i in range(len(reg_grid))
    ]


def isotonic_calibration(
    docs: DataFrame,
    num_features: int = 1 << 15,
    split_mod: int = 5,
    n_bins: int = 10,
) -> DataFrame:
    """N9: probability calibration of the N6 classifier with isotonic
    regression (the standard post-hoc calibrator): fit LR on the train
    split, score the held-out split, then fit ``IsotonicRegression``
    label ~ p(score) — the monotone step function that maps raw scores to
    calibrated frequencies. Report per-decile-of-score: mean predicted
    probability, observed positive rate, and the isotonic fit — the
    calibration-curve table (a well-calibrated model has all three
    aligned; LR on separable weak labels is typically overconfident,
    which the isotonic step function corrects).

    Scale: LR as in N6; isotonic regression in MLlib sorts by feature and
    runs the pool-adjacent-violators pass per partition + merge. The
    report is a 10-row hash agg.
    """
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.regression import IsotonicRegression

    frame = _quality_frame(docs).withColumn(
        "heldout",
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % split_mod
        == 0,
    )
    train = frame.filter(~F.col("heldout"))
    test = frame.filter(F.col("heldout"))
    model = fit_clean(_quality_pipeline(num_features, reg_param=0.001), train)
    scored = model.transform(test).select(
        "doc_id",
        "label",
        vector_to_array("probability")[1].alias("p_raw"),
    )
    iso = IsotonicRegression(
        featuresCol="p_iso_feat", labelCol="label", predictionCol="p_cal"
    )
    from pyspark.ml.feature import VectorAssembler

    with_feat = VectorAssembler(
        inputCols=["p_raw"], outputCol="p_iso_feat"
    ).transform(scored)
    calibrated = iso.fit(with_feat).transform(with_feat)
    bin_col = F.least(
        F.floor(F.col("p_raw") * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    return (
        calibrated.groupBy(bin_col.alias("score_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("p_raw"), 4).alias("mean_p_raw"),
            F.round(F.avg("label"), 4).alias("frac_positive"),
            F.round(F.avg("p_cal"), 4).alias("mean_p_calibrated"),
        )
        .orderBy("score_decile")
    )


def target_encode_oof(
    df: DataFrame,
    key_col: str,
    id_col: str,
    target_col: str,
    n_folds: int = 5,
    salt: str = "te-v1",
) -> DataFrame:
    """Out-of-fold target encoding — the leakage-safe categorical
    encoder: each row's category is replaced by the mean target of the
    OTHER folds, so a row never sees its own label.

        enc(key, fold) = (S_key - S_key,fold) / (N_key - N_key,fold)

    Folds are md5-derived from ``id_col`` (layout-independent, the
    repo's seeded-sampling rule), so train pipelines reproduce exactly.
    Two hash aggregations on (key, fold) — output is |keys| x folds,
    never row-sized; join the result back to rows by (key, fold) when
    materializing features. Exact integer sums; the one division is
    IEEE-exact on both engines.

    A category that occurs in only ONE fold has no out-of-fold rows
    (N_key == N_key,fold); its encoding falls back to the GLOBAL prior
    mean instead of dividing by zero. The prior is a window over the
    |keys|-sized totals frame — single-task, but over the aggregate,
    never the row table.
    """
    fold = F.expr(
        f"CAST(conv(substring(md5(concat('{salt}:', CAST({id_col} AS STRING))),"
        f" 1, 8), 16, 10) % {n_folds} AS INT)"
    )
    per_fold = (
        df.select(
            F.col(key_col).alias("key"),
            fold.alias("fold"),
            F.col(target_col).alias("t"),
        )
        .groupBy("key", "fold")
        .agg(F.sum("t").alias("s_f"), F.count(F.lit(1)).alias("n_f"))
    )
    from pyspark.sql.window import Window as W

    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    totals = per_fold.groupBy("key").agg(
        F.sum("s_f").alias("s_all"), F.sum("n_f").alias("n_all")
    ).select(
        "key", "s_all", "n_all",
        (F.sum("s_all").over(w_all) * 1.0 / F.sum("n_all").over(w_all))
        .alias("prior"),
    )
    return (
        per_fold.join(totals, on="key")
        .select(
            F.col("key").alias(key_col),
            "fold",
            F.round(
                F.when(
                    F.col("n_all") > F.col("n_f"),
                    (F.col("s_all") - F.col("s_f"))
                    * 1.0
                    / (F.col("n_all") - F.col("n_f")),
                ).otherwise(F.col("prior")),
                4,
            ).alias("oof_mean"),
            F.col("n_f").alias("n_rows"),
        )
    )


def kmeans_lloyd_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    iters: int = 5,
    quant: int = 1_000_000,
) -> tuple[DataFrame, list[list[float]]]:
    """N11: deterministic Lloyd's k-means over an embedding column — the
    semantic-clustering primitive a curation pipeline uses to group a
    corpus before mixing/dedup. MLlib's KMeans is seed-stable but its
    centroid averages depend on fp aggregation ORDER (partition layout);
    this variant is bit-reproducible on any layout:

    - vectors are quantized once to integers (``round(x·quant)``), so
      per-cluster per-dimension sums are EXACT BIGINTs — order-free;
    - centroids are those exact sums / counts (one IEEE division);
    - init is the k rows with the smallest ``md5(id)`` — a pure function
      of the data, like every seeded device in this repo;
    - assignment = argmin squared L2, ties to the smaller cluster id
      (``array_min`` over (dist, cid) structs — struct ordering).

    Plan shape per iteration: centroids ride into the assignment
    expression as LITERALS (k·d doubles — broadcast-by-plan, no join)
    and the recompute is ONE hash aggregation producing k rows of d+1
    exact sums (map-side partial agg does the heavy lifting). Driver
    holds only k×d floats. Empty clusters keep their previous centroid.

    Returns (assignments DataFrame [id, cid, dist_sq in ORIGINAL units],
    final centroids in quantized units / quant).
    """
    dim = len(df.select(vec_col).first()[0])
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * quant).cast("long"),
    )
    # Size the cached frame to the CLUSTER, not the file layout: every
    # iteration re-scans it with a compute-bound assignment expression
    # (k x d ops/row), and a source parquet that splits into fewer
    # partitions than cores caps parallelism for all `iters` scans (the
    # 100x stress run measured a 13-task straggler pattern on 32 cores
    # before this). Hash on the id, not round-robin, so placement is
    # deterministic; results were already layout-invariant (exact
    # integer sums), this only fixes the parallelism.
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    base = (
        df.select(F.col(id_col).alias("_id"), q.alias("q"))
        .repartition(n_parts, "_id")
        .cache()
    )
    init = (
        base.select(
            "_id", "q", F.md5(F.col("_id").cast("string")).alias("h")
        )
        .orderBy("h")
        .limit(k)
        .collect()
    )
    cents = [[float(v) for v in r["q"]] for r in init]

    def dist_structs(cs):
        return F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("q"),
                            F.array(*[F.lit(c) for c in cent]),
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    F.lit(ci).alias("cid"),
                )
                for ci, cent in enumerate(cs)
            ]
        )

    for _ in range(iters):
        assigned = base.select(
            "_id", "q", F.array_min(dist_structs(cents))["cid"].alias("cid")
        )
        rows = (
            assigned.groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        new = {
            r["cid"]: [r[f"s{i}"] / r["n"] for i in range(dim)] for r in rows
        }
        cents = [new.get(ci, cents[ci]) for ci in range(k)]

    best = F.array_min(dist_structs(cents))
    out = base.select(
        F.col("_id").alias(id_col),
        best["cid"].alias("cid"),
        (best["dist"] / F.lit(float(quant) * float(quant))).alias("dist_sq"),
    )
    base.unpersist()
    return out, [[c / quant for c in cent] for cent in cents]
