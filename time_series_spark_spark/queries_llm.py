"""LLM-data-pipeline query surface (SURVEY.md §2.K).

Oracle-checked where SQL-expressible (exact dedup, Jaccard pairs, cosine
search, text stats/quality/TF-IDF, corpus report); LSH/SimHash/multimodal
paths are rows-only with recall/property tests in tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df
from pyspark.sql.window import Window

from time_series_spark_spark.operators.llm import (
    attach_binary_payload,
    bloom_maybe_member,
    bloom_partials,
    srp_lsh_topk,
    chunk_token_windows,
    contamination_stats,
    content_hash,
    cosine_pairs_lsh,
    cosine_topk,
    dedup_report,
    dup_span_stats,
    edit_distance_pairs,
    exact_dedup,
    repetition_stats,
    extract_multimodal_features,
    ivf_topk,
    lang_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    hash_sample_per_group,
    redact_pii,
    simhash_near_pairs,
    sq8_topk,
    text_metrics,
    tokens,
    weighted_reservoir_sample,
    winnow_fingerprints,
)
from time_series_spark_spark.operators.graph import dup_clusters
from time_series_spark_spark.queries import register
from time_series_spark_spark.sources.io import load
from time_series_spark_spark.sources.quality import check_quality, observe_quality


# --------------------------------------------------------------------------
# K1 exact dedup
# --------------------------------------------------------------------------
@register(
    "docs_dedup",
    r"""
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
               AS n_distinct,
           count(*) - count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
               AS n_dupes
    FROM documents
    """,
    doc="K1 exact-dedup dataset-card summary (normalized content hash)",
)
def docs_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_report(load(spark, sf_dir, "documents"))


@register(
    "docs_dedup_keep_first",
    r"""
    WITH h AS (
        SELECT doc_id, lang,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS hash,
               row_number() OVER (
                   PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                   ORDER BY doc_id
               ) AS rn
        FROM documents
    )
    SELECT lang, count(*) AS n_kept
    FROM h WHERE rn = 1
    GROUP BY lang
    """,
    doc="K1 exact dedup with deterministic lowest-id keeper",
)
def docs_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = exact_dedup(load(spark, sf_dir, "documents"))
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


# --------------------------------------------------------------------------
# K5 text analysis
# --------------------------------------------------------------------------
@register(
    "docs_lang_stats",
    """
    SELECT lang,
           count(*)                                    AS n_docs,
           round(avg(n_chars), 4)                      AS avg_chars,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
    doc="K5 per-language corpus stats (token counting via split)",
)
def docs_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(tokens())), 4).alias("avg_tokens"),
    )


@register(
    "docs_top_terms",
    """
    SELECT term, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term
    ORDER BY freq DESC, term
    LIMIT 20
    """,
    doc="K5 global term frequencies (explode + agg + top-k)",
)
def docs_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(20)
    )


@register(
    "docs_tfidf_top_terms",
    """
    WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY doc_id, term
    ),
    df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.term,
           round(sum(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df_t.df)), 4)
               AS tfidf_mass
    FROM tf JOIN df_t ON tf.term = df_t.term CROSS JOIN n
    GROUP BY tf.term
    ORDER BY tfidf_mass DESC, tf.term
    LIMIT 20
    """,
    doc="K5 TF-IDF weighting (corpus-wide top discriminative terms)",
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        tf.join(df_t, "term")
        .groupBy("term")
        .agg(F.round(F.sum(F.col("tf") * idf), 4).alias("tfidf_mass"))
        .orderBy(F.desc("tfidf_mass"), "term")
        .limit(20)
    )


@register(
    "docs_token_count_bpe",
    r"""
    SELECT lang,
           round(avg(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))), 4)
               AS avg_bpe_tokens,
           max(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')))
               AS max_bpe_tokens
    FROM documents
    GROUP BY lang
    """,
    doc="K5 BPE-ish regex token counting per language",
)
def docs_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text_metrics(load(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.round(F.avg("n_bpe_tokens"), 4).alias("avg_bpe_tokens"),
        F.max("n_bpe_tokens").alias("max_bpe_tokens"),
    )


# --------------------------------------------------------------------------
# K6 quality filters
# --------------------------------------------------------------------------
@register(
    "docs_quality_filter",
    """
    WITH m AS (
        SELECT lang, source,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio
        FROM documents
    )
    SELECT lang,
           count(*)                                           AS n_total,
           count(*) FILTER (WHERE n_tokens BETWEEN 20 AND 80
                              AND distinct_ratio >= 0.3)      AS n_kept
    FROM m
    GROUP BY lang
    """,
    doc="K6 quality gate: token-count bounds + lexical diversity",
)
def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = text_metrics(load(spark, sf_dir, "documents"))
    kept = F.col("n_tokens").between(20, 80) & (F.col("distinct_ratio") >= 0.3)
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(kept, 1)).alias("n_kept"),
    )


@register(
    "docs_curation_pipeline",
    r"""
    WITH m AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio
        FROM documents
    ),
    q AS (
        SELECT * FROM m
        WHERE n_tokens BETWEEN 20 AND 80 AND distinct_ratio >= 0.3
    ),
    d AS (
        SELECT *, row_number() OVER (
            PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
            ORDER BY doc_id
        ) AS rn
        FROM q
    )
    SELECT lang,
           count(*)                       AS n_kept,
           CAST(sum(n_tokens) AS BIGINT)  AS token_budget
    FROM d WHERE rn = 1
    GROUP BY lang
    """,
    doc="K6+K1+K8 composed curation pipeline: quality gate, then exact "
    "dedup (lowest-id keeper), then per-language dataset-card stats — the "
    "order that keeps near-dup LSH input small at corpus scale",
)
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = text_metrics(load(spark, sf_dir, "documents"))
    kept = m.filter(
        F.col("n_tokens").between(20, 80) & (F.col("distinct_ratio") >= 0.3)
    )
    deduped = exact_dedup(kept)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("token_budget"),
    )


@register(
    "docs_quality_gate",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nulls_lang,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nulls_text,
           CAST(count(*) FILTER (
               WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80
                 AND CAST(len(list_distinct(string_split(text, ' ')))
                          AS DOUBLE)
                     / len(string_split(text, ' ')) >= 0.3
           ) AS BIGINT) AS n_kept
    FROM documents
    """,
    doc="A8 observed-metrics quality gate riding a real pipeline action: "
    "row count + per-column null counts collected via Observation as a "
    "side effect of the quality-filter aggregation (zero extra scans — "
    "the anti-pattern is a separate count() per check), then the gate "
    "evaluated with check_quality (raises on violation). Returns the "
    "metric row so the gate itself is oracle-verifiable.",
)
def docs_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    observed, obs = observe_quality(docs, ["lang", "text"])
    m = text_metrics(observed)
    kept_rows = (
        m.filter(
            F.col("n_tokens").between(20, 80) & (F.col("distinct_ratio") >= 0.3)
        )
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .collect()  # the pipeline action; materializes the observation
    )
    metrics = check_quality(obs, max_null_frac=0.0, min_rows=1)
    return local_df(spark, 
        [
            (
                int(metrics["n_rows"]),
                int(metrics["nulls_lang"]),
                int(metrics["nulls_text"]),
                int(kept_rows[0][0]),
            )
        ],
        "n_rows long, nulls_lang long, nulls_text long, n_kept long",
    )


# --------------------------------------------------------------------------
# K2 near-dup
# --------------------------------------------------------------------------
@register(
    "docs_ngram_jaccard_pairs",
    """
    WITH s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(t) - 2),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    x AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g FROM s),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM p
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
    """,
    doc="K2 exact near-dup detection: 3-gram shingle Jaccard via "
    "inverted-index similarity join",
)
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


@register(
    "docs_dup_clusters",
    """
    WITH RECURSIVE s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(t) - 2),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    x AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g FROM s),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    dup AS (
        SELECT id_a, id_b FROM p
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM dup
        UNION
        SELECT id_b AS src, id_a AS dst FROM dup
    ),
    reach AS (
        SELECT DISTINCT src AS id, src AS r FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="K2 duplicate-CLUSTER resolution: exact 3-gram Jaccard pairs "
    "(threshold 0.5) -> connected components (hook + pointer-jump label "
    "propagation, operators/graph.py) -> per-doc cluster id + canonical "
    "keep flag. The oracle recomputes reachability with a recursive CTE "
    "(min reachable doc_id per node).",
)
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    return dup_clusters(docs, pairs).orderBy("doc_id")


@register(
    "docs_minhash_lsh_pairs",
    None,  # LSH banding is engine-specific → rows-only; recall tested in pytest
    doc="K2 MinHash+LSH near-dup join (the 100 TB path; "
    "shingle→minhash→band-bucket join)",
)
def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), threshold=0.4
    ).orderBy("id_a", "id_b")


@register(
    "docs_simhash_pairs",
    None,  # hash function is engine-specific → rows-only + unit tests
    doc="K2 SimHash near-dup candidates (64-bit majority-vote hash, "
    "prefix-bucketed Hamming join)",
)
def docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_pairs(
        load(spark, sf_dir, "documents"), max_hamming=10, n_bands=8
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# K3/K4 embedding similarity
# --------------------------------------------------------------------------
@register(
    "emb_cosine_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS cand_id,
               round(list_inner_product(q.qv, e.v)
                     / (sqrt(list_inner_product(q.qv, q.qv))
                        * sqrt(list_inner_product(e.v, e.v))), 6) AS cos
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, cand_id, cos, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
    doc="K3 exact brute-force cosine top-k (broadcast query set; corpus "
    "side never shuffles)",
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, None, k=5, query_filter=F.col("vec_id") < 10
    )


@register(
    "emb_near_dup_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.v, b.v)
                 / (sqrt(list_inner_product(a.v, a.v))
                    * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_inner_product(a.v, b.v)
                / (sqrt(list_inner_product(a.v, a.v))
                   * sqrt(list_inner_product(b.v, b.v))), 6) >= 0.35
    """,
    doc="K4 embedding-cosine near-dup pairs above threshold, corpus-scale "
    "shape (round-4 rewrite): sign-LSH band-bucket candidates -> "
    "per-bucket GEMM prefilter -> exact rounded-cosine verify >= 0.35. "
    "Pair-set equality with the exact blocked-GEMM path is pinned in "
    "tests/test_llm.py at sf0.01; the all-pairs oracle re-derives it.",
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_pairs_lsh(
        load(spark, sf_dir, "embeddings"),
        threshold=0.35,
        rows_per_band=3,
        bands=48,
        seed=42,
    ).orderBy("id_a", "id_b")


@register(
    "emb_lsh_topk",
    None,  # LSH buckets are engine-specific → rows-only; recall vs exact in pytest
    doc="K3 ANN scale path: AND-banded signed-random-projection LSH "
    "(Charikar sign-LSH, banded like minhash_lsh_pairs) + exact cosine "
    "rerank of band-collision candidates only",
)
def emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srp_lsh_topk(
        load(spark, sf_dir, "embeddings"), k=5, n_queries=5
    ).orderBy("query_id", F.desc("cos_est"), "cand_id")


@register(
    "emb_ivf_topk",
    None,  # quantizer cells are engine-specific → rows-only; recall vs exact in pytest
    doc="K3 ANN scale path #2: IVF — Lloyd coarse quantizer (the PQ "
    "kernel with one subspace) on a bounded 2000-vector sample, cells "
    "assigned in one Arrow pass, broadcast probe list, exact cosine "
    "rerank inside probed cells only",
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(
        load(spark, sf_dir, "embeddings"), k=5, n_queries=10
    ).orderBy("query_id", "rk")


@register(
    "emb_sq8_topk",
    None,  # int8 candidate set is quantizer-specific → rows-only; recall
    # + rescore-fidelity vs exact asserted in tests/test_llm.py
    doc="K3 ANN scale path #3: int8 scalar quantization — corpus stored/"
    "scanned 4x smaller, candidates scored in codegen integer math, top "
    "k*4 rescored with exact float cosine via a broadcast candidate "
    "semi-join (the float table never shuffles)",
)
def emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sq8_topk(
        load(spark, sf_dir, "embeddings"), k=5, n_queries=10
    ).orderBy("query_id", "rk")


@register(
    "docs_pii_redaction",
    r"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or +1-555-' || (1000 + doc_id % 9000) AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
              + len(regexp_extract_all(text, '\+\d{1,2}-\d{3}-\d{4,}'))
              AS BIGINT) AS n_pii,
           md5(regexp_replace(
               regexp_replace(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                   '<EMAIL>', 'g'),
               '\+\d{1,2}-\d{3}-\d{4,}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    ORDER BY doc_id
    """,
    doc="K10 PII redaction: emails/phones (deterministically injected — "
    "the synthetic corpus has none) masked via codegen regexp_replace; "
    "oracle compares masked-span counts and an md5 of the redacted text, "
    "proving byte-identical redaction across engines.",
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ),
    )
    return (
        redact_pii(docs, "text")
        .select("doc_id", "n_pii", F.md5("redacted").alias("redacted_md5"))
        .orderBy("doc_id")
    )


@register(
    "docs_hash_sample_per_lang",
    """
    SELECT lang, doc_id, rk FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    ) WHERE rk <= 5
    ORDER BY lang, rk
    """,
    doc="K10 deterministic exactly-k-per-group sample: md5(id) as a fixed "
    "pseudo-random permutation — reproducible across runs, engines, and "
    "partition layouts (rand(seed) is not), hence fully oracle-checkable.",
)
def docs_hash_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return hash_sample_per_group(docs, "lang", "doc_id", 5).select(
        "lang", "doc_id", "rk"
    ).orderBy("lang", "rk")


# --------------------------------------------------------------------------
# K7 multimodal columns
# --------------------------------------------------------------------------
@register(
    "docs_multimodal_features",
    None,  # stubbed featurizer is engine-side → rows-only + unit tests
    doc="K7 multimodal plumbing: binary payload + metadata struct, feature "
    "extraction via mapInPandas (decoder stubbed — libs absent by design). "
    "The engine API returns features as array<float>; this registered view "
    "serializes it to a CSV string because the driver's pandas canonicalizer "
    "cannot hash numpy arrays (round-1 collect_sorted_nations precedent).",
)
def docs_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_binary_payload(load(spark, sf_dir, "documents"))
    return (
        extract_multimodal_features(docs)
        .select(
            "doc_id",
            "n_bytes",
            F.concat_ws(
                ",", F.expr("transform(features, x -> format_string('%.6f', x))")
            ).alias("features_csv"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# text analysis extras: language ID + fingerprints
# --------------------------------------------------------------------------
@register(
    "docs_lang_id",
    None,  # heuristic profiles are engine-side → rows-only + unit tests
    doc="K5 language-ID heuristic (stopword-profile argmax + CJK range), "
    "confusion counts vs labeled lang",
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = lang_id(load(spark, sf_dir, "documents"))
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


@register(
    "docs_fingerprints",
    None,  # xxhash64-based → rows-only + unit tests
    doc="K5 winnowing fingerprints (k-gram rolling hash, window minima)",
)
def docs_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = winnow_fingerprints(load(spark, sf_dir, "documents"))
    return fp.select("doc_id", "n_fingerprints").orderBy("doc_id")


# --------------------------------------------------------------------------
# K8 corpus report
# --------------------------------------------------------------------------
@register(
    "corpus_stats_report",
    r"""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        FROM documents
    )
    SELECT count(*)                                   AS n_docs,
           count(DISTINCT h)                          AS n_unique,
           count(DISTINCT lang)                       AS n_langs,
           CAST(sum(n_tokens) AS BIGINT)              AS total_tokens,
           round(avg(n_tokens), 4)                    AS avg_tokens,
           round(avg(n_chars), 4)                     AS avg_chars,
           min(n_tokens)                              AS min_tokens,
           max(n_tokens)                              AS max_tokens
    FROM t
    """,
    doc="K8 dataset-card corpus report (size, dedup rate, token budget)",
)
def corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    from time_series_spark_spark.operators.llm import content_hash

    t = docs.select(
        "doc_id", "lang", "n_chars",
        F.size(tokens()).alias("n_tokens"),
        content_hash().alias("h"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# K9 corpus sampling / weighted mixing
# --------------------------------------------------------------------------
@register(
    "docs_stratified_sample",
    None,  # Bernoulli draws are engine-specific → rows-only; proportions + determinism in pytest
    doc="K9 stratified per-language sampling (sampleBy, fixed seed): one "
    "scan, no shuffle — the corpus-rebalancing primitive",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import stratified_sample

    docs = load(spark, sf_dir, "documents")
    frac = {"en": 0.25, "de": 1.0, "zh": 1.0, "fr": 1.0, "es": 1.0}
    return (
        stratified_sample(docs, "lang", frac, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@register(
    "docs_weighted_mix",
    None,
    doc="K9 weighted corpus mixing: resample so languages appear in target "
    "proportions (counts → per-stratum Bernoulli fractions → one sampleBy "
    "pass); downsample-only by design",
)
def docs_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import weighted_mix

    docs = load(spark, sf_dir, "documents")
    weights = {"en": 1.0, "de": 1.0, "zh": 1.0, "fr": 1.0, "es": 1.0}
    return (
        weighted_mix(docs, "lang", weights, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_mixed"))
    )


@register(
    "docs_pack_sequences",
    None,  # per-shard greedy packing is engine-specific → rows-only; invariants in pytest
    doc="K9 sequence packing: hash-shard then greedy first-fit-decreasing "
    "bins of ≤2048 tokens per shard (pretraining batch prep); report "
    "per-shard bin counts and fill rate",
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import pack_sequences

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens()).alias("n_tokens")
    )
    packed = pack_sequences(docs, budget=2048, n_shards=8)
    return (
        packed.groupBy("shard")
        .agg(
            F.countDistinct("bin_id").alias("n_bins"),
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("n_tokens") / (F.countDistinct("bin_id") * 2048.0), 4
            ).alias("fill_rate"),
        )
        .orderBy("shard")
    )


@register(
    "docs_upsample_repeat",
    """
    SELECT lang, count(*) AS n_rows
    FROM (
        SELECT lang, unnest(generate_series(0,
            CASE WHEN lang = 'zh' THEN 2 WHEN lang = 'fr' THEN 1 ELSE 0 END
        )) AS repeat_idx
        FROM documents
    )
    GROUP BY lang
    """,
    doc="K9 repetition upsampling: zh 3x, fr 2x via explode(sequence) — "
    "no shuffle, no RNG",
)
def docs_upsample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import upsample_repeat

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    up = upsample_repeat(docs, "lang", {"zh": 3, "fr": 2})
    return up.groupBy("lang").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "docs_shuffle_shards",
    """
    WITH h AS (
        SELECT doc_id, lang,
               ('0x' || substring(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS hv
        FROM documents
    )
    SELECT doc_id, lang,
           hv % 16 AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 16
                                   ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
    FROM h
    ORDER BY shard, pos
    """,
    doc="K9c deterministic global shuffle + sharding (round 4): md5-derived "
    "permutation assigns every doc a shard and a dense in-shard position — "
    "the corpus-to-data-loader step; reproducible, layout-invariant, "
    "re-salt for a new epoch. One hash shuffle + per-shard window.",
)
def docs_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import shuffle_shards

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return shuffle_shards(docs, n_shards=16, salt=0).orderBy("shard", "pos")


@register(
    "docs_token_budget_fill",
    """
    WITH t AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS ok
        FROM documents
    ),
    c AS (
        SELECT lang, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY ok, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM t
    )
    SELECT lang, doc_id, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 2000
    ORDER BY lang, cum_tokens
    """,
    doc="K9d token-budget dataset assembly (round 4): walk each language's "
    "docs in the deterministic md5 shuffle order, keep while the running "
    "token total fits the per-language budget (greedy prefix fill). One "
    "running-sum window per stratum; strata are the parallelism unit.",
)
def docs_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import token_budget_fill

    docs = load(spark, sf_dir, "documents")
    return token_budget_fill(docs, budget=2000).orderBy("lang", "cum_tokens")


# --------------------------------------------------------------------------
# K2 edit-distance near-dup (round 2) + semantic dedup (round 2)
# --------------------------------------------------------------------------
@register(
    "docs_edit_pairs",
    """
    WITH d AS (
        SELECT doc_id, lang, n_chars, text,
               substring(text, 1, 4) AS k2,
               CAST(floor(n_chars / 16) AS BIGINT) AS b
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.k2 = b.k2 AND abs(a.b - b.b) <= 1
     AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 8
    WHERE levenshtein(a.text, b.text) <= 8
    """,
    doc="K2 edit-distance near-dup pairs: FULL-TEXT Levenshtein <= 8 "
    "inside (lang, length-band, 4-char-prefix) blocks; candidates "
    "generated on a compact no-text projection (hash join, never BNLJ), "
    "then verified with threshold-bounded O(len*max_dist) levenshtein",
)
def docs_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_distance_pairs(
        load(spark, sf_dir, "documents"),
        prefix_key_len=4,
        band=16,
        max_dist=8,
    )


@register(
    "emb_semantic_dedup",
    """
    WITH RECURSIVE e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.v, b.v)
                    / (sqrt(list_inner_product(a.v, a.v))
                       * sqrt(list_inner_product(b.v, b.v))), 6) >= 0.45
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b AS src, id_a AS dst FROM p
    ),
    reach AS (
        SELECT DISTINCT src AS id, src AS r FROM edges
        UNION
        SELECT reach.id, e2.dst FROM reach JOIN edges e2 ON e2.src = reach.r
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT emb.vec_id,
           coalesce(comp.cluster_id, emb.vec_id) AS cluster_id,
           coalesce(comp.cluster_id, emb.vec_id) = emb.vec_id AS is_canonical
    FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id
    """,
    doc="K1/K3 semantic dedup, corpus-scale shape (round-4 rewrite per the "
    "r3 verdict): sign-LSH band-bucket candidates -> per-bucket GEMM "
    "prefilter -> exact rounded-cosine verify >= 0.45 -> connected "
    "components (pointer-jump label propagation) -> deterministic min-id "
    "keep-list. Recall vs the exact blocked-GEMM path is 1.0 at sf0.01 "
    "and sf0.1 (pinned in tests/test_llm.py); the oracle recomputes exact "
    "reachability with a recursive CTE, so a missed pair would fail it.",
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_lsh(
        emb, threshold=0.45, rows_per_band=4, bands=32, seed=42
    )
    return dup_clusters(emb, pairs, id_col="vec_id").orderBy("vec_id")


@register(
    "docs_weighted_sample",
    """
    WITH keyed AS (
        SELECT lang, doc_id, n_chars,
               ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT + 1) / 4294967297.0) / n_chars AS akey
        FROM documents
    ),
    ranked AS (
        SELECT lang, doc_id, n_chars, akey,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY akey DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT lang, doc_id, n_chars, round(akey, 6) AS sample_key
    FROM ranked WHERE rk <= 5
    """,
    doc="K9 deterministic weighted sample: A-Res weighted reservoir "
    "(Efraimidis-Spiliotis top-k by u^(1/w)) with the uniform derived "
    "from md5(doc_id) — partition-layout-invariant and reproducible, "
    "weight = n_chars, 5 docs per lang",
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_reservoir_sample(
        load(spark, sf_dir, "documents"),
        id_col="doc_id",
        weight_col="n_chars",
        strata=["lang"],
        k=5,
    )


@register(
    "docs_dup_spans",
    r"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, array_to_string(t[i:i+7], ' ') AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) u
        WHERE len(t) >= 8
    ),
    gd AS (
        SELECT g, doc_id, any_value(lang) AS lang, count(*) AS c
        FROM grams GROUP BY g, doc_id
    ),
    flagged AS (
        SELECT *, count(*) OVER (PARTITION BY g) AS nd FROM gd
    ),
    per_doc AS (
        SELECT doc_id, any_value(lang) AS lang,
               sum(c) AS n_grams,
               coalesce(sum(CASE WHEN nd >= 2 THEN c END), 0) AS n_dup
        FROM flagged GROUP BY doc_id
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_with_dup,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST(sum(n_dup) AS BIGINT) AS dup_grams
    FROM per_doc GROUP BY lang
    """,
    doc="K2d cross-document duplicated 8-gram spans per language — the "
    "word-n-gram approximation of exact substring dedup (Lee et al. "
    "2022); docs with <8 tokens are span-ineligible and excluded on "
    "both sides",
)
def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = dup_span_stats(
        load(spark, sf_dir, "documents"), w=8, carry_cols=("lang",)
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_dup") > 0).cast("long")).alias("n_docs_with_dup"),
        F.sum("n_grams").alias("total_grams"),
        F.sum("n_dup").alias("dup_grams"),
    )


@register(
    "docs_remove_dup_spans",
    r"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    occ AS (
        SELECT doc_id, i AS s, array_to_string(t[i:i+7], ' ') AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) u
        WHERE len(t) >= 8
    ),
    stats AS (
        SELECT g, count(DISTINCT doc_id) AS nd, min(doc_id) AS mind
        FROM occ GROUP BY g
    ),
    bads AS (
        SELECT occ.doc_id, list(DISTINCT occ.s) AS bads
        FROM occ JOIN stats ON occ.g = stats.g
        WHERE stats.nd >= 2 AND stats.mind < occ.doc_id
        GROUP BY occ.doc_id
    ),
    cleaned AS (
        SELECT toks.doc_id, t,
               coalesce(bads.bads, []) AS b,
               list_transform(
                   list_filter(generate_series(1, len(t)),
                               j -> len(list_filter(coalesce(bads.bads, []),
                                        s -> s >= j - 7 AND s <= j)) = 0),
                   j -> t[j]) AS kept
        FROM toks LEFT JOIN bads ON toks.doc_id = bads.doc_id
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_hash
    FROM cleaned
    ORDER BY doc_id
    """,
    doc="K2e exact-substring dedup as a CLEANING operator (Lee et al. "
    "2022): tokens covered by a cross-doc duplicated 8-gram are removed "
    "everywhere except the gram's canonical (min-doc-id) owner, so each "
    "duplicated span survives exactly once; cleaned text verified by "
    "md5 without moving it",
)
def docs_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import remove_dup_spans

    return remove_dup_spans(load(spark, sf_dir, "documents"), w=8).orderBy(
        "doc_id"
    )


@register(
    "docs_lm_perplexity",
    r"""
    WITH tr AS (
        SELECT lower(text) AS t FROM documents WHERE doc_id % 7 <> 0
    ),
    tc AS (
        SELECT substring(t, i, 3) AS g3, count(*) AS c3
        FROM tr, LATERAL (SELECT unnest(generate_series(1, length(t) - 2)) AS i) u
        WHERE length(t) >= 3 GROUP BY 1
    ),
    bc AS (
        SELECT substring(t, i, 2) AS g2, count(*) AS c2
        FROM tr, LATERAL (SELECT unnest(generate_series(1, length(t) - 1)) AS i) u
        WHERE length(t) >= 2 GROUP BY 1
    ),
    v AS (
        SELECT count(DISTINCT substring(t, i, 1)) AS nv
        FROM tr, LATERAL (SELECT unnest(generate_series(1, length(t))) AS i) u
    ),
    cg AS (
        SELECT doc_id, substring(lower(text), i, 3) AS g3
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, length(text) - 2)) AS i) u
        WHERE length(text) >= 3
    ),
    s AS (
        SELECT cg.doc_id,
               count(*) AS n_grams,
               avg(ln((coalesce(tc.c3, 0) + 0.5)
                      / (coalesce(bc.c2, 0) + 0.5 * v.nv))) AS a
        FROM cg
        LEFT JOIN tc USING (g3)
        LEFT JOIN bc ON bc.g2 = substring(cg.g3, 1, 2)
        CROSS JOIN v
        GROUP BY cg.doc_id
    )
    SELECT doc_id, n_grams,
           round(a, 6) AS mean_logp,
           round(exp(-a), 4) AS ppl
    FROM s ORDER BY doc_id
    """,
    doc="K6b LM quality score (CCNet-style, Wenzek et al. 2020): per-doc "
    "mean log-prob and perplexity under an add-k char-trigram model "
    "trained on the doc_id%7!=0 slice. Model = two count tables bounded "
    "by charset^n, broadcast; corpus shuffles only per-doc partials.",
)
def docs_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import char_ngram_lm_scores

    docs = load(spark, sf_dir, "documents")
    return char_ngram_lm_scores(
        docs, docs.filter(F.col("doc_id") % 7 != 0)
    ).orderBy("doc_id")


@register(
    "docs_repetition_stats",
    r"""
    WITH per_doc AS (
        SELECT doc_id, lang,
               len(t) AS n_1gram, len(list_distinct(t)) AS d_1gram,
               len(g2) AS n_2gram, len(list_distinct(g2)) AS d_2gram,
               len(g3) AS n_3gram, len(list_distinct(g3)) AS d_3gram
        FROM (
            SELECT doc_id, lang, t,
                   list_transform(generate_series(1, len(t) - 1),
                                  i -> array_to_string(t[i:i+1], ' ')) AS g2,
                   list_transform(generate_series(1, len(t) - 2),
                                  i -> array_to_string(t[i:i+2], ' ')) AS g3
            FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
                  FROM documents)
        )
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_1gram) AS BIGINT) AS tok_total,
           CAST(sum(n_1gram - d_1gram) AS BIGINT) AS tok_dup,
           CAST(sum(n_2gram - d_2gram) AS BIGINT) AS bigram_dup,
           CAST(sum(n_3gram - d_3gram) AS BIGINT) AS trigram_dup,
           CAST(sum(CASE WHEN (n_2gram - d_2gram) * 5 > n_2gram
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM per_doc GROUP BY lang
    """,
    doc="K5b Gopher-style intra-document repetition (Rae et al. 2021 "
    "A1.1): duplicate 1/2/3-gram counts per language, plus docs whose "
    "duplicate-bigram fraction exceeds 20% (integer-exact compare) — "
    "pure per-row HOFs, one final shuffle",
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = repetition_stats(load(spark, sf_dir, "documents"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_1gram").alias("tok_total"),
        F.sum(F.col("n_1gram") - F.col("d_1gram")).alias("tok_dup"),
        F.sum(F.col("n_2gram") - F.col("d_2gram")).alias("bigram_dup"),
        F.sum(F.col("n_3gram") - F.col("d_3gram")).alias("trigram_dup"),
        F.sum(
            ((F.col("n_2gram") - F.col("d_2gram")) * 5 > F.col("n_2gram"))
            .cast("long")
        ).alias("n_flagged"),
    )


# --------------------------------------------------------------------------
# K11 benchmark decontamination / chunking / incremental dedup
# --------------------------------------------------------------------------
@register(
    "docs_contamination_check",
    r"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    bench AS (
        SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) u
        WHERE doc_id % 97 = 0 AND len(t) >= 8
    ),
    corp AS (
        SELECT doc_id, lang, array_to_string(t[i:i+7], ' ') AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) u
        WHERE doc_id % 97 <> 0 AND len(t) >= 8
    ),
    per_doc AS (
        SELECT c.doc_id, any_value(c.lang) AS lang,
               count(*) AS n_grams,
               sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM corp c LEFT JOIN bench b USING (g)
        GROUP BY c.doc_id
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(sum(n_hit) AS BIGINT) AS hit_gram_positions
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    doc=(
        "K11 benchmark decontamination: flag training docs sharing any word "
        "8-gram with a held-out benchmark set (doc_id % 97 — stand-in for an "
        "eval suite), the Brown et al. 2020 appendix-C n-gram overlap test. "
        "Benchmark grams broadcast; the corpus side never shuffles on gram. "
        "Docs under 8 tokens are gram-ineligible and excluded on both sides."
    ),
)
def docs_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_doc = contamination_stats(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        w=8,
        carry_cols=("lang",),
    ).filter(F.col("n_grams") > 0)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_hit") > 0).cast("long")).alias("n_contaminated"),
            F.sum("n_hit").alias("hit_gram_positions"),
        )
        .orderBy("lang")
    )


@register(
    "docs_chunk_windows",
    r"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    nc AS (
        SELECT doc_id, t,
               CASE WHEN len(t) = 0 THEN 0
                    WHEN len(t) <= 64 THEN 1
                    ELSE 1 + (len(t) - 64 + 47) // 48 END AS n_chunks
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, i AS chunk_idx, t[i*48+1 : i*48+64] AS c
        FROM nc, LATERAL (
            SELECT unnest(generate_series(0, CAST(n_chunks AS BIGINT) - 1)) AS i
        ) u
        WHERE n_chunks > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT)      AS chunk_idx,
           CAST(len(c) AS BIGINT)         AS n_tokens,
           md5(array_to_string(c, ' '))   AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    doc=(
        "K11b context-window chunking: split each document's token stream "
        "into 64-token training windows at stride 48 (overlapping), the "
        "corpus-to-context-window prep step. Pure per-row codegen "
        "(sequence -> explode -> slice), zero shuffles; chunk text leaves "
        "the plan as an md5 digest."
    ),
)
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_token_windows(
        load(spark, sf_dir, "documents"), size=64, stride=48
    ).orderBy("doc_id", "chunk_idx")


@register(
    "docs_incremental_dedup_exact",
    r"""
    WITH h AS (
        SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                   AS hash
        FROM documents WHERE doc_id % 5 <> 0
    ),
    b AS (
        SELECT doc_id, lang,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS hash
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT lang,
           count(*) AS n_batch,
           CAST(sum(CASE WHEN h.hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_vs_history
    FROM b LEFT JOIN h USING (hash)
    GROUP BY lang ORDER BY lang
    """,
    doc=(
        "K12 incremental dedup, exact path: which docs of an arriving batch "
        "(doc_id % 5) already exist in the ingested history (normalized "
        "content hash) — one hash join against the distinct history keys. "
        "The Bloom-sketch fast path over the same split is "
        "docs_incremental_bloom_dedup."
    ),
)
def docs_incremental_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hist = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(content_hash().alias("hash"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", content_hash().alias("hash")
    )
    return (
        batch.join(hist, "hash", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.coalesce(F.sum("_seen"), F.lit(0)).cast("long").alias(
                "n_dup_vs_history"
            ),
        )
        .orderBy("lang")
    )


@register(
    "docs_incremental_bloom_dedup",
    None,  # Bloom bit layout depends on xxhash64 — not DuckDB-expressible;
    # no-false-negative + FP-bound properties pinned in tests/test_llm.py
    doc=(
        "K12b incremental dedup, Bloom fast path: the history (doc_id % 5 "
        "!= 0) compresses to a bit_or-merged bit array bounded by m/64 rows "
        "regardless of history size; the arriving batch probes it via a "
        "broadcast join — a map-only plan on the batch side. Emits the "
        "dataset-card row (n_batch, n_flagged, n_exact_dup, n_false_pos); "
        "false negatives are impossible by construction."
    ),
)
def docs_incremental_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    partials = bloom_partials(
        hist.select(content_hash().alias("h")), F.col("h")
    )
    flags = bloom_maybe_member(batch, partials, content_hash("text"))
    exact = (
        batch.select("doc_id", content_hash().alias("h"))
        .join(
            hist.select(content_hash().alias("h")).distinct(),
            "h",
            "left_semi",
        )
        .withColumn("_exact", F.lit(True))
        .select("doc_id", "_exact")
    )
    return (
        flags.join(exact, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.col("maybe_dup").cast("long")).alias("n_flagged"),
            F.sum(F.coalesce(F.col("_exact"), F.lit(False)).cast("long")).alias(
                "n_exact_dup"
            ),
            F.sum(
                (F.col("maybe_dup") & F.col("_exact").isNull()).cast("long")
            ).alias("n_false_pos"),
        )
    )


# --------------------------------------------------------------------------
# K11 collocation mining (PMI) + K12 corpus-law statistics (round 4)
# --------------------------------------------------------------------------
@register(
    "docs_pmi_bigrams",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT unnest(t) AS w FROM toks
    ),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    utot AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM ucnt),
    pos AS (
        SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS w
        FROM toks
    ),
    big AS (
        SELECT a.w AS w1, b.w AS w2, count(*) AS c12
        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        GROUP BY 1, 2
    ),
    btot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM big)
    SELECT w1, w2,
           CAST(c12 AS BIGINT) AS c12,
           round(ln((CAST(c12 AS DOUBLE) / nb)
                    / ((CAST(u1.c AS DOUBLE) / nu)
                       * (CAST(u2.c AS DOUBLE) / nu))), 4) AS pmi
    FROM big, btot, utot
    JOIN ucnt u1 ON u1.w = w1
    JOIN ucnt u2 ON u2.w = w2
    WHERE c12 >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    doc="K11 collocation mining: top-20 bigrams by pointwise mutual "
    "information (joint prob over the bigram space vs unigram marginals; "
    "Church & Hanks 1990), min joint count 5. Spark side builds bigrams "
    "JVM-side with arrays_zip+slice (no positional self-join) and "
    "broadcasts the two unigram-count lookups; the only wide exchange is "
    "the bigram count — the 100 TB-safe shape for corpus association "
    "statistics.",
)
def docs_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    utot = ucnt.agg(F.sum("c").cast("long").alias("nu"))
    big = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(t, 1, size(t) - 1)"),
                    F.expr("slice(t, 2, size(t) - 1)"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    btot = big.agg(F.sum("c12").cast("long").alias("nb"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") / F.col("nb"))
            / (
                (F.col("c1").cast("double") / F.col("nu"))
                * (F.col("c2").cast("double") / F.col("nu"))
            )
        ),
        4,
    )
    return (
        big.filter(F.col("c12") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(utot))
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@register(
    "docs_zipf_fit",
    """
    WITH cnt AS (
        SELECT term, count(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk
        FROM cnt
    )
    SELECT round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
               AS zipf_slope,
           round(regr_intercept(ln(CAST(c AS DOUBLE)),
                                ln(CAST(rnk AS DOUBLE))), 4) AS zipf_intercept,
           CAST(count(*) AS BIGINT)  AS n_ranked
    FROM ranked WHERE rnk <= 100
    """,
    doc="K12 Zipf's-law fit: OLS slope of log(freq) vs log(rank) over the "
    "top-100 terms (Zipf ~ -1 for natural corpora) — rank via one "
    "window over the term counts, slope via the built-in regr_slope "
    "aggregate (JVM-side, no UDF)",
)
def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window

    ranked = cnt.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "term"))
        .alias("rnk"),
    ).filter(F.col("rnk") <= 100)
    lc = F.log(F.col("c").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 4).alias("zipf_intercept"),
        F.count(F.lit(1)).alias("n_ranked"),
    )


@register(
    "docs_heaps_curve",
    """
    WITH q AS (
        SELECT doc_id, ntile(4) OVER (ORDER BY doc_id) AS quartile,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    cuts AS (
        SELECT quartile, max(doc_id) AS cut,
               CAST(count(*) AS BIGINT) AS n_docs_q,
               CAST(sum(n_tok) AS BIGINT) AS n_tok_q
        FROM q GROUP BY quartile
    ),
    cum AS (
        SELECT quartile, cut,
               CAST(sum(n_docs_q) OVER (ORDER BY quartile) AS BIGINT)
                   AS n_docs,
               CAST(sum(n_tok_q) OVER (ORDER BY quartile) AS BIGINT)
                   AS cum_tokens
        FROM cuts
    ),
    first_seen AS (
        SELECT term, min(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY term
    )
    SELECT c.quartile, c.n_docs, c.cum_tokens,
           CAST(count(f.term) AS BIGINT) AS vocab
    FROM cum c LEFT JOIN first_seen f ON f.first_doc <= c.cut
    GROUP BY 1, 2, 3
    """,
    doc="K12b Heaps'-law vocabulary-growth curve: distinct-vocabulary "
    "size after each doc_id quartile of the corpus, computed exactly "
    "from each term's FIRST containing doc (min(doc_id) per term — one "
    "explode+agg, no per-prefix rescan) joined against the 4 quartile "
    "cuts — integer-only output, fully deterministic",
)
def docs_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from time_series_spark_spark.operators.rank import (
        global_rank,
        ntile_expr,
    )

    docs = load(spark, sf_dir, "documents")
    # Exact quartile assignment without a single-task ntile window:
    # range-partitioned global rank over doc_id (unique, so a total
    # order) + the closed-form ANSI ntile arithmetic — bit-identical to
    # ntile(4) OVER (ORDER BY doc_id), parallel at any corpus size.
    # Only (doc_id, n_tok) pairs flow through the rank — never text.
    q = global_rank(
        docs.select(
            "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
        ),
        [("doc_id", True)],
        "__rnk",
        total_col="__n",
    ).select(
        "doc_id",
        ntile_expr(F.col("__rnk"), F.col("__n"), 4).alias("quartile"),
        "n_tok",
    )
    cuts = q.groupBy("quartile").agg(
        F.max("doc_id").alias("cut"),
        F.count(F.lit(1)).alias("n_docs_q"),
        F.sum("n_tok").alias("n_tok_q"),
    )
    wq = Window.orderBy("quartile")
    cum = cuts.select(
        "quartile",
        "cut",
        F.sum("n_docs_q").over(wq).cast("long").alias("n_docs"),
        F.sum("n_tok_q").over(wq).cast("long").alias("cum_tokens"),
    )
    first_seen = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    return (
        cum.join(first_seen, F.col("first_doc") <= F.col("cut"), "left")
        .groupBy("quartile", "n_docs", "cum_tokens")
        .agg(F.count("term").cast("long").alias("vocab"))
    )


@register(
    "emb_pq_topk",
    None,  # PQ candidate set is quantizer-specific → rows-only; recall
    # vs exact + compression invariants asserted in tests/test_llm.py
    doc="K3 ANN scale path #4: product quantization (Jegou et al., TPAMI "
    "2011) — 64-dim vectors encode to 8 byte-codes (32x smaller than "
    "float32); codebooks are refit per call on a 2000-vector sample; "
    "asymmetric-distance scoring is one JVM aggregate over a broadcast "
    "LUT (no float vector is touched until the top k*4 exact rescore)",
)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import pq_topk

    return pq_topk(
        load(spark, sf_dir, "embeddings"), k=5, n_queries=10
    ).orderBy("query_id", "rk")


@register(
    "docs_rake_keywords",
    r"""
    WITH padded AS (
        SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS t
        FROM documents
    ),
    cut AS (
        SELECT doc_id,
               regexp_replace(t, '\s(a|the|and|of|in|to)\s', ' | ', 'g') AS t
        FROM padded
    ),
    p AS (
        SELECT doc_id,
               generate_subscripts(string_split(t, '|'), 1) AS ppos,
               trim(regexp_replace(unnest(string_split(t, '|')),
                                   '\s+', ' ', 'g')) AS phrase
        FROM cut
    ),
    pc AS (SELECT * FROM p WHERE phrase <> ''),
    wi AS (
        SELECT doc_id, ppos, phrase,
               unnest(string_split(phrase, ' ')) AS w,
               len(string_split(phrase, ' ')) AS plen
        FROM pc
    ),
    wstat AS (
        SELECT w, count(*) AS freq, sum(plen) AS degree
        FROM wi GROUP BY w
    ),
    occ AS (
        SELECT doc_id, ppos, min(phrase) AS phrase,
               sum(degree * 1.0 / freq) AS score,
               count(*) AS nw
        FROM wi JOIN wstat USING (w)
        GROUP BY doc_id, ppos
    )
    SELECT phrase,
           CAST(max(nw) AS BIGINT)     AS n_words,
           CAST(count(*) AS BIGINT)    AS n_occ,
           round(max(score), 4)        AS score
    FROM occ GROUP BY phrase
    ORDER BY score DESC, phrase LIMIT 15
    """,
    doc="K13 RAKE keyword extraction (Rose et al. 2010): stopword-"
    "delimited candidate phrases, word score = degree/freq, phrase "
    "score = sum of word scores, corpus top-15 distinct phrases — "
    "two hash aggregations + one word-stat join, fully oracle-checked",
)
def docs_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import rake_keywords

    return rake_keywords(load(spark, sf_dir, "documents"))


def _pagerank_oracle(iters: int = 15, damping: float = 0.85) -> str:
    """Round 12 (rows-only → oracle): the engine runs a FIXED 15-round
    power iteration, so the oracle unrolls exactly 15 chained
    join+agg CTEs over the same symmetrized Jaccard dup graph — the
    identical recurrence r' = (1-d)/n + d·Σ r(src)/deg(src), not an
    approximation; only fp association in the per-node inflow sums
    differs, absorbed by the 6-decimal rounding (the update is a
    contraction, so those last-ulp differences shrink per round)."""
    graph = """
    WITH s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(t) - 2),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    x AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g FROM s),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    pairs AS (
        SELECT id_a, id_b FROM p
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
    """
    step = """,
    r{i} AS (
        SELECT n.id,
               (1.0 - {d}) / (SELECT n FROM nn)
               + {d} * coalesce(inf.inflow, 0.0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS id, sum(r.rank / d.deg) AS inflow
            FROM edges e
            JOIN r{prev} r ON r.id = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ) inf ON inf.id = n.id
    )"""
    body = graph + "".join(
        step.format(i=i, prev=i - 1, d=damping) for i in range(1, iters + 1)
    )
    return (
        body
        + f"""
    SELECT id, round(rank, 6) AS rank FROM r{iters}
    ORDER BY round(rank, 6) DESC, id LIMIT 10
    """
    )


@register(
    "docs_dup_graph_pagerank",
    _pagerank_oracle(),
    doc="K2++ PageRank centrality over the n-gram-Jaccard duplicate "
    "graph (Brin & Page 1998, undirected reading): which documents sit "
    "at the center of duplication clusters — 15 join+agg power rounds "
    "with broadcast teleport scalar and periodic lineage truncation; "
    "top-10 by rounded rank",
)
def docs_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.graph import pagerank

    pairs = ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), k=3, threshold=0.5
    ).select("id_a", "id_b")
    return (
        pagerank(pairs, iters=15)
        .select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "id")
        .limit(10)
    )


@register(
    "docs_bpe_train_merges",
    None,  # iterative argmax-per-round training → rows-only; exact
    # equality with the textbook driver-side BPE reference is pinned in
    # tests/test_llm.py (merge list AND tie-breaks)
    doc="K14 BPE tokenizer TRAINING (Sennrich ACL'16): learn the top-20 "
    "merge table from the corpus — statistics live on the bounded "
    "DISTINCT-WORD frame (one corpus scan ever), each round is one "
    "explode+hash-agg and a codegen fold; the driver holds only the "
    "merge list. Complements the BPE-ish token COUNTER (K5) with the "
    "training half of the tokenizer lifecycle.",
)
def docs_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import bpe_train

    merges = bpe_train(
        load(spark, sf_dir, "documents"), n_merges=20
    )
    return local_df(spark, 
        [
            (i + 1, l, r, c, l + r)
            for i, (l, r, c) in enumerate(merges)
        ],
        "rank int, left string, right string, pair_count long, merged string",
    )


@register(
    "docs_ppmi_top_pairs",
    r"""
    WITH pos AS (
        SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    pr AS (
        SELECT a.w AS wa, b.w AS wb
        FROM pos a
        JOIN pos b ON b.doc_id = a.doc_id AND b.i BETWEEN a.i + 1 AND a.i + 2
    ),
    sym AS (SELECT wa, wb FROM pr UNION ALL SELECT wb, wa FROM pr),
    cooc AS (
        SELECT wa AS w, wb AS c, count(*) AS n_wc FROM sym GROUP BY 1, 2
    ),
    wt AS (SELECT w, sum(n_wc) AS n_w FROM cooc GROUP BY w),
    ct AS (SELECT c, sum(n_wc) AS n_c FROM cooc GROUP BY c),
    tt AS (SELECT CAST(sum(n_wc) AS DOUBLE) AS n_all FROM cooc)
    SELECT w, c, CAST(n_wc AS BIGINT) AS n_wc,
           round(greatest(0.0, ln(n_wc * n_all / (n_w * n_c))), 4) AS ppmi
    FROM cooc JOIN wt USING (w) JOIN ct USING (c) CROSS JOIN tt
    WHERE n_wc >= 5
    ORDER BY ppmi DESC, w, c LIMIT 25
    """,
    doc="K15a windowed PPMI co-occurrence weights (Levy & Goldberg "
    "2014), window 2, symmetric — the count matrix whose truncated SVD "
    "is the count-based word-embedding route; pair generation is one "
    "posexplode + offset-sequence equi-join (never a positional "
    "theta-join); top-25 pairs by PPMI, fully oracle-checked",
)
def docs_ppmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import ppmi_cooccurrence

    out = ppmi_cooccurrence(load(spark, sf_dir, "documents"), window=2)
    return (
        out.select(
            "w", "c", F.col("n_wc").cast("long").alias("n_wc"),
            F.round("ppmi", 4).alias("ppmi"),
        )
        .orderBy(F.desc("ppmi"), "w", "c")
        .limit(25)
    )


@register(
    "docs_ppmi_svd_neighbors",
    None,  # truncated SVD of the bounded PPMI matrix → rows-only;
    # planted-cluster separation + exact hand-counted PPMI pinned in
    # tests/test_llm.py
    doc="K15b count-based word embeddings: truncated SVD (U*sqrt(S), "
    "dim 16) of the PPMI matrix over the top-50 terms — the "
    "Levy-Goldberg SGNS-equivalent factorization; corpus-side counting "
    "fully distributed, only the bounded top-vocab matrix reaches the "
    "driver (a stored artifact, like the PQ codebooks); output: top-3 "
    "cosine neighbors per term via the exact JVM rerank",
)
def docs_ppmi_svd_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from time_series_spark_spark.functions.vectors import cosine
    from time_series_spark_spark.operators.llm import ppmi_svd_vectors

    vecs = ppmi_svd_vectors(
        load(spark, sf_dir, "documents"), window=2, dim=16, top_vocab=50
    )
    a = vecs.select(F.col("term").alias("t_a"), F.col("vec").alias("v_a"))
    b = vecs.select(F.col("term").alias("t_b"), F.col("vec").alias("v_b"))
    w = Window.partitionBy("t_a").orderBy(F.desc("cos"), "t_b")
    return (
        a.join(F.broadcast(b), F.col("t_a") != F.col("t_b"))
        .withColumn("cos", F.round(cosine("v_a", "v_b"), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("t_a").alias("term"),
            F.col("t_b").alias("neighbor"),
            "cos",
            "rk",
        )
        .orderBy("term", "rk")
    )


@register(
    "emb_pca_variance",
    None,  # distributed moment aggregation + driver eigh → rows-only;
    # exact equality with numpy PCA (eigvals, orthonormality,
    # diagonalized projected covariance) pinned in tests/test_llm.py
    doc="K16 distributed PCA over the embedding store: per-batch partial "
    "Gram matrices (mapInPandas map-side combine — d^2-sized partials "
    "shuffle, never vectors) -> one hash agg -> driver eigh of the d x d "
    "covariance; reports the top-8 eigenvalues and explained-variance "
    "ratios, the dimensionality profile run before choosing an ANN/"
    "quantization dimension",
)
def emb_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import embedding_pca

    comps, vals, mean = embedding_pca(load(spark, sf_dir, "embeddings"), k=8)
    total = float(vals.sum())
    rows = [
        (i + 1, round(float(v), 6), round(float(v / total), 6))
        for i, v in enumerate(vals)
    ]
    return local_df(spark, 
        rows, "component int, eigenvalue double, evr_of_top8 double"
    )


@register(
    "emb_ann_quality_report",
    None,  # compares four quantizer-specific candidate sets → rows-only;
    # each method's recall floor is individually pinned in tests/test_llm.py
    doc="K3+ ANN quality dashboard: recall@5 of every approximate path "
    "(SRP-LSH, IVF, SQ8, PQ) against the exact cosine top-5, computed "
    "IN Spark by joining each method's (query, cand) set to the exact "
    "set — the retrieval-quality report a 100 TB index owner watches "
    "when tuning quantizers",
)
def emb_ann_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import (
        ivf_topk,
        pq_topk,
        sq8_topk,
        srp_lsh_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    exact = cosine_topk(
        emb, None, k=5, query_filter=F.col("vec_id") < 10
    ).select("query_id", "cand_id")
    n_exact = exact.count()
    methods = {
        "srp_lsh": srp_lsh_topk(emb, k=5, n_queries=10),
        "ivf": ivf_topk(emb, k=5, n_queries=10),
        "sq8": sq8_topk(emb, k=5, n_queries=10),
        "pq": pq_topk(emb, k=5, n_queries=10),
    }
    rows = []
    for name, df in methods.items():
        got = df.select("query_id", "cand_id")
        hit = got.join(exact, ["query_id", "cand_id"]).count()
        rows.append((name, int(hit), int(n_exact), round(hit / n_exact, 4)))
    return local_df(spark, 
        rows, "method string, n_hits long, n_exact long, recall_at_5 double"
    ).orderBy("method")


# --------------------------------------------------------------------------
# K18: tokenizer vocabulary coverage / OOV audit (round 5)
# --------------------------------------------------------------------------
@register(
    "docs_vocab_coverage",
    """
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
    vocab AS (SELECT term FROM tf ORDER BY freq DESC, term LIMIT 512)
    SELECT tok.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab v ON tok.term = v.term
    GROUP BY tok.lang
    """,
    doc="K18 vocabulary-coverage audit: the top-512 global terms (freq "
    "desc, term asc — deterministic under ties) as the 'vocab', then "
    "per-language token counts and out-of-vocabulary rate. The vocab is "
    "a bounded TakeOrdered result broadcast into the probe join, so the "
    "token stream is scanned once with no shuffle on the join — the "
    "shape that survives a 100 TB corpus (vocab size is a constant)",
)
def docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens()).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(512)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.expr(
                "round(CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)"
                " AS DOUBLE) / count(*), 6)"
            ).alias("oov_rate"),
        )
    )


# --------------------------------------------------------------------------
# N6: weak-supervision text quality classifier (round 5)
# --------------------------------------------------------------------------
@register(
    "docs_quality_classifier",
    None,  # distributed L-BFGS training → rows-only; planted-signal
    # separation and label construction pinned in tests/test_ml.py
    doc="N6 learned quality scorer — the scale path for K6: the heuristic "
    "gate (token bounds + lexical diversity) weak-labels the corpus, a "
    "HashingTF(2^15) bag-of-words + LogisticRegression pipeline learns "
    "to imitate it, and held-out docs (md5(doc_id) % 5 == 0 — "
    "deterministic, reproducible split) are scored. At 100 TB the "
    "heuristic runs once to label a slice; the learned model then scores "
    "the full corpus in one embarrassingly-parallel transform pass",
)
def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import text_quality_classifier_auc

    m = text_quality_classifier_auc(load(spark, sf_dir, "documents"))
    return local_df(spark, 
        [(m["n_train"], m["n_test"], m["pos_rate_test"], m["auc"])],
        "n_train long, n_test long, pos_rate_test double, auc double",
    )


# --------------------------------------------------------------------------
# K19: token entropy per language (round 5)
# --------------------------------------------------------------------------
@register(
    "docs_token_entropy",
    """
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    c AS (SELECT lang, term, count(*) AS c FROM tok GROUP BY 1, 2),
    n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1)
    SELECT c.lang, n.n AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           round(ln(CAST(n.n AS DOUBLE))
                 - sum(c.c * ln(CAST(c.c AS DOUBLE))) / n.n, 4)
               AS entropy_nats
    FROM c JOIN n ON c.lang = n.lang
    GROUP BY c.lang, n.n
    """,
    doc="K19 unigram token entropy per language via the count identity "
    "H = ln N − (Σ c·ln c)/N — the dataset-card diversity panel next to "
    "Zipf (K12) and Heaps (K13): low entropy flags templated/duplicated "
    "text before training. Counts stay exact integers; the one fp sum "
    "(Σ c·ln c) is rounded to 4dp, the tolerance the TF-IDF oracle "
    "already proved portable. Two hash aggs on the token stream",
)
def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = (
        docs.select("lang", F.explode(tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = c.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    return (
        c.join(n, "lang")
        .groupBy("lang", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.expr(
                "round(ln(CAST(n AS DOUBLE))"
                " - sum(c * ln(CAST(c AS DOUBLE))) / n, 4)"
            ).alias("entropy_nats"),
        )
        .select(
            "lang", F.col("n").alias("n_tokens"), "vocab", "entropy_nats"
        )
    )


@register(
    "emb_mips_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS cand_id,
               round(list_inner_product(q.qv, e.v), 6) AS ip
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, cand_id, ip, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ip DESC, cand_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
    doc="K3c exact maximum-inner-product top-k (the unnormalized-vector "
    "retrieval objective — recommender scores, two-tower embeddings — "
    "where cosine ranking differs); broadcast query set, corpus never "
    "shuffles. The Bachrach norm-augmentation reduction to cosine (the "
    "ANN scale path) is equivalence-tested in tests/test_llm.py",
)
def emb_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import mips_topk

    emb = load(spark, sf_dir, "embeddings")
    return mips_topk(emb, None, k=5, query_filter=F.col("vec_id") < 10)


@register(
    "docs_temperature_mix",
    None,  # seeded sampleBy → rows-only; weight-law pytests
    doc="K9c temperature-scaled corpus mixing (the multilingual "
    "pretraining rule p_i ∝ n_i^τ, τ=0.5): per-language counts → "
    "temperature weights → one seeded sampleBy pass (K9 machinery). "
    "Low-resource languages are upweighted relative to natural "
    "proportions without flattening to uniform; report per-lang kept "
    "counts beside the natural counts",
)
def docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import (
        temperature_weights,
        weighted_mix,
    )

    docs = load(spark, sf_dir, "documents")
    counts = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    w = temperature_weights(counts, temperature=0.5)
    mixed = weighted_mix(docs, "lang", w, seed=42)
    nat = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_natural"))
    kept = mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n_mixed"))
    return nat.join(kept, "lang", "left").select(
        "lang",
        "n_natural",
        F.coalesce("n_mixed", F.lit(0)).alias("n_mixed"),
    )


@register(
    "docs_multimodal_frame_sample",
    None,  # binary fan-out plumbing → rows-only; shape laws in pytest
    doc="K7b multimodal frame-sampling plumbing: binary payloads explode "
    "into every-2nd fixed-width frame row (idx, offset, sha) via "
    "mapInPandas over Arrow binary batches — the real Spark shape for "
    "video frame extraction, with the codec decode deliberately stubbed "
    "(no media libs here, K7 policy). Aggregated to per-doc frame "
    "counts so the driver sees scalar columns",
)
def docs_multimodal_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.operators.llm import (
        attach_binary_payload,
        frame_sample_rows,
    )

    docs = attach_binary_payload(
        load(spark, sf_dir, "documents").limit(200)
    )
    frames = frame_sample_rows(docs)
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("byte_offset").alias("last_offset"),
            F.count_distinct("frame_sha").alias("n_distinct_frames"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_quality_cv_tuning",
    None,  # model tuning is not SQL-expressible → rows-only; grid/fold
    # determinism + best-param recovery pinned in tests/test_ml.py
    doc="N8 hyperparameter tuning with deterministic k-fold CV over the "
    "N6 quality pipeline: folds = md5(doc_id) % 3 (a pure function of "
    "the data — identical on every run and cluster layout, unlike "
    "random folds), LR regularization grid, per-fold fits through "
    "fit_clean and scored with the exact rank AUC (hand-rolled "
    "CrossValidator semantics — see operators/ml.py::cv_tune_quality_lr "
    "for why the MLlib class itself is avoided); one row per grid point "
    "with the mean held-out-fold AUC and the selected best",
)
def docs_quality_cv_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import cv_tune_quality_lr

    rows = cv_tune_quality_lr(load(spark, sf_dir, "documents"))
    return local_df(spark, 
        [(r["reg_param"], r["avg_auc"], r["is_best"]) for r in rows],
        "reg_param double, avg_auc double, is_best boolean",
    ).orderBy("reg_param")


@register(
    "docs_quality_calibration",
    None,  # isotonic PAV fit is not SQL-expressible → rows-only;
    # monotonicity + table-shape pinned in tests/test_ml.py
    doc="N9 probability calibration: isotonic regression (pool-adjacent-"
    "violators) fit on the N6 classifier's held-out scores — the "
    "calibration-curve table per score decile: mean raw probability, "
    "observed positive rate, and the monotone isotonic fit "
    "(operators/ml.py::isotonic_calibration)",
)
def docs_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import isotonic_calibration

    return isotonic_calibration(load(spark, sf_dir, "documents"))


@register(
    "orders_target_encoding_oof",
    """
    WITH folded AS (
        SELECT o_orderpriority AS key,
               CAST(('0x' || substring(md5('te-v1:' ||
                    CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 5
                    AS INT) AS fold,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS t
        FROM orders
    ),
    per_fold AS (
        SELECT key, fold,
               CAST(sum(t) AS BIGINT) AS s_f, count(*) AS n_f
        FROM folded GROUP BY key, fold
    ),
    totals AS (
        SELECT key, CAST(sum(s_f) AS BIGINT) AS s_all,
               CAST(sum(n_f) AS BIGINT) AS n_all
        FROM per_fold GROUP BY key
    ),
    grand AS (
        SELECT CAST(sum(s_all) AS BIGINT) * 1.0
               / CAST(sum(n_all) AS BIGINT) AS prior
        FROM totals
    )
    SELECT per_fold.key AS o_orderpriority, fold,
           round(CASE WHEN n_all > n_f
                      THEN (s_all - s_f) * 1.0 / (n_all - n_f)
                      ELSE prior END, 4) AS oof_mean,
           n_f AS n_rows
    FROM per_fold JOIN totals ON per_fold.key = totals.key CROSS JOIN grand
    ORDER BY o_orderpriority, fold
    """,
    doc="N10 leakage-safe (out-of-fold) target encoding: per "
    "(o_orderpriority, md5-fold) mean order value in CENTS computed "
    "from the OTHER four folds only — the encoder table a training "
    "pipeline joins back to rows by (key, fold) so no row sees its own "
    "label. Two hash aggs, output |keys| x folds "
    "(operators/ml.py::target_encode_oof); exact integer sums, one "
    "IEEE-exact division; single-fold categories fall back to the "
    "global prior mean instead of dividing by zero.",
)
def orders_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import target_encode_oof

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    enc = target_encode_oof(
        orders, "o_orderpriority", "o_orderkey", "cents",
        n_folds=5, salt="te-v1",
    )
    return enc.orderBy("o_orderpriority", "fold")


@register(
    "docs_inverted_index",
    """
    WITH tf AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY term, doc_id
    ),
    stats AS (
        SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
        FROM tf GROUP BY term
    ),
    heads AS (
        SELECT term,
               string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id) AS postings_head
        FROM (SELECT term, doc_id,
                     row_number() OVER (PARTITION BY term
                                        ORDER BY doc_id) AS rn
              FROM tf)
        WHERE rn <= 10
        GROUP BY term
    )
    SELECT stats.term, df, cf, postings_head
    FROM stats JOIN heads ON stats.term = heads.term
    ORDER BY df DESC, stats.term
    LIMIT 100
    """,
    doc="K23a inverted-index build: per-term document frequency, "
    "collection frequency, and the serialized head (first 10 doc ids) "
    "of the postings list — term-keyed partial-agg branches with "
    "WindowGroupLimit pushdown capping postings pre-shuffle "
    "(operators/llm.py::inverted_index); top-100 terms by df "
    "registered.",
)
def docs_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import inverted_index

    idx = inverted_index(load(spark, sf_dir, "documents"), postings_cap=10)
    return idx.orderBy(F.desc("df"), "term").limit(100)


_BM25_TERMS = ["hash", "join", "scan"]


@register(
    "docs_bm25_search",
    f"""
    WITH tok AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, dl, count(*) AS tf
        FROM tok
        WHERE term IN ('hash', 'join', 'scan')
        GROUP BY doc_id, term, dl
    ),
    df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    )
    SELECT doc_id,
           round(sum(
               ln(1.0 + (n.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / n.avgdl))
           ), 4) AS bm25
    FROM tf JOIN df_t ON tf.term = df_t.term CROSS JOIN n
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
    doc="K23b BM25 top-10 for the query {'hash','join','scan'} — the "
    "sparse-retrieval baseline beside dense ANN (K3): isin-prefiltered "
    "explode (inverted access path, never a per-query corpus scan), "
    "1-row broadcast N/avgdl scalars, broadcast per-term df, score "
    "rounded 4dp before ordering with doc_id tiebreak "
    "(operators/llm.py::bm25_search).",
)
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import bm25_search

    return bm25_search(load(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


@register(
    "docs_feature_hashing",
    """
    WITH tc AS (
        SELECT term, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY term
    ),
    hashed AS (
        SELECT term, cnt,
               CAST(('0x' || substring(md5('fh:' || term), 1, 8))::BIGINT
                    % 64 AS INT) AS bucket,
               CASE WHEN ('0x' || substring(md5('sgn:' || term), 1, 1))
                         ::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM tc
    )
    SELECT bucket,
           count(*) AS n_terms,
           CAST(sum(sgn * cnt) AS BIGINT) AS signed_mass,
           CAST(sum(cnt) AS BIGINT) AS total_mass
    FROM hashed
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="K24 feature hashing (the hashing-trick vectorizer, Weinberger "
    "ICML'09): every term maps to one of 64 buckets via md5, with an "
    "independent md5-derived sign so colliding terms cancel in "
    "expectation rather than pile up. Per-bucket report: colliding-term "
    "count, signed mass (the actual hashed-feature value), raw mass. "
    "Fixed output dimension regardless of vocabulary — the unbounded-"
    "vocab-to-bounded-vector step before any linear model at corpus "
    "scale; two hash aggs, no vocabulary broadcast needed at all.",
)
def docs_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('fh:', term)), 1, 8), 16, 10)"
        " % 64 AS INT)"
    )
    sgn = F.when(
        F.expr("conv(substring(md5(concat('sgn:', term)), 1, 1), 16, 10)")
        .cast("long") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tc.select("cnt", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("sgn") * F.col("cnt")).alias("signed_mass"),
            F.sum("cnt").alias("total_mass"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# N11: deterministic Lloyd's k-means corpus clustering (round 6)
# --------------------------------------------------------------------------
@register(
    "emb_kmeans_clusters",
    None,  # iterative clustering → rows-only; numpy-replica equivalence
    # + planted-label purity pinned in tests/test_ml.py
    doc="N11 semantic corpus clustering: deterministic Lloyd's k-means "
    "(k=10, 5 iterations) over the embedding table — the grouping "
    "primitive a curation pipeline runs before per-topic mixing or "
    "semantic dedup. Vectors quantized to integers so per-cluster "
    "per-dim sums are EXACT (bit-reproducible on any partition "
    "layout, unlike MLlib KMeans whose averages are fp-order "
    "sensitive); init = k smallest md5(vec_id); centroids ride the "
    "assignment expression as literals (no join), recompute is ONE "
    "hash agg per iteration (operators/ml.py::kmeans_lloyd_exact). "
    "One report row per NON-EMPTY cluster (Lloyd's can strand an "
    "unlucky init): size, mean within-cluster squared distance, "
    "centroid norm.",
)
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.ml import kmeans_lloyd_exact

    emb = load(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_lloyd_exact(
        emb, vec_col="embedding", id_col="vec_id", k=10, iters=5
    )
    norms = {
        ci: sum(c * c for c in cent) ** 0.5 for ci, cent in enumerate(cents)
    }
    norm_col = F.element_at(
        F.array(*[F.lit(round(norms[ci], 6)) for ci in range(10)]),
        F.col("cid") + 1,
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.avg("dist_sq"), 6).alias("mean_dist_sq"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            "n_vecs",
            "mean_dist_sq",
            norm_col.alias("centroid_norm"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# K14b: BPE tokenizer APPLY — encode stats per language (round 6)
# --------------------------------------------------------------------------
@register(
    "docs_bpe_encode_stats",
    None,  # encoding with trained merges is iterative → rows-only;
    # greedy-apply equivalence with the pure-Python reference encoder is
    # pinned in tests/test_llm.py
    doc="K14b BPE tokenizer APPLY — the other half of the K14 lifecycle: "
    "train the top-20 merge table, then ENCODE the corpus with it "
    "(per word, merges replayed in training order via the same codegen "
    "fold — no Python in the row path) and report per-language token "
    "counts and the compression ratio vs raw symbol count. At 100 TB "
    "the merge table is a broadcast-sized artifact and encoding is "
    "embarrassingly parallel map work "
    "(operators/llm.py::bpe_apply_merges).",
)
def docs_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import (
        bpe_apply_merges,
        bpe_train,
    )

    docs = load(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=20)
    toks = bpe_apply_merges(docs, merges)
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bpe"),
        F.sum(F.length("token")).alias("n_syms"),
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            F.sum("n_syms").cast("long").alias("n_symbols"),
            F.round(
                F.sum("n_syms") * 1.0 / F.sum("n_bpe"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# K6c: Kneser-Ney smoothed bigram perplexity (round 6)
# --------------------------------------------------------------------------
@register(
    "docs_kn_bigram_ppl",
    r"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    db AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) u
        WHERE len(t) >= 2
    ),
    trb AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
        FROM db WHERE doc_id % 7 <> 0 GROUP BY 1, 2
    ),
    c1 AS (
        SELECT w1, CAST(sum(cb) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n1p
        FROM trb GROUP BY 1
    ),
    cont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM trb GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS ntot,
               CAST(count(DISTINCT w2) AS BIGINT) AS nv
        FROM trb
    ),
    s AS (
        SELECT db.doc_id, count(*) AS n_bigrams,
               avg(ln(
                 CASE WHEN c1.c1 IS NOT NULL
                      THEN greatest(coalesce(trb.cb, 0)
                                    - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                           / c1.c1
                           + CAST(0.75 AS DOUBLE) * c1.n1p / c1.c1
                             * ((coalesce(cont.nc, 0) + CAST(1 AS DOUBLE))
                                / (tot.ntot + tot.nv + CAST(1 AS DOUBLE)))
                      ELSE (coalesce(cont.nc, 0) + CAST(1 AS DOUBLE))
                           / (tot.ntot + tot.nv + CAST(1 AS DOUBLE))
                 END)) AS a
        FROM db
        LEFT JOIN trb ON trb.w1 = db.w1 AND trb.w2 = db.w2
        LEFT JOIN c1 ON c1.w1 = db.w1
        LEFT JOIN cont ON cont.w2 = db.w2
        CROSS JOIN tot
        GROUP BY db.doc_id
    )
    SELECT doc_id, n_bigrams, round(a, 6) AS mean_logp,
           round(exp(-a), 4) AS ppl
    FROM s ORDER BY doc_id
    """,
    doc="K6c interpolated Kneser-Ney bigram perplexity (Kneser & Ney "
    "1995; d = 0.75): the real LM-smoothing next to K6b's add-k — "
    "absolute discounting on bigram counts with the continuation-count "
    "backoff P_cont(w) ∝ |{w1 : c(w1,w) > 0}| that makes KN the "
    "standard n-gram smoother. Trained on the doc_id%7!=0 slice, "
    "scored per doc; continuation probabilities add-one smoothed over "
    "V+1 so unseen words score finitely. Count tables are "
    "vocabulary-bounded broadcasts; the corpus shuffles only per-doc "
    "partials — the K6b scale shape exactly.",
)
def docs_kn_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    db = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, size(t) - 1)"),
                F.expr("slice(t, 2, size(t) - 1)"),
            )
        ).alias("bg"),
    ).select(
        "doc_id", F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2")
    )
    trb = (
        db.filter(F.col("doc_id") % 7 != 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    c1 = trb.groupBy("w1").agg(
        F.sum("cb").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    cont = trb.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    tot = trb.agg(
        F.count(F.lit(1)).alias("ntot"),
        F.countDistinct("w2").alias("nv"),
    )
    s = (
        db.join(trb, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.expr(
                    "ln(CASE WHEN c1 IS NOT NULL"
                    " THEN greatest(coalesce(cb, 0)"
                    " - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / c1"
                    " + CAST(0.75 AS DOUBLE) * n1p / c1"
                    " * ((coalesce(nc, 0) + CAST(1 AS DOUBLE))"
                    " / (ntot + nv + CAST(1 AS DOUBLE)))"
                    " ELSE (coalesce(nc, 0) + CAST(1 AS DOUBLE))"
                    " / (ntot + nv + CAST(1 AS DOUBLE))"
                    " END)"
                )
            ).alias("a"),
        )
    )
    return s.select(
        "doc_id",
        "n_bigrams",
        F.round("a", 6).alias("mean_logp"),
        F.round(F.exp(-F.col("a")), 4).alias("ppl"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# K2d: text near-dup quality dashboard (round 6)
# --------------------------------------------------------------------------
@register(
    "docs_neardup_quality_report",
    None,  # compares hash-based candidate sets -> rows-only; per-method
    # recall floors pinned individually in tests/test_llm.py
    doc="K2d text near-dup quality dashboard — the TEXT sibling of the "
    "K3+ ANN report: recall of the MinHash-LSH and SimHash candidate "
    "generators against the EXACT PPJoin Jaccard>=0.4 pair set, plus "
    "each method's candidate-mass blowup (n_pairs / n_exact — the "
    "verification cost an index owner trades against recall when "
    "tuning bands). Computed IN Spark by joining each method's "
    "canonicalized (id_a, id_b) set to the exact set.",
)
def docs_neardup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    exact = (
        ngram_jaccard_pairs(docs, threshold=0.4)
        .select("id_a", "id_b")
        .cache()
    )
    n_exact = exact.count()
    methods = {
        "minhash_lsh": minhash_lsh_pairs(docs, threshold=0.4),
        "simhash": simhash_near_pairs(docs, max_hamming=10, n_bands=8),
    }
    rows = []
    for name, df in methods.items():
        got = df.select("id_a", "id_b").distinct().cache()
        n_got = got.count()
        hit = got.join(exact, ["id_a", "id_b"]).count()
        rows.append(
            (
                name,
                int(hit),
                int(n_exact),
                round(hit / n_exact, 4) if n_exact else 1.0,
                int(n_got),
                round(n_got / n_exact, 4) if n_exact else 0.0,
            )
        )
        got.unpersist()
    exact.unpersist()
    return local_df(spark, 
        rows,
        "method string, n_hits long, n_exact long, recall double, "
        "n_candidates long, candidate_ratio double",
    ).orderBy("method")


# --------------------------------------------------------------------------
# K1c: quality-survivorship dedup (keep the BEST doc per near-dup cluster)
# --------------------------------------------------------------------------
@register(
    "docs_cluster_keep_best",
    """
    WITH RECURSIVE s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(t) - 2),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    x AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g FROM s),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    dup AS (
        SELECT id_a, id_b FROM p
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM dup
        UNION
        SELECT id_b AS src, id_a AS dst FROM dup
    ),
    reach AS (
        SELECT DISTINCT src AS id, src AS r FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
    member AS (
        SELECT c.cluster_id, d.doc_id,
               CAST(len(list_distinct(string_split(d.text, ' ')))
                    AS BIGINT) AS n_distinct
        FROM comp c JOIN documents d ON d.doc_id = c.id
    ),
    ranked AS (
        SELECT cluster_id, doc_id, n_distinct,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_distinct DESC, doc_id) AS rnk,
               CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS n_members
        FROM member
    )
    SELECT cluster_id, n_members, doc_id AS keeper_doc_id,
           n_distinct AS keeper_n_distinct
    FROM ranked WHERE rnk = 1 AND n_members >= 2
    ORDER BY cluster_id
    """,
    doc="K1c quality-SURVIVORSHIP dedup: exact 3-gram Jaccard>=0.5 pairs "
    "-> connected components (pointer-jumping, operators/graph.py) -> "
    "per multi-doc cluster keep the HIGHEST-QUALITY member instead of "
    "the min-id one (the FineWeb/Gopher curation rule: the "
    "representative should be the best doc, not the first). Quality "
    "rank = EXACT INTEGER distinct-token count (no fp ratio ties), "
    "tie-broken by doc_id, so reruns keep identical survivors. The "
    "oracle recomputes reachability with a recursive CTE. Scale: the "
    "pair join is the PPJoin prefix-filtered inverted index, CC is "
    "O(log n) rounds, the window moves only cluster members.",
)
def docs_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from time_series_spark_spark.operators.graph import dup_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    comp = dup_clusters(docs, pairs)
    member = comp.join(
        docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " ")))
            .cast("long")
            .alias("n_distinct"),
        ),
        "doc_id",
    )
    w = W.partitionBy("cluster_id")
    ranked = member.select(
        "cluster_id",
        "doc_id",
        "n_distinct",
        F.row_number()
        .over(w.orderBy(F.col("n_distinct").desc(), F.col("doc_id")))
        .alias("rnk"),
        F.count(F.lit(1))
        .over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n_members"),
    )
    return (
        ranked.filter((F.col("rnk") == 1) & (F.col("n_members") >= 2))
        .select(
            "cluster_id",
            "n_members",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_distinct").alias("keeper_n_distinct"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# K11 lexical-diversity report (Yule's K, Simpson's D, TTR, hapax)
# ---------------------------------------------------------------------------
@register(
    "docs_lexical_diversity",
    """
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS f
        FROM tok GROUP BY lang, w
    ),
    vm AS (
        SELECT lang, f, CAST(count(*) AS BIGINT) AS vm
        FROM tf GROUP BY lang, f
    ),
    agg AS (
        SELECT lang,
               CAST(sum(f * vm) AS BIGINT) AS n,
               CAST(sum(vm) AS BIGINT) AS v,
               CAST(sum(CASE WHEN f = 1 THEN vm ELSE 0 END) AS BIGINT)
                   AS v1,
               CAST(sum(f * f * vm) AS BIGINT) AS m2,
               CAST(sum(f * (f - 1) * vm) AS BIGINT) AS ss
        FROM vm GROUP BY lang
    )
    SELECT lang, n AS n_tokens, v AS n_types, v1 AS n_hapax,
           round(CAST(v AS DOUBLE) / n, 6) AS ttr,
           round(CAST(v1 AS DOUBLE) / v, 6) AS hapax_ratio,
           round(10000.0 * (m2 - n) / (CAST(n AS DOUBLE) * n), 6)
               AS yule_k,
           round(CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)), 6)
               AS simpson_d
    FROM agg ORDER BY lang
    """,
    doc="K11 lexical-diversity report per language — the vocabulary-"
    "richness signals a curation pipeline ranks corpora by, all from "
    "ONE frequency-spectrum reduce (types -> V_m = #types with "
    "frequency m): type-token ratio V/N, hapax ratio V1/V (Zipf tail "
    "mass, the K5 Heaps/Zipf companion), Yule's K = 1e4*(sum(m^2*V_m)"
    "-N)/N^2 (repeat-rate; length-invariant unlike TTR), and "
    "Simpson's D = sum(f(f-1))/(N(N-1)) (the probability two sampled "
    "tokens coincide). Every spectrum sum is an EXACT BIGINT (bound: "
    "sum f^2*V_m <= N*f_max < 2^63 while tokens-per-lang * top-word "
    "count stays under ~9e18 — noted); one shared-text fp division "
    "each. Two hash aggs over the (lang, word) frame, then a "
    "spectrum-sized reduce. One row per language.",
)
def docs_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import tokens

    tf = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens()).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    vm = tf.groupBy("lang", "f").agg(F.count(F.lit(1)).alias("vm"))
    agg = vm.groupBy("lang").agg(
        F.sum(F.col("f") * F.col("vm")).alias("n"),
        F.sum("vm").alias("v"),
        F.sum(F.when(F.col("f") == 1, F.col("vm")).otherwise(0)).alias("v1"),
        F.sum(F.col("f") * F.col("f") * F.col("vm")).alias("m2"),
        F.sum(F.col("f") * (F.col("f") - 1) * F.col("vm")).alias("ss"),
    )
    return agg.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.col("v1").alias("n_hapax"),
        F.expr("round(CAST(v AS DOUBLE) / n, 6)").alias("ttr"),
        F.expr("round(CAST(v1 AS DOUBLE) / v, 6)").alias("hapax_ratio"),
        F.expr(
            "round(10000.0 * (m2 - n) / (CAST(n AS DOUBLE) * n), 6)"
        ).alias("yule_k"),
        F.expr(
            "round(CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)), 6)"
        ).alias("simpson_d"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# K12 Johnson-Lindenstrauss sign-projection distortion report
# ---------------------------------------------------------------------------
@register(
    "emb_jl_projection_report",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    proj AS (
        SELECT vec_id, v,
               list_transform(
                   list_transform(range(0, 16), r ->
                       list_transform(range(0, 64), j ->
                           CASE WHEN substring(
                                    md5('jl-v1:' || r || ':' || j), 1, 1)
                                    < '8'
                                THEN 1.0 ELSE -1.0 END)),
                   s -> list_inner_product(v, s)) AS y
        FROM e
    ),
    pairs AS (
        SELECT (list_inner_product(a.v, a.v)
                - 2 * list_inner_product(a.v, b.v)
                + list_inner_product(b.v, b.v)) AS orig_d2,
               (list_inner_product(a.y, a.y)
                - 2 * list_inner_product(a.y, b.y)
                + list_inner_product(b.y, b.y)) AS proj_d2
        FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
    ),
    ratio AS (
        SELECT proj_d2 / (16.0 * orig_d2) AS ratio
        FROM pairs WHERE orig_d2 > 0
    )
    SELECT CAST(floor(ratio * 4) AS BIGINT) AS ratio_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(ratio), 6) AS min_ratio,
           round(max(ratio), 6) AS max_ratio
    FROM ratio GROUP BY 1 ORDER BY 1
    """,
    doc="K12 Johnson-Lindenstrauss random sign projection (64 -> 16 "
    "dims) with a measured distortion report — the dimensionality "
    "reduction a 100 TB ANN pipeline runs BEFORE indexing (4x fewer "
    "bytes per vector, distances preserved within ~sqrt(2/k)): the "
    "+-1 projection matrix is md5-DERIVED in-query (seed 'jl-v1', "
    "hex-nibble fair coin — no stored artifact, both engines generate "
    "the identical matrix), each coordinate one zip_with/aggregate "
    "fold (the driver-green K3 dot idiom, sequential index order so "
    "doubles match bit-for-bit), and squared distances expand as "
    "dot(a,a) - 2dot(a,b) + dot(b,b) with one shared tree. Distortion "
    "ratio ||Py||^2/(k*||x||^2) over consecutive-id pairs lands in "
    "quarter-width buckets with exact counts + per-bucket min/max "
    "(order-independent fp reduces only — never an unordered fp sum). "
    "One narrow projection pass + an id-shifted self-join.",
)
def emb_jl_projection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    # The md5 sign matrix is a PURE FUNCTION of (r, j) — materialize it
    # once on the driver (hashlib md5 == Spark md5 on UTF-8) instead of
    # re-deriving 16x64 md5s per ROW; the 10x stress wall drops ~5x and
    # the values are bit-identical (pinned by the pytest replay).
    import hashlib

    def _sgn(r: int, j: int) -> str:
        h = hashlib.md5(f"jl-v1:{r}:{j}".encode()).hexdigest()
        return "1.0D" if h[0] < "8" else "-1.0D"

    signs = ", ".join(
        "array(" + ", ".join(_sgn(r, j) for j in range(64)) + ")"
        for r in range(16)
    )
    proj = e.select(
        "vec_id", "v",
        F.expr(
            f"transform(array({signs}),"
            " s -> aggregate(zip_with(v, s, (x, w) -> x * w), 0D,"
            "                (acc, t) -> acc + t))"
        ).alias("y"),
    )
    a = proj.select(
        F.col("vec_id").alias("ida"),
        F.col("v").alias("va"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("idb"),
        F.col("v").alias("vb"),
        F.col("y").alias("yb"),
    )
    dot = (
        "aggregate(zip_with({p}, {q}, (x, w) -> x * w), 0D,"
        " (acc, t) -> acc + t)"
    )
    pairs = a.join(b, F.col("idb") == F.col("ida") + 1).select(
        F.expr(
            f"({dot.format(p='va', q='va')}"
            f" - 2 * {dot.format(p='va', q='vb')}"
            f" + {dot.format(p='vb', q='vb')})"
        ).alias("orig_d2"),
        F.expr(
            f"({dot.format(p='ya', q='ya')}"
            f" - 2 * {dot.format(p='ya', q='yb')}"
            f" + {dot.format(p='yb', q='yb')})"
        ).alias("proj_d2"),
    )
    ratio = pairs.filter(F.col("orig_d2") > 0).select(
        F.expr("proj_d2 / (16.0 * orig_d2)").alias("ratio")
    )
    return (
        ratio.groupBy(
            F.expr("CAST(floor(ratio * 4) AS BIGINT)").alias("ratio_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
        )
        .orderBy("ratio_bucket")
    )


# ---------------------------------------------------------------------------
# K13 unseen-vocabulary estimate (Chao1 + Good-Turing mass)
# ---------------------------------------------------------------------------
@register(
    "docs_vocab_unseen_estimate",
    """
    WITH tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    spec AS (
        SELECT CAST(sum(f) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v,
               CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS v1,
               CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS v2
        FROM tf
    )
    SELECT n AS n_tokens, v AS n_types, v1, v2,
           round(v + CASE WHEN v2 > 0
                          THEN (CAST(v1 AS DOUBLE) * v1) / (2.0 * v2)
                          ELSE (CAST(v1 AS DOUBLE) * (v1 - 1)) / 2.0 END,
                 4) AS chao1_richness,
           round(CAST(v1 AS DOUBLE) / n, 6) AS gt_unseen_mass
    FROM spec
    """,
    doc="K13 how much vocabulary has the corpus NOT seen yet — the "
    "coverage planner for tokenizer/vocab decisions at 100 TB: "
    "Chao1's lower bound on true type richness V + V1^2/(2 V2) "
    "(bias-corrected V1(V1-1)/2 when no doubletons) and the Good-"
    "Turing unseen-probability mass V1/N (the chance the NEXT token "
    "is a new type — the smoothing mass every n-gram LM reserves, "
    "cf. the K6b Kneser-Ney discount). Both are closed forms of the "
    "same exact frequency-spectrum integers as K11; one shared fp "
    "expression each. Two hash aggs; single summary row.",
)
def docs_vocab_unseen_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.operators.llm import tokens

    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    spec = tf.agg(
        F.sum("f").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).alias("v1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).alias("v2"),
    )
    return spec.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        "v1",
        "v2",
        F.expr(
            "round(v + CASE WHEN v2 > 0"
            " THEN (CAST(v1 AS DOUBLE) * v1) / (2.0 * v2)"
            " ELSE (CAST(v1 AS DOUBLE) * (v1 - 1)) / 2.0 END, 4)"
        ).alias("chao1_richness"),
        F.expr("round(CAST(v1 AS DOUBLE) / n, 6)").alias(
            "gt_unseen_mass"
        ),
    )


# ---------------------------------------------------------------------------
# K14 cross-source contamination matrix (shared 5-gram shingles)
# ---------------------------------------------------------------------------
@register(
    "docs_source_overlap_matrix",
    """
    WITH s AS (
        SELECT source,
               list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                        || t[i+3] || ' ' || t[i+4])) AS sh
        FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
    ),
    x AS (
        SELECT DISTINCT source,
               ('0x' || substring(md5(g), 1, 15))::BIGINT AS g
        FROM (SELECT source, unnest(sh) AS g FROM s)
    ),
    sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM x
        GROUP BY source
    ),
    p AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS shared
        FROM x a JOIN x b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, sa.n AS grams_a, sb.n AS grams_b,
           p.shared,
           round(CAST(p.shared AS DOUBLE)
                 / (sa.n + sb.n - p.shared), 6) AS jaccard
    FROM p JOIN sizes sa ON sa.source = p.source_a
           JOIN sizes sb ON sb.source = p.source_b
    ORDER BY source_a, source_b
    """,
    doc="K14 cross-SOURCE contamination matrix: for every source pair, "
    "the count of shared distinct word 5-grams and the Jaccard "
    "overlap of their shingle sets — the corpus-hygiene view behind "
    "K2's doc-level near-dups and the K5d train/test contamination "
    "check (a hot pair means one source scraped another; dedup "
    "within sources won't catch it). Inverted-index equi-join on the "
    "shingle's 60-BIT md5 HASH (joining/shuffling 5-word strings "
    "measured 9x slower at 10x stress; both engines hash identically "
    "so counts are unchanged — collision odds ~grams^2/2^60, "
    "negligible and engine-symmetric); per-gram source lists are "
    "bounded by #sources, so pair mass is #grams x sources^2 worst "
    "case, never corpus^2; distinct (source, hash) projection first "
    "so multiplicity doesn't inflate the overlap. One row per pair.",
)
def docs_source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from time_series_spark_spark.operators.llm import shingles_expr

    # Lineage barrier: Catalyst's projection collapse re-inlines the
    # split() into every t[i+j] access inside the shingle lambda (5
    # re-splits per position — the docs_bpe_encode_stats pathology);
    # localCheckpoint pins the materialized token arrays.
    from time_series_spark_spark.operators.packed import fan_out

    # fan_out first: the shingle+md5 explode below is otherwise capped
    # at the scan's split count (one task on the local single-row-group
    # file; no-op on a well-split corpus — guide §2.5)
    toks = (
        fan_out(load(spark, sf_dir, "documents").select("source", "text"))
        .select("source", F.split("text", " ").alias("t"))
        .localCheckpoint(eager=False)
    )
    s = toks.select("source", F.expr(shingles_expr("t", k=5)).alias("sh"))
    x = (
        s.select("source", F.explode("sh").alias("g"))
        .select(
            "source",
            F.expr(
                "CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)"
            ).alias("g"),
        )
        .distinct()
    )
    sizes = x.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # ONE shuffle to per-gram source SETS (bounded by #sources), then
    # pair expansion happens map-side and combines to k^2 rows before
    # the final tiny shuffle — the naive gram self-join moved the full
    # grams x sources^2 pair mass through an exchange (measured 9x at
    # 10x stress; this shape only shuffles the gram frame once).
    p = (
        x.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (a, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs)),"
                    " b -> struct(a AS sa, b AS sb))))"
                )
            ).alias("pr")
        )
        .groupBy(
            F.col("pr.sa").alias("source_a"),
            F.col("pr.sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # MERGE, not broadcast (round 15): a broadcast build of `sizes`
    # re-executes the shingle+md5 explode and the distinct exchange
    # inside its subtree (twice — once per side; nested stage reuse does
    # not cross broadcast-stage boundaries), while as shuffle joins both
    # sizes branches reuse the main plan's (source, gram) exchange and
    # the explode runs once. Both join inputs are ≤ sources² rows.
    return (
        p.join(
            sizes.select(
                F.col("source").alias("source_a"),
                F.col("n").alias("grams_a"),
            ).hint("MERGE"),
            "source_a",
        )
        .join(
            sizes.select(
                F.col("source").alias("source_b"),
                F.col("n").alias("grams_b"),
            ).hint("MERGE"),
            "source_b",
        )
        .select(
            "source_a", "source_b", "grams_a", "grams_b", "shared",
            F.expr(
                "round(CAST(shared AS DOUBLE)"
                " / (grams_a + grams_b - shared), 6)"
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "emb_diverse_exemplars",
    None,  # k driver-side greedy rounds -> rows-only; exact equivalence
    # with a numpy max-min replay pinned in tests/test_llm.py
    doc="K15 farthest-point (max-min) diverse exemplar selection, k=8 "
    "(Gonzalez 1985, the 2-approximation to k-center): seeds at the "
    "smallest vec_id, then repeatedly adds the vector farthest from "
    "the selected set — the diversity-first subset picker (eval-set "
    "seeding, annotation sampling) that random/stratified sampling "
    "is not (those follow density; this covers the SPACE). Each of "
    "the k rounds is one distributed min-dist fold + max_by reduce "
    "over broadcast literal anchors (never an all-pairs matrix or a "
    "corpus collect) — operators/llm.py::farthest_point_sample. One "
    "row per exemplar with its selection distance.",
)
def emb_diverse_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.llm import farthest_point_sample

    sel = farthest_point_sample(load(spark, sf_dir, "embeddings"), k=8)
    return local_df(spark, 
        [(i, vid, round(d, 6)) for i, (vid, d) in enumerate(sel)],
        "pick_order int, vec_id long, dist_at_pick double",
    )


# ---------------------------------------------------------------------------
# K7c audio-style waveform windowing (oracle-backed multimodal plumbing)
# ---------------------------------------------------------------------------
@register(
    "docs_audio_window_features",
    """
    WITH w AS (
        SELECT doc_id, text,
               unnest(generate_series(1, len(text) - 31, 16)) AS s
        FROM documents WHERE len(text) >= 32
    )
    SELECT doc_id, CAST(s - 1 AS BIGINT) AS sample_offset,
           CAST(list_sum(list_transform(range(s, s + 32),
                i -> (ascii(substr(text, i, 1)) - 96)
                     * (ascii(substr(text, i, 1)) - 96))) AS BIGINT)
               AS energy_i64,
           CAST(list_sum(list_transform(range(s, s + 31),
                i -> CASE WHEN (ascii(substr(text, i, 1)) - 96)
                          * (ascii(substr(text, i + 1, 1)) - 96) < 0
                     THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
    FROM w ORDER BY doc_id, sample_offset
    """,
    doc="K7c audio-style WINDOWED feature extraction over the payload "
    "byte stream (window 32 samples, hop 16 — the STFT frame shape): "
    "per (doc, window), the exact integer energy sum((b-96)^2) and "
    "the zero-crossing count of the centered samples — the two "
    "features every audio pipeline computes before any model, with "
    "the decode step deterministic (bytes AS int8 samples; the repo's "
    "ASCII corpus makes byte == char, so this is the one multimodal "
    "query a SQL ORACLE can check end-to-end — K7/K7b stay rows-only "
    "for the same plumbing over opaque payloads). Spark side is a "
    "bounded explode(sequence) + per-window integer fold (codegen, "
    "no Python); output rows = ceil(len/hop) per doc. One row per "
    "(doc, window).",
)
def docs_audio_window_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Decode the byte stream to an int array ONCE per row (behind a
    # repartition + lineage barrier — without it Catalyst re-inlines the
    # transform into every window access, re-running ascii(substring())
    # 64x per window: 27.8 s -> ~3 s at sf0.1), then every window is an
    # O(32) integer fold over array slices.
    v = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") >= 32)
        .repartition(32, "doc_id")
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, length(text)),"
                " i -> ascii(substring(text, i, 1)) - 96)"
            ).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    w = v.select(
        "doc_id",
        "v",
        F.explode(
            F.expr("sequence(1, size(v) - 31, 16)")
        ).alias("s"),
    )
    return w.select(
        "doc_id",
        (F.col("s") - 1).cast("long").alias("sample_offset"),
        F.expr(
            "CAST(aggregate(slice(v, s, 32), 0L,"
            " (acc, x) -> acc + CAST(x AS BIGINT) * x) AS BIGINT)"
        ).alias("energy_i64"),
        F.expr(
            "CAST(aggregate(zip_with(slice(v, s, 31), slice(v, s + 1, 31),"
            " (a, b) -> CASE WHEN a * b < 0 THEN 1 ELSE 0 END), 0L,"
            " (acc, t) -> acc + t) AS BIGINT)"
        ).alias("zero_crossings"),
    ).orderBy("doc_id", "sample_offset")


# ---------------------------------------------------------------------------
# K16 dedup impact report: what each strategy would keep / cost
# ---------------------------------------------------------------------------
@register(
    "docs_dedup_impact_report",
    None,  # composes LSH/CC machinery -> rows-only; per-strategy counts
    # are identity-pinned against the individual ops in tests/test_llm.py
    doc="K16 dedup IMPACT report — the what-if table a curation run is "
    "planned from: for each strategy (none; exact normalized-hash "
    "K1; near-dup cluster keep-one over 3-gram Jaccard >= 0.5 "
    "pairs + CC, K2+), the documents kept, whitespace tokens kept, "
    "and the retention percentages. Each row reuses the registered "
    "operators verbatim (exact_dedup; ngram_jaccard_pairs -> "
    "dup_clusters keeper rule), so the numbers ARE the ops' numbers "
    "(identity-pinned in pytest) — the report only adds the bounded "
    "3-row union. One scan per strategy at corpus scale; strategies "
    "ordered by aggressiveness.",
)
def docs_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_spark_spark.operators.graph import dup_clusters
    from time_series_spark_spark.operators.llm import (
        exact_dedup,
        ngram_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("n_tok")
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("toks")
    ).collect()[0]

    def summarize(kept_ids, name, order):
        kept = docs.join(kept_ids, "doc_id", "left_semi").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").alias("toks"),
        ).collect()[0]
        return (
            order,
            name,
            int(kept["docs"]),
            int(kept["toks"]),
            round(kept["docs"] / base["docs"], 6),
            round(kept["toks"] / base["toks"], 6),
        )

    rows = [
        (
            0,
            "none",
            int(base["docs"]),
            int(base["toks"]),
            1.0,
            1.0,
        )
    ]
    rows.append(
        summarize(
            exact_dedup(docs.select("doc_id", "text")).select("doc_id"),
            "exact_hash",
            1,
        )
    )
    pairs = ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), k=3, threshold=0.5
    )
    clustered = dup_clusters(load(spark, sf_dir, "documents"), pairs)
    keepers = (
        clustered.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    rows.append(summarize(keepers, "near_dup_cluster_keep_one", 2))
    return local_df(spark, 
        rows,
        "strategy_order int, strategy string, docs_kept long,"
        " tokens_kept long, doc_retention double, token_retention double",
    )
