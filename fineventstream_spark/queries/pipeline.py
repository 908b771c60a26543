"""PL-family: training-data curation pipeline operators (round 2).

Beyond dedup/quality (queries/llm.py), a 100 TB pretraining pipeline needs
corpus *curation*: eval-set decontamination, deterministic sampling for
data mixing, domain-mix accounting, and quantile-based quality filtering.
The reference stops at ingest (its README's "Next Feats" list ends at
validation); these are the batch-analytics ops a user of that lake would
run next. All are expressed as pure DataFrame plans with DuckDB oracle
twins, so the driver hash-checks every one.

Scale notes (100 TB):
- decontamination shuffles once on the shingle hash (the join key); the
  eval side is tiny after DISTINCT and broadcasts.
- sampling is a stateless filter on a hash/modulus of the key — no
  shuffle, fully pushed into the scan stage, and reproducible across
  runs/cluster sizes (no RNG, no partition-order dependence).
- domain-mix is a two-level aggregation (per-domain partials, then a
  20-row window) — the window runs on the already-aggregated frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables
from fineventstream_spark.registry import register

# Word n-gram size for decontamination. Real pipelines use 8-13-gram
# matching (e.g. the GPT-3 / PaLM decontamination recipes); the fixture
# docs are short, so 5 keeps a measurable overlap rate while still being
# a multi-word exact match.
_SHINGLE_K = 5


def word_shingles(text_col, k: int = _SHINGLE_K):
    """Array of word k-grams, JVM-side (single projection, no shuffle).

    A transform-over-sequence keeps shingle generation inside the scan
    stage: the alternative (posexplode + window lead) costs a full
    shuffle of every token in the corpus before the join even starts.
    """
    w = F.split(text_col, " ")
    n = F.size(w)
    idx = F.sequence(F.lit(1), n - (k - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(k)])
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


@register(
    "q_llm_decontaminate",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), shingles AS (
        SELECT doc_id,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sh
        FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-{_SHINGLE_K - 1})) AS i) t
    ), eval_sh AS (
        SELECT DISTINCT sh FROM shingles WHERE doc_id % 20 = 0
    ), train_sh AS (
        SELECT DISTINCT doc_id, sh FROM shingles WHERE doc_id % 20 <> 0
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM train_sh t JOIN eval_sh e USING (sh)
    GROUP BY t.doc_id
    """,
    tags=("PL1", "U5"),
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training docs sharing any word
    5-gram with the held-out eval slice (doc_id % 20 == 0 plays the eval
    benchmark). One shuffle on the shingle; the distinct eval-shingle set
    is benchmark-sized → broadcast side of the join."""
    t = Tables(spark, sf_dir)
    sh = t.documents.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
    )
    eval_sh = sh.filter(F.col("doc_id") % 20 == 0).select("sh").distinct()
    # r14 (guide §2.3 — filter before the exchange): the broadcast join is
    # map-side, so probing the eval set FIRST means only matching
    # (doc_id, shingle) rows ever reach a shuffle; the pre-r14 shape
    # distinct-ed every train shingle string (the whole corpus tokenized,
    # shuffled as text) before the selective join. count_distinct fuses
    # the old distinct + count(*) into one partial-aggregated exchange;
    # per-doc shingles are counted once either way.
    train_hits = sh.filter(F.col("doc_id") % 20 != 0).join(
        F.broadcast(eval_sh), "sh"
    )
    return train_hits.groupBy("doc_id").agg(
        F.count_distinct("sh").alias("n_shared_shingles")
    )


@register(
    "q_llm_sample_stratified",
    oracle="""
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_sampled, CAST(SUM(d.n_chars) AS BIGINT) AS chars_sampled
    FROM documents d
    JOIN (VALUES ('en', 3), ('de', 8), ('es', 10), ('fr', 5), ('zh', 1))
         AS r(lang, keep_lt) ON d.lang = r.lang
    WHERE d.doc_id % 10 < r.keep_lt
    GROUP BY d.lang
    """,
    tags=("PL2",),
)
def q_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling for data mixing: per-language keep rates from a
    broadcast rates dim, membership decided by a key modulus — no RNG, so
    the sample is identical on any cluster size / run (sampleBy() is not:
    it draws per-partition). The filter collapses to a scan-stage
    predicate after the broadcast join."""
    t = Tables(spark, sf_dir)
    rates = spark.createDataFrame(
        [("en", 3), ("de", 8), ("es", 10), ("fr", 5), ("zh", 1)],
        "lang string, keep_lt int",
    )
    return (
        t.documents.join(F.broadcast(rates), "lang")
        .filter(F.col("doc_id") % 10 < F.col("keep_lt"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("chars_sampled"),
        )
    )


@register(
    "q_llm_sample_hash",
    oracle="""
    SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS bucket_key
    FROM documents
    ORDER BY bucket_key, doc_id
    LIMIT 100
    """,
    tags=("PL3",),
)
def q_llm_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform deterministic sample: order by a portable content hash of
    the key and take the first N — reproducible across engines (md5 is
    bit-identical in Spark and DuckDB, unlike xxhash64) and across data
    layouts. Physically a TakeOrderedAndProject: per-partition top-N,
    single N-row merge on the driver — no global sort at 100 TB."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            "doc_id",
            "source",
            F.md5(F.col("doc_id").cast("string").cast("binary")).alias("bucket_key"),
        )
        .orderBy("bucket_key", "doc_id")
        .limit(100)
    )


@register(
    "q_llm_domain_mix",
    oracle="""
    WITH per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share,
           ROUND(CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source) AS DOUBLE)
                 / SUM(n_tokens) OVER (), 6) AS cum_share
    FROM per
    """,
    tags=("PL4",),
)
def q_llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix accounting: token totals per source plus each domain's
    share and the cumulative share in descending-size order (the table a
    mixing-weights decision reads). The windows run over the 20-row
    aggregated frame, not the corpus."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    from fineventstream_spark.operators.text import ws_segment_count

    per = t.documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws_segment_count(F.col("text"))).alias("n_tokens"),
    )
    total = Window.partitionBy()
    cum = Window.partitionBy().orderBy(F.col("n_tokens").desc(), F.col("source"))
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(total), 6).alias("token_share"),
        F.round(
            F.sum("n_tokens").over(cum) / F.sum("n_tokens").over(total), 6
        ).alias("cum_share"),
    )


@register(
    "q_llm_quality_quantile",
    oracle="""
    WITH parts AS (
        SELECT doc_id, source,
               length(text) AS n,
               string_split(lower(text), ' ') AS w,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
        FROM documents
    ), derived AS (
        SELECT doc_id, source,
               LEAST(CAST(n AS DOUBLE) / 500.0, 1.0) AS len_score,
               LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n, 1) * 5, 1.0) AS punct_penalty,
               CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                   / GREATEST(len(w), 1) AS mwl
        FROM parts
    ), scored AS (
        SELECT doc_id, source,
               ROUND(0.5*len_score + 0.3*(1 - punct_penalty)
                     + 0.2*(CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END), 4) AS quality
        FROM derived
    ), tiled AS (
        SELECT doc_id, source, quality,
               NTILE(4) OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS q_tile
        FROM scored
    )
    SELECT doc_id, source, quality FROM tiled WHERE q_tile = 1
    """,
    tags=("PL5", "U7", "W1"),
)
def q_llm_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile quality filter: keep each source's top quality quartile
    (ntile over a deterministic total order — score desc, then doc_id).
    Partitioned by source, so the sort is per-domain, not global; at
    100 TB the exact ntile would move to percentile_approx thresholds
    per source (one aggregation) — semantics identical at the boundary
    modulo ties, which the tiebreak pins here."""
    from pyspark.sql import Window

    from fineventstream_spark.operators.text import quality_score

    t = Tables(spark, sf_dir)
    scored = t.documents.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        scored.withColumn("q_tile", F.ntile(4).over(w))
        .filter(F.col("q_tile") == 1)
        .drop("q_tile")
    )


@register(
    "q_llm_repetition",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
    ), shagg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_g,
               CAST(count(DISTINCT g) AS BIGINT) AS n_gd
        FROM sh GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_words,
           ROUND(CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w), 6) AS ttr,
           ROUND(CAST(COALESCE(s.n_g, 0) - COALESCE(s.n_gd, 0) AS DOUBLE)
                 / GREATEST(COALESCE(s.n_g, 0), 1), 6) AS dup_trigram_frac
    FROM words w LEFT JOIN shagg s USING (doc_id)
    """,
    tags=("PL6", "U7"),
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher-style): type-token ratio and the
    duplicated word-trigram fraction per document. Everything is array
    built-ins inside one projection — no explode, no shuffle at all; the
    plan is a pure map stage over the scan, so it runs at I/O speed on
    100 TB."""
    t = Tables(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    g = word_shingles(F.col("text"), k=3)
    n_g = F.size(g)
    n_gd = F.size(F.array_distinct(g))
    return t.documents.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.round(F.size(F.array_distinct(w)) / F.size(w), 6).alias("ttr"),
        F.round(
            (n_g - n_gd).cast("double") / F.greatest(n_g, F.lit(1)), 6
        ).alias("dup_trigram_frac"),
    )


@register(
    "q_llm_idf",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
              FROM documents)
        GROUP BY term
    )
    SELECT term, df,
           ROUND(CAST((SELECT n_docs FROM n) + 1 AS DOUBLE) / (df + 1), 6) AS idf_w
    FROM df ORDER BY df DESC, term ASC LIMIT 50
    """,
    tags=("PL7",),
)
def q_llm_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency table with a log-free IDF weight
    ((N+1)/(df+1) — monotone in the usual log formulation, but exactly
    reproducible across engines; no libm in the ranking). array_distinct
    BEFORE explode keeps the shuffle at one row per (doc, distinct term);
    the corpus size joins in as a broadcast scalar. Top-50 is
    TakeOrderedAndProject — no global sort."""
    t = Tables(spark, sf_dir)
    n = t.documents.agg(F.count("*").alias("n_docs"))
    df = (
        t.documents.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    return (
        df.crossJoin(F.broadcast(n))
        .select(
            "term",
            "df",
            F.round((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1), 6).alias("idf_w"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(50)
    )


@register(
    "q_llm_tfidf_top",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, term, tfidf FROM (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * (CAST((SELECT n_docs FROM n) + 1 AS DOUBLE) / (df.df + 1)), 6) AS tfidf,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * (CAST((SELECT n_docs FROM n) + 1 AS DOUBLE) / (df.df + 1)) DESC,
                            tf.term ASC
               ) AS rn
        FROM tf JOIN df USING (term)
    ) WHERE rn <= 3
    """,
    tags=("PL8", "W4"),
)
def q_llm_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf (log-free idf
    weight, integer-derived doubles → bit-identical ranking across
    engines; ties broken by term). Two aggregations share the exploded
    frame's (doc, term) partitioning; the per-term df table is small
    (vocabulary-sized) and broadcasts back.

    r14 (guide §2.4/§5): tf feeds BOTH the df vocabulary aggregate and
    the score join — as two plan subtrees the corpus was tokenized and
    the full (doc, term) stream shuffled TWICE per run; materialized
    once (same localCheckpoint idiom as bm25's dl; rows bounded by
    distinct (doc, term) pairs, far smaller than the token stream)."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    n = t.documents.agg(F.count("*").alias("n_docs"))
    tf = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = F.col("tf") * ((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.round(score, 6).alias("tfidf"))
    )


_BM25_TERMS = ("data", "model", "quantum")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_llm_bm25",
    oracle="""
    WITH dl AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        FROM documents
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE term IN ('data', 'model', 'quantum')
        GROUP BY doc_id, term
    ),
    dft AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(floor(
                   (CAST((SELECT n_docs FROM stats) + 1 AS DOUBLE) / (dft.df + 1))
                   * ((tf.tf * (1.2 + 1.0)) /
                      (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.dl / (SELECT avgdl FROM stats)))))
                   * 1000000.0 + 0.5) AS BIGINT) AS s_units
        FROM tf
        JOIN dl USING (doc_id)
        JOIN dft USING (term)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           ROUND(SUM(s_units) / 1000000.0, 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
    tags=("PL15",),
)
def q_llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) of the corpus against a
    fixed query-term set — the ranking primitive behind retrieval-based
    curation and decontamination. Log-free idf ((N+1)/(df+1), as in
    q_llm_idf) keeps libm out of the ranking.

    Scale shape: the exploded token stream filters to the query terms
    BEFORE any aggregation (the explode→filter fuses into one generate
    pass; rows surviving ≈ |terms| × docs, not corpus tokens), doc
    lengths come from the zero-allocation segment count, and everything
    that crosses an exchange is (doc, term)-sized. N/avgdl/df are
    broadcast scalars. Top-20 is TakeOrderedAndProject.

    Determinism: the per-(doc,term) score is an identical IEEE
    expression tree on both engines; the CROSS-TERM sum is done in
    integer 1e-6 units (floor(score·1e6 + .5)) so summation order can
    never move the 6-dp result (the repo's money-units rule applied to
    relevance scores)."""
    from fineventstream_spark.operators.text import ws_segment_count

    t = Tables(spark, sf_dir)
    # r14: dl feeds the corpus stats AND the score join — as two plan
    # subtrees the corpus was scanned + segment-counted twice;
    # materialized once (guide §2.4; (doc_id, double) rows). tf also
    # feeds two consumers (df counts + score join) but stays INLINE: its
    # fused explode→filter shape is plan-asserted
    # (test_bm25_explode_filters_early_and_topk_no_sort) and a checkpoint
    # would hide the Generate behind a LogicalRDD; the duplicated pass is
    # the filtered (doc, term) stream, ≈ |terms| × docs rows, not corpus
    # tokens.
    dl = t.documents.select(
        "doc_id", ws_segment_count(F.col("text")).cast("double").alias("dl")
    ).localCheckpoint(eager=False)
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)
    norm = F.col("tf") + _BM25_K1 * (
        (1.0 - _BM25_B) + _BM25_B * (F.col("dl") / F.col("avgdl"))
    )
    score = idf * ((F.col("tf") * (_BM25_K1 + 1.0)) / norm)
    s_units = F.floor(score * 1_000_000.0 + 0.5).cast("bigint")
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_units.alias("s_units"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum("s_units") / 1_000_000.0, 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@register(
    "q_llm_embed_quantize",
    oracle="""
    WITH s AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               GREATEST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                        1e-12) AS mx
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(v, x -> x*x))), 6) AS l2_norm,
           ROUND(127.0 / mx, 6) AS scale,
           ROUND(list_sum(list_transform(v, x ->
                 pow(x - floor(x * (127.0/mx) + 0.5) / (127.0/mx), 2))) / len(v), 8) AS mse
    FROM s
    """,
    tags=("PL9", "U6"),
)
def q_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the storage/bandwidth step
    before ANN at scale): per-vector scale = 127/max|x|, quantize via
    floor(x·scale + 0.5) (identical rounding in every engine, unlike
    banker's-rounding round()), report L2 norm and reconstruction MSE.
    One fused Arrow kernel — float32 matrix in, three float64 columns
    out; no per-element Python, no shuffle."""
    import numpy as np
    import pandas as pd

    def quant_stats(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            mx = np.maximum(np.abs(v).max(axis=1), 1e-12)
            scale = 127.0 / mx
            q = np.floor(v * scale[:, None] + 0.5)
            err = v - q / scale[:, None]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "l2_norm": np.round(np.sqrt((v * v).sum(axis=1)), 6),
                    "scale": np.round(scale, 6),
                    "mse": np.round((err * err).mean(axis=1), 8),
                }
            )

    t = Tables(spark, sf_dir)
    return t.embeddings.select("vec_id", "embedding").mapInPandas(
        quant_stats, "vec_id bigint, l2_norm double, scale double, mse double"
    )


@register(
    "q_llm_pii_redact",
    oracle=r"""
    SELECT c_custkey,
           CAST(len(regexp_extract_all(c_name, '\d{4,}')) AS BIGINT) AS n_ids,
           regexp_replace(c_name, '\d{4,}', '[ID]', 'g') AS redacted,
           md5(regexp_replace(c_name, '\d{4,}', '[ID]', 'g')) AS redacted_md5
    FROM customer
    """,
    tags=("PL10", "F4"),
)
def q_llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style identifier scrubbing: detect long digit runs (account /
    record numbers) in a text column, count them, and emit the redacted
    text plus its md5 (the md5 twin proves byte-identical redaction
    across engines — the property a compliance pipeline actually needs).
    Pure map stage — regexp_count / regexp_replace are JVM codegen; at
    100 TB this runs at scan speed with zero shuffle. Real PII rulesets
    are just more patterns in the same projection (emails, phones,
    SSNs); the digit-run rule is the one this corpus exercises
    non-vacuously."""
    t = Tables(spark, sf_dir)
    pat = r"\d{4,}"
    red = F.regexp_replace(F.col("c_name"), pat, "[ID]")
    return t.customer.select(
        "c_custkey",
        F.regexp_count(F.col("c_name"), F.lit(pat)).cast("bigint").alias("n_ids"),
        red.alias("redacted"),
        F.md5(red).alias("redacted_md5"),
    )


@register(
    "q_llm_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), pre AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        FROM toks
    )
    SELECT CAST(prefix // 512 AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM pre GROUP BY 1
    """,
    tags=("PL11", "W3"),
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: stream documents in doc_id order
    into contiguous ~512-token bins (bin = exclusive-prefix-token-count
    div budget — the deterministic chunking a dataloader shards on).
    The naive formulation is SUM() OVER (ORDER BY doc_id) — a
    single-task global sort. Here the exclusive prefix sum is computed
    distributed (operators/rank.py:global_prefix_sum): range-bucket on
    doc_id, per-bucket sums → broadcast offsets, within-bucket window —
    the sort spreads over 64 reducers and the only global state is one
    64-row offsets frame. Output is the per-bin manifest.

    The tokenized frame is persisted (r8): the prefix-sum operator
    consumes its input twice (bucket sums + the windowed pass), and
    without the cache each consumer re-runs the two-string-pass tokenize
    over the full corpus — measured 9.0 s → 5.0 s at sf30. The persist
    is (doc_id, n_tokens) only — KBs per million docs, never the text —
    and is freed by the caller's scope (operators/dedup.py:
    released_on_exit) or with the session's cache (``clearCache()``)."""
    from fineventstream_spark.operators.dedup import persist_tracked
    from fineventstream_spark.operators.rank import global_prefix_sum
    from fineventstream_spark.operators.text import ws_segment_count

    t = Tables(spark, sf_dir)
    toks = persist_tracked(
        t.documents.select(
            "doc_id", ws_segment_count(F.col("text")).cast("bigint").alias("n_tokens")
        )
    )
    pre = global_prefix_sum(
        toks,
        bucket_key=F.col("doc_id"),
        order_cols=[F.col("doc_id")],
        value_col="n_tokens",
        out_col="prefix",
    )
    return (
        pre.withColumn("bin_id", (F.col("prefix") / F.lit(512)).cast("bigint"))
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "q_llm_stopword_filter",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN term IN ('a', 'the', 'of', 'to', 'and')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           CAST(SUM(CASE WHEN term IN ('a', 'the', 'of', 'to', 'and')
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM tok GROUP BY doc_id
    """,
    tags=("PL12", "U7"),
)
def q_llm_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword accounting via the broadcast-dictionary pattern: explode
    to a token stream, LEFT join the (tiny, broadcast) stopword dim,
    re-aggregate per document. This is the scale shape for any
    token-level dictionary op (stopwords, blocklists, vocab lookups) —
    the dictionary broadcasts however big the corpus is, and the
    re-aggregation partially aggregates map-side. Array higher-order
    alternatives (filter/exists) are CodegenFallback — interpreted
    per-element — so the explode+join form is also the faster one."""
    t = Tables(spark, sf_dir)
    stopwords = spark.createDataFrame(
        [("a",), ("the",), ("of",), ("to",), ("and",)], ["term"]
    ).withColumn("is_stop", F.lit(1))
    tok = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    return (
        tok.join(F.broadcast(stopwords), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("is_stop"), F.lit(0))).cast("bigint").alias("n_stop"),
            F.sum(F.when(F.col("is_stop").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


@register(
    "q_llm_curation_pipeline",
    oracle="""
    WITH parts AS (
        SELECT doc_id, text, lang,
               length(text) AS n,
               string_split(lower(text), ' ') AS w,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
        FROM documents
    ), derived AS (
        SELECT doc_id, text, lang,
               LEAST(CAST(n AS DOUBLE) / 500.0, 1.0) AS len_score,
               LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n, 1) * 5, 1.0) AS punct_penalty,
               CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                   / GREATEST(len(w), 1) AS mwl
        FROM parts
    ), scored AS (
        SELECT doc_id, text, lang,
               ROUND(0.5*len_score + 0.3*(1 - punct_penalty)
                     + 0.2*(CASE WHEN mwl >= 3 AND mwl <= 10
                            THEN 1.0 ELSE 0.5 END), 4) AS quality
        FROM derived
    ), gated AS (
        SELECT * FROM scored
        WHERE lang IN ('en', 'de', 'fr', 'es') AND quality >= 0.7
    ), kept AS (
        SELECT doc_id, lang, quality, text,
               MIN(doc_id) OVER (PARTITION BY text) AS keeper
        FROM gated
    )
    SELECT doc_id, lang, quality,
           CASE WHEN substr(md5(text), 1, 1) < 'd' THEN 'train' ELSE 'eval' END AS split
    FROM kept WHERE doc_id = keeper
    """,
    tags=("PL13", "U4", "U7"),
)
def q_llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation ring composed end-to-end in ONE plan: language gate →
    quality gate → exact-dedup keeper → leak-free content-hash
    train/eval split. Each stage is an operator the engine exposes
    individually (text.quality_score, exact-dedup window, hash split);
    composing them costs exactly one shuffle — the dedup window on
    text — because gates are stateless filters fused into the scan stage
    and the split is a stateless projection. At 100 TB this is the shape
    of a full curation run: the fact scans once, and everything before
    the dedup shuffle is codegen."""
    from fineventstream_spark.operators import text as text_ops
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    scored = t.documents.select(
        "doc_id",
        "text",
        "lang",
        text_ops.quality_score(F.col("text")).alias("quality"),
    )
    gated = scored.filter(
        F.col("lang").isin("en", "de", "fr", "es") & (F.col("quality") >= 0.7)
    )
    kept = gated.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("text"))
    ).filter(F.col("doc_id") == F.col("keeper"))
    return kept.select(
        "doc_id",
        "lang",
        "quality",
        F.when(F.substring(F.md5("text"), 1, 1) < "d", "train")
        .otherwise("eval")
        .alias("split"),
    )


@register(
    "q_llm_sample_weighted",
    oracle="""
    SELECT doc_id, source, n_chars,
           ROUND(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
                     / 4503599627370496.0) / n_chars, 6) AS sample_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
                 / 4503599627370496.0) / n_chars,
             doc_id
    LIMIT 100
    """,
    tags=("PL3",),
)
def q_llm_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    inclusion probability proportional to document length, the standard
    size-biased draw for training-mix construction. Each doc gets a
    deterministic uniform u from the 52-bit md5 prefix of its key —
    (v + 0.5) / 2^52 is EXACT in IEEE doubles (53-bit mantissa holds
    v + 0.5; the divisor is a power of two), so u is bit-identical in
    Spark and DuckDB — and the A-Res key -ln(u)/w ranks the draw: the k
    smallest keys ARE the weighted sample. No RNG state, no driver
    round-trips, identical on any cluster size or data layout.

    Physically a TakeOrderedAndProject: per-partition top-k heaps, one
    k-row merge — no global sort at 100 TB (same shape as
    q_llm_sample_hash, which this generalizes from uniform to weighted)."""
    t = Tables(spark, sf_dir)
    v = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 13),
        16,
        10,
    ).cast("bigint")
    u = (v.cast("double") + F.lit(0.5)) / F.lit(float(1 << 52))
    key = -F.log(u) / F.col("n_chars")
    return (
        t.documents.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            "n_chars",
            key.alias("__key"),
        )
        .orderBy("__key", "doc_id")
        .limit(100)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("__key", 6).alias("sample_key"),
        )
    )
