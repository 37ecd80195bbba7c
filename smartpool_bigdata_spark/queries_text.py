"""Document-pipeline queries (LLM-training-data surface) over the
``documents`` table: text quality stats, exact dedup, MinHash-LSH near-dup,
SimHash/fingerprint signatures, language ID.

Not present in the reference (its corpus is IoT rows); required by the task
brief as first-class operators. Every query here has a FULL value-hash
DuckDB oracle — the dual-dialect expression generators in ``ops/text.py``
emit the same md5-derived integer algebra in both engines (validated
bit-identical), so even the LSH pipeline is exactly checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smartpool_bigdata_spark.functions import stable_avg
from smartpool_bigdata_spark.ops import text as T
from smartpool_bigdata_spark.ops.text import (
    LANG_STOPWORDS,
    exact_dedup,
    language_guess,
    minhash_near_dup_pairs,
    with_text_stats,
)
from smartpool_bigdata_spark.queries import query, _t, _ts


@query(
    "doc_text_quality",
    oracle=f"""
    WITH stats AS (
        SELECT lang,
               len(text) AS char_count,
               len({T.duck_tokens('text')}) AS token_count,
               round(len(list_distinct({T.duck_tokens('text')}))
                     / CAST(len({T.duck_tokens('text')}) AS DOUBLE), 4) AS unique_token_ratio
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           round(CAST(sum(CAST(char_count AS DECIMAL(38,10))) AS DOUBLE)
                 / count(char_count), 4) AS avg_chars,
           round(CAST(sum(CAST(token_count AS DECIMAL(38,10))) AS DOUBLE)
                 / count(token_count), 4) AS avg_tokens,
           round(CAST(sum(CAST(unique_token_ratio AS DECIMAL(38,10))) AS DOUBLE)
                 / count(unique_token_ratio), 4) AS avg_unique_ratio
    FROM stats GROUP BY lang
    """,
    description="Text quality scoring per language: char/token counts and "
    "unique-token ratio, all row-local higher-order array functions (no "
    "UDFs, no shuffle before the final tiny agg). Scale: scan-bound.",
)
def doc_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    stats = with_text_stats(docs, "text")
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        stable_avg("char_count", 4).alias("avg_chars"),
        stable_avg("token_count", 4).alias("avg_tokens"),
        stable_avg("unique_token_ratio", 4).alias("avg_unique_ratio"),
    )


@query(
    "doc_exact_dedup",
    oracle="""
    WITH kept AS (
        SELECT source, doc_id, row_number() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM kept GROUP BY source
    """,
    description="Exact content dedup via md5 hash-partitioned keep-lowest-id "
    "(deterministic winner, unlike dropDuplicates). Scale: one uniform "
    "shuffle on the digest; only (digest, id) travels.",
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "text", "doc_id").select("source", F.lit(1).alias("__k"))
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_counts = kept.groupBy("source").agg(F.sum("__k").alias("n_kept"))
    return totals.join(kept_counts, "source", "left").select(
        "source", "n_docs", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


@query(
    "doc_train_split",
    oracle=f"""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN {T.duck_hash64("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                    WHEN {T.duck_hash64("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'valid'
                    ELSE 'test' END AS split,
               len({T.duck_tokens('text')}) AS token_count
        FROM documents
    )
    SELECT lang, split,
           count(*) AS n_docs,
           CAST(sum(token_count) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY lang, split
    """,
    description="Deterministic stratified train/valid/test split (80/10/10) "
    "for training-data pipelines: the split is a pure function of the "
    "stable doc_id (md5-derived bucket), NOT rand() — reproducible across "
    "runs, partitionings and cluster sizes, and any doc's split is "
    "recomputable later for leakage audits. Row-local map + tiny agg.",
)
def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    bucket = F.expr(T.spark_hash64("CAST(doc_id AS STRING)")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    toks = T.spark_tokens("text")
    return (
        docs.select("lang", split.alias("split"), F.expr(f"size({toks})").alias("token_count"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("token_count").alias("total_tokens"),
        )
    )


@query(
    "doc_fingerprint_dedup",
    oracle=f"""
    WITH cs AS (
        SELECT doc_id, {T.duck_char_codes('text')} AS cs FROM documents
    ),
    fp AS (
        SELECT doc_id, {T.duck_poly_gram_min('cs', 5)} AS fingerprint FROM cs
    )
    SELECT fingerprint,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM fp GROUP BY fingerprint HAVING count(*) > 1
    """,
    description="Fingerprint-based dedup: collapse documents sharing a "
    "winnowing-style min-polynomial char-5-gram fingerprint; emit each "
    "collision group with its deterministic survivor (lowest doc_id). "
    "Scale: 8-byte key shuffle, uniform distribution — the cheapest "
    "near-dup collapse tier before MinHash/SimHash.",
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import content_fingerprint

    docs = _ts(spark, sf_dir, "documents")
    fp = content_fingerprint(docs, "doc_id", "text", ngram=5)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "doc_token_percentiles",
    oracle=f"""
    WITH t AS (
        SELECT lang, len({T.duck_tokens('text')}) AS n FROM documents
    ),
    q AS (
        SELECT lang, quantile_cont(n, [0.5, 0.9, 0.99]) AS qs FROM t GROUP BY lang
    )
    SELECT lang,
           round(qs[1], 4) AS p50_tokens,
           round(qs[2], 4) AS p90_tokens,
           round(qs[3], 4) AS p99_tokens
    FROM q
    """,
    description="Token-count percentiles per language (exact linear-"
    "interpolation quantiles, p50/p90/p99) — the profiling step that sets "
    "curation thresholds. Spark's exact percentile() matches DuckDB's "
    "quantile_cont bit-for-bit (verified), so this carries a full value "
    "oracle. Scale note: exact percentiles buffer per-group values; at "
    "100 TB swap in approx_percentile and a rows-only check.",
)
def doc_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    t = docs.select("lang", F.expr(f"size({T.spark_tokens('text')})").alias("n"))
    q = t.groupBy("lang").agg(
        F.expr("percentile(n, array(0.5D, 0.9D, 0.99D))").alias("qs")
    )
    return q.select(
        "lang",
        F.round(F.expr("element_at(qs, 1)"), 4).alias("p50_tokens"),
        F.round(F.expr("element_at(qs, 2)"), 4).alias("p90_tokens"),
        F.round(F.expr("element_at(qs, 3)"), 4).alias("p99_tokens"),
    )


@query(
    "doc_repetition_signals",
    oracle=f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    uni AS (
        SELECT doc_id, h, count(*) AS cnt
        FROM (SELECT doc_id, unnest(th) AS h FROM th)
        GROUP BY doc_id, h
    ),
    unia AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS token_count,
               CAST(max(cnt) AS BIGINT) AS top_tok
        FROM uni GROUP BY doc_id
    ),
    ng AS (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest({T.duck_shingle_hashes('th', 3)}) AS g FROM th)
        GROUP BY doc_id, g
    ),
    nga AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_grams
        FROM ng GROUP BY doc_id
    ),
    fr AS (
        SELECT u.doc_id, u.token_count,
               round(top_tok / CAST(token_count AS DOUBLE), 4) AS top_token_fraction,
               coalesce(round(dup_grams / CAST(n_grams AS DOUBLE), 4), 0.0)
                   AS dup_ngram_fraction
        FROM unia u LEFT JOIN nga ON u.doc_id = nga.doc_id
    )
    SELECT doc_id, token_count, top_token_fraction, dup_ngram_fraction,
           (top_token_fraction > 0.2 OR dup_ngram_fraction > 0.3) AS repetitive
    FROM fr
    """,
    description="Gopher-style repetition quality signals per document "
    "(Rae et al. 2021, table A1): most-common-token fraction and "
    "duplicate-3-gram fraction, with the composite 'repetitive' flag. "
    "Machine-generated/boilerplate text repeats itself; these are the "
    "standard curation signals for dropping it before training. "
    "Explode -> groupBy(doc_id, hash) -> per-doc re-agg: two uniform "
    "hash-shuffles, the canonical Spark shape (no per-doc quadratic "
    "higher-order scan), arithmetic shingle hashes shared with the LSH "
    "path so the DuckDB oracle matches bit-for-bit.",
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import repetition_signals

    docs = _ts(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id", "text", ngram=3)


@query(
    "doc_decontamination",
    oracle=f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT g
        FROM (SELECT unnest({T.duck_shingle_hashes('th', 4)}) AS g
              FROM th WHERE doc_id % 40 = 7)
    ),
    tg AS (
        SELECT DISTINCT doc_id, g
        FROM (SELECT doc_id, unnest({T.duck_shingle_hashes('th', 4)}) AS g
              FROM th WHERE doc_id % 40 != 7)
    ),
    totals AS (
        SELECT doc_id, count(*) AS total_grams FROM tg GROUP BY doc_id
    ),
    ov AS (
        SELECT tg.doc_id, count(*) AS overlap_grams
        FROM tg JOIN bg ON tg.g = bg.g
        GROUP BY tg.doc_id
    )
    SELECT ov.doc_id, overlap_grams, total_grams,
           round(overlap_grams / CAST(total_grams AS DOUBLE), 4) AS contamination
    FROM ov JOIN totals ON ov.doc_id = totals.doc_id
    """,
    description="Benchmark decontamination by token-n-gram collision (the "
    "GPT-3/PaLM recipe): training documents sharing any 4-gram with the "
    "held-out evaluation set (stand-in: doc_id % 40 = 7) are flagged with "
    "their distinct-gram overlap counts. 4 rather than the published "
    "13-gram default because these synthetic docs run ~100 heavily-"
    "mutated tokens (13-gram matches only 2 docs — measured; 4-gram "
    "flags ~19, a meaningful value-hash); the operator "
    "(ops/text.py:decontamination_overlap) defaults to 13. "
    "Scale shape: the eval side collapses to a distinct gram-hash set "
    "and is explicitly broadcast — the corpus streams map-side against "
    "it, zero corpus shuffle; per-doc gram dedup happens BEFORE the join "
    "so repetition cannot inflate overlap.",
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import decontamination_overlap

    docs = _ts(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 40 == 7)
    train = docs.filter(F.col("doc_id") % 40 != 7)
    return decontamination_overlap(train, bench, "doc_id", "text", ngram=4)


@query(
    "doc_unigram_logprob",
    oracle=f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    tok AS (
        SELECT doc_id, unnest(th) AS h FROM th
    ),
    vocab AS (
        SELECT h, count(*) AS cnt FROM tok GROUP BY h
    ),
    tot AS (
        SELECT count(*) AS total FROM tok
    ),
    scored AS (
        SELECT doc_id, -ln(cnt / CAST(total AS DOUBLE)) AS nlp
        FROM tok JOIN vocab ON tok.h = vocab.h CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS token_count,
           round(CAST(sum(CAST(nlp AS DECIMAL(38,10))) AS DOUBLE)
                 / count(nlp), 4) AS avg_neg_logp
    FROM scored GROUP BY doc_id
    """,
    description="Unigram language-model quality score per document: train "
    "a corpus-wide unigram LM (token relative frequencies) in one hash "
    "agg, then score each document by its mean negative log-likelihood — "
    "the cheap stand-in for the KenLM-perplexity filter CCNet/RefinedWeb "
    "use (low avg_neg_logp ~ made of common words; high ~ rare/garbage). "
    "Shapes: vocab = ONE hash agg on token hash; corpus total rides as a "
    "broadcast scalar; token->vocab join is AQE-broadcast here and a "
    "plain shuffle hash join at vocab scale (the join key is the uniform "
    "token hash, never skewed worse than the token distribution itself). "
    "Float determinism: ln(cnt/total) computed in explicit DOUBLE (the "
    "engines' libm ln agreed bit-for-bit on 20k probed values; Spark's "
    "ANSI decimal literal division would NOT — measured 5e-5 divergence), "
    "then decimal-stable summation per functions/stable.py.",
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import token_hash_stage

    docs = _ts(spark, sf_dir, "documents")
    # the exploded token frame feeds three consumers (vocab, the corpus
    # total, the per-token scoring join); the lazy checkpoint computes
    # the tokenize+explode once inside the query's own action
    tok = (
        token_hash_stage(docs, "doc_id", "text")
        .select("doc_id", F.explode("__th").alias("h"))
        .localCheckpoint(eager=False)
    )
    vocab = tok.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    scored = (
        tok.join(vocab, "h")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.expr("-ln(cnt / cast(total as double))").alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("token_count"),
        stable_avg("nlp", 4).alias("avg_neg_logp"),
    )


@query(
    "corpus_language_mixing",
    oracle=f"""
    WITH th AS (
        SELECT lang, len({T.duck_tokens('text')}) AS n FROM documents
    ),
    bylang AS (
        SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens FROM th GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
               CAST(sum(CAST(pow(n_tokens, 0.3) AS DECIMAL(38,10)))
                    AS DOUBLE) AS z
        FROM bylang
    )
    SELECT lang, n_tokens,
           round(n_tokens / CAST(total AS DOUBLE), 4) AS p,
           round(pow(n_tokens, 0.3) / z, 4) AS q,
           round((pow(n_tokens, 0.3) / z)
                 / (n_tokens / CAST(total AS DOUBLE)), 4) AS upsample
    FROM bylang CROSS JOIN tot
    """,
    description="Temperature-based language mixing weights (the "
    "mBERT/XLM-R alpha=0.3 exponential-smoothing recipe): per-language "
    "token mass p, smoothed sampling weight q ∝ p^alpha, and the "
    "resulting upsample factor q/p — the numbers a multilingual "
    "training-data pipeline feeds its sampler so low-resource languages "
    "are not drowned out. One scan + one 5-row agg; the normalizer z is "
    "summed decimal-stable because even a 5-addend double sum is "
    "partition-order dependent. pow(x, 0.3) agreed bit-for-bit across "
    "both engines on the probed values (same libm family as ln — see "
    "doc_unigram_logprob).",
)
def corpus_language_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum

    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.expr(f"size({T.spark_tokens('text')})").alias("n")
    )
    bylang = toks.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_tokens"))
    tot = bylang.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        stable_sum(F.expr("pow(n_tokens, 0.3D)"), None).alias("z"),
    )
    return (
        bylang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            F.round(F.expr("n_tokens / cast(total as double)"), 4).alias("p"),
            F.round(F.expr("pow(n_tokens, 0.3D) / z"), 4).alias("q"),
            F.round(
                F.expr(
                    "(pow(n_tokens, 0.3D) / z) / (n_tokens / cast(total as double))"
                ),
                4,
            ).alias("upsample"),
        )
    )


# Deterministic synthetic-PII injection (the corpus is clean word soup, so
# the scrub needs planted targets — same device as the planted near-dup
# mutants): one email, one IPv4, one card and one phone per document, all
# pure functions of doc_id so both engines regenerate identical text.
_PII_INJECT_SPARK = (
    "concat(text, ' contact User', cast(doc_id as string), '@Mail',"
    " cast(doc_id % 7 as string), '.COM from 10.',"
    " cast(doc_id % 256 as string), '.', cast((doc_id * 3) % 256 as string),"
    " '.', cast(doc_id % 100 as string),"
    " ' card 4111111111111111 call 555-',"
    " lpad(cast(doc_id % 10000 as string), 4, '0'))"
)
_PII_INJECT_DUCK = (
    "text || ' contact User' || CAST(doc_id AS VARCHAR) || '@Mail'"
    " || CAST(doc_id % 7 AS VARCHAR) || '.COM from 10.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' card 4111111111111111 call 555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _pii_oracle() -> str:
    clean = "t"
    for _name, pat, repl in T.PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    counts = ",\n               ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat, _repl in T.PII_PATTERNS
    )
    residual = " + ".join(
        f"len(regexp_extract_all(clean, '{pat}'))" for _name, pat, _r in T.PII_PATTERNS
    )
    return f"""
    WITH injected AS (
        SELECT doc_id, lang, {_PII_INJECT_DUCK} AS t FROM documents
    ),
    scrubbed AS (
        SELECT lang,
               {counts},
               {clean} AS clean
        FROM injected
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_ip) AS BIGINT) AS n_ips,
           CAST(sum(n_card) AS BIGINT) AS n_cards,
           CAST(sum(n_phone) AS BIGINT) AS n_phones,
           CAST(sum({residual}) AS BIGINT) AS n_residual,
           round(CAST(sum(length(clean)) AS DOUBLE) / count(*), 2)
               AS avg_clean_chars
    FROM scrubbed GROUP BY lang
    """


@query(
    "doc_pii_scrub",
    oracle=_pii_oracle(),
    description="PII redaction for training-data curation "
    "(ops/text.py:scrub_pii): emails, IPv4s, 16-digit cards and phone "
    "numbers — planted deterministically per document since the corpus "
    "is clean; the planted email is MIXED-CASE so the (?i) email "
    "pattern is value-locked, not just unit-tested — are counted "
    "(regexp_extract_all) and replaced with "
    "inert tokens (chained regexp_replace, order-safe: replacement "
    "tokens contain no digits or '@'). n_residual re-scans the SCRUBBED "
    "text with every pattern and must aggregate to 0 — the completeness "
    "invariant is value-locked, not assumed. Patterns restricted to the "
    "Java-regex ∩ RE2 subset so the DuckDB oracle replays them "
    "verbatim. All row-local: scan-only at any scale, no shuffle before "
    "the final 5-row agg.",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id", "lang", F.expr(_PII_INJECT_SPARK).alias("text")
    )
    scrubbed = T.scrub_pii(injected, "text", "clean")
    return scrubbed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("n_emails"),
        F.sum("n_ip").cast("bigint").alias("n_ips"),
        F.sum("n_card").cast("bigint").alias("n_cards"),
        F.sum("n_phone").cast("bigint").alias("n_phones"),
        F.sum("n_residual").cast("bigint").alias("n_residual"),
        F.round(
            F.sum(F.length("clean")).cast("double") / F.count(F.lit(1)), 2
        ).alias("avg_clean_chars"),
    )


@query(
    "corpus_token_budget_selection",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len({T.duck_tokens('text')}) AS BIGINT) AS n,
               {T.duck_hash64("('budget|' || CAST(doc_id AS VARCHAR))")} AS h
        FROM documents
    ),
    bylang AS (
        SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens FROM toks GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
               CAST(sum(CAST(pow(n_tokens, 0.3) AS DECIMAL(38,10)))
                    AS DOUBLE) AS z
        FROM bylang
    ),
    budgets AS (
        SELECT lang,
               CAST(floor((total * 3 // 10) * (pow(n_tokens, 0.3) / z))
                    AS BIGINT) AS budget_tokens
        FROM bylang CROSS JOIN tot
    ),
    ordered AS (
        SELECT lang, n,
               sum(n) OVER (PARTITION BY lang ORDER BY h, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks
    ),
    sel AS (
        SELECT o.lang, o.n
        FROM ordered o JOIN budgets b USING (lang)
        WHERE o.cum <= b.budget_tokens
    )
    SELECT b.lang,
           CAST(count(s.n) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(s.n), 0) AS BIGINT) AS tokens_selected,
           b.budget_tokens,
           round(CASE WHEN b.budget_tokens = 0 THEN 0.0
                 ELSE coalesce(sum(s.n), 0) / CAST(b.budget_tokens AS DOUBLE)
                 END, 4) AS fill_ratio
    FROM budgets b LEFT JOIN sel s USING (lang)
    GROUP BY b.lang, b.budget_tokens
    """,
    description="Token-budget corpus selection: pick documents per "
    "language, in deterministic hash-priority order, until each "
    "language's share of a 30%-of-corpus token budget is filled — the "
    "alpha=0.3 temperature weights of corpus_language_mixing turned "
    "into an ACTUAL subset a sampler can train on (greedy prefix of a "
    "seeded shuffle = uniform sampling without replacement, "
    "reproducible across runs). The cumulative token sum uses "
    "ops.relational.global_running_sum — the two-phase distributed "
    "prefix sum (range shuffle -> per-range parallel window -> tiny "
    "broadcast offsets) — NOT a window partitioned only by lang, which "
    "would funnel each language through ONE reducer task (a 100 TB "
    "English corpus = one thread). Budget arithmetic is integer "
    "(total*3 DIV 10) so no float literal can flip a floor() at a "
    "boundary; both engines replay it exactly.",
)
def corpus_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr(f"size({T.spark_tokens('text')})").cast("bigint").alias("n"),
        F.expr(
            T.spark_hash64("concat('budget|', cast(doc_id as string))")
        ).alias("h"),
        # lazy-checkpoint: the budget aggregate, the prefix sum's quantile
        # collection, and the cum main flow each re-read this frame —
        # without the cut every consumer re-runs the tokenize scan
    ).localCheckpoint(eager=False)
    bylang = toks.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_tokens"))
    tot = bylang.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        stable_sum(F.expr("pow(n_tokens, 0.3D)"), None).alias("z"),
    )
    budgets = (
        bylang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.expr(
                "CAST(floor((total * 3 DIV 10) * (pow(n_tokens, 0.3D) / z)) AS BIGINT)"
            ).alias("budget_tokens"),
        )
    )
    cum = global_running_sum(
        toks, order_by=["h", "doc_id"], value_col="n",
        partition_cols=["lang"], out_col="cum",
    )
    sel = cum.join(F.broadcast(budgets), "lang").filter(
        F.col("cum") <= F.col("budget_tokens")
    )
    picked = sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("tokens_selected"),
    )
    return (
        # picked is a per-language handful of rows, but it sits behind a
        # big aggregate whose size estimate the planner distrusts — at
        # sf0.01 the unhinted join planned a SortMergeJoin (caught by
        # plan_audit); hint it explicitly
        budgets.join(F.broadcast(picked), "lang", "left")
        .select(
            "lang",
            F.coalesce("n_docs", F.lit(0).cast("bigint")).alias("n_docs"),
            F.coalesce("tokens_selected", F.lit(0).cast("bigint")).alias(
                "tokens_selected"
            ),
            "budget_tokens",
            F.round(
                F.when(F.col("budget_tokens") == 0, F.lit(0.0)).otherwise(
                    F.coalesce("tokens_selected", F.lit(0).cast("bigint"))
                    / F.col("budget_tokens").cast("double")
                ),
                4,
            ).alias("fill_ratio"),
        )
    )


@query(
    "llm_corpus_pipeline_v2",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, lang, text,
               {T.duck_tokens('text')} AS toks,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    uni AS (
        SELECT doc_id, h, count(*) AS cnt
        FROM (SELECT doc_id, unnest(th) AS h FROM th) GROUP BY doc_id, h
    ),
    unia AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS token_count,
               CAST(max(cnt) AS BIGINT) AS top_tok
        FROM uni GROUP BY doc_id
    ),
    ng AS (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest({T.duck_shingle_hashes('th', 3)}) AS g FROM th)
        GROUP BY doc_id, g
    ),
    nga AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_grams
        FROM ng GROUP BY doc_id
    ),
    rep AS (
        SELECT u.doc_id, u.token_count,
               round(top_tok / CAST(token_count AS DOUBLE), 4) AS top_frac,
               coalesce(round(dup_grams / CAST(n_grams AS DOUBLE), 4), 0.0) AS dup_frac
        FROM unia u LEFT JOIN nga ON u.doc_id = nga.doc_id
    ),
    bg AS (
        SELECT DISTINCT g
        FROM (SELECT unnest({T.duck_shingle_hashes('th', 4)}) AS g
              FROM th WHERE doc_id % 40 = 7)
    ),
    contaminated AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest({T.duck_shingle_hashes('th', 4)}) AS g
              FROM th WHERE doc_id % 40 != 7) tg
        JOIN bg ON tg.g = bg.g
    ),
    sh AS (
        SELECT doc_id, {T.duck_simhash('th', 60)} AS simhash FROM th
    ),
    flagged AS (
        SELECT th.doc_id, th.lang, rep.token_count,
               CASE WHEN rep.token_count < 20 OR rep.top_frac > 0.2
                         OR rep.dup_frac > 0.3 THEN 'quality'
                    WHEN contaminated.doc_id IS NOT NULL THEN 'contaminated'
                    ELSE 'pass' END AS stage1,
               sh.simhash AS digest
        FROM th
        JOIN rep ON rep.doc_id = th.doc_id
        JOIN sh ON sh.doc_id = th.doc_id
        LEFT JOIN contaminated ON contaminated.doc_id = th.doc_id
        WHERE th.doc_id % 40 != 7
    ),
    verdicts AS (
        SELECT doc_id, lang, token_count,
               CASE WHEN stage1 != 'pass' THEN stage1
                    WHEN row_number() OVER (PARTITION BY stage1, digest
                                            ORDER BY doc_id) > 1
                         AND stage1 = 'pass' THEN 'duplicate'
                    ELSE 'kept' END AS verdict
        FROM flagged
    ),
    bylang AS (
        SELECT lang,
               CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN verdict = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
               CAST(sum(CASE WHEN verdict = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               CAST(sum(CASE WHEN verdict = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
               CAST(sum(CASE WHEN verdict = 'kept' THEN token_count ELSE 0 END) AS BIGINT) AS tokens_kept
        FROM verdicts GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(tokens_kept) AS BIGINT) AS total,
               CAST(sum(CAST(pow(tokens_kept, 0.3) AS DECIMAL(38,10))) AS DOUBLE) AS z
        FROM bylang
    )
    SELECT lang, n_kept, n_quality_dropped, n_contaminated, n_dup_dropped,
           tokens_kept,
           round(pow(tokens_kept, 0.3) / z, 4) AS sample_q
    FROM bylang CROSS JOIN tot
    """,
    description="END-TO-END curation pipeline v2 composing the round-4 "
    "operator family in ONE plan, per-language accounting out the end: "
    "eval holdout excluded (doc_id % 40 = 7) -> Gopher repetition + "
    "length quality gate -> 4-gram benchmark decontamination (broadcast "
    "gram set) -> simhash-equality dedup among survivors (60-bit "
    "fingerprint, min-id winner; near-identical docs collapse together, "
    "distinct docs can collide only at ~2^-60) -> kept-token mass and "
    "alpha=0.3 temperature sampling "
    "weight per language. Drop reasons are PRIORITIZED (quality beats "
    "contamination beats duplicate) so every document lands in exactly "
    "one bucket and the accounting sums to the corpus. One DAG, one "
    "action, ONE tokenize pass: the signal branches share a lazily-"
    "checkpointed token-hash stage (measured 2.9 -> 2.2 s at sf0.1); at "
    "100 TB the same role is played by the materialized signature table "
    "(write_signature_table; SCALE.md section 2) so the corpus is "
    "tokenized once per ingest, not per consumer. The oracle replays "
    "every stage in DuckDB, so the pipeline is value-locked end to end, "
    "not just stage by stage.",
)
def llm_corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.ops.text import (
        decontamination_overlap_from_stage,
        repetition_signals_from_stage,
        simhash_from_stage,
        token_hash_stage,
    )

    docs = _ts(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 40 != 7)
    # Tokenize+hash the corpus ONCE and share the stage: the signal
    # branches (repetition x2 aggs, decontamination grams, simhash) read
    # the checkpointed arrays instead of re-running the tokenize+md5
    # scan per branch — the single-plan analog of the signature-table
    # pattern. eager=False keeps the materialization INSIDE the query's
    # own action (an eager checkpoint here would move the dominant cost
    # into untimed build, silently flattering the bench).
    staged = token_hash_stage(docs, "doc_id", "text").localCheckpoint(eager=False)
    rep = repetition_signals_from_stage(staged, ngram=3).select(
        "doc_id",
        "token_count",
        F.col("top_token_fraction").alias("top_frac"),
        F.col("dup_ngram_fraction").alias("dup_frac"),
    )
    contaminated = decontamination_overlap_from_stage(
        staged.filter(F.col("doc_id") % 40 != 7),
        staged.filter(F.col("doc_id") % 40 == 7),
        ngram=4,
    ).select("doc_id", F.lit(True).alias("is_contaminated"))
    sh = simhash_from_stage(staged, bits=60)
    flagged = (
        corpus.join(rep, "doc_id")
        .join(sh, "doc_id")
        .join(F.broadcast(contaminated), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "token_count",
            F.when(
                (F.col("token_count") < 20)
                | (F.col("top_frac") > 0.2)
                | (F.col("dup_frac") > 0.3),
                "quality",
            )
            .when(F.col("is_contaminated"), "contaminated")
            .otherwise("pass")
            .alias("stage1"),
            F.col("simhash").alias("digest"),
        )
    )
    w = Window.partitionBy("stage1", "digest").orderBy("doc_id")
    verdicts = flagged.select(
        "doc_id",
        "lang",
        "token_count",
        F.when(F.col("stage1") != "pass", F.col("stage1"))
        .when(
            (F.row_number().over(w) > 1) & (F.col("stage1") == "pass"),
            "duplicate",
        )
        .otherwise("kept")
        .alias("verdict"),
    )
    bylang = verdicts.groupBy("lang").agg(
        F.sum(F.when(F.col("verdict") == "kept", 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("verdict") == "quality", 1).otherwise(0))
        .cast("bigint")
        .alias("n_quality_dropped"),
        F.sum(F.when(F.col("verdict") == "contaminated", 1).otherwise(0))
        .cast("bigint")
        .alias("n_contaminated"),
        F.sum(F.when(F.col("verdict") == "duplicate", 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_dropped"),
        F.sum(F.when(F.col("verdict") == "kept", F.col("token_count")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )
    tot = bylang.agg(
        F.sum("tokens_kept").cast("bigint").alias("total"),
        stable_sum(F.expr("pow(tokens_kept, 0.3D)"), None).alias("z"),
    )
    return bylang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_kept",
        "n_quality_dropped",
        "n_contaminated",
        "n_dup_dropped",
        "tokens_kept",
        F.round(F.expr("pow(tokens_kept, 0.3D) / z"), 4).alias("sample_q"),
    )


@query(
    "doc_token_percentiles_approx",
    oracle=f"""
    WITH t AS (
        SELECT lang, len({T.duck_tokens('text')}) AS n FROM documents
    ),
    q AS (
        SELECT lang, quantile_disc(n, [0.5, 0.9, 0.99]) AS qs FROM t GROUP BY lang
    )
    SELECT lang,
           qs[1] AS p50_tokens,
           qs[2] AS p90_tokens,
           qs[3] AS p99_tokens
    FROM q
    """,
    description="The documented 100 TB swap for doc_token_percentiles, "
    "itself under the value oracle: approx_percentile (Greenwald-Khanna "
    "sketch — bounded memory per group, mergeable map-side) instead of "
    "exact percentile()'s per-group value buffer. With accuracy >= the "
    "group size the GK sketch is lossless and Spark's returned element "
    "matches DuckDB's quantile_disc rank-for-rank (convention pinned by "
    "tests/test_text_ops.py::test_approx_percentile_matches_quantile_disc_convention); "
    "above that the sketch guarantees rank error <= 1/accuracy and the oracle "
    "would need a tolerance — which is exactly when the exact twin stops "
    "scaling too.",
)
def doc_token_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    t = docs.select("lang", F.expr(f"size({T.spark_tokens('text')})").alias("n"))
    q = t.groupBy("lang").agg(
        F.expr("approx_percentile(n, array(0.5D, 0.9D, 0.99D), 100000)").alias("qs")
    )
    return q.select(
        "lang",
        F.expr("element_at(qs, 1)").cast("long").alias("p50_tokens"),
        F.expr("element_at(qs, 2)").cast("long").alias("p90_tokens"),
        F.expr("element_at(qs, 3)").cast("long").alias("p99_tokens"),
    )


_CHUNK_SIZE = 64
_CHUNK_OVERLAP = 8
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


@query(
    "doc_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {T.duck_tokens('text')} AS toks FROM documents
    ),
    ch AS (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - {_CHUNK_OVERLAP}, 1) + 1,
                            {_CHUNK_STRIDE})) AS s
        FROM t
    )
    SELECT doc_id,
           CAST((s - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(toks[s:s + {_CHUNK_SIZE - 1}]) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[s:s + {_CHUNK_SIZE - 1}], ' ')) AS chunk_hash
    FROM ch
    """,
    description="Context chunking for training/RAG pipelines: split each "
    "document into fixed-size token windows (64 tokens, 8-token overlap, "
    "stride 56), emitting one row per chunk with its token count and "
    "content hash. Pure row-local explode — no shuffle at any scale; "
    "chunk_idx derives arithmetically from the window start so output is "
    "partitioning-independent.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(T.spark_tokens("text")).alias("toks"))
    ch = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"sequence(1, greatest(size(toks) - {_CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE})"
            )
        ).alias("s"),
    )
    return ch.select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_CHUNK_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.expr(f"CAST(size(slice(toks, s, {_CHUNK_SIZE})) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"md5(array_join(slice(toks, s, {_CHUNK_SIZE}), ' '))"
        ).alias("chunk_hash"),
    )


@query(
    "doc_quality_classifier",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, lang,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, u.h AS h FROM (
            SELECT doc_id, lang, unnest(th) AS h FROM th
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(th)),
                          i -> (th[i] + th[i + 1]) % 1152921504606846976)) AS h
            FROM th)
        AS u(doc_id, lang, h)
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(sum(CAST((h % 997) / 996.0 - 0.5 AS DECIMAL(38,10)))
                    AS DOUBLE) / count(*) AS margin
        FROM feats GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           round(CAST(sum(CAST(1.0 / (1.0 + exp(-4.0 * margin))
                              AS DECIMAL(38,10))) AS DOUBLE) / count(*), 4)
               AS avg_score
    FROM scored GROUP BY lang
    """,
    description="Model-based quality filtering — the fastText/logistic-"
    "regression inference shape every major LLM pipeline runs (GPT-3's "
    "LR filter, CCNet's fastText stage): hashed unigram + bigram "
    "features, a weight per hash bucket, mean margin through a sigmoid, "
    "threshold at 0.5. Weights here are a DETERMINISTIC pure function "
    "of the bucket (hash mod 997, centered) — the stand-in for trained "
    "parameters, exactly like the multimodal fake codec: both engines "
    "recompute them, so the whole inference path is value-locked; a "
    "real deployment broadcasts its trained vector instead and nothing "
    "else changes. Scale: scan + one shuffle on doc_id for the margin "
    "agg; weights are O(buckets) broadcast, features never materialize "
    "outside the row. Decimal-stable margin sum so the >0 threshold "
    "compares identically across engines and partitionings.",
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    th = docs.select(
        "doc_id",
        "lang",
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    )
    feats = th.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "concat(th, CASE WHEN size(th) >= 2 THEN "
                "transform(sequence(1, size(th) - 1), "
                "i -> pmod(element_at(th, i) + element_at(th, i + 1), "
                "1152921504606846976L)) ELSE array() END)"
            )
        ).alias("h"),
    )
    scored = feats.groupBy("doc_id", "lang").agg(
        (
            F.sum(
                F.expr("CAST(pmod(h, 997) / 996.0 - 0.5 AS DECIMAL(38,10))")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("margin")
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("margin") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass"),
        F.round(
            F.sum(
                F.expr(
                    "CAST(1.0D / (1.0D + exp(-4.0D * margin)) AS DECIMAL(38,10))"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_score"),
    )


@query(
    "doc_bigram_logprob",
    oracle=f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    pos AS (
        SELECT doc_id, th[i.i] AS h1, th[i.i + 1] AS h2
        FROM th, unnest(range(1, len(th))) AS i(i)
        WHERE len(th) >= 2
    ),
    uni AS (
        SELECT u.h AS h, count(*) AS c1
        FROM (SELECT unnest(th) AS h FROM th) AS u(h) GROUP BY u.h
    ),
    tot AS (
        SELECT count(*) AS n FROM (SELECT unnest(th) AS h FROM th)
    ),
    bi AS (
        SELECT h1, h2, count(*) AS c12 FROM pos GROUP BY h1, h2
    ),
    fol AS (
        SELECT h1, CAST(count(*) AS BIGINT) AS f1 FROM bi GROUP BY h1
    ),
    scored AS (
        SELECT p.doc_id,
               -ln(greatest(bi.c12 - 0.5, 0.0) / ua.c1
                   + (0.5 * fol.f1 / ua.c1) * (ub.c1 / CAST(tot.n AS DOUBLE)))
                   AS nlp
        FROM pos p
        JOIN bi  ON p.h1 = bi.h1 AND p.h2 = bi.h2
        JOIN uni ua ON p.h1 = ua.h
        JOIN uni ub ON p.h2 = ub.h
        JOIN fol ON p.h1 = fol.h1
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS bigram_count,
           round(CAST(sum(CAST(nlp AS DECIMAL(38,10))) AS DOUBLE)
                 / count(nlp), 4) AS avg_neg_logp
    FROM scored GROUP BY doc_id
    """,
    description="BIGRAM language-model quality score with absolute-"
    "discounting backoff (d=0.5): p(w2|w1) = max(c12-d,0)/c1 + "
    "(d*followers(w1)/c1) * p_uni(w2) — the conditional-probability "
    "upgrade of doc_unigram_logprob, one step closer to the real "
    "KenLM-perplexity filter (captures word-order structure a unigram "
    "model is blind to). Scale: the bigram table shuffles on the "
    "uniform (h1,h2) key; unigram counts + follower fan-outs are "
    "O(vocab) aggregates that BROADCAST back over the position stream; "
    "r13: the tokenize+hash stage, position stream, and LM count "
    "tables are lazily localCheckpoint-ed (one tokenize pass instead "
    "of four — the signature-table pattern) and the token total folds "
    "out of the unigram table. "
    "ln() bit-identical across engines, per-doc mean decimal-stable. "
    "Docs with fewer than 2 tokens have no bigrams and are excluded on "
    "both sides.",
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    # r13 (guide §5/§2.3, verdict #5): ONE tokenize pass. The before-plan
    # re-ran the tokenize+hash scan once per consumer (unigram counts,
    # token total, bigram counts, and the scored position stream — 4
    # passes, 36 Exchanges); every stage below is lazily
    # localCheckpoint-ed so it is computed once inside the timed action,
    # and the token total now folds out of the unigram table
    # (sum(c1) == count of all tokens) instead of a second explode pass.
    th = docs.select(
        "doc_id",
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    ).localCheckpoint(eager=False)
    pos = (
        th.filter(F.expr("size(th) >= 2"))
        .select(
            "doc_id",
            F.explode(F.expr("sequence(1, size(th) - 1)")).alias("i"),
            "th",
        )
        .select(
            "doc_id",
            F.expr("element_at(th, i)").alias("h1"),
            F.expr("element_at(th, i + 1)").alias("h2"),
        )
        .localCheckpoint(eager=False)
    )
    tok = th.select(F.explode("th").alias("h"))
    uni = tok.groupBy("h").agg(
        F.count(F.lit(1)).alias("c1")
    ).localCheckpoint(eager=False)
    tot = uni.agg(F.sum("c1").alias("n"))
    bi = pos.groupBy("h1", "h2").agg(
        F.count(F.lit(1)).alias("c12")
    ).localCheckpoint(eager=False)
    fol = bi.groupBy("h1").agg(F.count(F.lit(1)).cast("bigint").alias("f1"))
    scored = (
        pos.join(bi, ["h1", "h2"])
        .join(
            F.broadcast(uni.select(F.col("h").alias("h1"), F.col("c1").alias("ca"))),
            "h1",
        )
        .join(
            F.broadcast(uni.select(F.col("h").alias("h2"), F.col("c1").alias("cb"))),
            "h2",
        )
        .join(F.broadcast(fol), "h1")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "-ln(greatest(c12 - 0.5D, 0.0D) / ca"
                " + (0.5D * f1 / ca) * (cb / CAST(n AS DOUBLE)))"
            ).alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("bigram_count"),
        F.round(
            F.sum(F.expr("CAST(nlp AS DECIMAL(38,10))")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_neg_logp"),
    )


_WS_K = 100


@query(
    "doc_weighted_sample",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len({T.duck_tokens('text')}) AS BIGINT) AS w,
               {T.duck_hash64("('ws|' || CAST(doc_id AS VARCHAR))")} AS h
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, lang, w,
               ln(((h % 1000000) + 0.5) / 1000000.0) / w AS k
        FROM t
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY k DESC, doc_id) AS rn FROM keyed
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(w) AS BIGINT) AS tokens_selected
    FROM ranked WHERE rn <= {_WS_K} GROUP BY lang
    """,
    description="Weighted sampling WITHOUT replacement via the "
    "Efraimidis-Spirakis exponential race (key = ln(u)/w, top-K keys "
    "win; u a deterministic per-doc hash uniform, so the 'random' "
    "sample is reproducible and both engines agree bit-for-bit): "
    "100 documents drawn with probability proportional to token count — "
    "the weighted companion of the uniform stratified/fixed-k samplers "
    "and the primitive behind quality-weighted corpus subsampling. "
    "Scale: ONE TakeOrderedAndProject pass (per-partition top-K + "
    "driver merge, plan-locked in tests/test_plans.py) — no global "
    "sort, no shuffle of the corpus, no sequential draw dependency.",
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        F.expr(f"CAST(size({T.spark_tokens('text')}) AS BIGINT)").alias("w"),
        F.expr(
            "ln((pmod("
            + T.spark_hash64("concat('ws|', cast(doc_id as string))")
            + ", 1000000) + 0.5) / 1000000.0D)"
        ).alias("lnu"),
    ).select("doc_id", "lang", "w", F.expr("lnu / w").alias("k"))
    top = keyed.orderBy(F.col("k").desc(), F.col("doc_id")).limit(_WS_K)
    return top.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.sum("w").cast("bigint").alias("tokens_selected"),
    )


_DSIR_B = 4096


@query(
    "doc_dsir_weights",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, lang,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, u.h % {_DSIR_B} AS b FROM (
            SELECT doc_id, lang, unnest(th) AS h FROM th
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(th)),
                          i -> (th[i] + th[i + 1]) % 1152921504606846976)) AS h
            FROM th)
        AS u(doc_id, lang, h)
    ),
    tc AS (
        SELECT b, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b
    ),
    rc AS (
        SELECT b, count(*) AS cr FROM feats GROUP BY b
    ),
    tot AS (
        SELECT (SELECT count(*) FROM feats WHERE lang = 'en') AS tt,
               (SELECT count(*) FROM feats) AS rt
    ),
    scored AS (
        SELECT f.doc_id, f.lang,
               CAST(sum(CAST(
                   ln((coalesce(tc.ct, 0) + 1) / CAST(tot.tt + {_DSIR_B} AS DOUBLE))
                 - ln((rc.cr + 1)            / CAST(tot.rt + {_DSIR_B} AS DOUBLE))
               AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS logw_norm
        FROM feats f
        JOIN rc ON f.b = rc.b
        LEFT JOIN tc ON f.b = tc.b
        CROSS JOIN tot
        GROUP BY f.doc_id, f.lang
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY logw_norm DESC, doc_id) AS rk,
               count(*) OVER () AS n
        FROM scored
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rk <= n // 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
           round(CAST(sum(CAST(logw_norm AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 4) AS avg_logw_norm
    FROM ranked GROUP BY lang
    """,
    description="DSIR-style importance resampling (Xie et al. 2023, the "
    "data-selection recipe behind targeted pretraining mixes): each "
    "document's importance weight is the log-likelihood ratio of its "
    "hashed unigram+bigram bag under a TARGET unigram LM (here the "
    "English slice — the stand-in target domain) vs the RAW-corpus LM, "
    "add-1 smoothed over 4096 hash buckets, normalized per feature so "
    "document length cancels; the global top-quarter by normalized "
    "weight is selected (deterministic doc_id tie-break). Per-language "
    "accounting shows the expected separation: the target language "
    "dominates the selected quarter. Scale: the two LMs are "
    "O(buckets)-row aggregates broadcast back over the feature stream — "
    "one scan + one doc_id-keyed margin agg, no shuffle proportional to "
    "vocab. The global top-quarter rank runs through the two-phase "
    "distributed prefix sum (ops.relational.global_running_sum: rank = "
    "running row count over the weight order) — NOT a single-task "
    "row_number window, so the selection itself survives 100 TB. ln() "
    "agreed bit-identical across engines and "
    "every sum is decimal-stable, so the rank order cannot flip between "
    "Spark and the oracle.",
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    th = docs.select(
        "doc_id",
        "lang",
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    )
    feats = th.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "concat(th, CASE WHEN size(th) >= 2 THEN "
                "transform(sequence(1, size(th) - 1), "
                "i -> pmod(element_at(th, i) + element_at(th, i + 1), "
                "1152921504606846976L)) ELSE array() END)"
            )
        ).alias("h"),
    ).select("doc_id", "lang", F.expr(f"pmod(h, {_DSIR_B})").alias("b"))
    tc = feats.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("ct")
    )
    rc = feats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tot = feats.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
        F.count(F.lit(1)).alias("rt"),
    )
    scored = (
        feats.join(F.broadcast(rc), "b")
        .join(F.broadcast(tc), "b", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.sum(
                    F.expr(
                        f"CAST(ln((coalesce(ct, 0) + 1) / CAST(tt + {_DSIR_B} AS DOUBLE))"
                        f" - ln((cr + 1) / CAST(rt + {_DSIR_B} AS DOUBLE))"
                        " AS DECIMAL(38,10))"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("logw_norm")
        )
        # lazy-checkpoint the small per-doc score frame: the prefix sum's
        # quantile collection, the n_row agg, and the main flow all
        # re-read it — without the cut each consumer re-runs the whole
        # LM-scoring feature aggregation (measured ~25% of the query at
        # sf0.1, same finding as pipeline v3)
        .localCheckpoint(eager=False)
    )
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    # global rank WITHOUT a single-task window: rank = running count of
    # rows over the (weight desc, doc_id) total order, computed by the
    # two-phase distributed prefix sum (negated key since the op orders
    # ascending). Semantically identical to row_number() — same oracle —
    # but the corpus never funnels through one reducer.
    keyed = scored.select(
        "*",
        (-F.col("logw_norm")).alias("__negw"),
        F.lit(1).alias("__one"),
    )
    n_row = scored.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_running_sum(
        keyed, order_by=["__negw", "doc_id"], value_col="__one", out_col="rk"
    ).crossJoin(F.broadcast(n_row))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("rk") <= F.expr("n div 4"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_selected"),
        F.round(
            F.sum(F.expr("CAST(logw_norm AS DECIMAL(38,10))")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_logw_norm"),
    )


_DEDUP_CHUNK = 32


@query(
    "chunk_dedup_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {T.duck_tokens('text')} AS toks FROM documents
    ),
    ch AS (
        SELECT doc_id, lang,
               CAST((s.s - 1) // {_DEDUP_CHUNK} AS BIGINT) AS chunk_idx,
               CAST(len(toks[s.s : s.s + {_DEDUP_CHUNK} - 1]) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks[s.s : s.s + {_DEDUP_CHUNK} - 1], ' ')) AS h
        FROM t, unnest(range(1, len(toks) + 1, {_DEDUP_CHUNK})) AS s(s)
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY h
                                     ORDER BY doc_id, chunk_idx) AS rn
        FROM ch
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_removed,
           round(sum(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END)
                 / CAST(sum(n_tokens) AS DOUBLE), 4) AS removed_frac
    FROM ranked GROUP BY lang
    """,
    description="Cross-document PASSAGE-level dedup (the CCNet/RefinedWeb "
    "paragraph-hash recipe, on fixed 32-token windows since this corpus "
    "has no paragraph breaks): every non-overlapping chunk is hashed, "
    "the globally-first occurrence (by doc_id, chunk_idx — "
    "deterministic winner) survives, later copies are counted as "
    "removed, per-language accounting out the end. Finer-grained than "
    "whole-document dedup: catches boilerplate shared across otherwise "
    "distinct documents. Scale: one explode + one shuffle on the "
    "uniform 128-bit chunk hash — no skew, no all-pairs; the same "
    "row_number-over-hash shape as exact_dedup, at chunk granularity.",
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.expr(T.spark_tokens("text")).alias("toks"))
    ch = t.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(f"sequence(1, size(toks), {_DEDUP_CHUNK})")
        ).alias("s"),
        "toks",
    ).select(
        "doc_id",
        "lang",
        F.expr(f"CAST((s - 1) div {_DEDUP_CHUNK} AS BIGINT)").alias("chunk_idx"),
        F.expr(f"CAST(size(slice(toks, s, {_DEDUP_CHUNK})) AS BIGINT)").alias(
            "n_tokens"
        ),
        F.expr(f"md5(array_join(slice(toks, s, {_DEDUP_CHUNK}), ' '))").alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    ranked = ch.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_chunks"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_removed"),
        F.round(
            F.sum(F.when(F.col("rn") > 1, F.col("n_tokens")).otherwise(0))
            / F.sum("n_tokens").cast("double"),
            4,
        ).alias("removed_frac"),
    )


_PACK_BUDGET = 128


@query(
    "chunk_packing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {T.duck_tokens('text')} AS toks FROM documents
    ),
    ch AS (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - {_CHUNK_OVERLAP}, 1) + 1,
                            {_CHUNK_STRIDE})) AS s
        FROM t
    ),
    chunks AS (
        SELECT doc_id,
               CAST((s - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
               len(toks[s:s + {_CHUNK_SIZE - 1}]) AS n_tokens
        FROM ch
    ),
    packed AS (
        SELECT doc_id, chunk_idx, n_tokens,
               CAST((sum(n_tokens) OVER (
                   PARTITION BY doc_id ORDER BY chunk_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - 1) // {_PACK_BUDGET} AS BIGINT) AS pack_id
        FROM chunks
    )
    SELECT doc_id, pack_id,
           count(*) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY doc_id, pack_id
    """,
    description="Sequence packing: assign each 64-token chunk to a "
    "fixed-budget pack (128 tokens) via a per-document running token sum "
    "— pack_id = floor((cumsum-1)/budget). Contiguous cumsum packing "
    "(±1 chunk overflow per boundary vs exact greedy, which needs "
    "sequential state); packs never span documents, so the window "
    "partitions by doc_id and the whole op is one shuffle. Deterministic "
    "under any partitioning: the (doc_id, chunk_idx) order is total.",
)
def chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(T.spark_tokens("text")).alias("toks"))
    ch = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"sequence(1, greatest(size(toks) - {_CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE})"
            )
        ).alias("s"),
    )
    chunks = ch.select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_CHUNK_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.expr(f"size(slice(toks, s, {_CHUNK_SIZE}))").alias("n_tokens"),
    )
    packed = chunks.withColumn(
        "pack_id",
        F.expr(f"CAST((sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_idx "
               f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) div {_PACK_BUDGET} AS BIGINT)"),
    )
    return packed.groupBy("doc_id", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


def _near_dup_corpus_spark(docs: DataFrame) -> DataFrame:
    """documents ∪ drop-first-token mutants (ids offset by 1e6) — a
    deterministic planted near-duplicate per document, so the LSH pipeline
    demonstrably recalls them at any sf."""
    toks = T.spark_tokens("text")
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            f"array_join(slice({toks}, 2, greatest(size({toks}) - 1, 0)), ' ')"
        ).alias("text"),
    )
    return docs.select("doc_id", "text").union(mutated)


def _near_dup_corpus_duck() -> str:
    toks = T.duck_tokens("text")
    return f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(({toks})[2:], ' ') AS text
        FROM documents
    """


def _near_dup_oracle(shingle_k: int = 3, threshold: float = 0.5) -> str:
    toks = T.duck_tokens("text")
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_idx, "
        f"{T.duck_band_hash('sig', b)} AS band_hash FROM sig"
        for b in range(T.BANDS)
    )
    return f"""
    WITH corpus AS ({_near_dup_corpus_duck()}),
    th AS (
        SELECT doc_id, list_transform({toks}, t -> {T.duck_hash64('t')}) AS th
        FROM corpus
    ),
    base AS (
        SELECT doc_id,
               list_distinct({T.duck_shingle_hashes('th', shingle_k)}) AS sh_set
        FROM th
    ),
    sig AS (
        SELECT doc_id, sh_set, {T.duck_minhash_sig('sh_set')} AS sig FROM base
    ),
    banded AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l JOIN banded r
          ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                 / (len(a.sh_set) + len(b.sh_set)
                    - len(list_intersect(a.sh_set, b.sh_set))), 4) AS jaccard
    FROM cand
    JOIN sig a ON a.doc_id = cand.doc_a
    JOIN sig b ON b.doc_id = cand.doc_b
    WHERE round(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                / (len(a.sh_set) + len(b.sh_set)
                   - len(list_intersect(a.sh_set, b.sh_set))), 4) >= {threshold}
    """


@query(
    "doc_near_dup_pairs",
    oracle=_near_dup_oracle(),
    description="MinHash-LSH near-duplicate detection (32 perms × 8 bands) "
    "with exact-Jaccard verification, on documents ∪ planted mutants. "
    "Scale: NEVER all-pairs — one shuffle on (band, band_hash), candidates "
    "scale with bucket collisions; signature payload is fixed ~256 B/doc.",
)
def doc_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    return minhash_near_dup_pairs(corpus, "doc_id", "text", shingle_k=3, threshold=0.5)


@query(
    "doc_incremental_near_dup",
    # the full-run oracle restricted to pairs that touch the new batch
    # (mutant ids sit at +1e6) — the incremental path must be LOSSLESS
    # against a from-scratch run, not merely self-consistent
    oracle=_near_dup_oracle()
    + "      AND (doc_a >= 1000000 OR doc_b >= 1000000)\n",
    description="Daily-ingest incremental dedup: the new batch (the "
    "planted mutants) is shingled and banded, then joined against the "
    "EXISTING corpus's materialized signature table — candidates are "
    "(new x base) ∪ (new x new), never base x base, and the base corpus "
    "is never re-shingled. The new batch's band rows are explicitly "
    "broadcast, so the corpus side streams through the band join with no "
    "shuffle (ops/text.py:incremental_minhash_pairs). Oracle: the full "
    "from-scratch LSH run filtered to pairs touching the batch — "
    "incremental and full must agree exactly.",
    skip_bench=True,  # table write + localCheckpoint inside the build
)
def doc_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from smartpool_bigdata_spark.ops.text import (
        build_signature_table,
        incremental_minhash_pairs,
        write_signature_table,
    )

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    base = corpus.filter(F.col("doc_id") < 1_000_000)
    new = corpus.filter(F.col("doc_id") >= 1_000_000)
    stage = tempfile.mkdtemp(prefix="spark_incsig_")
    try:
        tbl = write_signature_table(
            build_signature_table(base, "doc_id", "text", shingle_k=3),
            "doc_base_sigs_tbl",
            os.path.join(stage, "base_signatures"),
        )
        new_sig = build_signature_table(new, "doc_id", "text", shingle_k=3)
        pairs = incremental_minhash_pairs(new_sig, tbl, threshold=0.5)
        return pairs.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        spark.sql("DROP TABLE IF EXISTS doc_base_sigs_tbl")
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "stream_incremental_near_dup",
    # identical contract to doc_incremental_near_dup: a full from-scratch
    # LSH run filtered to pairs touching the new ids — the STREAMING
    # delivery of the batch must be lossless too
    oracle=_near_dup_oracle()
    + "      AND (doc_a >= 1000000 OR doc_b >= 1000000)\n",
    description="The incremental-ingest dedup loop CLOSED AS A STREAM "
    "(reference protocol 'PRUEBA INCREMENTAL.sql' fused with the LLM "
    "dedup family): the new documents arrive as a file stream in ~4 "
    "rate-limited micro-batches (maxFilesPerTrigger=1) through "
    "foreachBatch + incremental_dedup_batch — each batch is signed once, "
    "paired against the CURRENT signature corpus ((new x base) ∪ "
    "(new x new), batch side broadcast, base never re-shingled), then "
    "its pairs and signatures MERGE in, so batch N dedups against "
    "batches 1..N-1 as well as the base corpus. Keyed MERGEs + a "
    "batch-id anti-join make crash replays idempotent "
    "(checkpoint-restart pytest-locked in tests/test_streaming.py). "
    "Oracle: the one-shot from-scratch run — batch boundaries must not "
    "change the answer.",
    skip_bench=True,  # staging writes + stream startup dominate
)
def stream_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from smartpool_bigdata_spark.ops.text import build_signature_table
    from smartpool_bigdata_spark.streaming import file_stream
    from smartpool_bigdata_spark.streaming.runner import start_incremental_dedup

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    base = corpus.filter(F.col("doc_id") < 1_000_000)
    new = corpus.filter(F.col("doc_id") >= 1_000_000)
    stage = tempfile.mkdtemp(prefix="spark_incstream_")
    sig_path = os.path.join(stage, "sig_table")
    pairs_path = os.path.join(stage, "pairs")
    src = os.path.join(stage, "new_docs")
    ckpt = os.path.join(stage, "ckpt")
    try:
        build_signature_table(base, "doc_id", "text", shingle_k=3).write.parquet(
            sig_path
        )
        new.repartition(4).write.parquet(src)
        stream = file_stream(spark, src, new.schema, max_files_per_trigger=1)
        q = start_incremental_dedup(
            stream,
            sig_path,
            pairs_path,
            ckpt,
            trigger={"availableNow": True},
            query_name="incremental_dedup",
        )
        if not q.awaitTermination(300):
            q.stop()
        pairs = spark.read.parquet(pairs_path).select("doc_a", "doc_b", "jaccard")
        return pairs.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _dup_clusters_cte_prefix(shingle_k: int = 3, threshold: float = 0.5) -> str:
    toks = T.duck_tokens("text")
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_idx, "
        f"{T.duck_band_hash('sig', b)} AS band_hash FROM sig"
        for b in range(T.BANDS)
    )
    jac = (
        "CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)"
        " / (len(a.sh_set) + len(b.sh_set)"
        " - len(list_intersect(a.sh_set, b.sh_set)))"
    )
    return f"""
    WITH RECURSIVE corpus AS ({_near_dup_corpus_duck()}),
    th AS (
        SELECT doc_id, list_transform({toks}, t -> {T.duck_hash64('t')}) AS th
        FROM corpus
    ),
    base AS (
        SELECT doc_id,
               list_distinct({T.duck_shingle_hashes('th', shingle_k)}) AS sh_set
        FROM th
    ),
    sig AS (
        SELECT doc_id, sh_set, {T.duck_minhash_sig('sh_set')} AS sig FROM base
    ),
    banded AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l JOIN banded r
          ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sig a ON a.doc_id = cand.doc_a
        JOIN sig b ON b.doc_id = cand.doc_b
        WHERE round({jac}, 4) >= {threshold}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT DISTINCT a AS node, a AS r FROM edges
        UNION
        SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (
        SELECT node, min(r) AS component FROM reach GROUP BY node
    )"""


def _dup_clusters_oracle(shingle_k: int = 3, threshold: float = 0.5) -> str:
    return f"""{_dup_clusters_cte_prefix(shingle_k, threshold)}
    SELECT component, count(*) AS cluster_size
    FROM comp GROUP BY component
    """


def _groupwise_split_oracle() -> str:
    grp_hash = T.duck_hash64("('gs|' || CAST(grp AS VARCHAR))")
    return f"""{_dup_clusters_cte_prefix()},
    corpus_ids AS (
        SELECT doc_id, len({T.duck_tokens('text')}) AS token_count
        FROM corpus
    ),
    grouped AS (
        SELECT c.doc_id, c.token_count,
               coalesce(comp.component, c.doc_id) AS grp
        FROM corpus_ids c LEFT JOIN comp ON comp.node = c.doc_id
    ),
    assigned AS (
        SELECT doc_id, token_count, grp,
               CASE WHEN {grp_hash} % 100 < 80 THEN 'train'
                    WHEN {grp_hash} % 100 < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM grouped
    ),
    leak AS (
        SELECT CAST(count(*) AS BIGINT) AS n_leaked
        FROM pairs p
        JOIN assigned a ON a.doc_id = p.doc_a
        JOIN assigned b ON b.doc_id = p.doc_b
        WHERE a.split != b.split
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(sum(token_count) AS BIGINT) AS total_tokens,
           n_leaked AS n_leaked_pairs
    FROM assigned CROSS JOIN leak GROUP BY split, n_leaked
    """


@query(
    "doc_groupwise_split",
    oracle=_groupwise_split_oracle(),
    description="GROUP-AWARE train/valid/test split: near-duplicate "
    "CLUSTERS (LSH pairs -> connected components) are assigned to a "
    "split as a unit — the split is a pure hash function of the "
    "cluster root, singletons of their own doc_id — so near-duplicate "
    "leakage across splits is impossible BY CONSTRUCTION, not merely "
    "audited after the fact (doc_split_leakage measures the leakage a "
    "doc-level split admits; this is the prevention counterpart, "
    "sklearn GroupShuffleSplit at corpus scale). The cross-split "
    "leaked-pair count is folded into the output and value-locked at "
    "0 — the oracle recomputes it from its own independent recursive-"
    "CTE clustering, so a broken group assignment cannot pass. Scale: "
    "the clustering is the already-established banded LSH + CC stack; "
    "group assignment is a broadcast-sized left join of the component "
    "map; everything after is row-local hashing + one tiny agg.",
    skip_bench=True,  # the pair stage is benched as doc_near_dup_pairs
)
def doc_groupwise_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import connected_components

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text", shingle_k=3, threshold=0.5
    ).localCheckpoint(eager=False)  # feeds CC AND the leakage invariant
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    toks = T.spark_tokens("text")
    ids = corpus.select(
        "doc_id", F.expr(f"cast(size({toks}) as bigint)").alias("token_count")
    )
    grouped = ids.join(
        cc.select(F.col("node").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        "token_count",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("grp"),
    )
    bucket = (
        F.expr(T.spark_hash64("concat('gs|', cast(grp as string))")) % 100
    )
    assigned = grouped.select(
        "doc_id",
        "token_count",
        "grp",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    ).localCheckpoint(eager=False)  # feeds the rollup AND both leak sides
    a = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    leak = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("grp").cast("bigint").alias("n_groups"),
            F.sum("token_count").cast("bigint").alias("total_tokens"),
        )
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_docs",
            "n_groups",
            "total_tokens",
            F.col("n_leaked").alias("n_leaked_pairs"),
        )
    )


@query(
    "doc_dup_clusters",
    oracle=_dup_clusters_oracle(),
    description="Near-duplicate CLUSTERING: MinHash-LSH pairs -> iterative "
    "connected components (alternating large-star/small-star; join+agg "
    "per round, lineage cut per round, ~log2(n) rounds) -> cluster "
    "sizes. The step that turns pair detection into an actionable "
    "keep-one-per-cluster dedup. Oracle: the same LSH pipeline + a "
    "RECURSIVE CTE reachability closure in DuckDB — a full value-hash "
    "check of an iterative distributed algorithm.",
    skip_bench=True,  # the pair stage is benched as doc_near_dup_pairs
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import connected_components

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = minhash_near_dup_pairs(corpus, "doc_id", "text", shingle_k=3, threshold=0.5)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))


@query(
    "doc_incremental_dup_clusters",
    oracle=_dup_clusters_oracle(),
    description="Incremental CLUSTER maintenance closing the dedup "
    "loop's last gap: yesterday's corpus carries a component map (CC "
    "over base-corpus near-dup pairs) and a signature table; "
    "the new batch's pairs come from incremental_minhash_pairs and "
    "merge into the map via ops.graph.connected_components_incremental "
    "— existing components CONTRACT to their roots, CC runs only on the "
    "O(new-edges) contracted graph, and the root remap broadcasts back, "
    "so the corpus-sized assignment is scanned once and never shuffled "
    "on graph structure. Oracle: the SAME from-scratch recursive-CTE "
    "cluster oracle as doc_dup_clusters — incremental maintenance must "
    "be indistinguishable from recomputation (property-tested on random "
    "graphs too, tests/test_properties.py).",
    skip_bench=True,  # signature-table write + base CC inside the build
)
def doc_incremental_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from smartpool_bigdata_spark.ops.graph import (
        connected_components,
        connected_components_incremental,
    )
    from smartpool_bigdata_spark.ops.text import (
        build_signature_table,
        incremental_minhash_pairs,
        minhash_pairs_from_signatures,
        write_signature_table,
    )

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    base = corpus.filter(F.col("doc_id") < 1_000_000)
    new = corpus.filter(F.col("doc_id") >= 1_000_000)
    stage = tempfile.mkdtemp(prefix="spark_inccc_")
    try:
        tbl = write_signature_table(
            build_signature_table(base, "doc_id", "text", shingle_k=3),
            "doc_inccc_sigs_tbl",
            os.path.join(stage, "base_signatures"),
        )
        base_pairs = minhash_pairs_from_signatures(tbl, threshold=0.5)
        asg = connected_components(base_pairs, src="doc_a", dst="doc_b")
        new_sig = build_signature_table(new, "doc_id", "text", shingle_k=3)
        new_pairs = incremental_minhash_pairs(new_sig, tbl, threshold=0.5)
        cc = connected_components_incremental(
            asg, new_pairs, src="doc_a", dst="doc_b"
        )
        out = cc.groupBy("component").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        spark.sql("DROP TABLE IF EXISTS doc_inccc_sigs_tbl")
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "stream_incremental_dup_clusters",
    oracle=_dup_clusters_oracle(),
    description="The FULL incremental dedup loop as a stream — pairs AND "
    "clusters: the base corpus seeds a signature table and a component "
    "map (CC over its own pairs); the new documents then "
    "arrive in rate-limited micro-batches through foreachBatch + "
    "incremental_dedup_batch with assignment_path set, so each batch "
    "signs once, pairs against the current corpus, and folds its edges "
    "into the stored component map via the contracted-graph incremental "
    "CC — merging only the O(batch) changed rows (changes_only delta). "
    "Oracle: the from-scratch recursive-CTE cluster oracle over "
    "corpus ∪ mutants — stream delivery, batch boundaries, and "
    "incremental maintenance must all be invisible in the final "
    "component map.",
    skip_bench=True,  # staging writes + stream startup dominate
)
def stream_incremental_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from smartpool_bigdata_spark.ops.graph import connected_components
    from smartpool_bigdata_spark.ops.text import (
        build_signature_table,
        minhash_pairs_from_signatures,
        write_signature_table,
    )
    from smartpool_bigdata_spark.streaming import file_stream
    from smartpool_bigdata_spark.streaming.runner import start_incremental_dedup

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    base = corpus.filter(F.col("doc_id") < 1_000_000)
    new = corpus.filter(F.col("doc_id") >= 1_000_000)
    stage = tempfile.mkdtemp(prefix="spark_incccstream_")
    sig_path = os.path.join(stage, "sig_table")
    pairs_path = os.path.join(stage, "pairs")
    asg_path = os.path.join(stage, "components")
    src = os.path.join(stage, "new_docs")
    ckpt = os.path.join(stage, "ckpt")
    try:
        base_sig = build_signature_table(base, "doc_id", "text", shingle_k=3)
        base_sig.write.parquet(sig_path)
        base_pairs = minhash_pairs_from_signatures(
            spark.read.parquet(sig_path), threshold=0.5
        )
        connected_components(
            base_pairs, src="doc_a", dst="doc_b"
        ).write.parquet(asg_path)
        new.repartition(4).write.parquet(src)
        stream = file_stream(spark, src, new.schema, max_files_per_trigger=1)
        q = start_incremental_dedup(
            stream,
            sig_path,
            pairs_path,
            ckpt,
            assignment_path=asg_path,
            trigger={"availableNow": True},
            query_name="incremental_dedup_clusters",
        )
        if not q.awaitTermination(300):
            q.stop()
        out = (
            spark.read.parquet(asg_path)
            .groupBy("component")
            .agg(F.count(F.lit(1)).alias("cluster_size"))
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _dedup_survivors_oracle(shingle_k: int = 3, threshold: float = 0.5) -> str:
    clusters = _dup_clusters_oracle(shingle_k, threshold)
    # reuse the cluster CTE chain; survivors = corpus minus every
    # clustered doc that is not its component's minimum
    body = clusters[: clusters.rfind("SELECT component")].rstrip()
    return f"""{body},
    dropped AS (
        SELECT node FROM comp WHERE node != component
    )
    SELECT CASE WHEN c.doc_id >= 1000000 THEN 'mutant' ELSE 'original' END AS origin,
           count(*) AS n_survivors
    FROM corpus c
    WHERE c.doc_id NOT IN (SELECT node FROM dropped)
    GROUP BY 1
    """


def _best_quality_survivors_oracle(shingle_k: int = 3, threshold: float = 0.5) -> str:
    clusters = _dup_clusters_oracle(shingle_k, threshold)
    toks = T.duck_tokens("text")
    body = clusters[: clusters.rfind("SELECT component")].rstrip()
    return f"""{body},
    q AS (
        SELECT doc_id,
               round(len({toks}) * round(len(list_distinct({toks}))
                     / CAST(len({toks}) AS DOUBLE), 4), 4) AS quality
        FROM corpus
    ),
    ranked AS (
        SELECT comp.component, comp.node AS keep_doc_id, q.quality,
               count(*) OVER (PARTITION BY comp.component) AS cluster_size,
               row_number() OVER (PARTITION BY comp.component
                                  ORDER BY q.quality DESC, comp.node ASC) AS rn
        FROM comp JOIN q ON q.doc_id = comp.node
    )
    SELECT component, keep_doc_id, quality, cluster_size
    FROM ranked WHERE rn = 1
    """


@query(
    "doc_dedup_best_quality",
    oracle=_best_quality_survivors_oracle(),
    description="Production keep-BEST-per-cluster dedup: near-dup "
    "clusters (LSH pairs -> connected components) keep the highest-"
    "quality member (token_count x unique-token ratio; deterministic "
    "min-id tie-break) instead of the arbitrary minimum id that "
    "doc_dedup_survivors demonstrates — what a real corpus pipeline "
    "ships, since mutants/truncations usually score below their "
    "originals. One window over cluster members (cluster-sized "
    "partitions, never corpus-sized). Oracle: the recursive-CTE cluster "
    "closure joined to the same quality formula, winner per component.",
    skip_bench=True,  # the pair stage is benched as doc_near_dup_pairs
)
def doc_dedup_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import connected_components

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = minhash_near_dup_pairs(corpus, "doc_id", "text", shingle_k=3, threshold=0.5)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    toks = T.spark_tokens("text")
    q = corpus.select(
        "doc_id",
        F.round(
            F.expr(f"size({toks})")
            * F.round(
                F.expr(f"size(array_distinct({toks}))")
                / F.expr(f"cast(size({toks}) as double)"),
                4,
            ),
            4,
        ).alias("quality"),
    )
    members = cc.join(q, cc["node"] == q["doc_id"])
    w = Window.partitionBy("component")
    ranked = members.withColumn(
        "cluster_size", F.count(F.lit(1)).over(w)
    ).withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(F.col("quality").desc(), F.col("node").asc())
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "component",
        F.col("node").alias("keep_doc_id"),
        "quality",
        "cluster_size",
    )


@query(
    "doc_dedup_survivors",
    oracle=_dedup_survivors_oracle(),
    description="End-to-end corpus dedup: MinHash-LSH pairs -> connected "
    "components -> drop every clustered doc except its cluster's minimum "
    "id -> surviving corpus counts. Each planted mutant clusters with its "
    "original, so survivors ~= one per cluster plus unpaired docs — the "
    "keep-one-representative step a training-data pipeline actually ships.",
    skip_bench=True,
)
def doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import connected_components

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = minhash_near_dup_pairs(corpus, "doc_id", "text", shingle_k=3, threshold=0.5)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    dropped = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    survivors = corpus.join(F.broadcast(dropped), "doc_id", "left_anti")
    return survivors.groupBy(
        F.when(F.col("doc_id") >= 1_000_000, "mutant")
        .otherwise("original")
        .alias("origin")
    ).agg(F.count(F.lit(1)).alias("n_survivors"))


@query(
    "doc_signatures",
    oracle=f"""
    WITH staged AS (
        SELECT doc_id,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th,
               {T.duck_char_codes('text')} AS cs
        FROM documents
    )
    SELECT doc_id,
           CAST({T.duck_simhash('th')} AS BIGINT) AS simhash,
           CAST({T.duck_poly_gram_min('cs', 5)} AS BIGINT) AS fingerprint
    FROM staged
    """,
    description="Per-document SimHash (32-bit majority-vote over token "
    "hashes) + winnowing-style min polynomial hash over char 5-grams. "
    "Row-local map work only — scan-bound at any scale.",
)
def doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    toks = T.spark_tokens("text")
    # Stage the hash arrays once (own projection) so the 32 simhash bit
    # terms reuse them instead of re-tokenizing+md5-ing per bit — 10×
    # faster at sf0.1; CollapseProject keeps multi-referenced non-cheap
    # expressions staged. Fingerprint uses the codepoint polynomial (no
    # md5 per gram).
    staged = docs.select(
        "doc_id",
        F.expr(f"transform({toks}, t -> {T.spark_hash64('t')})").alias("__th"),
        F.expr(T.spark_char_codes("text")).alias("__cs"),
    )
    return staged.select(
        "doc_id",
        F.expr(T.spark_simhash("__th")).alias("simhash"),
        F.expr(T.spark_poly_gram_min("__cs", 5)).alias("fingerprint"),
    )


def _simhash_near_dup_oracle(band_bits: int = 15, n_bands: int = 4, max_hamming: int = 3) -> str:
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, simhash, {b} AS band_idx, "
        f"(simhash >> {b * band_bits}) % {1 << band_bits} AS band_val FROM sig"
        for b in range(n_bands)
    )
    return f"""
    WITH corpus AS ({_near_dup_corpus_duck()}),
    th AS (
        SELECT doc_id,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM corpus
    ),
    sig AS (
        SELECT doc_id, {T.duck_simhash('th', 60)} AS simhash FROM th
    ),
    banded AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               bit_count(xor(l.simhash, r.simhash)) AS hamming
        FROM banded l JOIN banded r
          ON l.band_idx = r.band_idx AND l.band_val = r.band_val
         AND l.doc_id < r.doc_id
    )
    SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
    FROM cand WHERE hamming <= {max_hamming}
    """


@query(
    "doc_simhash_near_dup",
    oracle=_simhash_near_dup_oracle(),
    description="SimHash near-duplicate detection on documents ∪ planted "
    "mutants: 60-bit signature, 4×15-bit exact-match bands, bit_count(xor) "
    "hamming verification ≤ 3 (Manku et al. WWW'07). Pigeonhole: "
    "bands > max_hamming ⇒ recall 1.0 at the threshold with one shuffle "
    "on (band, value) — never all-pairs.",
)
def doc_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import simhash_near_dup_pairs

    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = simhash_near_dup_pairs(corpus, "doc_id", "text")
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))


def _lang_guess_oracle() -> str:
    toks = T.duck_tokens("text")
    hits = {
        lang: T.duck_stopword_hits(toks, words) for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    whens = []
    for lang in langs:
        others = ", ".join(f"s_{o}" for o in langs if o != lang)
        whens.append(
            f"WHEN s_{lang} > 0 AND s_{lang} >= greatest({others}) THEN '{lang}'"
        )
    case = "CASE " + " ".join(whens) + " ELSE 'unknown' END"
    hit_cols = ",\n               ".join(f"{e} AS s_{lang}" for lang, e in hits.items())
    return f"""
    WITH scored AS (
        SELECT lang,
               {hit_cols}
        FROM documents
    )
    SELECT lang, {case} AS lang_guess, count(*) AS n_docs
    FROM scored GROUP BY 1, 2
    """


@query(
    "doc_language_guess",
    oracle=_lang_guess_oracle(),
    description="Stopword-hit language-ID heuristic (deterministic argmax, "
    "fixed tie order) vs the labeled lang — confusion-matrix counts. "
    "Row-local scoring, tiny aggregate.",
)
def doc_language_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    guessed = language_guess(docs, "doc_id", "text")
    joined = docs.select("doc_id", "lang").join(guessed, "doc_id")
    return joined.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "doc_token_classes",
    oracle=r"""
    SELECT source,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS word_tokens,
           CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS number_tokens,
           CAST(sum(len(regexp_extract_all(text, '[^a-z0-9\s]'))) AS BIGINT) AS symbol_tokens
    FROM documents GROUP BY source
    """,
    description="BPE-ish regex token counting (word/number/symbol classes) "
    "per source — regexp_extract_all is JVM-side, stays in codegen.",
)
def doc_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    def n(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
    return docs.groupBy("source").agg(
        F.sum(n("[a-z]+")).alias("word_tokens"),
        F.sum(n("[0-9]+")).alias("number_tokens"),
        F.sum(n(r"[^a-z0-9\s]")).alias("symbol_tokens"),
    )


_KMV_K = 64
_KMV_SPACE = float(1 << 60)  # hash64 values are uniform in [0, 2^60)


@query(
    "user_distinct_kmv",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               {T.duck_hash64("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn,
               count(*) OVER (PARTITION BY event_type) AS nd
        FROM hashed
    )
    SELECT event_type,
           CAST(max(nd) AS BIGINT) AS exact_distinct,
           CAST(CASE WHEN max(nd) < {_KMV_K} THEN max(nd)
                ELSE CAST(round(({_KMV_K} - 1) * {_KMV_SPACE}
                          / max(CASE WHEN rn = {_KMV_K} THEN h END), 0) AS BIGINT)
           END AS BIGINT) AS kmv_estimate
    FROM ranked
    WHERE rn <= {_KMV_K}
    GROUP BY event_type
    """,
    description="KMV (k-minimum-values) distinct sketch, k=64: estimate = "
    "(k-1)*H/h_(k) over the k smallest md5-derived hashes per group "
    "(Bar-Yossef et al. '02). Unlike HLL the whole sketch is DETERMINISTIC "
    "md5 arithmetic, so the estimator itself hash-matches DuckDB — a "
    "value-checked approximate aggregate, reported beside the exact "
    "distinct. Scale: the k-hash sketch is O(k) per group and mergeable "
    "(union = min-k of unions), the property that makes it map-side "
    "combinable at 100 TB.",
)
def user_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import top_n_per_group

    ev = _ts(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        F.expr(T.spark_hash64("CAST(user_id AS STRING)")).alias("h"),
    ).distinct()
    counted = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    # 5 distinct event types -> low_cardinality engages the two-phase
    # salted plan (local top-K per input partition, then global), so the
    # window never sorts the whole table in 5 giant partitions at scale.
    topk = top_n_per_group(
        hashed, ["event_type"], [F.col("h").asc()], _KMV_K,
        method="row_number", rank_col="rn", low_cardinality=True,
    )
    kth = topk.filter(F.col("rn") == _KMV_K).select(
        "event_type", F.col("h").alias("kth_min")
    )
    out = counted.join(kth, "event_type", "left")
    est = F.when(
        F.col("exact_distinct") < _KMV_K, F.col("exact_distinct")
    ).otherwise(
        F.round((_KMV_K - 1) * F.lit(_KMV_SPACE) / F.col("kth_min"), 0).cast("long")
    )
    return out.select(
        "event_type", "exact_distinct", est.cast("long").alias("kmv_estimate")
    )


@query(
    "user_rolling_distinct_kmv",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day,
               CAST(extract(hour FROM ts) AS INTEGER) AS hr,
               {T.duck_hash64("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    hourly AS (
        SELECT day, hr, h
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY day, hr ORDER BY h ASC) AS rn
              FROM hashed)
        WHERE rn <= {_KMV_K}
    ),
    merged_in AS (SELECT DISTINCT day, h FROM hourly),
    merged AS (
        SELECT day, h, rn, count(*) OVER (PARTITION BY day) AS nd
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY day ORDER BY h ASC) AS rn
              FROM merged_in)
        WHERE rn <= {_KMV_K}
    ),
    direct_in AS (SELECT DISTINCT day, h FROM hashed),
    direct AS (
        SELECT day, h, rn, count(*) OVER (PARTITION BY day) AS nd
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY day ORDER BY h ASC) AS rn
              FROM direct_in)
        WHERE rn <= {_KMV_K}
    ),
    est_m AS (
        SELECT day,
               CAST(CASE WHEN max(nd) < {_KMV_K} THEN max(nd)
                    ELSE CAST(round(({_KMV_K} - 1) * {_KMV_SPACE}
                              / max(CASE WHEN rn = {_KMV_K} THEN h END), 0) AS BIGINT)
               END AS BIGINT) AS kmv_merged
        FROM merged GROUP BY day
    ),
    est_d AS (
        SELECT day,
               CAST(CASE WHEN max(nd) < {_KMV_K} THEN max(nd)
                    ELSE CAST(round(({_KMV_K} - 1) * {_KMV_SPACE}
                              / max(CASE WHEN rn = {_KMV_K} THEN h END), 0) AS BIGINT)
               END AS BIGINT) AS kmv_direct
        FROM direct GROUP BY day
    ),
    hrs AS (SELECT day, CAST(count(DISTINCT hr) AS BIGINT) AS n_hours
            FROM hourly GROUP BY day),
    exact AS (SELECT day, CAST(count(*) AS BIGINT) AS exact_distinct
              FROM direct_in GROUP BY day)
    SELECT e.day, hrs.n_hours, e.exact_distinct, est_m.kmv_merged, est_d.kmv_direct
    FROM exact e
    JOIN hrs USING (day) JOIN est_m USING (day) JOIN est_d USING (day)
    """,
    description="KMV sketch MERGEABILITY in anger — the property that "
    "makes sketches matter at 100 TB: per-(day, hour) k=64 KMV sketches "
    "are the stored state; each day's distinct-user estimate is derived "
    "ONLY by merging its 24 hourly sketches (distinct-union then min-k "
    "— at most 24k hashes touched per day, never the raw facts), "
    "reported beside the direct per-day sketch and the exact count. "
    "kmv_merged == kmv_direct is a THEOREM for KMV (the k smallest of "
    "the union lie within each part's k smallest), and the value hash "
    "locks that identity across both engines — a sketch-merge "
    "implementation bug (e.g. forgetting the distinct before min-k) "
    "breaks the row. The same fold extends to week/month rollups from "
    "the same hourly state. Scale: the sketch table is O(groups · k); "
    "rollups never rescan facts — the pre-aggregation pattern for "
    "distinct counts, which plain counts get from partial aggs but "
    "distincts can't without a sketch.",
)
def user_rolling_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import top_n_per_group

    ev = _ts(spark, sf_dir, "events")
    hashed = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("hr"),
        F.expr(T.spark_hash64("CAST(user_id AS STRING)")).alias("h"),
    ).distinct().localCheckpoint(eager=False)  # sketch + exact consumers

    hourly = top_n_per_group(
        hashed, ["day", "hr"], [F.col("h").asc()], _KMV_K,
        method="row_number", rank_col="rn",
    ).drop("rn").localCheckpoint(eager=False)  # the stored sketch table

    def _kmv_day(points: DataFrame, out_name: str) -> DataFrame:
        dedup = points.select("day", "h").distinct()
        ranked = top_n_per_group(
            dedup, ["day"], [F.col("h").asc()], _KMV_K,
            method="row_number", rank_col="rn",
        )
        agg = ranked.groupBy("day").agg(
            F.count(F.lit(1)).alias("nd"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
        )
        est = F.when(F.col("nd") < _KMV_K, F.col("nd")).otherwise(
            F.round((_KMV_K - 1) * F.lit(_KMV_SPACE) / F.col("kth"), 0).cast("long")
        )
        return agg.select("day", est.cast("long").alias(out_name))

    merged = _kmv_day(hourly, "kmv_merged")
    direct = _kmv_day(hashed, "kmv_direct")
    hrs = hourly.groupBy("day").agg(
        F.countDistinct("hr").cast("bigint").alias("n_hours")
    )
    exact = (
        hashed.select("day", "h").distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    )
    return (
        exact.join(hrs, "day")
        .join(merged, "day")
        .join(direct, "day")
        .select("day", "n_hours", "exact_distinct", "kmv_merged", "kmv_direct")
    )


@query(
    "event_audience_overlap_kmv",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               {T.duck_hash64("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hashed)
        WHERE rn <= {_KMV_K}
    ),
    tp AS (
        SELECT a.event_type AS ta, b.event_type AS tb
        FROM (SELECT DISTINCT event_type FROM events) a
        JOIN (SELECT DISTINCT event_type FROM events) b
          ON a.event_type < b.event_type
    ),
    u AS (
        SELECT tp.ta, tp.tb, s.h,
               max(CASE WHEN s.event_type = tp.ta THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN s.event_type = tp.tb THEN 1 ELSE 0 END) AS in_b
        FROM tp JOIN sk s ON s.event_type IN (tp.ta, tp.tb)
        GROUP BY tp.ta, tp.tb, s.h
    ),
    ur AS (
        SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY ta, tb) AS nu
        FROM u
    ),
    km AS (
        SELECT ta, tb,
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS matches,
               max(CASE WHEN rn = {_KMV_K} THEN h END) AS tau,
               CAST(max(nu) AS BIGINT) AS nu
        FROM ur WHERE rn <= {_KMV_K} GROUP BY ta, tb
    ),
    ex AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(count(*) AS BIGINT) AS inter
        FROM hashed a JOIN hashed b
          ON a.h = b.h AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    card AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
             FROM hashed GROUP BY 1)
    SELECT km.ta AS type_a, km.tb AS type_b,
           ex.inter AS exact_intersection,
           round(ex.inter / CAST(ca.n + cb.n - ex.inter AS DOUBLE), 4)
               AS exact_jaccard,
           CASE WHEN km.nu < {_KMV_K} THEN km.matches
                ELSE CAST(round(km.matches / CAST({_KMV_K} AS DOUBLE)
                          * (({_KMV_K} - 1) * {_KMV_SPACE} / km.tau), 0)
                     AS BIGINT) END AS kmv_intersection_est,
           round(km.matches / CAST(CASE WHEN km.nu < {_KMV_K} THEN km.nu
                                   ELSE {_KMV_K} END AS DOUBLE), 4)
               AS kmv_jaccard_est
    FROM km
    JOIN ex ON ex.ta = km.ta AND ex.tb = km.tb
    JOIN card ca ON ca.event_type = km.ta
    JOIN card cb ON cb.event_type = km.tb
    """,
    description="KMV sketch SET OPERATIONS (Beyer et al. SIGMOD'07 — the "
    "multi-set upgrade of user_distinct_kmv): audience overlap between "
    "every pair of event types estimated purely from the per-type "
    "k-minimum-values sketches — union sketch = k smallest of the two "
    "sketches' union, Jaccard-hat = matching fraction inside it, "
    "intersection-hat = Jaccard-hat x (k-1)H/tau — reported beside the "
    "exact intersection/Jaccard so the estimator error is visible. The "
    "whole estimator is deterministic md5 arithmetic, so DuckDB "
    "replays the ESTIMATE bit-for-bit, not just the exact twin. Scale: "
    "per-type sketches are O(k) mergeable aggregates (map-side "
    "combinable); every pairwise set operation then runs on O(pairs x "
    "k) rows — audience overlap across a 100 TB event log without "
    "ever joining user sets. Sketches of sketches: union/intersection "
    "close over the same representation, so the op composes.",
)
def event_audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import top_n_per_group

    ev = _ts(spark, sf_dir, "events")
    # r13 (guide §5, verdict #9): the distinct (type, md5(user)) stream
    # feeds FOUR consumers (sketches, type pairs, the exact-audit group,
    # per-type cardinalities) — lazily checkpoint so the scan + md5 +
    # distinct run once inside the timed action instead of per consumer
    hashed = ev.select(
        "event_type",
        F.expr(T.spark_hash64("CAST(user_id AS STRING)")).alias("h"),
    ).distinct().localCheckpoint(eager=False)
    sk = top_n_per_group(
        hashed, ["event_type"], [F.col("h").asc()], _KMV_K,
        method="row_number", rank_col="rn", low_cardinality=True,
    ).select("event_type", "h")
    types = hashed.select("event_type").distinct()
    tp = (
        types.select(F.col("event_type").alias("ta"))
        .crossJoin(types.select(F.col("event_type").alias("tb")))
        .filter(F.col("ta") < F.col("tb"))
    )
    u = (
        tp.join(
            F.broadcast(sk.withColumnRenamed("event_type", "t")),
            (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")),
        )
        .groupBy("ta", "tb", "h")
        .agg(
            F.max(F.when(F.col("t") == F.col("ta"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("t") == F.col("tb"), 1).otherwise(0)).alias("in_b"),
        )
        # shared by the per-pair rank pass and the union-size count
        .localCheckpoint(eager=False)
    )
    ur = top_n_per_group(
        u, ["ta", "tb"], [F.col("h").asc()], _KMV_K,
        method="row_number", rank_col="rn",
    )
    nu = u.groupBy("ta", "tb").agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    km = (
        ur.groupBy("ta", "tb")
        .agg(
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
            ).cast("bigint").alias("matches"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("tau"),
        )
        .join(F.broadcast(nu), ["ta", "tb"])
    )
    # exact-audit intersection WITHOUT a self-join (which would go
    # SortMergeJoin at scale): group the hash stream once, explode the
    # <=|types| member set into ordered pairs row-locally — one uniform
    # shuffle on h, the same shape as exact_dedup
    byh = hashed.groupBy("h").agg(
        F.expr("array_sort(collect_set(event_type))").alias("ts")
    )
    ex = (
        byh.select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (a, i) -> "
                    "transform(slice(ts, i + 2, size(ts)), "
                    "b -> struct(a AS ta, b AS tb))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.ta").alias("ta"), F.col("p.tb").alias("tb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    card = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    inter_est = F.when(F.col("nu") < _KMV_K, F.col("matches")).otherwise(
        F.round(
            F.col("matches") / F.lit(float(_KMV_K))
            * ((_KMV_K - 1) * F.lit(_KMV_SPACE) / F.col("tau")),
            0,
        ).cast("long")
    )
    jac_est = F.round(
        F.col("matches")
        / F.when(F.col("nu") < _KMV_K, F.col("nu")).otherwise(F.lit(_KMV_K)).cast("double"),
        4,
    )
    return (
        km.join(F.broadcast(ex), ["ta", "tb"])
        .join(F.broadcast(card.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))), "ta")
        .join(F.broadcast(card.select(F.col("event_type").alias("tb"), F.col("n").alias("nb"))), "tb")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("inter").alias("exact_intersection"),
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                4,
            ).alias("exact_jaccard"),
            inter_est.cast("long").alias("kmv_intersection_est"),
            jac_est.alias("kmv_jaccard_est"),
        )
    )


_CMS_D = 4     # hash rows
_CMS_W = 256   # buckets per row

# Shared by the batch gate and its streaming-maintenance twin
# (stream_cms_heavy_hitters): CMS grids merge by cell-wise ADDITION, so
# the stream-folded grid must equal this one-shot rebuild exactly.
_CMS_ORACLE = f"""
    WITH cells AS (
        SELECT r.r AS r,
               {T.duck_hash64("(CAST(r.r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR))")}
                   % {_CMS_W} AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM events, range(0, {_CMS_D}) AS r(r)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
        FROM events GROUP BY user_id
    ),
    top AS (
        SELECT user_id, exact_count FROM exact
        ORDER BY exact_count DESC, user_id ASC LIMIT 20
    ),
    est AS (
        SELECT t.user_id, t.exact_count,
               CAST(min(c.c) AS BIGINT) AS cms_estimate
        FROM top t, range(0, {_CMS_D}) AS r(r)
        JOIN cells c
          ON c.r = r.r
         AND c.b = {T.duck_hash64("(CAST(r.r AS VARCHAR) || '|' || CAST(t.user_id AS VARCHAR))")}
                   % {_CMS_W}
        GROUP BY t.user_id, t.exact_count
    )
    SELECT user_id, exact_count, cms_estimate,
           CAST(cms_estimate - exact_count AS BIGINT) AS overestimate
    FROM est
    """


def _cms_bucket_expr() -> str:
    return (
        T.spark_hash64(
            "concat(cast(r as string), '|', cast(user_id as string))"
        )
        + f" % {_CMS_W}"
    )


def _cms_cells(ev: DataFrame) -> DataFrame:
    rows_expr = F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("r")
    keyed = ev.select("user_id", rows_expr).select(
        "r", F.expr(_cms_bucket_expr()).alias("b")
    )
    return keyed.groupBy("r", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def _cms_report(ev: DataFrame, cells: DataFrame) -> DataFrame:
    """Top-20 exact vs CMS-estimated frequencies probed from ``cells``
    — shared by the batch gate and the streaming-maintenance twin."""
    rows_expr = F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("r")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    top = exact.orderBy(
        F.col("exact_count").desc(), F.col("user_id").asc()
    ).limit(20)
    probes = top.select("user_id", "exact_count", rows_expr).select(
        "user_id",
        "exact_count",
        "r",
        F.expr(_cms_bucket_expr()).alias("b"),
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count"))
        .cast("bigint")
        .alias("overestimate"),
    )



@query(
    "event_heavy_hitters_cms",
    oracle=_CMS_ORACLE,
    description="Count-min sketch heavy hitters (Cormode-Muthukrishnan "
    f"'05): per-user event frequencies estimated from a {_CMS_D}x"
    f"{_CMS_W} CMS — estimate = min over rows of the key's bucket "
    "counter, a guaranteed OVERestimate — reported beside the exact "
    "count for the top-20 users so the one-sided error is visible "
    "(locked >= 0 by the value hash). Hash rows are deterministic md5 "
    "arithmetic, so DuckDB rebuilds the SKETCH and the estimates "
    "bit-for-bit. Scale: the sketch is a fixed d x w = "
    f"{_CMS_D * _CMS_W}-cell aggregate — map-side combinable, "
    "mergeable by cell-wise addition (shard sketches add), queryable "
    "for ANY key without rescanning — frequency estimation over a "
    "100 TB log in a few KB of state; the exact column here is the "
    "small-SF audit, not the production path.",
)
def event_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ts(spark, sf_dir, "events")
    return _cms_report(ev, _cms_cells(ev))


@query(
    "stream_cms_heavy_hitters",
    oracle=_CMS_ORACLE,
    description="Count-min sketch maintenance CLOSED AS A STREAM — the "
    "incremental-twin pattern (stream_ivf_assignments / "
    "stream_cdf_matview) applied to the sketch family: half the events "
    "seed the grid one-shot, the other half arrives as a rate-limited "
    "file stream whose micro-batches each reduce to their OWN d×w cell "
    "grid, MERGEd into a delta log keyed by (__batch_id, r, b) — "
    "addition is not idempotent, so exactly-once under checkpoint "
    "replay comes from the batch-keyed log (a replayed batch recomputes "
    "identical rows and replaces), not from a running counter. The "
    "served sketch is the per-cell SUM over the log; because CMS grids "
    "merge by cell-wise addition, the stream-folded grid must equal "
    "the one-shot rebuild EXACTLY — the oracle is the batch query's, "
    "byte for byte. Per-batch cost O(batch·d) + a ≤ d·w-row MERGE; "
    "checkpoint-restart locked in tests/test_streaming.py. "
    "streaming/runner.py:start_cms_cells.",
    skip_bench=True,  # staging writes + stream startup dominate
)
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from smartpool_bigdata_spark.streaming import file_stream
    from smartpool_bigdata_spark.streaming.runner import (
        read_cms_cells,
        start_cms_cells,
    )

    ev = _ts(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0)
    new = ev.filter(F.col("event_id") % 2 == 1)
    stage = tempfile.mkdtemp(prefix="spark_cmsstream_")
    try:
        log_path = os.path.join(stage, "cms_log")
        src = os.path.join(stage, "new_events")
        ckpt = os.path.join(stage, "ckpt")
        _cms_cells(base).withColumn(
            "__batch_id", F.lit(-1).cast("bigint")
        ).write.parquet(log_path)
        new.repartition(4).write.parquet(src)
        stream = file_stream(spark, src, new.schema, max_files_per_trigger=1)
        q = start_cms_cells(
            stream,
            log_path,
            ckpt,
            _CMS_D,
            _CMS_W,
            "user_id",
            trigger={"availableNow": True},
            query_name="cms_maintenance",
        )
        if not q.awaitTermination(300):
            q.stop()
        out = _cms_report(ev, read_cms_cells(spark, log_path))
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "doc_quality_filter",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id, source,
               len({T.duck_tokens('text')}) AS token_count,
               round(len(list_distinct({T.duck_tokens('text')}))
                     / CAST(len({T.duck_tokens('text')}) AS DOUBLE), 4) AS uniq_ratio
        FROM documents
    ),
    judged AS (
        SELECT source,
               CASE WHEN token_count < 20 THEN 'too_short'
                    WHEN token_count > 2000 THEN 'too_long'
                    WHEN uniq_ratio < 0.05 THEN 'too_repetitive'
                    ELSE 'keep' END AS verdict
        FROM stats
    )
    SELECT source, verdict, count(*) AS n_docs
    FROM judged GROUP BY source, verdict
    """,
    description="Training-data quality curation: composite keep/drop "
    "policy over text-quality features (length bounds, repetition ratio) "
    "with per-reason accounting — the filter stage of a corpus pipeline, "
    "first matching rule wins so every document lands in exactly one "
    "bucket. Row-local scoring, tiny aggregate; scan-bound at any scale.",
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import case_when_chain

    docs = _ts(spark, sf_dir, "documents")
    stats = with_text_stats(docs, "text")
    verdict = case_when_chain(
        [
            (F.col("token_count") < 20, "too_short"),
            (F.col("token_count") > 2000, "too_long"),
            (F.col("unique_token_ratio") < 0.05, "too_repetitive"),
        ],
        default="keep",
    )
    return (
        stats.withColumn("verdict", verdict)
        .groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "multimodal_byte_features",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(min(ascii(text)) AS INTEGER) AS min_first_byte,
           CAST(max(ascii(text)) AS INTEGER) AS max_first_byte
    FROM documents GROUP BY source
    """,
    description="Multimodal binary-column path end-to-end: documents get an "
    "opaque binary payload + typed metadata struct, then Arrow-batched "
    "mapInPandas extracts byte features (the real plumbing a media decoder "
    "drops into — decode itself is stubbed, codecs absent). Oracle checks "
    "the Python worker path byte-for-byte against SQL over the source text "
    "(ASCII corpus, so octet_length/ascii are exact twins).",
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        extract_byte_features,
        with_binary_payload,
    )

    docs = _ts(spark, sf_dir, "documents")
    media = with_binary_payload(docs, "text", mime="text/plain")
    feats = extract_byte_features(media)
    joined = feats.join(docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("first_byte").alias("min_first_byte"),
        F.max("first_byte").alias("max_first_byte"),
    )


def _char_jaccard_oracle(gram: int = 4, threshold: float = 0.6) -> str:
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_idx, "
        f"{T.duck_band_hash('sig', b)} AS band_hash FROM sig"
        for b in range(T.BANDS)
    )
    return f"""
    WITH corpus AS ({_near_dup_corpus_duck()}),
    cs AS (
        SELECT doc_id, {T.duck_char_codes('text')} AS cs FROM corpus
    ),
    base AS (
        SELECT doc_id,
               list_distinct({T.duck_shingle_hashes('cs', gram)}) AS sh_set
        FROM cs
    ),
    sig AS (
        SELECT doc_id, sh_set, {T.duck_minhash_sig('sh_set')} AS sig FROM base
    ),
    banded AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l JOIN banded r
          ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id
    )
    SELECT cand.doc_a, cand.doc_b,
           round(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                 / (len(a.sh_set) + len(b.sh_set)
                    - len(list_intersect(a.sh_set, b.sh_set))), 4) AS jaccard
    FROM cand
    JOIN sig a ON a.doc_id = cand.doc_a
    JOIN sig b ON b.doc_id = cand.doc_b
    WHERE round(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                / (len(a.sh_set) + len(b.sh_set)
                   - len(list_intersect(a.sh_set, b.sh_set))), 4) >= {threshold}
    """


@query(
    "doc_char_jaccard_pairs",
    oracle=_char_jaccard_oracle(),
    description="Character-n-gram Jaccard near-dup (the tokenization-"
    "independent tier of the dedup family): MinHash-LSH over polynomial "
    "char-4-gram hashes with exact char-gram Jaccard verification — "
    "catches near-dups that word-shingle pipelines miss when whitespace/"
    "punctuation drifts. Same banded plan shape as doc_near_dup_pairs "
    "(one shuffle on (band, band_hash), never all-pairs); char-gram sets "
    "are denser than word-shingle sets, so the verify threshold is "
    "higher (0.6).",
    skip_bench=True,  # same plan family as doc_near_dup_pairs, denser sets
)
def doc_char_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import minhash_pairs_from_signatures

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    base = corpus.select(
        "doc_id", F.expr(T.spark_char_codes("text")).alias("__cs")
    ).select(
        "doc_id",
        F.expr(f"array_distinct({T.spark_shingle_hashes('__cs', 4)})").alias(
            "sh_set"
        ),
    )
    sig = base.select(
        "doc_id", "sh_set", F.expr(T.spark_minhash_sig("sh_set")).alias("sig")
    ).persist()
    return minhash_pairs_from_signatures(sig, threshold=0.6)


_WINNOW_K = 16  # char-gram width: ~2-3 words, so grams capture word ORDER —
# narrow grams on a small shared vocabulary degenerate (every doc shares
# every 5-gram; measured 346k of 500k possible pairs passing)
_WINNOW_W = 8   # winnow window: shared substrings >= w+k-1 = 23 chars guarantee a shared fingerprint


def _winnow_overlap_oracle(min_containment: float = 0.5) -> str:
    return f"""
    WITH corpus AS ({_near_dup_corpus_duck()}),
    cs AS (
        SELECT doc_id, {T.duck_char_codes('text')} AS cs FROM corpus
    ),
    gh AS (
        SELECT doc_id, {T.duck_gram_hashes('cs', _WINNOW_K)} AS gh FROM cs
    ),
    wn AS (
        SELECT doc_id, {T.duck_winnow('gh', _WINNOW_W)} AS fps FROM gh
    ),
    fp AS (
        SELECT doc_id, unnest(fps) AS fp FROM wn
    ),
    sizes AS (
        SELECT doc_id, len(fps) AS n_fp FROM wn
    ),
    shared AS (
        SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_shared
        FROM fp l JOIN fp r ON l.fp = r.fp AND l.doc_id < r.doc_id
        GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b, s.n_shared,
           round(CAST(s.n_shared AS DOUBLE)
                 / least(sa.n_fp, sb.n_fp), 4) AS containment
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE round(CAST(s.n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp), 4)
          >= {min_containment}
    """


@query(
    "doc_winnow_fingerprint_overlap",
    oracle=_winnow_overlap_oracle(),
    description="TRUE winnowing fingerprints (Schleimer/MOSS): distinct "
    "minima of every 8-wide window over char-16-gram hashes (any shared "
    "substring of >= 23 chars guarantees a shared fingerprint — the "
    "positional robustness the single global-min fingerprint tier "
    "lacks), then docs paired by fingerprint CONTAINMENT >= 0.8 "
    "(shared / smaller set — MOSS's metric; absolute thresholds and "
    "narrow grams both degenerate to all-pairs on small-vocabulary "
    "corpora — measured, see _WINNOW_K note). Plan: explode fingerprints, ONE "
    "shuffle joining on the fingerprint value (each fingerprint is its "
    "own LSH bucket) — candidates scale with fingerprint collisions, "
    "never all-pairs.",
    skip_bench=True,  # w·positions interpreted ops/row — profiling tier,
    # run at gate scale; the cheap tier (doc_fingerprint_dedup) is benched
)
def doc_winnow_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    staged = corpus.select(
        "doc_id", F.expr(T.spark_char_codes("text")).alias("__cs")
    ).select(
        "doc_id", F.expr(T.spark_gram_hashes("__cs", _WINNOW_K)).alias("__gh")
    )
    # persist: the fingerprint stage feeds both sides of the self-join and
    # the winnow expression is interpreted higher-order work (same class
    # as the simhash persist fix)
    wn = staged.select(
        "doc_id", F.expr(T.spark_winnow("__gh", _WINNOW_W)).alias("__fps")
    ).persist()
    fps = wn.select("doc_id", F.explode("__fps").alias("fp"))
    sizes = wn.select("doc_id", F.expr("size(__fps)").alias("n_fp"))
    left = fps.alias("l")
    right = fps.alias("r")
    shared = (
        left.join(
            right,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "__na")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "__nb")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            F.round(
                F.col("n_shared").cast("double") / F.least("__na", "__nb"), 4
            ),
        )
        .filter(F.col("containment") >= 0.5)
        .select("doc_a", "doc_b", "n_shared", "containment")
    )


@query(
    "doc_stratified_sample",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INTEGER) AS rk
        FROM documents
    )
    SELECT doc_id, lang, source, rk FROM ranked WHERE rk <= 20
    """,
    description="Stratified sampling for training-data curation: a "
    "deterministic 20-doc sample per language, ranked by md5(doc_id) — a "
    "uniform pseudo-random order that is reproducible across engines, "
    "runs and partitionings (unlike rand()), so sample membership is "
    "auditable. Uses the two-phase salted top-N plan: language strata "
    "are LOW cardinality (~5), so a naive window would sort the whole "
    "corpus in 5 partitions; the salted local-top-20 pass prunes to "
    "≤20·partitions·strata rows first (ops/relational.py:64).",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import top_n_per_group

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    out = top_n_per_group(
        docs,
        keys=["lang"],
        order_by=["__h", "doc_id"],
        n=20,
        rank_col="rk",
        low_cardinality=True,
    )
    return out.select("doc_id", "lang", "source", "rk")


@query(
    "doc_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, t AS term
        FROM documents,
             UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        WHERE t <> ''
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
               round(t.tf * (n.n_docs + 1.0) / (d.df + 1.0), 4) AS score
        FROM tf t JOIN dfreq d USING (term), n
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS INTEGER) AS rk
        FROM scored
    )
    SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= 3
    """,
    description="TF-IDF top-3 terms per document: lowercase alnum "
    "tokenization (explode), per-doc term frequency, corpus document "
    "frequency, and a RATIONAL idf (n+1)/(df+1) — deliberately not "
    "log-scaled: one multiply + one divide over integer-derived doubles "
    "is identically rounded in every IEEE engine, so the oracle is "
    "bit-exact, whereas Java's Math.log and libm ln differ in the last "
    "ulp (swapping to log-idf is a one-line change; ranking is "
    "unaffected since log is monotone). Scale: two hash aggs (tf, df) + "
    "one broadcast scalar (corpus size) + a per-doc window — shuffles "
    "keyed on (doc_id, term) and term, both high-cardinality; no "
    "low-cardinality window hazard.",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _ts(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # df derived FROM tf — tf already has one row per (doc, term), so
    # counting rows per term IS the document frequency; this avoids a
    # second tokenize+explode pass and a distinct shuffle over the raw
    # token stream (measured 1.6 s -> ~1.0 s at sf0.1)
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


@query(
    "multimodal_frame_index",
    oracle="""
    WITH f AS (
        SELECT doc_id, source, (strlen(text) + 63) // 64 AS nf
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nf) AS BIGINT) AS n_frames,
           CAST(max((nf - 1) * 64) AS BIGINT) AS max_frame_offset
    FROM f WHERE nf > 0 GROUP BY source
    """,
    description="Multimodal frame fan-out end-to-end: binary payloads -> "
    "sample_frames (vectorized mapInPandas row EXPLOSION, one output row "
    "per 64-byte frame with its offset — the N-in/M-out shape video "
    "decode needs) -> per-source frame accounting. The oracle recomputes "
    "the fan-out arithmetically (ceil(bytes/64) frames, last offset "
    "(nf-1)*64), so the Python worker's variable-fanout plumbing is "
    "value-checked, not just schema-checked. Codec decode itself stays "
    "stubbed (no ffmpeg in env) — what's gated is the real Spark "
    "machinery a decoder drops into.",
)
def multimodal_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        sample_frames,
        with_binary_payload,
    )

    docs = _ts(spark, sf_dir, "documents")
    media = with_binary_payload(docs, "text", mime="text/plain")
    frames = sample_frames(media, every_n_bytes=64)
    joined = frames.join(docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.max("frame_offset").cast("bigint").alias("max_frame_offset"),
    )


@query(
    "llm_corpus_pipeline",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id, text,
               len({T.duck_tokens('text')}) AS token_count,
               round(len(list_distinct({T.duck_tokens('text')}))
                     / CAST(len({T.duck_tokens('text')}) AS DOUBLE), 4) AS uniq_ratio
        FROM documents
    ),
    kept AS (
        SELECT doc_id, text FROM stats
        WHERE token_count BETWEEN 20 AND 2000 AND uniq_ratio >= 0.05
    ),
    deduped AS (
        SELECT doc_id, text
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
              FROM kept)
        WHERE rn = 1
    ),
    split AS (
        SELECT doc_id, text,
               CASE WHEN {T.duck_hash64("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                    WHEN {T.duck_hash64("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM deduped
    ),
    t AS (SELECT doc_id, split, {T.duck_tokens('text')} AS toks FROM split),
    ch AS (
        SELECT doc_id, split, toks,
               unnest(range(1, greatest(len(toks) - {_CHUNK_OVERLAP}, 1) + 1,
                            {_CHUNK_STRIDE})) AS s
        FROM t
    ),
    chunks AS (
        SELECT doc_id, split,
               CAST((s - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
               len(toks[s:s + {_CHUNK_SIZE - 1}]) AS n_tokens
        FROM ch
    ),
    packed AS (
        SELECT doc_id, split, chunk_idx, n_tokens,
               CAST((sum(n_tokens) OVER (
                   PARTITION BY doc_id ORDER BY chunk_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - 1) // {_PACK_BUDGET} AS BIGINT) AS pack_id
        FROM chunks
    ),
    packs AS (
        SELECT doc_id, split, pack_id, sum(n_tokens) AS pack_tokens
        FROM packed GROUP BY doc_id, split, pack_id
    )
    SELECT split,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(pack_tokens) AS BIGINT) AS total_tokens
    FROM packs GROUP BY split
    """,
    description="The END-TO-END training-corpus pipeline as ONE Spark "
    "plan: quality filter (length + repetition policy) -> exact dedup "
    "(deterministic min-id winner per content hash) -> reproducible "
    "80/10/10 split (hash of doc_id) -> 64-token chunking (8 overlap) "
    "-> 128-token sequence packing -> per-split corpus accounting. "
    "Every stage is the already-gated operator, composed: one scan, one "
    "dedup shuffle, one per-doc window — no materialization between "
    "stages, which is exactly how the pipeline should run at 100 TB "
    "(stage boundaries become bucketed tables only when stages are "
    "re-run independently). Full value-hash oracle over the composed "
    "plan.",
)
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    stats = with_text_stats(docs, "text")
    kept = stats.filter(
        F.col("token_count").between(20, 2000)
        & (F.col("unique_token_ratio") >= 0.05)
    ).select("doc_id", "text")
    deduped = exact_dedup(kept, "text", "doc_id")
    bucket = F.expr(T.spark_hash64("CAST(doc_id AS STRING)")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    t = deduped.select(
        "doc_id", split.alias("split"), F.expr(T.spark_tokens("text")).alias("toks")
    )
    ch = t.select(
        "doc_id",
        "split",
        "toks",
        F.explode(
            F.expr(
                f"sequence(1, greatest(size(toks) - {_CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE})"
            )
        ).alias("s"),
    )
    chunks = ch.select(
        "doc_id",
        "split",
        F.expr(f"CAST((s - 1) div {_CHUNK_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.expr(f"size(slice(toks, s, {_CHUNK_SIZE}))").alias("n_tokens"),
    )
    packed = chunks.withColumn(
        "pack_id",
        F.expr(
            f"CAST((sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_idx "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) "
            f"div {_PACK_BUDGET} AS BIGINT)"
        ),
    )
    packs = packed.groupBy("doc_id", "split", "pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens")
    )
    return packs.groupBy("split").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_packs"),
        F.sum("pack_tokens").cast("bigint").alias("total_tokens"),
    )


@query(
    "doc_embedding_profile",
    oracle="""
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_embedding,
           round(CAST(sum(CAST(sqrt(list_dot_product(
                     list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                 AS DECIMAL(38,10))) AS DOUBLE)
                 / count(e.vec_id), 4) AS avg_norm
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang
    """,
    description="Cross-modal join profile: documents left-joined to their "
    "embedding rows (doc_id = vec_id — the text↔vector alignment every "
    "ANN/RAG pipeline performs before indexing), with per-language "
    "coverage counts and the mean L2 norm of the joined vectors (the "
    "sanity stat that catches unnormalized or zero embeddings before "
    "they poison a cosine index). Norm via the same sequential-fold dot "
    "product the ANN oracles pin bit-exact; exact-decimal mean. One "
    "broadcast-able join + one hash agg.",
)
def doc_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.vectors import as_double_array, spark_dot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = as_double_array(
        _t(spark, sf_dir, "embeddings"), "embedding", "v"
    ).select("vec_id", "v")
    joined = docs.join(emb, docs["doc_id"] == emb["vec_id"], "left")
    norm = F.expr(f"sqrt({spark_dot('v', 'v')})")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("vec_id").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_embedding"),
        F.round(
            F.sum(norm.cast("decimal(38,10)")).cast("double") / F.count("vec_id"), 4
        ).alias("avg_norm"),
    )


_V3_SEQ = 512  # packed-sequence length for the final accounting stage


@query(
    "llm_corpus_pipeline_v3",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, lang,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, w, u.h AS h FROM (
            SELECT doc_id, lang, CAST(len(th) AS BIGINT) AS w, unnest(th) AS h
            FROM th
            UNION ALL
            SELECT doc_id, lang, CAST(len(th) AS BIGINT) AS w,
                   unnest(list_transform(range(1, len(th)),
                          i -> (th[i] + th[i + 1]) % 1152921504606846976)) AS h
            FROM th)
        AS u(doc_id, lang, w, h)
    ),
    margins AS (
        SELECT doc_id, lang, w,
               CAST(sum(CAST(h % 997 / 996.0 - 0.5 AS DECIMAL(38,10)))
                    AS DOUBLE) / count(*) AS margin
        FROM feats GROUP BY doc_id, lang, w
    ),
    pass AS (
        SELECT doc_id, lang, w FROM margins WHERE margin > 0
    ),
    pfeats AS (
        SELECT f.doc_id, f.lang, f.w, f.h % {_DSIR_B} AS b
        FROM feats f JOIN pass p ON p.doc_id = f.doc_id
    ),
    tc AS (
        SELECT b, count(*) AS ct FROM pfeats WHERE lang = 'en' GROUP BY b
    ),
    rc AS (
        SELECT b, count(*) AS cr FROM pfeats GROUP BY b
    ),
    tot AS (
        SELECT (SELECT count(*) FROM pfeats WHERE lang = 'en') AS tt,
               (SELECT count(*) FROM pfeats) AS rt
    ),
    scored AS (
        SELECT f.doc_id, f.lang, f.w,
               CAST(sum(CAST(
                   ln((coalesce(tc.ct, 0) + 1) / CAST(tot.tt + {_DSIR_B} AS DOUBLE))
                 - ln((rc.cr + 1)            / CAST(tot.rt + {_DSIR_B} AS DOUBLE))
               AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS logw_norm
        FROM pfeats f
        JOIN rc ON f.b = rc.b
        LEFT JOIN tc ON f.b = tc.b
        CROSS JOIN tot
        GROUP BY f.doc_id, f.lang, f.w
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY logw_norm DESC, doc_id) AS rk,
               count(*) OVER () AS n
        FROM scored
    ),
    dsel AS (
        SELECT doc_id, lang, w FROM ranked WHERE rk <= n // 4
    ),
    p2 AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_dsir,
               CAST(sum(w) AS BIGINT) AS m
        FROM dsel GROUP BY lang
    ),
    tot2 AS (
        SELECT CAST(sum(m) AS BIGINT) AS total,
               CAST(sum(CAST(pow(m, 0.3) AS DECIMAL(38,10))) AS DOUBLE) AS z
        FROM p2
    ),
    budgets AS (
        SELECT lang, n_dsir,
               CAST(floor((total * 3 // 10) * (pow(m, 0.3) / z)) AS BIGINT)
                   AS budget_tokens
        FROM p2 CROSS JOIN tot2
    ),
    ordered AS (
        SELECT lang, w,
               sum(w) OVER (PARTITION BY lang
                            ORDER BY {T.duck_hash64("('v3|' || CAST(doc_id AS VARCHAR))")},
                                     doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM dsel
    ),
    sel AS (
        SELECT o.lang, o.w
        FROM ordered o JOIN budgets b USING (lang)
        WHERE o.cum <= b.budget_tokens
    ),
    p3 AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_sel,
               CAST(sum(w) AS BIGINT) AS toks
        FROM sel GROUP BY lang
    ),
    p1 AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_pass FROM pass GROUP BY lang
    )
    SELECT p1.lang, p1.n_pass,
           CAST(coalesce(b.n_dsir, 0) AS BIGINT) AS n_dsir_selected,
           CAST(coalesce(p3.n_sel, 0) AS BIGINT) AS n_selected,
           CAST(coalesce(b.budget_tokens, 0) AS BIGINT) AS budget_tokens,
           CAST(coalesce(p3.toks, 0) AS BIGINT) AS tokens_selected,
           CAST((coalesce(p3.toks, 0) + {_V3_SEQ - 1}) // {_V3_SEQ} AS BIGINT)
               AS n_seqs,
           CAST((coalesce(p3.toks, 0) + {_V3_SEQ - 1}) // {_V3_SEQ} * {_V3_SEQ}
                - coalesce(p3.toks, 0) AS BIGINT) AS pad_tokens
    FROM p1
    LEFT JOIN budgets b USING (lang)
    LEFT JOIN p3 USING (lang)
    """,
    description="END-TO-END curation pipeline v3: the round-5 SELECTION "
    "family composed in the realistic curation order, one plan, one "
    "oracle (the v2 pattern applied to the r5 additions): hashed-linear "
    "quality-classifier gate (margin > 0 over broadcast-free unigram+"
    "bigram hash features) -> DSIR importance resampling among the "
    "survivors (target-vs-raw LLR over 4096 hash buckets, LMs TRAINED ON "
    "THE PASSING SET so upstream filtering feeds downstream statistics, "
    "global top-quarter by the two-phase distributed prefix-sum rank — "
    "never a single-task window) -> per-language token-budget selection "
    "(alpha=0.3 temperature weights over the DSIR-selected token mass, "
    "greedy hash-priority prefix via the per-lang distributed prefix "
    "sum) -> packed-sequence accounting (concat-and-chunk at seq_len="
    f"{_V3_SEQ}: full sequences + pad waste per language). The corpus "
    "is tokenized ONCE (lazily checkpointed token-hash stage shared by "
    "the classifier and DSIR feature streams); both LMs and all "
    "per-language frames are O(buckets)/O(langs) broadcasts. Every "
    "stage's population is the previous stage's output, so the oracle "
    "locks the composition — not just each operator in isolation.",
)
def llm_corpus_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    docs = _ts(spark, sf_dir, "documents")
    # one tokenize+hash pass, shared by the classifier and DSIR branches
    th = docs.select(
        "doc_id",
        "lang",
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    ).localCheckpoint(eager=False)
    feats = th.select(
        "doc_id",
        "lang",
        F.expr("CAST(size(th) AS BIGINT)").alias("w"),
        F.explode(
            F.expr(
                "concat(th, CASE WHEN size(th) >= 2 THEN "
                "transform(sequence(1, size(th) - 1), "
                "i -> pmod(element_at(th, i) + element_at(th, i + 1), "
                "1152921504606846976L)) ELSE array() END)"
            )
        ).alias("h"),
    )
    # stage 1 — hashed-linear quality classifier (doc_quality_classifier)
    margins = feats.groupBy("doc_id", "lang", "w").agg(
        (
            F.sum(
                F.expr("CAST(pmod(h, 997) / 996.0 - 0.5 AS DECIMAL(38,10))")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("margin")
    )
    pass_docs = margins.filter(F.col("margin") > 0).select("doc_id", "lang", "w")
    # stage 2 — DSIR over the survivors: both LMs trained on the passing
    # set (doc_id-keyed join; auto-broadcasts at test SF, co-partitioned
    # hash join at scale)
    # NOT checkpointed despite four consumers (target LM, raw LM, totals,
    # the scored margin agg): materializing the ~tokens×2 feature stream
    # costs what the recompute costs (measured at sf0.1), and the
    # recompute stays an in-memory explode off the checkpointed th
    pfeats = feats.join(pass_docs.select("doc_id"), "doc_id").select(
        "doc_id", "lang", "w", F.expr(f"pmod(h, {_DSIR_B})").alias("b")
    )
    tc = pfeats.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("ct")
    )
    rc = pfeats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tot = pfeats.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
        F.count(F.lit(1)).alias("rt"),
    )
    scored = (
        pfeats.join(F.broadcast(rc), "b")
        .join(F.broadcast(tc), "b", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang", "w")
        .agg(
            (
                F.sum(
                    F.expr(
                        f"CAST(ln((coalesce(ct, 0) + 1) / CAST(tt + {_DSIR_B} AS DOUBLE))"
                        f" - ln((cr + 1) / CAST(rt + {_DSIR_B} AS DOUBLE))"
                        " AS DECIMAL(38,10))"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("logw_norm")
        )
        # lazy-checkpoint the per-doc scores: the two prefix sums each
        # collect quantile bounds (extra actions), and n_row/p2/p1 all
        # re-read this frame — without the cut they re-run the whole
        # classifier+DSIR feature aggregation per consumer
        .localCheckpoint(eager=False)
    )
    keyed = scored.select(
        "*", (-F.col("logw_norm")).alias("__negw"), F.lit(1).alias("__one")
    )
    n_row = scored.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_running_sum(
        keyed, order_by=["__negw", "doc_id"], value_col="__one", out_col="rk"
    ).crossJoin(F.broadcast(n_row))
    dsel = (
        ranked.filter(F.col("rk") <= F.expr("n div 4"))
        .select("doc_id", "lang", "w")
        .localCheckpoint(eager=False)  # read by p2, the budget cum, and sel
    )
    # stage 3 — per-language token budgets over the DSIR-selected mass
    p2 = dsel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dsir"),
        F.sum("w").cast("bigint").alias("m"),
    )
    tot2 = p2.agg(
        F.sum("m").cast("bigint").alias("total"),
        stable_sum(F.expr("pow(m, 0.3D)"), None).alias("z"),
    )
    budgets = p2.crossJoin(F.broadcast(tot2)).select(
        "lang",
        "n_dsir",
        F.expr(
            "CAST(floor((total * 3 DIV 10) * (pow(m, 0.3D) / z)) AS BIGINT)"
        ).alias("budget_tokens"),
    )
    withkey = dsel.select(
        "*",
        F.expr(
            T.spark_hash64("concat('v3|', cast(doc_id as string))")
        ).alias("__hb"),
    )
    cum = global_running_sum(
        withkey,
        order_by=["__hb", "doc_id"],
        value_col="w",
        partition_cols=["lang"],
        out_col="cum",
    )
    sel = cum.join(F.broadcast(budgets.select("lang", "budget_tokens")), "lang").filter(
        F.col("cum") <= F.col("budget_tokens")
    )
    p3 = sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sel"),
        F.sum("w").cast("bigint").alias("toks"),
    )
    p1 = pass_docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pass")
    )
    # stage 4 — packed-sequence accounting (concat-and-chunk)
    toks = F.coalesce(F.col("toks"), F.lit(0).cast("bigint"))
    seqs = F.expr(f"CAST((coalesce(toks, 0L) + {_V3_SEQ - 1}) div {_V3_SEQ} AS BIGINT)")
    return (
        p1.join(F.broadcast(budgets), "lang", "left")
        .join(F.broadcast(p3), "lang", "left")
        .select(
            "lang",
            "n_pass",
            F.coalesce("n_dsir", F.lit(0).cast("bigint")).alias("n_dsir_selected"),
            F.coalesce("n_sel", F.lit(0).cast("bigint")).alias("n_selected"),
            F.coalesce("budget_tokens", F.lit(0).cast("bigint")).alias(
                "budget_tokens"
            ),
            toks.alias("tokens_selected"),
            seqs.alias("n_seqs"),
            (seqs * _V3_SEQ - toks).cast("bigint").alias("pad_tokens"),
        )
    )


@query(
    "corpus_packing_manifest",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len({T.duck_tokens('text')}) AS BIGINT) AS w,
               {T.duck_hash64("('pack|' || CAST(doc_id AS VARCHAR))")} AS h
        FROM documents
    ),
    cum AS (
        SELECT lang, w,
               sum(w) OVER (PARTITION BY lang ORDER BY h, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks
    ),
    bins AS (
        SELECT lang, w,
               (cum - w) // {_V3_SEQ} AS first_bin,
               (cum - 1) // {_V3_SEQ} AS last_bin
        FROM cum WHERE w > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS total_tokens,
           CAST(max(last_bin) + 1 AS BIGINT) AS n_seqs,
           CAST(sum(CASE WHEN last_bin > first_bin THEN 1 ELSE 0 END)
                AS BIGINT) AS n_split_docs,
           CAST(max(last_bin - first_bin + 1) AS BIGINT) AS max_seqs_spanned,
           CAST((max(last_bin) + 1) * {_V3_SEQ} - sum(w) AS BIGINT)
               AS pad_tokens
    FROM bins GROUP BY lang
    """,
    description="The ACTUAL packing manifest behind pipeline v3's "
    "accounting: concat-and-chunk document packing (GPT-style) realized "
    f"as per-document SEQUENCE-BIN ids at seq_len={_V3_SEQ} — each "
    "document's [first_bin, last_bin] span falls out of the per-language "
    "cumulative token sum in deterministic hash order, computed by the "
    "two-phase distributed prefix sum (ops.relational.global_running_sum "
    "— never a one-task-per-language window), so the training-shard "
    "writer can route every document WITHOUT a global sort. Per-language "
    "stats lock the whole manifest: bin count (== ceil(mass/seq)), "
    "boundary documents split across sequences, worst-case span, tail "
    "padding. The manifest itself is the (doc_id -> bins) intermediate; "
    "a writer groups by bin id — one more uniform-key shuffle.",
)
def corpus_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr(f"CAST(size({T.spark_tokens('text')}) AS BIGINT)").alias("w"),
        F.expr(
            T.spark_hash64("concat('pack|', cast(doc_id as string))")
        ).alias("h"),
    )
    cum = global_running_sum(
        toks, order_by=["h", "doc_id"], value_col="w",
        partition_cols=["lang"], out_col="cum",
    )
    bins = cum.filter(F.col("w") > 0).select(
        "lang",
        "w",
        F.expr(f"(cum - w) div {_V3_SEQ}").alias("first_bin"),
        F.expr(f"(cum - 1) div {_V3_SEQ}").alias("last_bin"),
    )
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("total_tokens"),
        (F.max("last_bin") + 1).cast("bigint").alias("n_seqs"),
        F.sum(F.when(F.col("last_bin") > F.col("first_bin"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_split_docs"),
        (F.max(F.col("last_bin") - F.col("first_bin")) + 1)
        .cast("bigint")
        .alias("max_seqs_spanned"),
        ((F.max("last_bin") + 1) * _V3_SEQ - F.sum("w"))
        .cast("bigint")
        .alias("pad_tokens"),
    )


@query(
    "audio_pcm_chunk_stats",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents),
    samples AS (
        SELECT doc_id, i.i AS i,
               (doc_id * 31 + i.i * 7) % 65536 - 32768 AS s
        FROM ids, unnest(range(0, 1536 + doc_id % 1024)) AS i(i)
    ),
    chunks AS (
        SELECT doc_id, CAST(i // 1024 AS INTEGER) AS chunk_idx,
               CAST(count(*) AS INTEGER) AS n_samples,
               CAST(max(abs(s)) AS INTEGER) AS peak,
               CAST(sum(s * s) AS BIGINT) AS sum_sq
        FROM samples GROUP BY 1, 2
    )
    SELECT doc_id, chunk_idx, n_samples, peak, sum_sq,
           round(sqrt(sum_sq / CAST(n_samples AS DOUBLE)), 4) AS rms
    FROM chunks
    """,
    description="REAL audio feature extraction over opaque binary "
    "columns (ops/multimodal.py:synthesize_pcm + pcm_chunk_features): "
    "a deterministic PCM16-LE waveform packs per document, parses back "
    "zero-copy as little-endian int16 per Arrow batch, windows into "
    "1024-sample chunks (tail short), and emits exact integer features "
    "— count, peak, energy — with RMS derived engine-side. Raw PCM "
    "needs no codec, so unlike the disclosed image/video stubs this "
    "multimodal path is fully REAL in any environment; the oracle "
    "regenerates every feature from the waveform's arithmetic "
    "definition WITHOUT parsing bytes (the sensor_feed "
    "regenerate-don't-parse trick), so the byte pack/parse round-trip "
    "itself is value-locked. Scale: row-local mapInPandas fan-out "
    "(~samples/chunk rows per payload), no shuffle before the output.",
)
def audio_pcm_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        pcm_chunk_features,
        synthesize_pcm,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id")
    audio = synthesize_pcm(docs)
    feats = pcm_chunk_features(audio)
    return feats.select(
        "doc_id",
        "chunk_idx",
        "n_samples",
        "peak",
        "sum_sq",
        F.round(
            F.expr("sqrt(sum_sq / CAST(n_samples AS DOUBLE))"), 4
        ).alias("rms"),
    )


@query(
    "audio_wav_chunk_stats",
    oracle="""
    WITH ids AS (
        SELECT doc_id,
               8000 * (1 + doc_id % 3) AS sample_rate,
               2048 + (doc_id * 5) % 1536 AS n
        FROM documents
    ),
    samples AS (
        SELECT doc_id, sample_rate, i.i AS i,
               (doc_id * 37 + i.i * 11) % 65536 - 32768 AS s
        FROM ids, unnest(range(0, n)) AS i(i)
    ),
    chunks AS (
        SELECT doc_id, CAST(max(sample_rate) AS INTEGER) AS sample_rate,
               CAST(i // 512 AS INTEGER) AS chunk_idx,
               CAST(count(*) AS INTEGER) AS n_samples,
               CAST(max(abs(s)) AS INTEGER) AS peak,
               CAST(sum(s * s) AS BIGINT) AS sum_sq
        FROM samples GROUP BY doc_id, i // 512
    )
    SELECT doc_id, sample_rate, chunk_idx, n_samples, peak, sum_sq,
           round(sqrt(sum_sq / CAST(n_samples AS DOUBLE)), 4) AS rms,
           round(CAST(n_samples AS DOUBLE) * 1000 / sample_rate, 4)
               AS chunk_ms
    FROM chunks
    """,
    description="REAL audio container parse over opaque binary columns "
    "(ops/multimodal.py:synthesize_wav + wav_chunk_features — the "
    "VERDICT r11 #5 ask): a deterministic PCM16 waveform wraps per "
    "document in a GENUINE RIFF/WAVE container (stdlib struct chunk "
    "framing: fmt + fact + data, word-aligned), and the decoder's "
    "bounds-checked chunk walk (unknown chunks skipped, fmt validated "
    "as PCM mono 16-bit) recovers sample_rate + samples before "
    "512-sample windowing into exact integer features. The oracle "
    "regenerates every feature AND the container-carried sample_rate "
    "from the waveform's (id, i) arithmetic WITHOUT parsing bytes, so "
    "a hash match proves the WAV encode->decode round-trip bit-exact "
    "(the regenerate-don't-parse trick of image_pixel_stats). Scale: "
    "row-local mapInPandas fan-out, no shuffle before the output.",
)
def audio_wav_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        synthesize_wav,
        wav_chunk_features,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id")
    feats = wav_chunk_features(synthesize_wav(docs))
    return feats.select(
        "doc_id",
        "sample_rate",
        "chunk_idx",
        "n_samples",
        "peak",
        "sum_sq",
        F.round(
            F.expr("sqrt(sum_sq / CAST(n_samples AS DOUBLE))"), 4
        ).alias("rms"),
        F.round(
            F.expr("CAST(n_samples AS DOUBLE) * 1000 / sample_rate"), 4
        ).alias("chunk_ms"),
    )


# Shared by both image oracles: the deterministic test-image definition
# (ops/multimodal.py:_det_image) re-expressed in SQL. width/height are
# pure functions of doc_id; every pixel channel byte is
# (doc_id*31 + y*17 + x*5 + c*11) % 256 — so DuckDB regenerates decoded
# statistics WITHOUT parsing PNG bytes, and a hash match proves the
# Spark-side stdlib PNG encode→decode round-trip bit-exact.
_IMG_DIMS_DUCK = """
    dims AS (
        SELECT doc_id, source,
               8 + doc_id % 13 AS w,
               8 + (doc_id * 7) % 11 AS h
        FROM documents
    )
"""


@query(
    "image_pixel_stats",
    oracle=f"""
    WITH {_IMG_DIMS_DUCK},
    px AS (
        SELECT d.doc_id, d.source, d.w, d.h,
               sum((d.doc_id * 31 + y.y * 17 + x.x * 5 + c.c * 11) % 256)
                   AS psum,
               min((d.doc_id * 31 + y.y * 17 + x.x * 5 + c.c * 11) % 256)
                   AS pmin,
               max((d.doc_id * 31 + y.y * 17 + x.x * 5 + c.c * 11) % 256)
                   AS pmax
        FROM dims d,
             unnest(range(0, d.h)) AS y(y),
             unnest(range(0, d.w)) AS x(x),
             unnest(range(0, 3)) AS c(c)
        GROUP BY 1, 2, 3, 4
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(w) AS BIGINT) AS total_width,
           CAST(sum(h) AS BIGINT) AS total_height,
           CAST(3 AS INT) AS n_channels,
           CAST(sum(psum) AS BIGINT) AS px_sum,
           CAST(min(pmin) AS INT) AS px_min,
           CAST(max(pmax) AS INT) AS px_max
    FROM px GROUP BY source
    """,
    description="REAL image decode over opaque binary columns — the "
    "pixel path the r1-r10 multimodal family had stubbed, now computed: "
    "per document a deterministic RGB image encodes as genuine PNG "
    "bytes (stdlib-only encoder, scanline filters cycling all FIVE "
    "types — ops/multimodal.py:png_encode), and the decoder "
    "(zlib inflate + CRC-checked chunk walk + the five unfilters) "
    "recovers width/height/channels and exact integer pixel stats per "
    "Arrow batch. The oracle regenerates every statistic from the "
    "image's (id,y,x,c) arithmetic WITHOUT parsing bytes, so the PNG "
    "encode→decode round-trip itself is value-locked. Scale: the "
    "group-by column rides THROUGH the map stages (carry) instead of "
    "joining back to the source table — one scan, zero joins, the only "
    "shuffle is the final partial-combined agg; payloads prune away "
    "for metadata-only readers (columnar).",
)
def image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        png_pixel_stats,
        synthesize_png,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source")
    carry = {"source": "string"}
    stats = png_pixel_stats(
        synthesize_png(docs, carry=carry), carry=carry
    )
    return (
        stats.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.sum("width").cast("bigint").alias("total_width"),
            F.sum("height").cast("bigint").alias("total_height"),
            F.max("n_channels").cast("int").alias("n_channels"),
            F.sum("px_sum").cast("bigint").alias("px_sum"),
            F.min("px_min").cast("int").alias("px_min"),
            F.max("px_max").cast("int").alias("px_max"),
        )
    )


@query(
    "animation_frame_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id, source,
               6 + doc_id % 9 AS w,
               6 + (doc_id * 3) % 7 AS h,
               2 + doc_id % 4 AS nf
        FROM documents
    ),
    idxs AS (
        SELECT d.doc_id, d.source,
               (d.doc_id * 7 + f.f * 13 + y.y * 5 + x.x * 3) % 256 AS idx
        FROM dims d,
             unnest(range(0, d.nf)) AS f(f),
             unnest(range(0, d.h)) AS y(y),
             unnest(range(0, d.w)) AS x(x)
    ),
    rgb AS (
        SELECT doc_id, source, idx,
               (idx * 7) % 256 AS g, (idx * 13) % 256 AS b
        FROM idxs
    )
    SELECT r.source,
           CAST((SELECT count(*) FROM dims d WHERE d.source = r.source)
                AS BIGINT) AS n_docs,
           CAST((SELECT sum(nf) FROM dims d WHERE d.source = r.source)
                AS BIGINT) AS n_frames,
           CAST(sum(idx + g + b) AS BIGINT) AS total_rgb,
           CAST(min(least(idx, g, b)) AS INT) AS rgb_min,
           CAST(max(greatest(idx, g, b)) AS INT) AS rgb_max
    FROM rgb r GROUP BY r.source
    """,
    description="REAL multi-frame decode over an animated container — "
    "the frame-extraction path the r1-r10 family simulated with a "
    "byte-stride fake, now computed: per document a deterministic "
    "animation encodes as genuine GIF89a bytes (stdlib-only encoder: "
    "variable-width LZW with CLEAR/EOI and 4095-entry dictionary "
    "resets, 255-byte sub-blocks, graphics-control extensions — "
    "ops/multimodal.py:gif_encode), and the decoder walks blocks, "
    "inflates the LZW stream (KwKwK case included), and emits ONE ROW "
    "PER FRAME with exact integer stats over the palette-MAPPED RGB "
    "bytes, so the oracle locks the LZW round-trip AND the palette "
    "lookup. The oracle regenerates everything from the (id, frame, "
    "y, x) arithmetic WITHOUT parsing bytes. Scale: row-local "
    "mapInPandas with frame fan-out (N docs -> sum(nf) rows), group-by "
    "column carried through — one scan, zero joins, one agg shuffle. "
    "True video codecs (H.264) still need ffmpeg and stay stubbed.",
)
def animation_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        gif_frame_stats,
        synthesize_gif,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source")
    carry = {"source": "string"}
    stats = gif_frame_stats(synthesize_gif(docs, carry=carry), carry=carry)
    return stats.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("rgb_sum").cast("bigint").alias("total_rgb"),
        F.min("rgb_min").cast("int").alias("rgb_min"),
        F.max("rgb_max").cast("int").alias("rgb_max"),
    )


@query(
    "image_resize_stats",
    oracle=f"""
    WITH {_IMG_DIMS_DUCK},
    px AS (
        SELECT d.doc_id, d.source,
               sum((d.doc_id * 31 + ((y.y * d.h) // 6) * 17
                    + ((x.x * d.w) // 8) * 5 + c.c * 11) % 256) AS psum,
               min((d.doc_id * 31 + ((y.y * d.h) // 6) * 17
                    + ((x.x * d.w) // 8) * 5 + c.c * 11) % 256) AS pmin,
               max((d.doc_id * 31 + ((y.y * d.h) // 6) * 17
                    + ((x.x * d.w) // 8) * 5 + c.c * 11) % 256) AS pmax
        FROM dims d,
             unnest(range(0, 6)) AS y(y),
             unnest(range(0, 8)) AS x(x),
             unnest(range(0, 3)) AS c(c)
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(8 AS INT) AS width,
           CAST(6 AS INT) AS height,
           CAST(sum(psum) AS BIGINT) AS px_sum,
           CAST(min(pmin) AS INT) AS px_min,
           CAST(max(pmax) AS INT) AS px_max
    FROM px GROUP BY source
    """,
    description="REAL image resize through the full codec loop: PNG "
    "encode → decode → nearest-neighbor resample to 8x6 (source index "
    "= floor(target*src/target_dim), pure integer arithmetic) → PNG "
    "re-encode → decode again for stats — the N-bytes-in/M-bytes-out "
    "media transform with every byte real (ops/multimodal.py:"
    "resize_images). The oracle recomputes each resampled pixel from "
    "the (id, src_y, src_x, c) arithmetic, value-locking both codec "
    "passes AND the NN index math (a truncation-vs-round mismatch in "
    "either engine's floor division flips the hash). Scale: row-local "
    "map work with the group-by column carried through all three map "
    "stages (no join back, one scan); resized payloads are bounded "
    "(8x6x3) regardless of source dims, the shape a thumbnail/"
    "feature-extract stage needs.",
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        png_pixel_stats,
        resize_images,
        synthesize_png,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source")
    carry = {"source": "string"}
    small = resize_images(
        synthesize_png(docs, carry=carry),
        target_w=8,
        target_h=6,
        carry=carry,
    )
    stats = png_pixel_stats(small, carry=carry)
    return (
        stats.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.max("width").cast("int").alias("width"),
            F.max("height").cast("int").alias("height"),
            F.sum("px_sum").cast("bigint").alias("px_sum"),
            F.min("px_min").cast("int").alias("px_min"),
            F.max("px_max").cast("int").alias("px_max"),
        )
    )


@query(
    "video_mp4_frame_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id, source,
               6 + (doc_id * 5) % 9 AS w,
               6 + (doc_id * 3) % 7 AS h,
               2 + doc_id % 3 AS nf
        FROM documents
    ),
    frames AS (
        SELECT d.doc_id, d.source, d.w, d.h, f.f AS f,
               24 + (f.f % 2) * 12 AS dur
        FROM dims d, unnest(range(0, d.nf)) AS f(f)
    ),
    px AS (
        SELECT fr.doc_id, fr.source, fr.f, fr.w, fr.h, fr.dur,
               sum((fr.doc_id * 29 + fr.f * 23 + y.y * 17 + x.x * 5
                    + c.c * 11) % 256) AS psum,
               min((fr.doc_id * 29 + fr.f * 23 + y.y * 17 + x.x * 5
                    + c.c * 11) % 256) AS pmin,
               max((fr.doc_id * 29 + fr.f * 23 + y.y * 17 + x.x * 5
                    + c.c * 11) % 256) AS pmax
        FROM frames fr,
             unnest(range(0, fr.h)) AS y(y),
             unnest(range(0, fr.w)) AS x(x),
             unnest(range(0, 3)) AS c(c)
        GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(w) AS BIGINT) AS total_width,
           CAST(sum(h) AS BIGINT) AS total_height,
           CAST(sum(dur) AS BIGINT) AS total_ticks,
           CAST(sum(psum) AS BIGINT) AS px_sum,
           CAST(min(pmin) AS INT) AS px_min,
           CAST(max(pmax) AS INT) AS px_max
    FROM px GROUP BY source
    """,
    description="REAL video container demux + per-frame decode — the "
    "modality the r1-r11 family stubbed behind the ffmpeg probe, now "
    "computed for the intra-frame case: per document a deterministic "
    "video encodes as a genuine ISO BMFF file (ops/multimodal.py:"
    "mp4_encode — ftyp/mdat/moov with a FULL sample table: multi-run "
    "stts from alternating frame durations, multi-run stsc from "
    "2-sample chunking, absolute stco offsets) whose track carries the "
    "registered QuickTime 'png ' codec, each sample a real PNG frame. "
    "The decoder walks boxes bounds-checked, resolves stsc x stco x "
    "stsz to absolute sample spans (validated inside mdat), expands "
    "stts (validated against mdhd duration), and png_decodes every "
    "sample — so the oracle's hash locks the demux arithmetic AND both "
    "codec passes. The oracle regenerates pixel stats and container "
    "timing from the (id, f, y, x, c) arithmetic WITHOUT parsing "
    "bytes. Inter-frame codecs (H.264) still need ffmpeg and stay "
    "stubbed (sample_frames guard). Scale: row-local mapInPandas with "
    "frame fan-out, group-by column carried through — one scan, zero "
    "joins, one agg shuffle.",
)
def video_mp4_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        mp4_frame_stats,
        synthesize_mp4,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source")
    carry = {"source": "string"}
    stats = mp4_frame_stats(synthesize_mp4(docs, carry=carry), carry=carry)
    return stats.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("width").cast("bigint").alias("total_width"),
        F.sum("height").cast("bigint").alias("total_height"),
        F.sum("frame_dur").cast("bigint").alias("total_ticks"),
        F.sum("px_sum").cast("bigint").alias("px_sum"),
        F.min("px_min").cast("int").alias("px_min"),
        F.max("px_max").cast("int").alias("px_max"),
    )


@query(
    "image_jpeg_block_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id, source,
               1 + doc_id % 3 AS bw,
               1 + (doc_id * 2) % 3 AS bh
        FROM documents
    ),
    blocks AS (
        SELECT d.doc_id, d.source, d.bw, d.bh,
               (d.doc_id * 41 + by.by * 13 + bx.bx * 7) % 256 AS v
        FROM dims d,
             unnest(range(0, d.bh)) AS by(by),
             unnest(range(0, d.bw)) AS bx(bx)
    ),
    per AS (
        SELECT doc_id, source, max(bw) AS bw, max(bh) AS bh,
               sum(v) * 64 AS psum, min(v) AS pmin, max(v) AS pmax
        FROM blocks GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(bw * 8) AS BIGINT) AS total_width,
           CAST(sum(bh * 8) AS BIGINT) AS total_height,
           CAST(sum(psum) AS BIGINT) AS px_sum,
           CAST(min(pmin) AS INT) AS px_min,
           CAST(max(pmax) AS INT) AS px_max
    FROM per GROUP BY source
    """,
    description="REAL baseline JPEG codec — the last PIL-guarded image "
    "format, computed for the grayscale case (ops/multimodal.py:"
    "jpeg_encode/jpeg_decode): full DCT -> zigzag -> differential-DC + "
    "run-length-AC Huffman pipeline with the ITU T.81 Annex K code "
    "tables, JFIF marker framing, 0xFF byte stuffing, unit quant "
    "tables. A LOSSY codec is value-locked by construction: the test "
    "frames are block-CONSTANT, so the DCT concentrates each block "
    "into its DC coefficient (exact float64 integer), every AC "
    "quantizes to zero, and the round-trip is bit-exact through the "
    "entire entropy/transform machinery — the oracle regenerates every "
    "statistic from the (id, by, bx) arithmetic WITHOUT parsing bytes. "
    "General frames round-trip within +-1 (quantization rounding; unit "
    "tests pin that bound). Color/progressive JPEG still needs PIL and "
    "keeps the explicit guard. Scale: row-local mapInPandas, carry "
    "column rides through, one scan, one agg shuffle.",
)
def image_jpeg_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.multimodal import (
        jpeg_pixel_stats,
        synthesize_jpeg,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source")
    carry = {"source": "string"}
    stats = jpeg_pixel_stats(synthesize_jpeg(docs, carry=carry), carry=carry)
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.sum("width").cast("bigint").alias("total_width"),
        F.sum("height").cast("bigint").alias("total_height"),
        F.sum("px_sum").cast("bigint").alias("px_sum"),
        F.min("px_min").cast("int").alias("px_min"),
        F.max("px_max").cast("int").alias("px_max"),
    )


def _prefix_filter_oracle(t_num: int = 3, t_den: int = 5, k: int = 3) -> str:
    toks = T.duck_tokens("text")
    sh = T.duck_word_shingles("tk", k)
    # GROUND-TRUTH oracle: exact all-pairs Jaccard, no prefix mechanics —
    # a match therefore proves the Spark prefix filter has NO false
    # negatives (superset candidates + exact verify == exact all-pairs),
    # not merely that both engines replay the same heuristic.
    return f"""
    WITH corpus AS ({_near_dup_corpus_duck()}),
    tk AS (SELECT doc_id, {toks} AS tk FROM corpus),
    sets AS (
        SELECT doc_id, list_distinct({sh}) AS toks FROM tk
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM sets),
    sizes AS (SELECT doc_id, len(toks) AS n FROM sets),
    shared AS (
        SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
               count(*) AS n_shared
        FROM tok l JOIN tok r ON l.tok = r.tok AND l.doc_id < r.doc_id
        GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b, s.n_shared,
           (sa.n + sb.n - s.n_shared) AS n_union,
           round(CAST(s.n_shared AS DOUBLE)
                 / (sa.n + sb.n - s.n_shared), 4) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE {t_den} * s.n_shared >= {t_num} * (sa.n + sb.n - s.n_shared)
    """


@query(
    "doc_prefix_filter_pairs",
    oracle=_prefix_filter_oracle(),
    description="EXACT set-similarity self-join via prefix filtering "
    "(AllPairs/PPJoin family) over word-3-shingle sets: sets ordered "
    "rarest-first by the global (document-frequency, shingle) order, "
    "candidates join only on each doc's first n-ceil(t*n)+1 shingles "
    "(the prefix principle guarantees every Jaccard>=0.6 pair shares a "
    "prefix shingle), integer-exact length filter, in-row "
    "array_intersect verify — threshold compares are all integer "
    "arithmetic, so borderline pairs can't diverge across engines. The "
    "deterministic zero-false-negative complement to the MinHash-LSH "
    "tier; the oracle is exact ALL-PAIRS Jaccard, so a green row proves "
    "recall, not just replay. Plan: two shuffles + a candidate join "
    "keyed on RARE shingles — bounded buckets where a join on all "
    "tokens explodes on stop words; never n² at any scale.",
    skip_bench=True,  # same plan family as doc_near_dup_pairs; the dense
    # exact-verify tier is profiling-scale work like doc_char_jaccard_pairs
)
def doc_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import prefix_filter_pairs

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = prefix_filter_pairs(
        corpus, threshold_num=3, threshold_den=5, shingle_k=3
    )
    return pairs.select("doc_a", "doc_b", "n_shared", "n_union", "jaccard")


@query(
    "llm_corpus_pipeline_v4",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, lang,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    sp AS (
        SELECT doc_id, sp, count(*) AS cnt
        FROM (SELECT doc_id, unnest({T.duck_shingle_hashes('th', 8)}) AS sp FROM th)
        GROUP BY doc_id, sp
    ),
    tot AS (
        SELECT doc_id, cnt, sum(cnt) OVER (PARTITION BY sp) AS corpus_cnt
        FROM sp
    ),
    span_doc AS (
        SELECT doc_id,
               coalesce(round(
                   sum(CASE WHEN corpus_cnt >= 2 THEN cnt ELSE 0 END)
                   / CAST(sum(cnt) AS DOUBLE), 4), 0.0) AS dup_frac
        FROM tot GROUP BY doc_id
    ),
    chars AS (
        SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, unnest({T.duck_char_ngrams('text', 1)}) AS ch
              FROM documents)
        GROUP BY doc_id, ch
    ),
    ctot AS (
        SELECT doc_id, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS total
        FROM chars
    ),
    ent_doc AS (
        SELECT doc_id,
               round(-CAST(sum(CAST(
                   (cnt / CAST(total AS DOUBLE))
                   * log2(cnt / CAST(total AS DOUBLE))
               AS DECIMAL(38,18))) AS DOUBLE), 4) AS entropy
        FROM ctot GROUP BY doc_id
    ),
    verdicts AS (
        SELECT th.lang, len(th.th) AS token_count,
               CASE WHEN ent_doc.entropy < 3.8 THEN 'low_entropy'
                    WHEN coalesce(span_doc.dup_frac, 0.0) > 0.3 THEN 'dup_heavy'
                    ELSE 'kept' END AS verdict
        FROM th
        JOIN ent_doc ON ent_doc.doc_id = th.doc_id
        LEFT JOIN span_doc ON span_doc.doc_id = th.doc_id
    )
    SELECT lang,
           CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN verdict = 'low_entropy' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_entropy,
           CAST(sum(CASE WHEN verdict = 'dup_heavy' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_heavy,
           CAST(sum(CASE WHEN verdict = 'kept' THEN token_count ELSE 0 END)
                AS BIGINT) AS tokens_kept
    FROM verdicts GROUP BY lang
    """,
    description="Curation pipeline v4 composing THIS round's signal "
    "family in one plan, one oracle (the v2/v3 pattern): per-document "
    "character entropy (< 3.8 drops — machine/template text) and "
    "cross-corpus duplicate-span fraction (> 0.3 drops — Lee et al. "
    "copied-text mass) gate the corpus with PRIORITIZED drop reasons, "
    "and kept-token mass rolls up per language. The span branch and the "
    "token counts share ONE lazily-checkpointed token-hash stage "
    "(dup_span_stats_from_stage — tokenize once, not per signal); the "
    "entropy branch is the char-distribution scan. Every stage is "
    "replayed in a single DuckDB oracle, so the composition is "
    "value-locked end to end, not just stage by stage.",
)
def llm_corpus_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import (
        dup_span_stats_from_stage,
        token_hash_stage,
    )

    docs = _ts(spark, sf_dir, "documents")
    staged = token_hash_stage(docs).localCheckpoint(eager=False)
    span_doc = dup_span_stats_from_stage(staged, span_k=8).select(
        "doc_id", F.col("dup_span_fraction").alias("dup_frac")
    )
    toks = staged.select("doc_id", F.expr("size(__th)").alias("token_count"))

    chars = (
        docs.select(
            "doc_id", F.explode(F.expr(T.spark_char_ngrams("text", 1))).alias("ch")
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("doc_id")
    p = F.col("cnt") / F.sum("cnt").over(w).cast("double")
    ent_doc = (
        chars.withColumn("term", (p * F.log2(p)).cast("decimal(38,18)"))
        .groupBy("doc_id")
        .agg(F.round(-F.sum("term").cast("double"), 4).alias("entropy"))
    )
    dims = docs.select("doc_id", "lang")
    verdicts = (
        dims.join(ent_doc, "doc_id")
        .join(span_doc, "doc_id", "left")
        .join(toks, "doc_id")
        .select(
            "lang",
            "token_count",
            F.when(F.col("entropy") < 3.8, "low_entropy")
            .when(F.coalesce(F.col("dup_frac"), F.lit(0.0)) > 0.3, "dup_heavy")
            .otherwise("kept")
            .alias("verdict"),
        )
    )
    return verdicts.groupBy("lang").agg(
        F.sum(F.when(F.col("verdict") == "kept", 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("verdict") == "low_entropy", 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_entropy"),
        F.sum(F.when(F.col("verdict") == "dup_heavy", 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_heavy"),
        F.sum(F.when(F.col("verdict") == "kept", F.col("token_count")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )


@query(
    "contrastive_inbatch_pairs",
    oracle=f"""
    WITH sigs AS (
        SELECT doc_id,
               {T.duck_hash64("CAST(doc_id AS VARCHAR)")} % 16 AS batch_id,
               {T.duck_simhash(
                   "list_transform(" + T.duck_tokens('text')
                   + ", t -> " + T.duck_hash64('t') + ")", 48)} AS sh
        FROM documents
    ),
    cand AS (
        SELECT a.batch_id, a.doc_id AS doc_a, b.doc_id AS doc_b,
               CASE WHEN a.sh = b.sh THEN 1 ELSE 0 END AS fn
        FROM sigs a JOIN sigs b
          ON a.batch_id = b.batch_id AND a.doc_id < b.doc_id
    )
    SELECT CAST(count(DISTINCT batch_id) AS BIGINT) AS n_batches,
           CAST(count(*) AS BIGINT) AS n_candidate_pairs,
           CAST(sum(fn) AS BIGINT) AS n_false_negatives_excluded,
           CAST(count(*) - sum(fn) AS BIGINT) AS n_final_pairs
    FROM cand
    """,
    description="In-batch negative-pair assembly for contrastive "
    "training with FALSE-NEGATIVE exclusion (the DPR/SimCSE data-prep "
    "step): documents are bucketed into deterministic hash batches "
    "(batch = training in-batch negatives), all within-batch ordered "
    "pairs become candidate negatives, and pairs whose 48-bit SimHash "
    "fingerprints collide — near-identical texts that would be FALSE "
    "negatives and poison the contrastive loss — are counted out. "
    "Plan: one shuffle on the uniform hash batch key, within-batch "
    "self-join bounded by batch size (n/16 here, a constant B in a "
    "real assembly — pair work is O(n·B), never global n²), SimHash "
    "row-local. The oracle replays bucketing, pairing and the "
    "fingerprint exclusion bit-for-bit.",
)
def contrastive_inbatch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    toks = T.spark_tokens("text")
    th = f"transform({toks}, t -> {T.spark_hash64('t')})"
    sigs = docs.select(
        "doc_id",
        (F.expr(T.spark_hash64("CAST(doc_id AS STRING)")) % 16).alias("batch_id"),
        F.expr(T.spark_simhash(th, 48)).alias("sh"),
    ).localCheckpoint(eager=False)  # both sides of the within-batch join
    a = sigs.select(
        "batch_id", F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")
    )
    b = sigs.select(
        "batch_id", F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")
    )
    cand = (
        a.join(b, "batch_id")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "batch_id",
            F.when(F.col("sha") == F.col("shb"), 1).otherwise(0).alias("fn"),
        )
    )
    return cand.agg(
        F.countDistinct("batch_id").cast("bigint").alias("n_batches"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        F.sum("fn").cast("bigint").alias("n_false_negatives_excluded"),
        (F.count(F.lit(1)) - F.sum("fn")).cast("bigint").alias("n_final_pairs"),
    )


@query(
    "doc_char_entropy",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, lang, ch, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, lang,
                     unnest({T.duck_char_ngrams('text', 1)}) AS ch
              FROM documents)
        GROUP BY doc_id, lang, ch
    ),
    tot AS (
        SELECT doc_id, lang, cnt,
               sum(cnt) OVER (PARTITION BY doc_id) AS total
        FROM chars
    ),
    per_doc AS (
        SELECT doc_id, lang,
               round(-CAST(sum(CAST(
                   (cnt / CAST(total AS DOUBLE))
                   * log2(cnt / CAST(total AS DOUBLE))
               AS DECIMAL(38,18))) AS DOUBLE), 4) AS entropy
        FROM tot GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(entropy AS DECIMAL(38,10))) AS DOUBLE)
                 / count(entropy), 4) AS avg_entropy,
           CAST(sum(CASE WHEN entropy < 3.8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_entropy,
           round(min(entropy), 4) AS min_entropy,
           round(max(entropy), 4) AS max_entropy
    FROM per_doc GROUP BY lang
    """,
    description="Character-level Shannon entropy per document, rolled up "
    "per language — the compression-ratio-style quality signal "
    "(machine-generated, template, or binary-ish text scores low "
    "entropy; natural prose sits near the language's character entropy) "
    "without needing a codec: H = -sum p_c log2 p_c over the char "
    "distribution. Cross-engine float determinism the PageRank way: "
    "each p*log2(p) term is cast to DECIMAL(38,18) before the sum, so "
    "the per-doc entropy is independent of partitioning and addition "
    "order and hash-matches DuckDB despite the transcendental. Plan: "
    "one char explode -> (doc, char) pre-reduce -> per-doc window "
    "total + entropy agg -> tiny lang rollup; two uniform hash "
    "shuffles, alphabet-bounded per-doc row counts.",
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    chars = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.expr(T.spark_char_ngrams("text", 1))).alias("ch"),
        )
        .groupBy("doc_id", "lang", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("doc_id")
    p = F.col("cnt") / F.sum("cnt").over(w).cast("double")
    per_doc = (
        chars.withColumn("term", (p * F.log2(p)).cast("decimal(38,18)"))
        .groupBy("doc_id", "lang")
        .agg(F.round(-F.sum("term").cast("double"), 4).alias("entropy"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        stable_avg("entropy", 4).alias("avg_entropy"),
        F.sum(F.when(F.col("entropy") < 3.8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_entropy"),
        F.round(F.min("entropy"), 4).alias("min_entropy"),
        F.round(F.max("entropy"), 4).alias("max_entropy"),
    )


@query(
    "doc_bm25_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, t AS term
        FROM documents,
             UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        WHERE t <> ''
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    q(term) AS (VALUES ('merge'), ('window'), ('scan')),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf JOIN q USING (term) GROUP BY term),
    scored AS (
        SELECT t.doc_id,
               round(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                      / (CAST(df AS DOUBLE) + 0.5))
                     * (CAST(tf AS DOUBLE) * 2.2)
                     / (CAST(tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
                     4) AS s
        FROM tf t JOIN q USING (term) JOIN dfreq USING (term)
                  JOIN dl USING (doc_id), stats
    ),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                   round(CAST(sum(CAST(s AS DECIMAL(38,10))) AS DOUBLE), 4) AS bm25
            FROM scored GROUP BY doc_id)
    SELECT doc_id, n_terms, bm25 FROM agg
    ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
    description="BM25 (Okapi, k1=1.2 b=0.75) top-20 retrieval for a fixed "
    "3-term query: per-term saturation tf*(k1+1)/(tf + k1*(1-b+b*dl/"
    "avgdl)) with document-length normalization — the lexical-retrieval "
    "scorer behind search and RAG candidate generation, complementing "
    "the TF-IDF term profile. The idf is the RATIONAL Robertson form "
    "(N-df+0.5)/(df+0.5) with the log deliberately omitted — monotone, "
    "ranking identical, and cross-engine bit-exact where Math.log vs "
    "libm differ in the last ulp (same rationale as doc_tfidf_top_terms). "
    "Scale: tf/dl from one tokenize pass; df only over the 3 query "
    "terms; corpus stats and the per-term df are broadcast scalars; the "
    "final global top-20 is TakeOrderedAndProject (per-partition heaps), "
    "never a total sort.",
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    query_terms = ["merge", "window", "scan"]
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # one tokenize pass feeds tf, dl AND df — lazy barrier so the
    # explode+agg doesn't rerun per consumer (three references)
    tf = tf.localCheckpoint(eager=False)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qtf = tf.filter(F.col("term").isin(query_terms))
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        qtf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.expr(
                "round(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
                " / (CAST(df AS DOUBLE) + 0.5))"
                " * (CAST(tf AS DOUBLE) * 2.2)"
                " / (CAST(tf AS DOUBLE)"
                " + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)), 4)"
            ),
        )
    )
    from smartpool_bigdata_spark.functions import stable_sum

    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        stable_sum("s", 4).alias("bm25"),
    )
    return agg.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(20)


@query(
    "doc_token_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {T.duck_tokens('text')} AS toks FROM documents
    ),
    pairs AS (
        SELECT unnest(flatten(list_transform(range(1, 3), d ->
            CASE WHEN len(toks) > d
                 THEN list_transform(range(1, len(toks) - d + 1),
                                     i -> toks[i] || ' ' || toks[i + d])
                 ELSE [] END))) AS pair
        FROM toks
    ),
    pc AS (SELECT pair, count(*) AS n_pair FROM pairs GROUP BY pair),
    split_pc AS (
        SELECT string_split(pair, ' ')[1] AS token_a,
               string_split(pair, ' ')[2] AS token_b,
               n_pair
        FROM pc
    ),
    m AS (
        SELECT token_a, token_b, n_pair,
               sum(n_pair) OVER (PARTITION BY token_a) AS n_left,
               sum(n_pair) OVER (PARTITION BY token_b) AS n_right,
               sum(n_pair) OVER () AS n_total
        FROM split_pc
    )
    SELECT token_a, token_b,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           round(log2((CAST(n_pair AS DOUBLE) * CAST(n_total AS DOUBLE))
                      / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE))),
                 4) AS pmi
    FROM m WHERE n_pair >= 5
    """,
    description="Collocation extraction via windowed pointwise mutual "
    "information: directional token pairs within a +-2 position window "
    "are generated ROW-LOCALLY (a flatten/transform over the token "
    "array — O(n*w) per doc, never a positional self-join), counted, "
    "and scored pmi = log2(P(a,b) / (P_left(a) * P_right(b))) with the "
    "marginals derived from the pair table itself — the corpus-analysis "
    "primitive behind phrase mining and count-based embeddings "
    "(PMI-matrix factorization). Plan: one explode + one uniform "
    "(pair)-key shuffle; marginals are windows over the ALREADY "
    "AGGREGATED pair table keyed on each token (bounded by vocab "
    "pairings, no stop-word row blowup), and the corpus total is a "
    "broadcast scalar, not a single-task unpartitioned window.",
)
def doc_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    toks = T.spark_tokens("text")
    pair_expr = (
        f"flatten(transform(sequence(1, 2), d -> "
        f"CASE WHEN size({toks}) > d "
        f"THEN transform(sequence(1, size({toks}) - d), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + d))) "
        f"ELSE array() END))"
    )
    pc = (
        docs.select(F.explode(F.expr(pair_expr)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .select(
            F.split("pair", " ").getItem(0).alias("token_a"),
            F.split("pair", " ").getItem(1).alias("token_b"),
            "n_pair",
        )
    )
    total = pc.agg(F.sum("n_pair").alias("n_total"))
    wl = Window.partitionBy("token_a")
    wr = Window.partitionBy("token_b")
    m = (
        pc.withColumn("n_left", F.sum("n_pair").over(wl))
        .withColumn("n_right", F.sum("n_pair").over(wr))
        .crossJoin(F.broadcast(total))
    )
    return m.filter(F.col("n_pair") >= 5).select(
        "token_a",
        "token_b",
        "n_pair",
        "n_left",
        "n_right",
        F.round(
            F.log2(
                (F.col("n_pair").cast("double") * F.col("n_total").cast("double"))
                / (F.col("n_left").cast("double") * F.col("n_right").cast("double"))
            ),
            4,
        ).alias("pmi"),
    )


@query(
    "doc_dup_span_mass",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, lang, source,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    sp AS (
        SELECT doc_id, sp, count(*) AS cnt
        FROM (SELECT doc_id, unnest({T.duck_shingle_hashes('th', 8)}) AS sp FROM th)
        GROUP BY doc_id, sp
    ),
    tot AS (
        SELECT doc_id, cnt,
               sum(cnt) OVER (PARTITION BY sp) AS corpus_cnt
        FROM sp
    ),
    per_doc AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN corpus_cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_dup_spans
        FROM tot GROUP BY doc_id
    ),
    scored AS (
        SELECT th.lang, th.source,
               coalesce(n_spans, 0) AS n_spans,
               coalesce(n_dup_spans, 0) AS n_dup_spans,
               coalesce(round(n_dup_spans / CAST(n_spans AS DOUBLE), 4), 0.0)
                   AS dup_span_fraction
        FROM th LEFT JOIN per_doc ON th.doc_id = per_doc.doc_id
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_dup_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_with_dup,
           CAST(sum(CASE WHEN dup_span_fraction > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(n_spans) AS BIGINT) AS total_spans,
           CAST(sum(n_dup_spans) AS BIGINT) AS total_dup_spans,
           round(CAST(sum(CAST(dup_span_fraction AS DECIMAL(38,10))) AS DOUBLE)
                 / count(dup_span_fraction), 4) AS avg_dup_frac
    FROM scored GROUP BY lang, source
    """,
    description="Cross-corpus duplicate-span MASS (Lee et al. 2021 "
    "ExactSubstr at token granularity): every 8-token window hashed; a "
    "window value occurring >= 2 times anywhere in the corpus is "
    "duplicated text; per-document duplicated fraction rolled up to "
    "(lang, source) with a >0.3 flag count — the 'how much of my corpus "
    "is copied text' curation measure, complementary to the pairwise "
    "near-dup tiers (scores duplicate mass without ever forming doc "
    "pairs). Plan: explode -> (doc, span) pre-reduce -> corpus total per "
    "span via a hash-partitioned window on the span hash -> per-doc "
    "re-agg -> tiny dim join + rollup; two uniform hash shuffles over "
    "pre-reduced rows, no self-join, no candidate blowup — the span-key "
    "window is the scale-stable alternative to joining the corpus back "
    "against a counts table.",
)
def doc_dup_span_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import dup_span_stats

    docs = _ts(spark, sf_dir, "documents")
    per_doc = dup_span_stats(docs, span_k=8)
    dims = docs.select("doc_id", "lang", "source")
    return (
        dims.join(per_doc, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("n_dup_spans") > 0, 1).otherwise(0)
            ).cast("bigint").alias("n_docs_with_dup"),
            F.sum(
                F.when(F.col("dup_span_fraction") > 0.3, 1).otherwise(0)
            ).cast("bigint").alias("n_flagged"),
            F.sum("n_spans").alias("total_spans"),
            F.sum("n_dup_spans").alias("total_dup_spans"),
            stable_avg("dup_span_fraction", 4).alias("avg_dup_frac"),
        )
    )


def _duck_split_of(c: str) -> str:
    h = T.duck_hash64(f"CAST({c} AS VARCHAR)")
    return (
        f"CASE WHEN {h} % 100 < 80 THEN 'train' "
        f"WHEN {h} % 100 < 90 THEN 'valid' ELSE 'test' END"
    )


def _spark_split_of(c: str) -> F.Column:
    b = F.expr(T.spark_hash64(f"CAST({c} AS STRING)")) % 100
    return F.when(b < 80, "train").when(b < 90, "valid").otherwise("test")


_SPLIT_RANK_SQL = "CASE {s} WHEN 'train' THEN 0 WHEN 'valid' THEN 1 ELSE 2 END"


@query(
    "doc_split_leakage",
    oracle=f"""
    WITH pairs AS ({_near_dup_oracle()}),
    lab AS (
        SELECT jaccard,
               {_duck_split_of('doc_a')} AS sa,
               {_duck_split_of('doc_b')} AS sb
        FROM pairs
    ),
    ord AS (
        SELECT jaccard,
               CASE WHEN {_SPLIT_RANK_SQL.format(s='sa')}
                         <= {_SPLIT_RANK_SQL.format(s='sb')}
                    THEN sa ELSE sb END AS split_a,
               CASE WHEN {_SPLIT_RANK_SQL.format(s='sa')}
                         <= {_SPLIT_RANK_SQL.format(s='sb')}
                    THEN sb ELSE sa END AS split_b
        FROM lab
    )
    SELECT split_a, split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(CAST(jaccard AS DECIMAL(38,10))) AS DOUBLE)
                 / count(jaccard), 4) AS avg_jaccard
    FROM ord GROUP BY split_a, split_b
    """,
    description="Eval-contamination audit across the train/valid/test "
    "split: every verified near-duplicate pair (the doc_near_dup_pairs "
    "MinHash-LSH output) is labeled with BOTH endpoints' deterministic "
    "split assignment (the doc_train_split hash-bucket rule — a pure "
    "function of doc_id, so no join back to an assignment table is "
    "needed) and rolled up into a split×split duplication matrix. "
    "Off-diagonal mass (train↔valid, train↔test) IS the leakage a "
    "training pipeline must catch before the eval numbers go soft — the "
    "decontamination gate for self-built splits, complementing "
    "doc_decontamination's external-benchmark gate. Scale: pair volume "
    "is LSH-bounded (never all-pairs), split labels are row-local "
    "expressions over the pair stream, and the final matrix is at most "
    "3×3 — one banded shuffle plus a tiny agg.",
)
def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = minhash_near_dup_pairs(corpus, "doc_id", "text", shingle_k=3, threshold=0.5)
    sa, sb = _spark_split_of("doc_a"), _spark_split_of("doc_b")

    def rk(s: F.Column) -> F.Column:
        return F.when(s == "train", 0).when(s == "valid", 1).otherwise(2)

    a_first = rk(sa) <= rk(sb)
    labeled = pairs.select(
        F.when(a_first, sa).otherwise(sb).alias("split_a"),
        F.when(a_first, sb).otherwise(sa).alias("split_b"),
        "jaccard",
    )
    return labeled.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        stable_avg("jaccard", 4).alias("avg_jaccard"),
    )


_WSL_K = 40  # per-language draw size


@query(
    "doc_weighted_sample_per_lang",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len({T.duck_tokens('text')}) AS BIGINT) AS w,
               {T.duck_hash64("('wsl|' || CAST(doc_id AS VARCHAR))")} AS h
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, lang, w,
               ln(((h % 1000000) + 0.5) / 1000000.0) / w AS k
        FROM t
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                     PARTITION BY lang ORDER BY k DESC, doc_id) AS rn
        FROM keyed
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(w) AS BIGINT) AS tokens_selected,
           CAST(min(w) AS BIGINT) AS min_w_selected,
           CAST(max(w) AS BIGINT) AS max_w_selected
    FROM ranked WHERE rn <= {_WSL_K} GROUP BY lang
    """,
    description="Per-stratum weighted sampling without replacement: the "
    "Efraimidis-Spirakis exponential race (key = ln(u)/w, deterministic "
    "hash uniform u) run independently INSIDE each language — "
    f"{_WSL_K} docs per language drawn proportional to token count. "
    "Completes the sampling family: uniform stratified "
    "(doc_stratified_sample), weighted global (doc_weighted_sample), "
    "weighted per-group (this). The per-group form is what a mixing- "
    "weight-driven corpus builder actually runs — draw each language's "
    "budget proportionally to per-doc quality/length inside that "
    "language. Scale: key computation is row-local; the per-group top-K "
    "is a window over lang partitions (each language's rows hash to one "
    "shuffle partition group — no global sort); a single giant stratum "
    "would take the two-phase salted top-K rewrite that "
    "top_orders_per_priority demonstrates.",
)
def doc_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        F.expr(f"CAST(size({T.spark_tokens('text')}) AS BIGINT)").alias("w"),
        F.expr(
            "ln((pmod("
            + T.spark_hash64("concat('wsl|', cast(doc_id as string))")
            + ", 1000000) + 0.5) / 1000000.0D)"
        ).alias("lnu"),
    ).select("doc_id", "lang", "w", F.expr("lnu / w").alias("k"))
    win = Window.partitionBy("lang").orderBy(F.col("k").desc(), F.col("doc_id"))
    top = keyed.withColumn("rn", F.row_number().over(win)).filter(
        F.col("rn") <= _WSL_K
    )
    return top.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.sum("w").cast("bigint").alias("tokens_selected"),
        F.min("w").cast("bigint").alias("min_w_selected"),
        F.max("w").cast("bigint").alias("max_w_selected"),
    )


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({T.duck_tokens('text')}) AS w FROM documents)
        GROUP BY w
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> substr(w, i, 2))) AS pair,
               w, cnt
        FROM words WHERE length(w) >= 2
    )
    SELECT pair,
           CAST(sum(cnt) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT w) AS BIGINT) AS n_word_types
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 20
    """,
    description="BPE merge-candidate mining — the counting pass of "
    "byte-pair-encoding tokenizer training: the top-20 adjacent "
    "character pairs by corpus frequency (the next merges a BPE "
    "trainer would take), plus how many distinct word types each pair "
    "spans. Scale: the classic BPE optimization is built in — word "
    "frequencies are aggregated FIRST (one corpus-sized explode down "
    "to a vocab-sized table), and the char-pair explode runs over the "
    "vocab weighted by word count, so pair counting costs "
    "O(vocab × word_len), not O(corpus); the global top-20 is a "
    "TakeOrderedAndProject (per-partition top-k + driver merge), "
    "never a total sort.",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(T.spark_tokens("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "w",
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_occurrences"),
            F.countDistinct("w").cast("bigint").alias("n_word_types"),
        )
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )


_ZIPF_SLOPE_SQL = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"


@query(
    "corpus_zipf_slope",
    oracle=f"""
    WITH freqs AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({T.duck_tokens('text')}) AS w FROM documents)
        GROUP BY w
    ),
    ranked AS (
        SELECT w, cnt,
               row_number() OVER (ORDER BY cnt DESC, w) AS rnk
        FROM freqs
    ),
    pts AS (
        SELECT w, cnt, rnk,
               ln(CAST(rnk AS DOUBLE)) AS x,
               ln(CAST(cnt AS DOUBLE)) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
               max(CASE WHEN rnk = 1 THEN w END) AS top_token,
               CAST(max(CASE WHEN rnk = 1 THEN cnt END) AS BIGINT) AS top_freq
        FROM pts
    )
    SELECT n_types, n_tokens,
           round({_ZIPF_SLOPE_SQL}, 4) AS zipf_slope,
           round((sy - {_ZIPF_SLOPE_SQL} * sx) / n, 4) AS zipf_intercept,
           top_token, top_freq
    FROM s
    """,
    description="Zipf's-law fit of the corpus token distribution: "
    "least-squares slope/intercept of ln(freq) on ln(rank) — natural "
    "prose sits near slope -1; template/machine-generated corpora "
    "deviate, making the slope a corpus-level quality signal alongside "
    "doc_char_entropy's doc-level one. Rank over the vocab is the "
    "distributed prefix sum (running count ordered by freq desc via "
    "ops.relational.global_running_sum), NOT a one-task row_number "
    "window — a 100 TB corpus's vocab is itself hundreds of millions "
    "of types. Float determinism the entropy way: per-row ln terms are "
    "cast to DECIMAL(38,18) before summing, then the regression "
    "arithmetic is a fixed double sequence over those order-independent "
    "sums, written identically in both dialects.",
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    docs = _ts(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(F.expr(T.spark_tokens("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("negcnt", -F.col("cnt"))
        .withColumn("one", F.lit(1).cast("bigint"))
    )
    ranked = global_running_sum(
        freqs, order_by=["negcnt", "w"], value_col="one", out_col="rnk"
    )
    pts = ranked.select(
        "w",
        "cnt",
        "rnk",
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    dec = "decimal(38,18)"
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.max(F.when(F.col("rnk") == 1, F.col("w"))).alias("top_token"),
        F.max(F.when(F.col("rnk") == 1, F.col("cnt")))
        .cast("bigint")
        .alias("top_freq"),
    )
    slope = f"round({_ZIPF_SLOPE_SQL}, 4)"
    intercept = f"round((sy - {_ZIPF_SLOPE_SQL} * sx) / n, 4)"
    return s.selectExpr(
        "n_types",
        "n_tokens",
        f"{slope} AS zipf_slope",
        f"{intercept} AS zipf_intercept",
        "top_token",
        "top_freq",
    )


@query(
    "source_dup_matrix",
    oracle="""
    WITH corpus AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT 'mirror_' || source AS source, text
        FROM documents WHERE doc_id % 7 = 0
    ),
    gs AS (
        SELECT md5(text) AS dg, source, CAST(count(*) AS BIGINT) AS n
        FROM corpus GROUP BY md5(text), source
    ),
    p AS (
        SELECT a.dg, a.source AS source_a, b.source AS source_b,
               CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
                    ELSE a.n * b.n END AS np
        FROM gs a JOIN gs b ON a.dg = b.dg AND a.source <= b.source
    )
    SELECT source_a, source_b,
           CAST(sum(np) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT dg) AS BIGINT) AS n_groups
    FROM p WHERE np > 0 GROUP BY source_a, source_b
    """,
    description="Cross-source duplication flow matrix: for every exact-"
    "duplicate content group (md5 digest), how many duplicate PAIRS "
    "fall within each (source, source) cell — the 'who mirrors whom' "
    "diagnostic that decides which sources to drop or down-weight "
    "before spending near-dup compute (the raw table has no exact dups, "
    "so a mirror-site subset is planted deterministically in both "
    "dialects — every 7th doc re-hosted under 'mirror_<source>'). Pair "
    "counts are COMBINATORIAL, "
    "not materialized: the corpus reduces to (digest, source, n) — one "
    "uniform digest shuffle — and within-digest source pairs come from "
    "a self-join whose fan-out is bounded by distinct-sources-per-"
    "digest (≤|sources|, single digits), with n_a×n_b / C(n,2) "
    "arithmetic replacing doc-level pair explosion. Integer-exact "
    "throughout; the self-join is hinted shuffled-hash (digest-keyed "
    "frames scale with data, no sort needed).",
)
def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # Planted mirror site: every 7th doc re-hosted under 'mirror_<source>'
    # (the raw table has no exact dups by construction), so the matrix
    # demonstrably captures cross-source mirror flows at any sf.
    corpus = docs.select("source", "text").union(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            F.concat(F.lit("mirror_"), F.col("source")).alias("source"), "text"
        )
    )
    gs = (
        corpus.select(F.md5("text").alias("dg"), "source")
        .groupBy("dg", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = gs.select("dg", F.col("source").alias("source_a"), F.col("n").alias("na"))
    b = gs.select("dg", F.col("source").alias("source_b"), F.col("n").alias("nb"))
    pairs = (
        a.join(b.hint("shuffle_hash"), "dg")
        .filter(F.col("source_a") <= F.col("source_b"))
        .withColumn(
            "np",
            F.when(
                F.col("source_a") == F.col("source_b"),
                F.expr("CAST(na * (na - 1) DIV 2 AS BIGINT)"),
            ).otherwise(F.col("na") * F.col("nb")),
        )
        .filter(F.col("np") > 0)
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.sum("np").cast("bigint").alias("n_pairs"),
        F.countDistinct("dg").cast("bigint").alias("n_groups"),
    )


@query(
    "source_corpus_profile",
    oracle=f"""
    WITH toks AS (
        SELECT source, w
        FROM (SELECT source, unnest({T.duck_tokens('text')}) AS w
              FROM documents)
    ),
    tf AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        FROM toks GROUP BY source, w
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               CAST(max(cnt) AS BIGINT) AS max_type_freq
        FROM tf GROUP BY source
    ),
    docs AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
        GROUP BY source
    )
    SELECT per_source.source, n_docs, n_tokens, n_types, n_hapax,
           max_type_freq,
           round(n_types / CAST(n_tokens AS DOUBLE), 6) AS type_token_ratio,
           round(n_hapax / CAST(n_types AS DOUBLE), 6) AS hapax_ratio,
           round(ln(CAST(n_tokens AS DOUBLE)), 6) AS heaps_x,
           round(ln(CAST(n_types AS DOUBLE)), 6) AS heaps_y
    FROM per_source JOIN docs ON per_source.source = docs.source
    """,
    description="Per-source corpus profile: exact vocabulary size, hapax-"
    "legomenon count, type-token and hapax ratios, and the (ln tokens, "
    "ln types) Heaps'-law point — the per-source lexical-diversity "
    "fingerprint that flags template/boilerplate sources (low TTR, low "
    "hapax ratio) and spam sources (distorted Heaps exponent) before "
    "corpus mixing; the per-source companion of the global "
    "corpus_zipf_slope. Scale: the corpus-sized explode pre-reduces to "
    "(source, type, count) — one uniform shuffle on a two-part key — "
    "and everything after is per-source arithmetic over vocab-sized "
    "rows; the docs-count join is a per-source hash join on a "
    "handful of rows.",
)
def source_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.expr(T.spark_tokens("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    per_source = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.max("cnt").cast("bigint").alias("max_type_freq"),
    )
    ndocs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return per_source.join(ndocs, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_types",
        "n_hapax",
        "max_type_freq",
        F.round(F.col("n_types") / F.col("n_tokens").cast("double"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.col("n_hapax") / F.col("n_types").cast("double"), 6).alias(
            "hapax_ratio"
        ),
        F.round(F.log(F.col("n_tokens").cast("double")), 6).alias("heaps_x"),
        F.round(F.log(F.col("n_types").cast("double")), 6).alias("heaps_y"),
    )


@query(
    "doc_weighted_quality_quantiles",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({T.duck_tokens('text')}) AS BIGINT) AS w,
               round(len(list_distinct({T.duck_tokens('text')}))
                     / CAST(len({T.duck_tokens('text')}) AS DOUBLE), 4) AS s
        FROM documents
    ),
    c AS (
        SELECT s, w,
               sum(w) OVER (ORDER BY s, doc_id ROWS UNBOUNDED PRECEDING)
                   AS cumw
        FROM t
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM t)
    SELECT n_docs, total AS total_weight,
           min(CASE WHEN cumw * 4 >= total THEN s END) AS wq25,
           min(CASE WHEN cumw * 2 >= total THEN s END) AS wmedian,
           min(CASE WHEN cumw * 4 >= total * 3 THEN s END) AS wq75
    FROM c CROSS JOIN tot GROUP BY n_docs, total
    """,
    description="Token-weighted quality quantiles: the 25/50/75th "
    "percentiles of the per-doc unique-token-ratio score where each doc "
    "counts by its TOKEN MASS, not once — the statistic that answers "
    "'what quality is the median training token' (a few giant low-"
    "quality docs move it; doc-count quantiles hide them). This is the "
    "weighted-quantile primitive behind byte-balanced range splits and "
    "token-budget curation cuts. The cumulative weight is exact BIGINT "
    "(immune to window association order); quantile selection is "
    "integer-rational (cumw*4 >= q*total — no doubles until the scores "
    "themselves). Scale: on Spark the running weight is the "
    "DISTRIBUTED PREFIX SUM over (score, doc_id) order, not a one-task "
    "window; the threshold picks are one aggregate over the cumulative "
    "frame with the total broadcast.",
)
def doc_weighted_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    docs = _ts(spark, sf_dir, "documents")
    toks = T.spark_tokens("text")
    t = docs.select(
        "doc_id",
        F.expr(f"cast(size({toks}) as bigint)").alias("w"),
        F.round(
            F.expr(f"size(array_distinct({toks}))")
            / F.expr(f"cast(size({toks}) as double)"),
            4,
        ).alias("s"),
    )
    c = global_running_sum(
        t, order_by=["s", "doc_id"], value_col="w", out_col="cumw"
    )
    tot = t.agg(
        F.sum("w").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("n_docs", "total")
        .agg(
            F.min(F.when(F.col("cumw") * 4 >= F.col("total"), F.col("s"))).alias(
                "wq25"
            ),
            F.min(F.when(F.col("cumw") * 2 >= F.col("total"), F.col("s"))).alias(
                "wmedian"
            ),
            F.min(
                F.when(F.col("cumw") * 4 >= F.col("total") * 3, F.col("s"))
            ).alias("wq75"),
        )
        .select(
            "n_docs",
            F.col("total").alias("total_weight"),
            "wq25",
            "wmedian",
            "wq75",
        )
    )


@query(
    "doc_sorted_neighborhood_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_distinct({T.duck_word_shingles(T.duck_tokens('text'), 3)})
                   AS s
        FROM documents
    ),
    k AS (SELECT doc_id, s,
                 array_to_string(list_sort(s)[1:2], '|') AS key
          FROM t),
    r AS (SELECT doc_id, s, key,
                 row_number() OVER (ORDER BY key, doc_id) AS rnk
          FROM k),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                   AS j
        FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 3
    )
    SELECT doc_a, doc_b, rank_gap, round(j, 4) AS jaccard
    FROM pairs WHERE j >= 0.5
    """,
    description="Sorted-neighborhood near-duplicate blocking (the "
    "Hernandez-Stolfo merge/purge method) — the FOURTH blocking family "
    "alongside MinHash-LSH, SimHash bands and the Jaccard prefix "
    "filter: docs are globally ordered by a content-derived sort key "
    "(their two lexicographically-smallest word-3-shingles), and only "
    "docs within a rank window of 3 are compared, with an exact "
    "shingle-Jaccard verify at 0.5. Near-identical docs share their "
    "smallest shingles, so they sort adjacently; the method's recall/"
    "cost dial is the window width, not a hash-band count. Scale: the "
    "global rank is the DISTRIBUTED PREFIX SUM (ops.relational."
    "global_running_sum), not a one-task row_number window; windowed "
    "pairing is an EQUI-join on rank-window buckets (each row probes "
    "its own and the next bucket — every gap<=w pair matched exactly "
    "once, no range join, no self cross-join); the verify is in-row "
    "array algebra on candidates only.",
)
def doc_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    w = 3
    docs = _ts(spark, sf_dir, "documents")
    shingles = T.spark_word_shingles(T.spark_tokens("text"), 3)
    t = docs.select(
        "doc_id", F.array_distinct(F.expr(shingles)).alias("s")
    ).withColumn(
        "key", F.array_join(F.slice(F.array_sort("s"), 1, 2), "|")
    ).withColumn("one", F.lit(1).cast("bigint"))
    # global_running_sum range-partitions on its FIRST order column, which
    # must be numeric (approxQuantile). Encode the key's first 7 ASCII
    # bytes base-128: numeric order == lexicographic order on that prefix
    # (missing chars pad 0 < any byte, matching shorter-string-first), so
    # (key_num, key, doc_id) is the SAME total order as the oracle's
    # (key, doc_id); prefix collisions just share a range bucket.
    key_num = sum(
        (
            F.ascii(F.substring(F.col("key"), i + 1, 1)).cast("bigint")
            * F.lit(128 ** (6 - i)).cast("bigint")
        )
        for i in range(7)
    )
    r = global_running_sum(
        t.withColumn("key_num", key_num),
        order_by=["key_num", "key", "doc_id"],
        value_col="one",
        out_col="rnk",
    ).withColumn("bucket", F.floor((F.col("rnk") - 1) / w))
    left = r.select(
        F.col("doc_id").alias("doc_a"),
        F.col("s").alias("sa"),
        F.col("rnk").alias("ra"),
        F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("bk"),
    )
    right = r.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s").alias("sb"),
        F.col("rnk").alias("rb"),
        F.col("bucket").alias("bk"),
    )
    cands = (
        left.join(right.hint("shuffle_hash"), "bk")
        .filter(
            (F.col("rb") - F.col("ra") >= 1) & (F.col("rb") - F.col("ra") <= w)
        )
        .withColumn(
            "inter", F.expr("cast(size(array_intersect(sa, sb)) as bigint)")
        )
        .withColumn(
            "j",
            F.col("inter").cast("double")
            / (F.size("sa") + F.size("sb") - F.col("inter")),
        )
    )
    return cands.filter(F.col("j") >= 0.5).select(
        "doc_a",
        "doc_b",
        (F.col("rb") - F.col("ra")).cast("bigint").alias("rank_gap"),
        F.round(F.col("j"), 4).alias("jaccard"),
    )


@query(
    "source_discriminative_terms",
    oracle=f"""
    WITH dt AS (
        SELECT source, doc_id,
               unnest(list_distinct({T.duck_tokens('text')})) AS w
        FROM documents
    ),
    st AS (SELECT source, w, CAST(count(*) AS BIGINT) AS a
           FROM dt GROUP BY source, w),
    ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
           FROM documents GROUP BY source),
    dft AS (SELECT w, CAST(sum(a) AS BIGINT) AS df_t FROM st GROUP BY w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    scored AS (
        SELECT st.source, st.w AS term, st.a, dft.df_t, ns.n_s,
               CAST(n AS DOUBLE)
               * (CAST(a AS DOUBLE) * (n - n_s - df_t + a)
                  - CAST(n_s - a AS DOUBLE) * (df_t - a))
               * (CAST(a AS DOUBLE) * (n - n_s - df_t + a)
                  - CAST(n_s - a AS DOUBLE) * (df_t - a))
               / (CAST(n_s AS DOUBLE) * (n - n_s)
                  * CAST(df_t AS DOUBLE) * (n - df_t)) AS chi2
        FROM st JOIN ns ON st.source = ns.source
        JOIN dft ON st.w = dft.w CROSS JOIN tot
        WHERE dft.df_t < n
    )
    SELECT source, term, a AS df_in_source, df_t, n_s,
           round(chi2, 4) AS chi2
    FROM (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY chi2 DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
    description="Chi-square discriminative terms per source: for every "
    "(source, term), the 2x2 contingency chi-square of document "
    "frequency in-source vs rest-of-corpus, top-5 per source — the "
    "classic feature-selection / corpus-drift diagnostic ('which "
    "vocabulary makes this source different'), complementing "
    "source_corpus_profile's size-shape stats with content contrast. "
    "Ubiquitous terms (df = N) are excluded — they cannot discriminate "
    "and would zero the denominator. Scale: doc-frequency aggregation "
    "is one shuffle on (source, term); the term-total join is vocab-"
    "sized (Heaps-law sublinear); N and per-source doc counts are "
    "broadcast scalars; per-source top-5 uses the SALTED two-phase "
    "top-N (ops.relational.top_n_per_group low_cardinality=True) "
    "because sources are few — a plain window would sort each source's "
    "whole vocabulary in one task. All chi-square arithmetic is a "
    "fixed double sequence over exact integers, identical in both "
    "dialects.",
)
def source_discriminative_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import top_n_per_group

    docs = _ts(spark, sf_dir, "documents")
    dt = docs.select(
        "source",
        "doc_id",
        F.explode(F.array_distinct(F.expr(T.spark_tokens("text")))).alias("w"),
    )
    st = dt.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    ns = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    dft = st.groupBy("w").agg(F.sum("a").cast("bigint").alias("df_t"))
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    joined = (
        st.join(F.broadcast(ns), "source")
        .join(dft, "w")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("df_t") < F.col("n"))
    )
    # fixed double sequence: numerator = N * (a*d - b*c)^2 with
    # b = n_s - a, c = df_t - a, d = n - n_s - df_t + a; margins as product
    det = F.col("a").cast("double") * (
        F.col("n") - F.col("n_s") - F.col("df_t") + F.col("a")
    ) - (F.col("n_s") - F.col("a")).cast("double") * (
        F.col("df_t") - F.col("a")
    )
    chi2 = (
        F.col("n").cast("double")
        * det
        * det
        / (
            F.col("n_s").cast("double")
            * (F.col("n") - F.col("n_s"))
            * F.col("df_t").cast("double")
            * (F.col("n") - F.col("df_t"))
        )
    )
    scored = joined.select(
        "source",
        F.col("w").alias("term"),
        F.col("a").alias("df_in_source"),
        "df_t",
        "n_s",
        chi2.alias("__chi2_raw"),
    )
    top = top_n_per_group(
        scored,
        keys=["source"],
        order_by=[F.col("__chi2_raw").desc(), F.col("term")],
        n=5,
        low_cardinality=True,
    )
    return top.select(
        "source",
        "term",
        "df_in_source",
        "df_t",
        "n_s",
        F.round(F.col("__chi2_raw"), 4).alias("chi2"),
    )


@query(
    "vocab_editdist_pairs",
    oracle=f"""
    WITH vocab AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({T.duck_tokens('text')}) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    variants AS (
        SELECT w, unnest({T.duck_del2_variants('w')}) AS v FROM vocab
    ),
    cands AS (
        SELECT DISTINCT a.w AS w1, b.w AS w2
        FROM variants a JOIN variants b ON a.v = b.v AND a.w < b.w
    ),
    verified AS (
        SELECT w1, w2, CAST(levenshtein(w1, w2) AS BIGINT) AS dist
        FROM cands WHERE levenshtein(w1, w2) <= 2
    )
    SELECT p.w1, p.w2, p.dist,
           v1.cnt AS n1, v2.cnt AS n2,
           CASE WHEN v1.cnt >= v2.cnt THEN p.w1 ELSE p.w2 END AS canonical
    FROM verified p
    JOIN vocab v1 ON p.w1 = v1.w
    JOIN vocab v2 ON p.w2 = v2.w
    """,
    description="Edit-distance similarity join over the corpus vocabulary "
    "(SymSpell deletion-neighborhood signature): candidate pairs come "
    "from an EQUI-join on delete-<=2 variants — sound AND complete for "
    "levenshtein <= 2 by the SymSpell pigeonhole — then exact "
    "levenshtein verifies (shared variants can arise from distinct "
    "edits). The typo-correction / spelling-variant primitive of corpus "
    "cleaning, and a third similarity-join family alongside the Jaccard "
    "prefix-filter (doc_prefix_filter_pairs) and MinHash-LSH tiers. "
    "Scale: operates on the DISTINCT vocabulary (Heaps-law sublinear in "
    "corpus size) never on rows; the variant join is one shuffle on "
    "short string keys with O(len²) fan-out per word; never vocab². "
    "The count join-back is an equi-join on word — broadcastable while "
    "the candidate side is small, hash otherwise.",
)
def vocab_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.expr(T.spark_tokens("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    variants = vocab.select(
        "w", F.explode(F.expr(T.spark_del2_variants("w"))).alias("v")
    )
    a = variants.alias("a")
    b = variants.alias("b")
    cands = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.w") < F.col("b.w")))
        .select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .distinct()
    )
    verified = cands.select(
        "w1", "w2", F.levenshtein("w1", "w2").cast("bigint").alias("dist")
    ).filter(F.col("dist") <= 2)
    v1 = vocab.select(F.col("w").alias("w1"), F.col("cnt").alias("n1"))
    v2 = vocab.select(F.col("w").alias("w2"), F.col("cnt").alias("n2"))
    return (
        verified.join(v1, "w1")
        .join(v2, "w2")
        .select(
            "w1",
            "w2",
            "dist",
            "n1",
            "n2",
            F.when(F.col("n1") >= F.col("n2"), F.col("w1"))
            .otherwise(F.col("w2"))
            .alias("canonical"),
        )
    )

# corpus_mixture_plan's fixed plan constants, shared by both dialects:
# target mixture weights (percent) and the budget as a fraction of the
# total corpus token mass (3/5).
_MIX_WEIGHTS = {"en": 40, "zh": 30, "fr": 10, "de": 10, "es": 10}
_MIX_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items())
    + " ELSE 0 END"
)


@query(
    "corpus_mixture_plan",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang, len({T.duck_tokens('text')}) AS nt FROM documents
    ),
    per_lang AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS avail
        FROM per_doc GROUP BY lang
    ),
    w AS (
        SELECT *, CAST({_MIX_CASE} AS BIGINT) AS weight,
               CAST(sum(avail) OVER () * 3 // 5 AS BIGINT) AS budget
        FROM per_lang
    ),
    t AS (
        SELECT *, least(avail, weight * budget // 100) AS take1 FROM w
    ),
    r AS (
        SELECT *, budget - sum(take1) OVER () AS leftover,
               CASE WHEN avail > take1 THEN weight ELSE 0 END AS wcap,
               sum(CASE WHEN avail > take1 THEN weight ELSE 0 END)
                   OVER () AS wcap_tot
        FROM t
    ),
    f AS (
        SELECT *, take1 + least(avail - take1,
            CASE WHEN wcap_tot > 0 THEN wcap * leftover // wcap_tot
                 ELSE 0 END) AS allocated
        FROM r
    )
    SELECT lang, n_docs, avail AS available_tokens,
           CAST(weight * budget // 100 AS BIGINT) AS desired_tokens,
           CAST(allocated AS BIGINT) AS allocated_tokens,
           round(CAST(allocated AS DOUBLE) / avail, 4) AS sampling_rate
    FROM f
    """,
    description="Corpus mixture ALLOCATION plan (the step after "
    "corpus_language_mixing chooses weights — the Pile/LLaMA-style "
    "mixing recipe made executable): a fixed token budget (3/5 of the "
    "corpus) is split by target percentage weights, each language's "
    "take is capped at its available token mass, and the leftover from "
    "capped (low-resource) languages is redistributed one round "
    "proportionally to the weights of languages with remaining "
    "capacity. ALL allocation arithmetic is integer (div), so both "
    "engines agree bit-for-bit; sampling_rate = allocated/available "
    "feeds the downstream per-language weighted sampler "
    "(doc_weighted_sample_per_lang). One corpus scan, one O(langs) "
    "aggregate, window sums over the 5-row frame - no joins.",
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    docs = _ts(spark, sf_dir, "documents")
    per_lang = (
        docs.select(
            "lang", F.expr(f"size({T.spark_tokens('text')})").alias("nt")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("avail"),
        )
    )
    everything = _W.partitionBy()
    w = per_lang.select(
        "*",
        F.expr(f"CAST({_MIX_CASE} AS BIGINT)").alias("weight"),
        F.expr("CAST((sum(avail) OVER ()) * 3 div 5 AS BIGINT)").alias(
            "budget"
        ),
    )
    t = w.withColumn("take1", F.expr("least(avail, weight * budget div 100)"))
    r = t.select(
        "*",
        (F.col("budget") - F.sum("take1").over(everything)).alias("leftover"),
        F.expr("CASE WHEN avail > take1 THEN weight ELSE 0 END").alias("wcap"),
        F.sum(
            F.expr("CASE WHEN avail > take1 THEN weight ELSE 0 END")
        ).over(everything).alias("wcap_tot"),
    )
    f = r.withColumn(
        "allocated",
        F.expr(
            "take1 + least(avail - take1, CASE WHEN wcap_tot > 0 "
            "THEN wcap * leftover div wcap_tot ELSE 0 END)"
        ),
    )
    return f.select(
        "lang",
        "n_docs",
        F.col("avail").alias("available_tokens"),
        F.expr("CAST(weight * budget div 100 AS BIGINT)").alias(
            "desired_tokens"
        ),
        F.col("allocated").cast("bigint").alias("allocated_tokens"),
        F.round(F.expr("CAST(allocated AS DOUBLE) / avail"), 4).alias(
            "sampling_rate"
        ),
    )


@query(
    "classifier_calibration_eval",
    oracle=f"""
    WITH th AS (
        SELECT doc_id,
               list_contains({T.duck_tokens('text')}, 'spark') AS label,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    feats AS (
        SELECT doc_id, label, u.h AS h FROM (
            SELECT doc_id, label, unnest(th) AS h FROM th
            UNION ALL
            SELECT doc_id, label,
                   unnest(list_transform(range(1, len(th)),
                          i -> (th[i] + th[i + 1]) % 1152921504606846976)) AS h
            FROM th)
        AS u(doc_id, label, h)
    ),
    scored AS (
        SELECT doc_id, label,
               CAST(sum(CAST(CAST(
                    (h % 997) / CAST(996 AS DOUBLE) - 0.5
                    AS VARCHAR) AS DECIMAL(38,20)))
                    AS DOUBLE) / count(*) + CAST(0.5 AS DOUBLE) AS p
        FROM feats GROUP BY doc_id, label
    )
    SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 4) AS avg_pred,
           round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS frac_pos,
           round(abs(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE) / count(*)
                 - CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*)), 4) AS gap,
           round(CAST(sum(CAST(CAST(
                 (p - CASE WHEN label THEN 1.0 ELSE 0.0 END)
                 * (p - CASE WHEN label THEN 1.0 ELSE 0.0 END)
                 AS VARCHAR) AS DECIMAL(38,20))) AS DOUBLE), 4) AS sq_err
    FROM scored GROUP BY 1
    """,
    description="CALIBRATION evaluation of the hashed-feature quality "
    "classifier — the reliability-diagram harness every "
    "model-based-filtering pipeline needs before trusting a score "
    "threshold: per predicted-probability decile, count, mean "
    "prediction, observed positive rate, |gap| (the ECE numerator "
    "per bin) and the decimal-stable squared-error mass (so Brier = "
    "sum(sq_err)/sum(n_docs) and ECE = sum(n*gap)/sum(n) both fall "
    "out of the bin table). Prediction is the classifier's margin "
    "rationally rescaled to [0,1] (p = margin + 0.5) — sqrt/exp-free "
    "so bin ASSIGNMENT (floor(p*10)) is bit-identical across engines; "
    "the label is a text-derived binary (contains the token 'spark'), "
    "making the whole eval a pure function of the corpus. Scale: one "
    "scan, one doc_id shuffle for the margin agg, one 10-key hash agg "
    "— the eval costs no more than the inference pass it audits.",
)
def classifier_calibration_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    th = docs.select(
        "doc_id",
        F.expr(
            f"array_contains({T.spark_tokens('text')}, 'spark')"
        ).alias("label"),
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    )
    feats = th.select(
        "doc_id",
        "label",
        F.explode(
            F.expr(
                "concat(th, CASE WHEN size(th) >= 2 THEN "
                "transform(sequence(1, size(th) - 1), "
                "i -> pmod(element_at(th, i) + element_at(th, i + 1), "
                "1152921504606846976L)) ELSE array() END)"
            )
        ).alias("h"),
    )
    # per-feature weight as a DOUBLE division staged through the VARCHAR
    # hop (not the classifier's decimal-literal division): DuckDB and
    # Spark quantize decimal division at different scales, which leaves
    # p differing in the last ulp per doc — invisible to the classifier's
    # rounded avg, but enough to flip this query's sq_err at a round(.,4)
    # boundary (caught at sf0.1)
    scored = feats.groupBy("doc_id", "label").agg(
        (
            F.sum(
                F.expr(
                    "CAST(CAST(pmod(h, 997) / CAST(996 AS DOUBLE) - 0.5D "
                    "AS STRING) AS DECIMAL(38,20))"
                )
            ).cast("double")
            / F.count(F.lit(1))
            + F.lit(0.5).cast("double")
        ).alias("p")
    )
    lbl = F.when(F.col("label"), 1.0).otherwise(0.0)
    return scored.groupBy(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        stable_avg("p", 4).alias("avg_pred"),
        F.round(
            F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("frac_pos"),
        F.round(
            F.abs(
                F.sum(F.col("p").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
                - F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ),
            4,
        ).alias("gap"),
        F.round(
            # double->decimal via the VARCHAR hop: Spark casts through the
            # shortest decimal repr, DuckDB scales the raw binary — on
            # expansion boundaries the direct cast disagrees by 1e-10 per
            # addend, enough to flip round(sum, 4) at sf0.1 (caught by the
            # full-registry gate); the string hop pins both engines to the
            # shortest-repr semantics, like _wrap_double_rounds
            F.sum(
                F.expr(
                    "CAST(CAST((p - (CASE WHEN label THEN 1.0D ELSE 0.0D "
                    "END)) * (p - (CASE WHEN label THEN 1.0D ELSE 0.0D "
                    "END)) AS STRING) AS DECIMAL(38,20))"
                )
            ).cast("double"),
            4,
        ).alias("sq_err"),
    )


def _cluster_cohesion_oracle() -> str:
    return f"""{_dup_clusters_cte_prefix()},
    csz AS (
        SELECT component, CAST(count(*) AS BIGINT) AS n_docs
        FROM comp GROUP BY 1
    ),
    esz AS (
        SELECT comp.component, CAST(count(*) AS BIGINT) AS n_edges
        FROM pairs JOIN comp ON comp.node = pairs.doc_a GROUP BY 1
    )
    SELECT c.component, c.n_docs, e.n_edges,
           CAST(c.n_docs * (c.n_docs - 1) // 2 - e.n_edges AS BIGINT)
               AS missing_pairs,
           round(CAST(2 * e.n_edges AS DOUBLE)
                 / (c.n_docs * (c.n_docs - 1)), 4) AS density,
           4 * e.n_edges >= c.n_docs * (c.n_docs - 1) AS cohesive
    FROM csz c JOIN esz e USING (component)
    """


@query(
    "dup_cluster_cohesion_audit",
    oracle=_cluster_cohesion_oracle(),
    description="CHAINING-RISK audit of the near-dup clusters — the "
    "known failure mode of transitive-closure dedup: A~B and B~C chain "
    "A and C into one cluster even when A and C are nothing alike, so "
    "keep-one-per-cluster silently drops non-duplicates. Per cluster: "
    "size, verified-pair edge count, MISSING pair count and edge "
    "density (1.0 = clique = safe; low density on a big cluster = a "
    "chain, review before deleting); the `cohesive` flag (density >= "
    "1/2) is computed INTEGER-EXACTLY (4e >= n(n-1)) so the verdict "
    "can't flip on a float boundary. Costs one extra hash-agg over "
    "the pair table + a join of two cluster-sized frames on top of "
    "the clustering the pipeline already ran. The audit every "
    "production dedup (Gopher, RefinedWeb ablations) runs before "
    "committing to cluster-level deletion.",
    skip_bench=True,  # the pair stage is benched as doc_near_dup_pairs
)
def dup_cluster_cohesion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import connected_components

    # _ts (r13): the signature stage (tokenize + shingle + 32-perm
    # minhash) is the dominant map cost and arrives as 1-2 splits on
    # local testdata — spread parallelizes it (measured 2.8 -> 1.4 s
    # cold; the r3 "LSH loses from spread" reading was taken when the
    # warm signature cache hid this stage). No-op on cluster scans.
    docs = _ts(spark, sf_dir, "documents")
    corpus = _near_dup_corpus_spark(docs)
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text", shingle_k=3, threshold=0.5
    ).localCheckpoint(eager=True)  # consumed by CC and the edge counts
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    csz = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    esz = (
        pairs.join(cc, pairs["doc_a"] == cc["node"])
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    out = csz.join(esz, "component")
    poss = F.col("n_docs") * (F.col("n_docs") - 1)
    return out.select(
        "component",
        "n_docs",
        "n_edges",
        F.expr("n_docs * (n_docs - 1) div 2 - n_edges")
        .cast("bigint")
        .alias("missing_pairs"),
        F.round((2 * F.col("n_edges")).cast("double") / poss, 4).alias(
            "density"
        ),
        (4 * F.col("n_edges") >= poss).alias("cohesive"),
    )


def _lsh_scurve_oracle() -> str:
    toks = T.duck_tokens("text")
    jac = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
    )
    band_eq = " OR ".join(
        f"a.sig[{b * T.ROWS_PER_BAND + 1}:{(b + 1) * T.ROWS_PER_BAND}]"
        f" = b.sig[{b * T.ROWS_PER_BAND + 1}:{(b + 1) * T.ROWS_PER_BAND}]"
        for b in range(T.BANDS)
    )
    return f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({toks}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    sigs AS (
        SELECT doc_id,
               list_distinct({T.duck_shingle_hashes('th', 3)}) AS sh,
               {T.duck_minhash_sig(
                   f"list_distinct({T.duck_shingle_hashes('th', 3)})"
               )} AS sig
        FROM th
    ),
    prs AS (
        SELECT {jac} AS s,
               CASE WHEN {band_eq} THEN 1 ELSE 0 END AS caught
        FROM sigs a JOIN sigs b
          ON a.doc_id % 19 = 0 AND b.doc_id % 7 = 0
         AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) > 0
    ),
    scored AS (
        SELECT CAST(least(floor(s * 10), 9) AS INT) AS sim_bin, caught,
               1 - (((1 - (s * s) * (s * s)) * (1 - (s * s) * (s * s)))
                    * ((1 - (s * s) * (s * s)) * (1 - (s * s) * (s * s))))
                 * (((1 - (s * s) * (s * s)) * (1 - (s * s) * (s * s)))
                    * ((1 - (s * s) * (s * s)) * (1 - (s * s) * (s * s))))
                   AS p_theory
        FROM prs
    )
    SELECT sim_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(caught) AS BIGINT) AS n_caught,
           round(CAST(sum(CAST(caught AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 4) AS measured_rate,
           round(CAST(sum(CAST(p_theory AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 4) AS theoretical_rate
    FROM scored GROUP BY sim_bin
    """


@query(
    "lsh_scurve_eval",
    oracle=_lsh_scurve_oracle(),
    description="S-CURVE evaluation of the MinHash-LSH banding (b=8, "
    "r=4) — the tuning audit behind every near-dup threshold choice: "
    "on a deterministic two-sided sample of document pairs, per exact-"
    "Jaccard decile, the MEASURED band-collision rate vs the "
    "THEORETICAL 1-(1-s^4)^8 (expanded as pure repeated multiplication "
    "— no pow(), so both engines agree bit-for-bit). A drift between "
    "the columns means the permutation family is biased or a band "
    "refactor broke the geometry; the curve's shoulder placement is "
    "how you pick (b, r) for a target threshold. The all-pairs tier "
    "is EVAL-ONLY on ~0.8%% of the pair space (hash-sampled both "
    "sides); production candidate generation stays the banded "
    "one-shuffle path this query audits.",
    skip_bench=True,  # deliberate sampled all-pairs eval tier
)
def lsh_scurve_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    sh_expr = (
        f"array_distinct({T.spark_shingle_hashes('th', 3)})"
    )
    sigs = docs.select(
        "doc_id",
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    ).select(
        "doc_id",
        F.expr(sh_expr).alias("sh"),
        F.expr(T.spark_minhash_sig(sh_expr)).alias("sig"),
    )
    a = sigs.filter(F.col("doc_id") % 19 == 0).select(
        F.col("doc_id").alias("ida"), F.col("sh").alias("sha"),
        F.col("sig").alias("siga"),
    )
    b = sigs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("idb"), F.col("sh").alias("shb"),
        F.col("sig").alias("sigb"),
    )
    band_eq = " OR ".join(
        f"slice(siga, {bi * T.ROWS_PER_BAND + 1}, {T.ROWS_PER_BAND})"
        f" = slice(sigb, {bi * T.ROWS_PER_BAND + 1}, {T.ROWS_PER_BAND})"
        for bi in range(T.BANDS)
    )
    inter = "size(array_intersect(sha, shb))"
    prs = (
        F.broadcast(a)
        .crossJoin(b)  # eval-only: both sides are ~1/19 and ~1/7 samples
        .where((F.col("ida") < F.col("idb")) & F.expr(f"{inter} > 0"))
        .select(
            F.expr(
                f"CAST({inter} AS DOUBLE)"
                f" / (size(sha) + size(shb) - {inter})"
            ).alias("s"),
            F.expr(f"CASE WHEN {band_eq} THEN 1 ELSE 0 END").alias(
                "caught"
            ),
        )
    )
    s4 = "(s * s) * (s * s)"
    t4 = f"((1 - {s4}) * (1 - {s4})) * ((1 - {s4}) * (1 - {s4}))"
    scored = prs.select(
        F.expr("CAST(least(floor(s * 10), 9) AS INT)").alias("sim_bin"),
        "caught",
        F.expr(f"1 - ({t4}) * ({t4})").alias("p_theory"),
    )
    return scored.groupBy("sim_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("caught").cast("bigint").alias("n_caught"),
        F.round(
            F.sum(F.col("caught").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("measured_rate"),
        F.round(
            F.sum(F.col("p_theory").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("theoretical_rate"),
    )


@query(
    "doc_cdc_chunks",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, source,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    bounds AS (
        SELECT doc_id, source, th,
               list_filter(range(1, len(th) + 1), i -> th[i] % 64 = 0)
                   AS b
        FROM th
    ),
    starts AS (
        SELECT doc_id, source, th, b,
               list_concat([1], list_transform(b, x -> x + 1)) AS st
        FROM bounds
    ),
    chunks AS (
        SELECT doc_id, source,
               st[u.i] AS s,
               CASE WHEN u.i <= len(b) THEN b[u.i] ELSE len(th) END AS e,
               th
        FROM starts, unnest(range(1, len(st) + 1)) AS u(i)
    ),
    hashed AS (
        SELECT source, e - s + 1 AS chunk_tokens,
               md5(array_to_string(th[s:e], ',')) AS chunk_hash
        FROM chunks WHERE e >= s
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct,
           CAST(sum(chunk_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(chunk_tokens) AS DOUBLE) / count(*), 4)
               AS avg_chunk_tokens,
           round(1 - CAST(count(DISTINCT chunk_hash) AS DOUBLE)
                 / count(*), 4) AS dup_chunk_rate
    FROM hashed GROUP BY source
    """,
    description="CONTENT-DEFINED CHUNKING (rsync/LBFS-style): chunk "
    "boundaries fall where the token hash ≡ 0 mod 64 — a pure function "
    "of local content, so inserting text early in a document does NOT "
    "shift later chunk boundaries (the property fixed-stride chunking "
    "lacks, and the reason CDC is the dedup/delta-sync primitive: "
    "shared suffixes still dedup after edits). Expected chunk length "
    "64 tokens; per source: chunk count, distinct chunk hashes, and "
    "the duplicate-chunk rate that storage dedup would reclaim. All "
    "row-local array algebra (boundary filter, start/end zip, per-"
    "chunk md5) + one hash agg — one scan, no joins, no shuffle "
    "beyond the 5-key rollup.",
)
def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    th = docs.select(
        "doc_id",
        "source",
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    )
    bounds = th.withColumn(
        "b",
        F.expr("filter(sequence(1, size(th)), i -> element_at(th, i) % 64 = 0)"),
    )
    chunks = bounds.select(
        "source",
        "th",
        "b",
        F.posexplode(
            F.expr("concat(array(1), transform(b, x -> x + 1))")
        ).alias("ord0", "s"),
    ).select(
        "source",
        "s",
        F.expr(
            "CASE WHEN ord0 < size(b) THEN element_at(b, ord0 + 1) "
            "ELSE size(th) END"
        ).alias("e"),
        "th",
    )
    hashed = chunks.filter(F.col("e") >= F.col("s")).select(
        "source",
        (F.col("e") - F.col("s") + 1).alias("chunk_tokens"),
        F.expr(
            "md5(array_join(transform(slice(th, s, e - s + 1), "
            "x -> cast(x as string)), ','))"
        ).alias("chunk_hash"),
    )
    return hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("chunk_hash").cast("bigint").alias("n_distinct"),
        F.sum("chunk_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("chunk_tokens").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_chunk_tokens"),
        F.round(
            1
            - F.countDistinct("chunk_hash").cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("dup_chunk_rate"),
    )


@query(
    "vocab_coverage_eval",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {T.duck_hash64("('vs|' || CAST(doc_id AS VARCHAR))")} % 5 AS fold,
               u.tok
        FROM documents, unnest({T.duck_tokens('text')}) AS u(tok)
    ),
    train AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE fold != 0 GROUP BY tok
    ),
    ranked AS (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
        FROM train
    ),
    ks AS (SELECT unnest([64, 256, 1024, 4096]) AS k),
    test AS (SELECT tok FROM toks WHERE fold = 0)
    SELECT CAST(k.k AS BIGINT) AS vocab_size,
           CAST(count(*) AS BIGINT) AS n_test_tokens,
           CAST(sum(CASE WHEN r.rk IS NOT NULL AND r.rk <= k.k
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN r.rk IS NOT NULL AND r.rk <= k.k
                     THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6)
               AS oov_rate
    FROM test t
    CROSS JOIN ks k
    LEFT JOIN ranked r ON r.tok = t.tok
    GROUP BY k.k
    """,
    description="VOCABULARY COVERAGE curve — the tokenizer-sizing eval: "
    "build a frequency-ranked vocabulary from 4/5 of the corpus "
    "(hash-split by doc), then measure the held-out OOV rate at "
    "vocab sizes 64/256/1k/4k. The knee of this curve is how you "
    "pick a vocab budget; the held-out split (not train coverage) is "
    "what makes it honest — memorized hapaxes don't count. "
    "Deterministic rank ties on the token string. Scale: vocabulary "
    "is Heaps-law sublinear in corpus size, so the rank window runs "
    "on the DISTINCT-token frame; the test side joins the ranked "
    "vocab by token hash join and the 4-size fan-out is a broadcast "
    "cross join of a 4-row frame — one corpus scan total.",
)
def vocab_coverage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _ts(spark, sf_dir, "documents")
    _h = T.spark_hash64("concat('vs|', cast(doc_id as string))")
    fold = F.expr(f"pmod({_h}, 5)")
    toks = docs.select(
        fold.alias("fold"),
        F.explode(F.expr(T.spark_tokens("text"))).alias("tok"),
    )
    train = (
        toks.filter(F.col("fold") != 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ranked = train.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("tok").asc())
        ),
    ).select("tok", "rk")
    ks = spark.createDataFrame([(64,), (256,), (1024,), (4096,)], ["k"])
    test = toks.filter(F.col("fold") == 0).select("tok")
    oov = F.when(
        F.col("rk").isNotNull() & (F.col("rk") <= F.col("k")), 0
    ).otherwise(1)
    return (
        test.join(ranked.hint("shuffle_hash"), "tok", "left")
        .crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").alias("vocab_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            F.round(
                F.sum(oov).cast("double") / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
    )


@query(
    "source_ngram_diversity",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, source,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    grams AS (
        SELECT source, u.g
        FROM th, unnest({T.duck_shingle_hashes('th', 4)}) AS u(g)
        WHERE len(th) >= 4
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
        FROM grams GROUP BY source
    ),
    owners AS (
        SELECT g, count(DISTINCT source) AS n_sources FROM grams GROUP BY g
    ),
    uniq AS (
        SELECT gr.source,
               CAST(count(DISTINCT gr.g) AS BIGINT) AS n_exclusive
        FROM grams gr JOIN owners o ON o.g = gr.g AND o.n_sources = 1
        GROUP BY gr.source
    )
    SELECT p.source, p.n_grams, p.n_distinct,
           round(CAST(p.n_distinct AS DOUBLE) / p.n_grams, 6)
               AS diversity,
           coalesce(u.n_exclusive, 0) AS n_exclusive,
           round(CAST(coalesce(u.n_exclusive, 0) AS DOUBLE)
                 / p.n_distinct, 6) AS exclusivity
    FROM per_source p LEFT JOIN uniq u USING (source)
    """,
    description="N-GRAM DIVERSITY audit per source — the self-repetition "
    "metric (distinct-4-gram ratio, the corpus-level form of "
    "self-BLEU) that flags template-generated or boilerplate-heavy "
    "sources before they flatten a training mix, plus EXCLUSIVITY "
    "(share of the source's distinct 4-grams that appear in no other "
    "source — how much genuinely new text it contributes vs "
    "cross-source recycling). Complements doc_repetition_signals "
    "(within-doc) and source_dup_matrix (pairwise overlap) with the "
    "per-source marginal view. Scale: one scan -> 4-gram explode with "
    "map-side-combined counts; the ownership pass is one hash agg on "
    "the DISTINCT gram table (vocabulary-sized, Heaps-sublinear) "
    "joined back by gram hash — never doc x doc.",
)
def source_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    grams = docs.select(
        "source",
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    ).filter(F.expr("size(th) >= 4")).select(
        "source",
        F.explode(F.expr(T.spark_shingle_hashes("th", 4))).alias("g"),
    )
    grams = grams.localCheckpoint(eager=True)  # feeds counts + ownership
    per_source = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.countDistinct("g").cast("bigint").alias("n_distinct"),
    )
    owners = grams.groupBy("g").agg(
        F.countDistinct("source").alias("n_sources")
    )
    uniq = (
        grams.join(
            owners.filter(F.col("n_sources") == 1).hint("shuffle_hash"),
            "g",
        )
        .groupBy("source")
        .agg(F.countDistinct("g").cast("bigint").alias("n_exclusive"))
    )
    return (
        per_source.join(F.broadcast(uniq), "source", "left")
        .select(
            "source",
            "n_grams",
            "n_distinct",
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_grams"), 6
            ).alias("diversity"),
            F.coalesce("n_exclusive", F.lit(0)).alias("n_exclusive"),
            F.round(
                F.coalesce("n_exclusive", F.lit(0)).cast("double")
                / F.col("n_distinct"),
                6,
            ).alias("exclusivity"),
        )
    )


@query(
    "classifier_auc_eval",
    oracle=f"""
    WITH th AS (
        SELECT doc_id,
               list_contains({T.duck_tokens('text')}, 'spark') AS label,
               list_transform({T.duck_tokens('text')}, t -> {T.duck_hash64('t')}) AS th
        FROM documents
    ),
    feats AS (
        SELECT doc_id, label, u.h AS h FROM (
            SELECT doc_id, label, unnest(th) AS h FROM th
            UNION ALL
            SELECT doc_id, label,
                   unnest(list_transform(range(1, len(th)),
                          i -> (th[i] + th[i + 1]) % 1152921504606846976)) AS h
            FROM th)
        AS u(doc_id, label, h)
    ),
    scored AS (
        SELECT doc_id, label,
               CAST(CAST(sum(h % 997) AS BIGINT) AS DOUBLE)
                   / CAST(count(*) AS BIGINT) AS score
        FROM feats GROUP BY doc_id, label
    ),
    grp AS (
        SELECT score, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT cnt, pos,
               sum(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum
        FROM grp
    ),
    agg AS (
        SELECT CAST(sum(pos * (2 * cum - cnt + 1)) AS BIGINT) AS s2,
               CAST(sum(pos) AS BIGINT) AS np,
               CAST(sum(cnt) AS BIGINT) AS n
        FROM cum
    )
    SELECT np AS n_pos, n - np AS n_neg, s2 AS rank_sum2,
           round(CAST(s2 - np * (np + 1) AS DOUBLE)
                 / CAST(2 * np * (n - np) AS DOUBLE), 6) AS auc,
           round(CAST(s2 - np * (np + 1) AS DOUBLE)
                 / CAST(np * (n - np) AS DOUBLE) - 1, 6) AS gini
    FROM agg
    """,
    description="EXACT ROC-AUC of the hashed-feature classifier, "
    "computed distributed as the tie-corrected Mann-Whitney rank-sum "
    "statistic — the eval every model-based filter needs beside "
    "calibration (calibration_eval says whether scores mean what they "
    "claim; AUC says whether they RANK). No sort-all-rows, no per-row "
    "window: scores collapse to per-distinct-score (count, positives) "
    "groups, the global prefix sum over score groups runs through "
    "global_running_sum (distributed range-partitioned prefix sums — "
    "never one reducer), and tied scores get their exact average rank "
    "via the 2x-integer identity 2*avgrank = 2*cum - cnt + 1, so the "
    "doubled positive rank-sum (rank_sum2) is an INTEGER the oracle "
    "value-locks exactly; AUC and Gini are one terminal division. The "
    "score is the integer margin ratio (identical IEEE division from "
    "identical ints in both engines, so score-equality groups match "
    "bit-for-bit). Scale: one corpus scan, one doc shuffle, one "
    "range-partition pass over distinct scores.",
)
def classifier_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    docs = _ts(spark, sf_dir, "documents")
    th = docs.select(
        "doc_id",
        F.expr(
            f"array_contains({T.spark_tokens('text')}, 'spark')"
        ).alias("label"),
        F.expr(
            f"transform({T.spark_tokens('text')}, t -> {T.spark_hash64('t')})"
        ).alias("th"),
    )
    feats = th.select(
        "doc_id",
        "label",
        F.explode(
            F.expr(
                "concat(th, CASE WHEN size(th) >= 2 THEN "
                "transform(sequence(1, size(th) - 1), "
                "i -> pmod(element_at(th, i) + element_at(th, i + 1), "
                "1152921504606846976L)) ELSE array() END)"
            )
        ).alias("h"),
    )
    scored = feats.groupBy("doc_id", "label").agg(
        (
            F.sum(F.expr("pmod(h, 997)")).cast("bigint").cast("double")
            / F.count(F.lit(1)).cast("bigint")
        ).alias("score")
    )
    grp = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("bigint").alias("pos"),
    )
    cum = global_running_sum(
        grp, order_by=["score"], value_col="cnt", out_col="cum"
    )
    agg = cum.agg(
        F.sum(F.col("pos") * (2 * F.col("cum") - F.col("cnt") + 1))
        .cast("bigint")
        .alias("s2"),
        F.sum("pos").cast("bigint").alias("np"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        (F.col("n") - F.col("np")).alias("n_neg"),
        F.col("s2").alias("rank_sum2"),
        F.round(
            (F.col("s2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (2 * F.col("np") * (F.col("n") - F.col("np"))).cast("double"),
            6,
        ).alias("auc"),
        F.round(
            (F.col("s2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (F.col("np") * (F.col("n") - F.col("np"))).cast("double")
            - 1,
            6,
        ).alias("gini"),
    )



@query(
    "vocab_good_turing",
    oracle="""
    WITH toks AS (
        SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    tok AS (
        SELECT unnest(CASE WHEN len(t) >= 5
                      THEN list_transform(range(1, len(t)-5+2),
                           i -> array_to_string(t[i:i+4], ' '))
                      ELSE [] END) AS w
        FROM toks
    ),
    tf AS (SELECT w, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY w),
    freqfreq AS (
        SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY r
    ),
    tot AS (
        SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
               CAST(sum(n_r) AS BIGINT) AS vocab
        FROM freqfreq
    )
    SELECT f.r,
           f.n_r,
           round(CAST(f.r AS DOUBLE) * f.n_r / tot.n_tokens, 6)
               AS prob_mass,
           round(CAST(f.r + 1 AS DOUBLE)
                 * coalesce(nx.n_r, 0) / f.n_r, 6) AS gt_adjusted_count,
           round(CAST((SELECT n_r FROM freqfreq WHERE r = 1) AS DOUBLE)
                 / tot.n_tokens, 6) AS missing_mass,
           tot.n_tokens, tot.vocab
    FROM freqfreq f
    LEFT JOIN freqfreq nx ON nx.r = f.r + 1
    CROSS JOIN tot
    WHERE f.r <= 5
    """,
    description="GOOD-TURING frequency estimation over the corpus "
    "5-GRAM distribution (Good 1953 — the unseen-mass primitive behind "
    "n-gram LM smoothing and 'how much of the language have we not "
    "crawled yet'; 5-grams, not words, because the testbed's 30-word "
    "vocabulary has no rare words while its 5-gram space has a real "
    "singleton tail at every SF): shingles collapse to (gram -> count "
    "r), counts collapse to "
    "the frequency-of-frequencies table N_r, and the estimator reads "
    "straight off it — P(next token is UNSEEN) = N_1/N (the missing "
    "mass), and the adjusted count r* = (r+1) N_{r+1}/N_r for the low "
    "frequencies where raw ML estimates are most biased (reported for "
    "r <= 5, where smoothing matters; the raw per-rank probability "
    "mass rides alongside). All counts exact integers; the only "
    "doubles are fixed ratios. Scale: two hash aggs — corpus -> vocab "
    "-> #distinct-frequencies (a few hundred rows by Zipf) — then "
    "everything runs on the N_r frame; the same Heaps-sublinear "
    "collapse as the Zipf-slope and coverage gates.",
)
def vocab_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.expr(T.spark_word_shingles(T.spark_tokens("text"), 5))
        ).alias("w")
    )
    tf = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    ff = tf.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    tot = ff.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tokens"),
        F.sum("n_r").cast("bigint").alias("vocab"),
    )
    # aggregate (not filter) so n1 is ALWAYS exactly one row: a corpus
    # with no 5-gram singletons must yield NULL missing_mass like the
    # oracle's scalar subquery, not an empty cross-join that erases the
    # whole result frame
    n1 = ff.agg(
        F.max(F.when(F.col("r") == 1, F.col("n_r"))).alias("n1_singletons")
    )
    nx = ff.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        ff.where(F.col("r") <= 5)
        .join(F.broadcast(nx), "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "n_r",
            F.round(
                F.col("r").cast("double")
                * F.col("n_r")
                / F.col("n_tokens"),
                6,
            ).alias("prob_mass"),
            F.round(
                (F.col("r") + 1).cast("double")
                * F.coalesce(F.col("n_r_next"), F.lit(0))
                / F.col("n_r"),
                6,
            ).alias("gt_adjusted_count"),
            F.round(
                F.col("n1_singletons").cast("double") / F.col("n_tokens"), 6
            ).alias("missing_mass"),
            "n_tokens",
            "vocab",
        )
    )
