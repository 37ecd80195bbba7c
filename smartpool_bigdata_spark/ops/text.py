"""Text / document operators for large-scale training-data pipelines:
exact dedup, MinHash-LSH near-dedup, SimHash, n-gram Jaccard, text quality
stats, language-ID heuristic, content fingerprinting.

Not present in the reference (its corpus is IoT rows, not documents) —
these extend the engine to the LLM-data-pipeline surface the task brief
requires, built UDF-free on Spark's higher-order array functions
(``transform``/``filter``/``aggregate``) so everything stays inside
whole-stage codegen.

Cross-engine determinism: every hash is derived from ``md5`` (identical in
Spark and DuckDB), folded to a 60-bit integer via a hex-prefix parse. Each
construct therefore has a DuckDB twin, emitted by the ``duck_*`` generators
here, so even MinHash-LSH gets a full value-hash oracle instead of a
rows-only check.

Scale design (the 100 TB story):

* Near-dedup NEVER does all-pairs: LSH banding shuffles once on
  ``(band_idx, band_hash)`` and only same-bucket docs join — candidate
  count scales with collision rate, not n². This is the standard
  MinHash-LSH scheme (Broder '97; Leskovec et al., MMDS ch.3).
* Signatures are fixed-width arrays (n_perm ints), so the shuffle payload
  per doc is ~256 bytes regardless of document size.
* All shingle hashing is per-row map work — no shuffle until banding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime) — classic MinHash permutation modulus.
MINHASH_P = 2_147_483_647
N_PERM = 32
BANDS = 8
ROWS_PER_BAND = 4
assert BANDS * ROWS_PER_BAND == N_PERM

# Handles for the signature stages the *_near_dup_pairs operators persist
# (the pair plan references the signature frame 2-4x; without the
# materialization barrier the shingle/simhash expression re-evaluates per
# candidate pair). A long-lived session calling the operators repeatedly
# would otherwise accumulate one cache per call with no way to release
# them short of spark.catalog.clearCache().
_SIGNATURE_CACHES: list[DataFrame] = []


def _track_signature_cache(df: DataFrame) -> DataFrame:
    out = df.persist()
    _SIGNATURE_CACHES.append(out)
    return out


def release_signature_caches() -> int:
    """Unpersist every signature cache created by ``minhash_near_dup_pairs``
    / ``simhash_near_dup_pairs`` so far; returns how many were released.

    Call AFTER the pairs DataFrame has been materialized (written or
    collected) — releasing earlier just re-shingles the corpus once per
    plan reference on the next action (correct, slower). Per-call control
    stays available via ``persist_signatures=False``; for cross-run reuse
    at 100 TB, ``write_signature_table`` replaces caching entirely.
    """
    n = 0
    while _SIGNATURE_CACHES:
        handle = _SIGNATURE_CACHES.pop()
        try:
            handle.unpersist()
            n += 1
        except Exception:
            # a handle whose owning SparkSession already stopped cannot
            # be unpersisted (and holds no live cache); keep draining so
            # one dead handle never aborts the release of the rest
            continue
    return n


def perm_seeds(n_perm: int = N_PERM) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod P."""
    return [(2 * i + 1, (7919 * (i + 1)) % MINHASH_P) for i in range(n_perm)]


# ---------------------------------------------------------------------------
# Dual-dialect expression generators. ``spark_*`` strings go through
# F.expr(); ``duck_*`` strings are embedded in oracle SQL. Same algebra,
# same constants → bit-identical results.
# ---------------------------------------------------------------------------


def spark_tokens(c: str) -> str:
    return f"split(trim({c}), '\\\\s+')"


def duck_tokens(c: str) -> str:
    return f"string_split_regex(trim({c}), '\\s+')"


def spark_hash64(e: str) -> str:
    """60-bit positive int from md5 — portable across engines."""
    return f"cast(conv(substring(md5({e}),1,15),16,10) as bigint)"


def duck_hash64(e: str) -> str:
    return f"('0x'||substr(md5({e}),1,15))::BIGINT"


def spark_word_shingles(toks: str, k: int) -> str:
    return (
        f"CASE WHEN size({toks}) >= {k} "
        f"THEN transform(sequence(0, size({toks})-{k}), "
        f"i -> array_join(slice({toks}, i+1, {k}), ' ')) "
        f"ELSE array() END"
    )


def duck_word_shingles(toks: str, k: int) -> str:
    return (
        f"CASE WHEN len({toks}) >= {k} "
        f"THEN list_transform(range(1, len({toks})-{k}+2), "
        f"i -> array_to_string({toks}[i:i+{k}-1], ' ')) "
        f"ELSE [] END"
    )


def spark_del2_variants(c: str) -> str:
    """Deletion neighborhood of ``c`` up to 2 deletes (SymSpell signature).

    ``ed(s, t) <= 2  =>  deletes<=2(s) ∩ deletes<=2(t) != ∅`` — so an
    equi-join on these variants is a sound-and-COMPLETE candidate
    generator for edit-distance <= 2, turning a vocab² similarity join
    into one shuffle on short string keys. Candidates still need an exact
    levenshtein verify (shared variants can come from distinct edits).
    Neighborhood size is O(len²) per word — bounded for vocabulary terms.
    """
    d1 = (
        f"transform(sequence(1, length({c})), "
        f"i -> concat(substr({c}, 1, i-1), substr({c}, i+1)))"
    )
    d2 = (
        f"CASE WHEN length({c}) >= 2 THEN "
        f"flatten(transform(sequence(1, length({c})-1), "
        f"i -> transform(sequence(i+1, length({c})), "
        f"j -> concat(substr({c}, 1, i-1), substr({c}, i+1, j-i-1), "
        f"substr({c}, j+1))))) "
        f"ELSE cast(array() as array<string>) END"
    )
    return f"array_distinct(concat(array({c}), {d1}, {d2}))"


def duck_del2_variants(c: str) -> str:
    d1 = (
        f"list_transform(generate_series(1, length({c})), "
        f"i -> concat(substr({c}, 1, i-1), substr({c}, i+1)))"
    )
    d2 = (
        f"CASE WHEN length({c}) >= 2 THEN "
        f"flatten(list_transform(generate_series(1, length({c})-1), "
        f"i -> list_transform(generate_series(i+1, length({c})), "
        f"j -> concat(substr({c}, 1, i-1), substr({c}, i+1, j-i-1), "
        f"substr({c}, j+1))))) "
        f"ELSE []::VARCHAR[] END"
    )
    return f"list_distinct([{c}] || {d1} || {d2})"


def spark_char_ngrams(c: str, n: int) -> str:
    return (
        f"CASE WHEN length({c}) >= {n} "
        f"THEN transform(sequence(1, length({c})-{n}+1), i -> substring({c}, i, {n})) "
        f"ELSE array() END"
    )


def duck_char_ngrams(c: str, n: int) -> str:
    return (
        f"CASE WHEN len({c}) >= {n} "
        f"THEN list_transform(range(1, len({c})-{n}+2), i -> {c}[i:i+{n}-1]) "
        f"ELSE [] END"
    )


def spark_shingle_hashes(token_hashes: str, k: int) -> str:
    """k-gram shingle hashes combined ARITHMETICALLY from per-token hashes
    (h₁·31 + h₂)·31 + h₃ … mod P — no shingle-string construction, one md5
    per token instead of one per shingle (measured ~2× on the LSH path).
    Collision rate within P=2³¹ is ~|shingles|²/2³² per doc — negligible,
    and identical in both engines so oracles still match exactly."""
    terms = "element_at(th, i + 1) % P"
    for j in range(1, k):
        terms = f"(({terms}) * 31 + element_at(th, i + {j + 1}) % P) % P"
    body = terms.replace("th", token_hashes).replace("P", str(MINHASH_P))
    return (
        f"CASE WHEN size({token_hashes}) >= {k} "
        f"THEN transform(sequence(0, size({token_hashes}) - {k}), i -> {body}) "
        f"ELSE array() END"
    )


def duck_shingle_hashes(token_hashes: str, k: int) -> str:
    terms = "th[i + 1] % P"
    for j in range(1, k):
        terms = f"(({terms}) * 31 + th[i + {j + 1}] % P) % P"
    body = terms.replace("th", token_hashes).replace("P", str(MINHASH_P))
    return (
        f"CASE WHEN len({token_hashes}) >= {k} "
        f"THEN list_transform(range(0, len({token_hashes}) - {k} + 1), i -> {body}) "
        f"ELSE [] END"
    )


def spark_minhash_sig(hashes: str, n_perm: int = N_PERM) -> str:
    """Signature as ONE doubly-nested transform: seeds are generated
    arithmetically from the permutation index j (a=2j+1, b=7919(j+1) mod
    P — exactly ``perm_seeds``), so the expression tree is ~32× smaller
    than 32 materialized array_min subtrees. Identical math → identical
    signatures; measured several seconds of per-query analysis/planning
    saved on the LSH path."""
    p = MINHASH_P
    return (
        f"transform(sequence(0, {n_perm - 1}), j -> "
        f"array_min(transform({hashes}, "
        f"h -> ((2*j + 1) * (h % {p}) + (7919 * (j + 1)) % {p}) % {p})))"
    )


def duck_minhash_sig(hashes: str, n_perm: int = N_PERM) -> str:
    p = MINHASH_P
    return (
        f"list_transform(range(0, {n_perm}), j -> "
        f"list_aggregate(list_transform({hashes}, "
        f"h -> ((2*j + 1) * (h % {p}) + (7919 * (j + 1)) % {p}) % {p}), 'min'))"
    )


def duck_band_hash(sig: str, band: int, rows: int = ROWS_PER_BAND) -> str:
    start = band * rows + 1
    return f"md5(array_to_string({sig}[{start}:{start + rows - 1}], ','))"


def spark_char_codes(c: str) -> str:
    """Per-character codepoint array — the basis for polynomial char-gram
    hashing (2.3× faster than md5-per-gram, same dual-dialect guarantee).

    Built on ``split('')`` (one linear pass) rather than per-index
    ``substring``: UTF8String.substring is O(n) per call, so the indexed
    form is O(n²) per document — measured 6× slower at sf0.1.

    Codes are BIGINT on both sides: the 5-gram polynomial reaches
    codepoint·31⁴ ≈ 10¹² for astral-plane chars, which silently wraps in
    Spark's int32 (non-ANSI) and errors in DuckDB — int64 headroom makes
    the hash total-Unicode-safe and the output type BIGINT everywhere."""
    return f"transform(split({c}, ''), ch -> cast(ascii(ch) as bigint))"


def duck_char_codes(c: str) -> str:
    return f"list_transform(range(1, len({c}) + 1), i -> CAST(ascii({c}[i:i]) AS BIGINT))"


def _poly(terms: list[str]) -> str:
    expr = terms[0]
    for t in terms[1:]:
        expr = f"({expr} * 31 + {t})"
    return f"({expr}) % {MINHASH_P}"


def spark_poly_gram_min(codes: str, n: int) -> str:
    """Min over polynomial hashes of all char n-grams (codepoint codes
    ≤ 0x10FFFF keep the 31-base polynomial far inside bigint range)."""
    body = _poly([f"element_at({codes}, i + {j})" for j in range(n)])
    return (
        f"CASE WHEN size({codes}) >= {n} "
        f"THEN array_min(transform(sequence(1, size({codes}) - {n - 1}), i -> {body})) "
        f"ELSE -1 END"
    )


def duck_poly_gram_min(codes: str, n: int) -> str:
    body = _poly([f"{codes}[i + {j}]" for j in range(n)])
    return (
        f"CASE WHEN len({codes}) >= {n} "
        f"THEN list_aggregate(list_transform(range(1, len({codes}) - {n - 1} + 1), "
        f"i -> {body}), 'min') ELSE -1 END"
    )


def spark_winnow(gram_hashes: str, w: int) -> str:
    """Winnowing fingerprint SET (Schleimer et al., SIGMOD'03 / MOSS):
    the distinct minima of every w-length window over the gram-hash
    array. Guarantees any shared substring of length ≥ w+k-1 chars
    yields at least one shared fingerprint — positional robustness the
    single global-min fingerprint lacks. CASE guard: Spark's
    ``sequence(1, n)`` DESCENDS when n < 1, so short docs must
    short-circuit to an empty set."""
    return (
        f"CASE WHEN size({gram_hashes}) >= {w} "
        f"THEN array_distinct(transform(sequence(1, size({gram_hashes}) - {w} + 1), "
        f"i -> array_min(slice({gram_hashes}, i, {w})))) "
        f"ELSE array() END"
    )


def duck_winnow(gram_hashes: str, w: int) -> str:
    return (
        f"CASE WHEN len({gram_hashes}) >= {w} "
        f"THEN list_distinct(list_transform(range(1, len({gram_hashes}) - {w} + 2), "
        f"i -> list_aggregate({gram_hashes}[i:i + {w} - 1], 'min'))) "
        f"ELSE [] END"
    )


def _poly_mod(terms: list[str]) -> str:
    """Base-31 polynomial with a mod PER STEP — mandatory for wide grams:
    the end-mod form (``_poly``) reaches c·31^(n-1) ≈ 10²⁸ at n=16 and
    overflows int64 (DuckDB raises, Spark ANSI raises). Per-step keeps
    every intermediate < 31·P ≈ 6.7·10¹⁰. Same value for n ≤ 5, so the
    legacy fingerprint tier keeps ``_poly`` for bit-stability of its
    already-gated hashes."""
    expr = f"({terms[0]}) % {MINHASH_P}"
    for t in terms[1:]:
        expr = f"(({expr}) * 31 + ({t})) % {MINHASH_P}"
    return f"({expr})"


def spark_gram_hashes(codes: str, n: int) -> str:
    """Polynomial hash per char n-gram position (the array the winnow
    windows slide over) — base-31 algebra like ``spark_poly_gram_min``
    without the global min, mod-per-step so wide grams stay in int64."""
    body = _poly_mod([f"element_at({codes}, i + {j})" for j in range(n)])
    return (
        f"CASE WHEN size({codes}) >= {n} "
        f"THEN transform(sequence(1, size({codes}) - {n - 1}), i -> {body}) "
        f"ELSE array() END"
    )


def duck_gram_hashes(codes: str, n: int) -> str:
    body = _poly_mod([f"{codes}[i + {j}]" for j in range(n)])
    return (
        f"CASE WHEN len({codes}) >= {n} "
        f"THEN list_transform(range(1, len({codes}) - {n - 1} + 1), i -> {body}) "
        f"ELSE [] END"
    )


def spark_simhash(hashes: str, bits: int = 32) -> str:
    """Per-doc SimHash: bit j is set iff the majority of token hashes have
    bit j set. Row-local (no shuffle). One aggregate over the bit index —
    the per-bit CASE terms come from a single lambda instead of ``bits``
    materialized subtrees, keeping analysis/planning cost flat in
    ``bits``."""
    return (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, j) -> acc + "
        f"CASE WHEN 2 * size(filter({hashes}, h -> shiftright(h, j) % 2 = 1)) "
        f">= size({hashes}) THEN shiftleft(cast(1 as bigint), j) ELSE 0 END)"
    )


def duck_simhash(hashes: str, bits: int = 32) -> str:
    return (
        f"list_aggregate(list_transform(range(0, {bits}), j -> "
        f"CASE WHEN 2 * len(list_filter({hashes}, h -> (h >> j) & 1 = 1)) "
        f">= len({hashes}) THEN (1::BIGINT << j) ELSE 0 END), 'sum')"
    )


def spark_stopword_hits(toks: str, words: Sequence[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({toks}, x -> x in ({lst})))"


def duck_stopword_hits(toks: str, words: Sequence[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, x -> x in ({lst})))"


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: char/token counts, mean token length,
    unique-token ratio. All row-local (scan-only at any scale). Tokenizes
    once into a staged column shared by all four features."""
    tok_col = "__toks"
    while tok_col in df.columns:
        tok_col += "_"
    staged = df.withColumn(tok_col, F.expr(spark_tokens(text_col)))
    return (
        staged.withColumn("char_count", F.length(text_col))
        .withColumn("token_count", F.expr(f"size({tok_col})"))
        .withColumn(
            "avg_token_len",
            F.expr(
                f"round(aggregate({tok_col}, 0L, (acc, t) -> acc + length(t)) "
                f"/ cast(size({tok_col}) as double), 4)"
            ),
        )
        .withColumn(
            "unique_token_ratio",
            F.expr(
                f"round(size(array_distinct({tok_col})) / cast(size({tok_col}) as double), 4)"
            ),
        )
        .drop(tok_col)
    )


# PII redaction patterns, ordered: each pattern is applied to the output
# of the previous replacement, so earlier categories must never create or
# destroy later matches (emails go first — their local part can contain
# digits and dots that the IP pattern would otherwise chew on; the
# replacement tokens contain no digits or '@', so they are inert to every
# later pattern). Regex subset chosen to parse identically under Java
# regex (Spark) and RE2 (DuckDB): char classes, bounded quantifiers, \b.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (?i) — emails are case-insensitive by RFC; without it Jane.Doe@X.COM
    # leaks while n_residual still reports 0. The inline flag is honored
    # identically by Java regex and RE2, keeping the dual-dialect contract.
    ("email", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("card", r"\b\d{16}\b", "<CARD>"),
    ("phone", r"\b555-\d{4}\b", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """PII redaction for training-data curation: replaces emails, IPv4
    addresses, 16-digit card numbers and 555-prefixed phone numbers with
    inert tokens, and adds per-category match counts (``n_email``,
    ``n_ip``, ``n_card``, ``n_phone``) plus ``n_residual`` — matches of
    ANY pattern remaining in the scrubbed text, which a correct scrub
    leaves at 0 (the oracle-lockable completeness invariant).

    All row-local regex work (scan-only, no shuffle at any scale); the
    pattern list is deliberately RE2-compatible so the DuckDB oracle
    replays it verbatim. A production deployment extends PII_PATTERNS —
    the plan shape does not change with the pattern count.
    """
    counted = df.select(
        "*",
        *[
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
            ).cast("bigint").alias(f"n_{name}")
            for name, pat, _repl in PII_PATTERNS
        ],
    )
    clean = F.col(text_col)
    for _name, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    scrubbed = counted.withColumn(out_col, clean)
    residual = sum(
        F.size(F.regexp_extract_all(F.col(out_col), F.lit(pat), F.lit(0)))
        for _name, pat, _repl in PII_PATTERNS
    )
    return scrubbed.withColumn("n_residual", residual.cast("bigint"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: md5 the text, keep the lowest id per hash.

    Scale: one hash-shuffle on the 32-char digest (uniform — no skew), only
    digest+id travel; the winning rows join back by id. Equivalent to the
    groupBy-min pattern; deterministic winner unlike dropDuplicates.
    """
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h).orderBy(F.col(id_col).asc())
    return df.withColumn("__h_rn", F.row_number().over(w)).filter("__h_rn = 1").drop("__h_rn")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_perm: int = N_PERM,
) -> DataFrame:
    """Per-document MinHash state: ``(doc_id, sh_set, sig)``.

    ``sh_set`` is the distinct shingle-hash set (feeds exact-Jaccard
    verification), ``sig`` the n_perm-wide MinHash signature. Row-local map
    work only — no shuffle. Shingling is arithmetic over per-token md5
    hashes (one md5 per TOKEN, no shingle-string construction).
    """
    toks = spark_tokens(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"transform({toks}, t -> {spark_hash64('t')})").alias("__th"),
    ).select(
        "doc_id",
        F.expr(
            f"array_distinct({spark_shingle_hashes('__th', shingle_k)})"
        ).alias("sh_set"),
    )
    return base.select(
        "doc_id", "sh_set", F.expr(spark_minhash_sig("sh_set", n_perm)).alias("sig")
    )


def banded_signatures(
    sig: DataFrame, n_perm: int = N_PERM, bands: int = BANDS
) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH band rows off a signature frame.

    One transform over the band index instead of ``bands`` materialized
    md5 subtrees — same hashes, ~bands× smaller expression tree."""
    rows = n_perm // bands
    band_cols = F.expr(
        f"transform(sequence(0, {bands - 1}), b -> "
        f"md5(array_join(transform(slice(sig, b * {rows} + 1, {rows}), "
        f"x -> cast(x as string)), ',')))"
    )
    return sig.select(
        "doc_id", F.posexplode(band_cols).alias("band_idx", "band_hash")
    )


def minhash_pairs_from_signatures(
    sig: DataFrame,
    n_perm: int = N_PERM,
    bands: int = BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH banding + exact-Jaccard verify over a precomputed signature
    frame (``minhash_signatures`` output, in-memory or read back from a
    materialized signature table — ``write_signature_table``).

    Plan shape: explode to ``bands`` rows → shuffle on (band, band_hash) →
    same-bucket self-join → distinct pairs → verify Jaccard on the
    joined-back shingle sets. Candidates scale with bucket collisions,
    never n².
    """
    banded = banded_signatures(sig, n_perm, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = sig.select("doc_id", "sh_set")
    pairs = (
        cand.join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh_set", "set_a"), "doc_a")
        .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh_set", "set_b"), "doc_b")
        .withColumn("inter", F.expr("size(array_intersect(set_a, set_b))"))
        .withColumn(
            "jaccard",
            F.expr("round(cast(inter as double) / (size(set_a) + size(set_b) - inter), 4)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_perm: int = N_PERM,
    bands: int = BANDS,
    threshold: float = 0.5,
    persist_signatures: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification:
    ``minhash_signatures`` → ``minhash_pairs_from_signatures``.

    The signature stage is persisted by default (standard LSH practice):
    the plan references it 4× (banded self-join left/right + set join per
    pair side), and signatures are ~300 B/doc — tiny next to re-shingling
    the corpus 4×. The persisted handle is tracked module-side: call
    ``release_signature_caches()`` once the pairs are materialized (or
    pass ``persist_signatures=False``); at 100 TB use
    ``write_signature_table`` once and band off the table across runs.
    """
    sig = minhash_signatures(df, id_col, text_col, shingle_k, n_perm)
    if persist_signatures:
        sig = _track_signature_cache(sig)
    return minhash_pairs_from_signatures(sig, n_perm, bands, threshold)


def build_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_perm: int = N_PERM,
    simhash_bits: int = 60,
    fingerprint_ngram: int = 5,
) -> DataFrame:
    """One-pass signature extraction for the whole dedup family:
    ``(doc_id, sh_set, sig, simhash, fingerprint)``.

    This is the "compute once, band many" artifact: MinHash-LSH, SimHash
    banding and fingerprint dedup all read from the same row, and a
    columnar store prunes the columns each consumer doesn't touch. All
    row-local map work — writing it is a scan, not a shuffle.
    """
    toks = spark_tokens(text_col)
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"transform({toks}, t -> {spark_hash64('t')})").alias("__th"),
        F.expr(spark_char_codes(text_col)).alias("__cs"),
    )
    return staged.select(
        "doc_id",
        F.expr(
            f"array_distinct({spark_shingle_hashes('__th', shingle_k)})"
        ).alias("sh_set"),
        F.expr(spark_simhash("__th", simhash_bits)).alias("simhash"),
        F.expr(spark_poly_gram_min("__cs", fingerprint_ngram)).alias("fingerprint"),
    ).select(
        "doc_id",
        "sh_set",
        F.expr(spark_minhash_sig("sh_set", n_perm)).alias("sig"),
        "simhash",
        "fingerprint",
    )


def write_signature_table(
    sig: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 32,
) -> DataFrame:
    """Materialize a signature frame as a doc_id-bucketed, doc_id-sorted
    table and return the re-read handle.

    This is the 100 TB form of the LSH pipelines' ``persist()``: signatures
    are computed ONCE (a scan of the corpus), stored ~300 B/doc, and every
    near-dup / cluster / survivor run afterwards bands off the table
    without re-shingling. Bucketing by doc_id pre-co-locates the
    verify-stage join-backs (Spark's bucketed scan joins bucket-to-bucket
    with no shuffle on the signature side), and sortBy gives row-group
    locality for id-range reads.
    """
    (
        sig.write.mode("overwrite")
        .bucketBy(buckets, "doc_id")
        .sortBy("doc_id")
        .option("path", path)
        .saveAsTable(table_name)
    )
    return sig.sparkSession.table(table_name)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Per-document SimHash over token hashes (near-dup clustering key).

    The token-hash array is MATERIALIZED as its own projection before the
    per-bit terms: Catalyst's CollapseProject keeps a non-cheap expression
    referenced many times in its own stage, so tokenize+md5 runs once per
    row instead of once per bit (measured 10× at sf0.1).
    """
    return simhash_from_stage(token_hash_stage(df, id_col, text_col), bits)


def simhash_from_stage(staged: DataFrame, bits: int = 32) -> DataFrame:
    """``simhash_signatures`` off a pre-staged ``token_hash_stage`` frame
    — lets a multi-signal pipeline tokenize the corpus ONCE and derive
    every signal from the shared (materialized) stage."""
    return staged.select(
        "doc_id", F.expr(spark_simhash("__th", bits)).alias("simhash")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    band_bits: int = 15,
    max_hamming: int = 3,
    persist_signatures: bool = True,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded hamming-distance search
    (the Manku/Jain/Sarma WWW'07 scheme Google used for web dedup).

    The ``bits``-bit SimHash is split into ``bits/band_bits`` exact-match
    bands; docs sharing any band bucket become candidates, and candidates
    are verified with ``bit_count(xor)``. Pigeonhole guarantee: a pair
    within ``max_hamming`` bits differs in at most ``max_hamming`` bands,
    so with ``bands > max_hamming`` at least one band matches exactly —
    recall is 1.0 at the threshold, never all-pairs.

    Defaults are 60-bit signatures (the full width of the md5-derived
    token hashes) in 4×15-bit bands: on a topically-narrow corpus simhash
    bits correlate across documents, and 8-bit bands measured 10× more
    candidate pairs with 1500-doc buckets — band width is the
    recall/bucket-size dial, and 2^15 values per band keeps buckets
    selective at corpus scale.

    Scale: one shuffle on (band_idx, band_val); signatures ride along in
    the banded rows, so no join-back. The signature stage is persisted by
    default: the self-join references it twice, and without the
    materialization barrier Catalyst collapses the (interpreted
    higher-order) simhash expression into the join, re-evaluating it per
    CANDIDATE PAIR — measured 48 s → 4 s at sf0.1. The persisted handle is
    tracked module-side: call ``release_signature_caches()`` once the
    pairs are materialized (or pass ``persist_signatures=False``); at
    100 TB use ``write_signature_table`` once and band off the table
    across runs.
    """
    n_bands = bits // band_bits
    if n_bands <= max_hamming:
        # ValueError (not assert): the pigeonhole recall guarantee must
        # survive `python -O`.
        raise ValueError(
            f"bits//band_bits = {n_bands} bands must exceed max_hamming = "
            f"{max_hamming} for the pigeonhole recall-1.0 guarantee"
        )
    sigs = simhash_signatures(df, id_col, text_col, bits)
    if persist_signatures:
        sigs = _track_signature_cache(sigs)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> shiftright(simhash, b * {band_bits}) % {1 << band_bits})"
            )
        ).alias("band_idx", "band_val"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.expr("bit_count(l.simhash ^ r.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def content_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 5
) -> DataFrame:
    """Rolling-hash fingerprint: min polynomial hash over character
    n-grams — a 1-int sketch robust to local edits (winnowing-style,
    window = whole doc). Codepoint polynomial instead of md5-per-gram:
    2.3× faster, still bit-identical across engines."""
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(spark_char_codes(text_col)).alias("__cs"),
    )
    return staged.select(
        "doc_id",
        F.expr(spark_poly_gram_min("__cs", ngram)).alias("fingerprint"),
    )


# Tiny per-language function-word lists for the n-gram/stopword heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "de", "et", "que"),
}


def language_guess(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-ratio language-ID heuristic. Deterministic argmax with a
    fixed priority order on ties (en > es > de > fr > unknown). Tokenizes
    once; the per-language hit counters scan the staged array."""
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(spark_tokens(text_col)).alias("__toks"),
    )
    for lang, words in LANG_STOPWORDS.items():
        out = out.withColumn(f"__s_{lang}", F.expr(spark_stopword_hits("__toks", words)))
    langs = list(LANG_STOPWORDS)
    guess = None
    for lang in langs:
        others = [f"__s_{o}" for o in langs if o != lang]
        cond = (F.col(f"__s_{lang}") > 0) & (
            F.col(f"__s_{lang}") >= F.greatest(*[F.col(o) for o in others])
        )
        guess = F.when(cond, lang) if guess is None else guess.when(cond, lang)
    out = out.withColumn("lang_guess", guess.otherwise("unknown"))
    return out.select("doc_id", "lang_guess")


def token_hash_stage(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, __th) staging: per-token 60-bit hashes, materialized as
    its own projection so tokenize+md5 runs once per row however many
    downstream expressions reference it (same CollapseProject barrier
    rationale as ``simhash_signatures``)."""
    toks = spark_tokens(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"transform({toks}, t -> {spark_hash64('t')})").alias("__th"),
    )


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    top_token_max: float = 0.2,
    dup_ngram_max: float = 0.3,
) -> DataFrame:
    """Per-document repetition quality signals, after the Gopher filters
    (Rae et al. 2021, "Scaling Language Models", table A1): natural text
    rarely repeats itself; machine-generated/boilerplate text does.

    Returns (doc_id, token_count, top_token_fraction, dup_ngram_fraction,
    repetitive) where

    * ``top_token_fraction`` — share of tokens taken by the single most
      frequent token (Gopher's "most common word" filter);
    * ``dup_ngram_fraction`` — share of token ``ngram``-grams that occur
      more than once in the document (token-level form of Gopher's
      duplicate-n-gram character fraction — these docs are single-line
      token streams, so the line-based filters are vacuous here);
    * ``repetitive`` — either fraction above its threshold.

    Scale: token/ngram multiplicities come from explode → groupBy
    (doc_id, hash) → per-doc re-agg — two hash-shuffles on uniform
    (doc, hash) keys, the canonical Spark shape, no per-doc quadratic
    higher-order-function scan. N-grams are the arithmetic shingle
    hashes (one md5 per token, no gram strings); P=2^31 collisions are
    negligible and engine-identical, so the DuckDB oracle still matches
    exactly.
    """
    # lazy checkpoint: the unigram and ngram branches both read the
    # token-hash arrays; without the barrier each branch re-runs
    # tokenize+md5. At TWO branches the block write roughly cancels the
    # saved tokenize locally (1.36 -> 1.29 s at sf0.1, within noise) —
    # the win grows with branch count (pipeline v2's four branches:
    # 2.9 -> 2.2 s) and with document size at scale. Lazy so the cost
    # stays inside the caller's own action.
    return repetition_signals_from_stage(
        token_hash_stage(df, id_col, text_col).localCheckpoint(eager=False),
        ngram,
        top_token_max,
        dup_ngram_max,
    )


def repetition_signals_from_stage(
    staged: DataFrame,
    ngram: int = 3,
    top_token_max: float = 0.2,
    dup_ngram_max: float = 0.3,
) -> DataFrame:
    """``repetition_signals`` off a pre-staged token-hash frame."""
    uni = (
        staged.select("doc_id", F.explode("__th").alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("token_count"),
            F.max("cnt").alias("top_tok"),
        )
    )
    grams = F.expr(spark_shingle_hashes("__th", ngram))
    ng = (
        staged.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                "dup_grams"
            ),
        )
    )
    out = (
        uni.join(ng, "doc_id", "left")  # < ngram tokens -> no gram rows
        .select(
            "doc_id",
            "token_count",
            F.round(F.col("top_tok") / F.col("token_count"), 4).alias(
                "top_token_fraction"
            ),
            F.coalesce(
                F.round(F.col("dup_grams") / F.col("n_grams"), 4), F.lit(0.0)
            ).alias("dup_ngram_fraction"),
        )
        .withColumn(
            "repetitive",
            (F.col("top_token_fraction") > top_token_max)
            | (F.col("dup_ngram_fraction") > dup_ngram_max),
        )
    )
    return out


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_k: int = 8,
) -> DataFrame:
    """CROSS-CORPUS duplicate-span mass (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr signal
    at token granularity): every length-``span_k`` token window is
    hashed, and a window VALUE occurring >= 2 times anywhere in the
    corpus (within one document or across documents) is duplicated text.
    Each document is then scored by the fraction of its windows that are
    duplicated — the per-doc decision statistic for span-level dedup.

    Distinct from ``repetition_signals`` (within-doc n-gram repeats
    only) and from the pairwise-overlap family (winnowing / signature
    joins score doc PAIRS): this computes global duplicate MASS, the
    "how much of my corpus is copied text" curation measure, without
    ever forming pairs.

    Returns (doc_id, n_spans, n_dup_spans, dup_span_fraction), one row
    per input document; documents shorter than ``span_k`` tokens have 0
    spans and fraction 0.0.

    Scale: explode -> groupBy (doc_id, span) -> corpus total per span
    via a hash-partitioned window keyed on the span hash -> per-doc
    re-agg: two uniform hash shuffles plus the final doc_id agg, no
    join-back of the corpus against a counts table and no self-join.
    Span hashes are the arithmetic shingle hashes (one md5 per TOKEN,
    no span strings); P=2^31 collisions are negligible and
    engine-identical, so the DuckDB oracle matches exactly. The window
    key is the span hash itself — near-uniform by construction, so no
    skew treatment is needed even on boilerplate-heavy corpora (equal
    spans land on one key, but their count is the quantity being
    computed, and the per-key payload is (doc_id, cnt) pairs already
    pre-reduced by the first groupBy).
    """
    staged = token_hash_stage(df, id_col, text_col).localCheckpoint(eager=False)
    return dup_span_stats_from_stage(staged, span_k)


def dup_span_stats_from_stage(staged: DataFrame, span_k: int = 8) -> DataFrame:
    """``dup_span_stats`` off a pre-staged (doc_id, __th) token-hash
    frame — the shared-stage form pipeline compositions use (same
    pattern as ``repetition_signals_from_stage``)."""
    spans = staged.select(
        "doc_id", F.explode(F.expr(spark_shingle_hashes("__th", span_k))).alias("sp")
    )
    per_pair = spans.groupBy("doc_id", "sp").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("sp")
    tot = per_pair.withColumn("corpus_cnt", F.sum("cnt").over(w))
    per_doc = tot.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_spans"),
        F.sum(F.when(F.col("corpus_cnt") >= 2, F.col("cnt")).otherwise(0)).alias(
            "n_dup_spans"
        ),
    )
    return staged.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce(
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4), F.lit(0.0)
        ).alias("dup_span_fraction"),
    )


def decontamination_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 13,
) -> DataFrame:
    """Benchmark decontamination by n-gram collision (the GPT-3/PaLM
    recipe: drop or flag training documents sharing any length-``ngram``
    token span with an evaluation set; 13 is the published default).

    Returns one row per training document with at least one overlapping
    gram: (doc_id, overlap_grams, total_grams, contamination) where
    ``overlap_grams`` counts DISTINCT shared grams and ``contamination``
    = overlap_grams / total distinct grams in the doc.

    Scale: the benchmark side reduces to a distinct-gram-hash set —
    eval suites are tiny next to a training corpus, so it is explicitly
    ``broadcast()``: the training side streams map-side against the
    hash set, no shuffle of the corpus at all. The train side dedups
    grams per doc BEFORE the join (explode → distinct) so a gram
    repeated in one doc cannot inflate its overlap count.
    """
    return decontamination_overlap_from_stage(
        token_hash_stage(train, id_col, text_col),
        token_hash_stage(benchmark, id_col, text_col),
        ngram,
    )


def incremental_dedup_batch(
    batch_df: DataFrame,
    sig_table_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_perm: int = N_PERM,
    bands: int = BANDS,
    threshold: float = 0.5,
    assignment_path: str | None = None,
) -> None:
    """One ingest batch through the incremental dedup loop, IDEMPOTENTLY:

    1. sign the batch once (``build_signature_table``, one scan);
    2. pair it against the current materialized signature corpus via
       ``incremental_minhash_pairs`` — (new x base) ∪ (new x new), never
       base x base, new side broadcast;
    3. MERGE the near-dup pairs into ``pairs_path`` keyed on
       (doc_a, doc_b);
    4. MERGE the batch signatures into ``sig_table_path`` keyed on
       doc_id — so later batches dedup against earlier ones.

    Replay safety (foreachBatch re-runs the last uncommitted batch after
    a crash): the batch's own ids are anti-joined OUT of the base before
    pairing, so a replay whose signatures already landed recomputes the
    SAME pairs instead of tripping the id-overlap fail-fast; both writes
    are keyed MERGEs, so re-writing them is a no-op. Step order (pairs
    before signatures) is immaterial under that anti-join — a crash
    between 3 and 4 replays to the identical end state.

    Scale: the parquet ``merge_upsert`` rewrites the target per batch —
    the local-substrate analog; a Delta/Iceberg deployment swaps in real
    MERGE with file pruning so each ingest touches O(batch) files. The
    pairing itself is already the 100 TB shape (signatures stored, corpus
    never re-shingled, batch side broadcast).

    With ``assignment_path`` set, the loop ALSO maintains the near-dup
    COMPONENT map: the batch's pairs merge into the stored (node,
    component) table via ``ops.graph.connected_components_incremental``
    — existing components contract to roots, CC runs on the
    O(batch-edges) contracted graph only, and the remap broadcasts back.
    Replay-idempotent for free: re-merging edges whose components are
    already merged contracts to self-loops and changes nothing.
    """
    from smartpool_bigdata_spark.io.sinks import _exists, merge_upsert

    spark = batch_df.sparkSession
    new_sig = build_signature_table(
        batch_df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "doc_id",
        "text",
        shingle_k=shingle_k,
        n_perm=n_perm,
    ).localCheckpoint(eager=True)  # referenced 5x below (bands, set joins, merge)
    try:
        if _exists(spark, sig_table_path):
            base = spark.read.parquet(sig_table_path).join(
                new_sig.select("doc_id"), "doc_id", "left_anti"
            )
        else:
            base = new_sig.limit(0)
        pairs = incremental_minhash_pairs(
            new_sig, base, n_perm=n_perm, bands=bands, threshold=threshold
        )
        if assignment_path is not None:
            # localCheckpoint: pairs feed BOTH the merge below and the
            # cluster update; without the barrier the LSH plan re-runs
            pairs = pairs.localCheckpoint(eager=True)
        merge_upsert(spark, pairs_path, pairs, keys=["doc_a", "doc_b"])
        merge_upsert(
            spark,
            sig_table_path,
            new_sig.select("doc_id", "sh_set", "sig", "simhash", "fingerprint"),
            keys=["doc_id"],
        )
        if assignment_path is not None and not pairs.isEmpty():
            from smartpool_bigdata_spark.ops.graph import (
                connected_components,
                connected_components_incremental,
            )

            if _exists(spark, assignment_path):
                asg = spark.read.parquet(assignment_path)
                delta = connected_components_incremental(
                    asg, pairs, src="doc_a", dst="doc_b", changes_only=True
                )
            else:
                delta = connected_components(pairs, src="doc_a", dst="doc_b")
            merge_upsert(spark, assignment_path, delta, keys=["node"])
    finally:
        # incremental_minhash_pairs persists its own handle on the (here
        # already-checkpointed) new_sig — drain the registry per batch or
        # a long-running stream accumulates one cache per micro-batch
        release_signature_caches()
        new_sig.unpersist()


def decontamination_overlap_from_stage(
    train_staged: DataFrame, benchmark_staged: DataFrame, ngram: int = 13
) -> DataFrame:
    """``decontamination_overlap`` off pre-staged token-hash frames."""
    bench_grams = (
        benchmark_staged
        .select(F.explode(F.expr(spark_shingle_hashes("__th", ngram))).alias("g"))
        .distinct()
    )
    train_grams = (
        train_staged
        .select("doc_id", F.explode(F.expr(spark_shingle_hashes("__th", ngram))).alias("g"))
        .distinct()
    )
    totals = train_grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total_grams")
    )
    overlaps = (
        train_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("overlap_grams"))
    )
    return (
        overlaps.join(totals, "doc_id")
        .select(
            "doc_id",
            "overlap_grams",
            "total_grams",
            F.round(F.col("overlap_grams") / F.col("total_grams"), 4).alias(
                "contamination"
            ),
        )
    )


def incremental_minhash_pairs(
    new_sig: DataFrame,
    base_sig: DataFrame,
    n_perm: int = N_PERM,
    bands: int = BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch against an existing corpus:
    candidates = (new × base) ∪ (new × new), never base × base — the
    daily-ingest dedup shape, where yesterday's corpus already carries a
    materialized signature table (``write_signature_table``) and only the
    new documents are shingled.

    Equivalence contract (oracle-locked by ``doc_incremental_near_dup``):
    the result equals a FULL ``minhash_pairs_from_signatures`` run over
    base ∪ new, restricted to pairs touching the new batch.

    Scale: the new batch's band rows are explicitly ``broadcast()`` —
    a daily drop is orders of magnitude smaller than the corpus, so the
    corpus side streams map-side through the band join with NO shuffle
    (and no re-shingling: its ``sig`` column comes straight off the
    stored table). Verify-stage set lookups join back against the two
    signature frames on doc_id; the base side of that join is bucketed
    by doc_id in the table, so it is exchange-free too. ``doc_id`` sets
    of base and new must be disjoint — checked up front (one tiny id
    join), because an overlap silently corrupts the pair output.
    """
    # the new batch's signature frame is referenced ~6x below (overlap
    # check, band join, within-batch self-join x2, verify-stage set
    # union) — persist it like minhash_near_dup_pairs does its stage, or
    # a LIVE frame (not a stored table) re-tokenizes the batch per
    # reference (sf0.1 staged run: 23.2 s -> 17.4 s; the rest of that
    # query's cost is its own base-signature-table write). The
    # base side is typically a stored signature table whose re-scan is
    # cheap and column-pruned, so it is left alone. Released by
    # release_signature_caches() once pairs are materialized.
    new_sig = _track_signature_cache(new_sig)
    overlap = new_sig.select("doc_id").join(
        base_sig.select("doc_id"), "doc_id"
    )
    if not overlap.isEmpty():
        # an id on both sides would appear twice in the verify-stage set
        # frame and fan every candidate out into duplicated pairs with
        # mixed sh_set versions — corrupt output, so fail fast instead
        raise ValueError(
            "incremental_minhash_pairs: base and new doc_id sets overlap "
            f"(e.g. {[r['doc_id'] for r in overlap.limit(3).collect()]})"
        )
    nb = banded_signatures(new_sig, n_perm, bands)
    bb = banded_signatures(base_sig, n_perm, bands)
    l, r = nb.alias("l"), bb.alias("r")
    cross = (
        r.join(
            F.broadcast(l),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_a"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_b"),
        )
    )
    l2, r2 = nb.alias("l"), nb.alias("r")
    within = (
        l2.join(
            r2,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
    )
    cand = cross.union(within).distinct()
    sets = new_sig.select("doc_id", "sh_set").union(
        base_sig.select("doc_id", "sh_set")
    )
    return (
        cand.join(
            sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh_set", "set_a"),
            "doc_a",
        )
        .join(
            sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh_set", "set_b"),
            "doc_b",
        )
        .withColumn("inter", F.expr("size(array_intersect(set_a, set_b))"))
        .withColumn(
            "jaccard",
            F.expr(
                "round(cast(inter as double) / (size(set_a) + size(set_b) - inter), 4)"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_k: int = 1,
    candidate_observation=None,
    candidate_budget: int | None = 2_000_000_000,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08): all document pairs with token-set Jaccard >= num/den,
    with zero false negatives — the deterministic complement to the
    probabilistic MinHash-LSH tier (`minhash_pairs_from_signatures`).

    Mechanics: order every document's distinct-token set by the global
    (document-frequency, token) total order — rarest first — and keep
    only the first ``n - ceil(t*n) + 1`` tokens (the PREFIX). The prefix
    principle guarantees any pair with Jaccard >= t shares at least one
    prefix token, so the candidate join keys on prefix tokens only; by
    construction these are each document's RAREST tokens, so bucket
    sizes stay small where a join on all tokens would explode on stop
    words. Candidates then pass an integer-exact length filter
    (``den*min(na,nb) >= num*max(na,nb)`` — necessary for J >= t) and an
    in-row ``array_intersect`` verify. The final threshold compare is
    integer arithmetic (``den*shared >= num*union``), never a float
    compare, so borderline pairs agree bit-for-bit with any exact
    oracle.

    Scale: two shuffles (token df; groupBy doc to re-assemble sorted
    sets) + the candidate join keyed on rare prefix tokens. The ordered
    sets are persisted once and feed the prefix explode and both verify
    sides. No all-pairs stage at any point; candidate count scales with
    rare-token collisions, not n².

    ``shingle_k`` > 1 runs the same algorithm over word-k-shingle sets
    instead of unigram sets: shingles capture word ORDER, which is what
    discriminates on small-vocabulary corpora where unigram sets
    degenerate to near-all-pairs (the winnowing tier documents the same
    failure mode; measured on the gate corpus at t=0.6: unigrams pass
    280k of 500k possible pairs, 3-shingles pass 600).

    ``candidate_observation``: an optional ``pyspark.sql.Observation``
    attached to the DISTINCT candidate-pair stage (metric
    ``n_candidates``) — the cost driver of the exactness tier. It rides
    the pair job for free (no extra pass); the measured candidate-growth
    curve vs the LSH tier recorded in SCALE.md §3 was read from it.

    ``candidate_budget``: circuit breaker for the exact tier's one
    superlinear cost. The sf0.01->sf1 probe measured 160x candidate
    growth at 10x docs — at the NEXT decade that curve is a
    cluster-killer if this function is pointed at an unbounded corpus.
    Before the pair join runs, the candidate-GENERATION volume is
    estimated from the prefix-token histogram as sum over prefix
    tokens of C(count, 2) — one cheap aggregate over the prefix
    relation (no join), an upper bound on join events (the length +
    positional filters only shrink it). If the estimate exceeds the
    budget the function raises instead of launching the join, naming
    the probabilistic LSH tier (``minhash_pairs_from_signatures`` /
    the ``doc_near_dup_pairs`` query) as the unbounded-corpus path.
    The default (2e9 events, roughly tens of GB of candidate shuffle)
    passes every measured tier through sf1 (~est 4e8) and trips about
    one decade later; ``None`` disables the breaker.
    """
    t_num, t_den = threshold_num, threshold_den
    toks_expr = spark_tokens(text_col)
    set_expr = (
        toks_expr
        if shingle_k <= 1
        else spark_word_shingles(toks_expr, shingle_k)
    )
    sets = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"array_distinct({set_expr})").alias("__toks"),
    )
    tok = sets.select("doc_id", F.explode("__toks").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.expr("array_sort(collect_list(struct(df, tok)))").alias("__s"))
        .select(
            "doc_id",
            F.expr("transform(__s, s -> s.tok)").alias("toks"),
            F.expr("size(__s)").alias("n"),
        )
    )
    # tracked like the LSH signature stages: the ordered sets feed the
    # prefix explode and both verify sides (3 plan references);
    # release_signature_caches() frees it once pairs are materialized
    ordered = _track_signature_cache(ordered)
    # prefix length n - ceil(t*n) + 1; ceil(a*n/b) == (a*n + b - 1) div b
    # keeps the whole computation in integer arithmetic (float t*n can
    # straddle an integer boundary and silently lengthen the prefix).
    prefix = ordered.select(
        "doc_id",
        "n",
        F.expr(
            f"slice(toks, 1, n - (({t_num}*n + {t_den} - 1) div {t_den}) + 1)"
        ).alias("__prefix"),
    ).select("doc_id", "n", F.posexplode("__prefix").alias("pos", "tok"))
    if candidate_budget is not None:
        # upper bound on candidate-generation events: every pair of
        # prefix rows sharing a token is one potential join event, so
        # sum C(c, 2) over the prefix-token histogram. Double math (a
        # hot token's c*(c-1) overflows bigint around c ~ 3e9) — this
        # is an estimate, not an exact count. Driver-side scalar like a
        # watermark read; the agg is over the prefix relation only.
        est = (
            prefix.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(
                    F.col("c").cast("double") * (F.col("c") - 1) / 2
                ).alias("est")
            )
            .collect()[0]["est"]
            or 0.0
        )
        if est > candidate_budget:
            raise ValueError(
                "prefix_filter_pairs: estimated candidate-generation "
                f"volume {est:.3g} exceeds candidate_budget "
                f"{candidate_budget:.3g}. The EXACT prefix-filter tier "
                "is priced for bounded corpora (decontamination lists, "
                "vocab tables); its candidate curve is superlinear "
                "(measured 160x at 10x docs, SCALE.md). For unbounded "
                "corpora use the MinHash-LSH tier "
                "(minhash_pairs_from_signatures / doc_near_dup_pairs), "
                "raise candidate_budget deliberately, or pass "
                "candidate_budget=None to disable the breaker."
            )
    l, r = prefix.alias("l"), prefix.alias("r")
    # Positional filter (PPJoin, Xiao et al. WWW'08): for a candidate
    # generated by a token at 0-based set positions (pa, pb), every
    # common token of the pair sits at position >= p1a in a and >= p1b
    # in b where (p1a <= pa, p1b <= pb) is the pair's FIRST common token
    # — so overlap <= min(na-p1a, nb-p1b) at that event. J >= num/den
    # needs overlap*(num+den) >= num*(na+nb); prune generation events
    # whose bound can't reach that. A qualifying pair's first-common-
    # token event always survives (its bound >= the true overlap), so
    # recall stays exact while the dominant waste class — common
    # shingles matching late in two long prefixes — dies before the
    # distinct+verify. Measured (sf0.1, through candidate_observation):
    # candidates 760k -> 273k (2.8x), 10x-docs candidate growth
    # 826x -> 455x, sf0.01 verify selectivity 0.65 -> 1.0. The AllPairs
    # asymmetric probing prefix was measured too and REMOVED: this
    # filter subsumes it (an event past the 2t/(1+t) mid-prefix cannot
    # satisfy the position bound), so it cut zero candidates and paid
    # +45% wall for the extra explode + non-equi join.
    cand = (
        l.join(
            r,
            (F.col("l.tok") == F.col("r.tok"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .filter(
            f"{t_den} * least(l.n, r.n) >= {t_num} * greatest(l.n, r.n)"
        )
        .filter(
            f"({t_num} + {t_den}) * least(l.n - l.pos, r.n - r.pos)"
            f" >= {t_num} * (l.n + r.n)"
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    if candidate_observation is not None:
        cand = cand.observe(
            candidate_observation, F.count(F.lit(1)).alias("n_candidates")
        )
    return (
        cand.join(
            ordered.select(
                F.col("doc_id").alias("doc_a"), F.col("toks").alias("set_a")
            ),
            "doc_a",
        )
        .join(
            ordered.select(
                F.col("doc_id").alias("doc_b"), F.col("toks").alias("set_b")
            ),
            "doc_b",
        )
        .withColumn(
            "n_shared",
            F.expr("cast(size(array_intersect(set_a, set_b)) as bigint)"),
        )
        .withColumn(
            "n_union",
            F.expr("cast(size(set_a) + size(set_b) as bigint) - n_shared"),
        )
        .filter(f"{t_den} * n_shared >= {t_num} * n_union")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_union",
            F.expr("round(cast(n_shared as double) / n_union, 4)").alias(
                "jaccard"
            ),
        )
    )
