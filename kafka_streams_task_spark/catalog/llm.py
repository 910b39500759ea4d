"""LLM-data-pipeline catalog: dedup, similarity search, text analysis,
multimodal plumbing — over the driver's documents/embeddings tables.

Every entry is oracle-backed. Where raw outputs are SQL-expressible
(exact dedup, n-gram jaccard via inverted index, brute-force cosine top-k,
token statistics, md5 fingerprints, multimodal metadata arithmetic) the
oracle recomputes them. The seeded/approximate operators (MinHash-LSH,
SimHash, LSH/IVF kNN, sketches) are driver-verified through SQL-checkable
INVARIANTS instead — planted-pair recall counts, per-query recall-vs-
brute-force gates, tolerance booleans — computed inside the same plan;
their raw outputs keep planted-duplicate property tests in
tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    GOPHER_STOPWORDS,
    STOPWORDS,
    WHITESPACE_RE,
    avg_token_length,
    distinct_token_ratio,
    gopher_quality_columns,
    lang_id,
    pii_flags,
    quality_score,
    repetition_ratio,
    rolling_fingerprint_portable,
    stopword_ratio,
    token_count,
    tokens,
)
from ..operators.dedup import (
    decontaminate,
    dedup_exact,
    embedding_near_dup_pairs,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from ..operators.multimodal import attach_asset_meta, decode_image_features
from ..operators.similarity import knn_bruteforce, knn_lsh
from ..schemas import load_table
from .registry import query

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


# r13 wave 2: driver slot folded into text_profile_suite
# (catalog/llm_suites.py); builder stays importable (bench.py raw
# workload), oracle rides the fold.
_TOKEN_STATS_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS t FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(t) AS INT) AS n_tokens,
           CAST(len(list_distinct(t)) AS INT) AS n_distinct,
           round((CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) + 1e-09, 6) AS distinct_ratio,
           round((list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / len(t)) + 1e-09, 6) AS avg_tok_len,
           round((CAST(len(list_filter(t, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / len(t)) + 1e-09, 6) AS stop_ratio
    FROM tok
    """


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical stats, all codegen column expressions."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.trim(F.col("text")), WHITESPACE_RE))).alias("n_distinct"),
        F.round((distinct_token_ratio("text")) + 1e-09, 6).alias("distinct_ratio"),
        F.round((avg_token_length("text")) + 1e-09, 6).alias("avg_tok_len"),
        F.round((stopword_ratio("text")) + 1e-09, 6).alias("stop_ratio"),
    )


_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)


# r13 wave 2: driver slot folded into text_profile_suite; builder stays
# importable (bench.py raw workload), oracle rides the fold.
_QUALITY_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, text, string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS t,
             string_split(text, chr(10)) AS ln
      FROM documents
    ), feats AS (
      SELECT doc_id, text, t, ln,
             least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) AS len_score,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS diversity,
             CAST(len(list_filter(t, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / len(t) AS stop,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [array_to_string(t, ' ')] END AS sh,
             round((list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / len(t)) + 1e-09, 6) AS mean_word_len,
             round(((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                     + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
                    / len(t)) + 1e-09, 6) AS symbol_word_ratio,
             round((CAST(len(list_filter(ln, x -> regexp_matches(x, '^[ \\t\\r\\f]*[-*•]'))) AS DOUBLE) / len(ln)) + 1e-09, 6) AS bullet_line_ratio,
             round((CAST(len(list_filter(ln, x -> regexp_matches(x, '\\.\\.\\.[ \\t\\r\\f]*$'))) AS DOUBLE) / len(ln)) + 1e-09, 6) AS ellipsis_line_ratio,
             round((CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t)) + 1e-09, 6) AS alpha_word_ratio,
             CAST(len(list_intersect(list_distinct(list_transform(t, x -> lower(x))),
                                     [{_GOPHER_STOP_SQL}])) AS INT) AS gopher_stop_hits
      FROM tok
    )
    SELECT doc_id,
           round(((len_score + diversity + (1.0 - abs(stop - 0.2))) / 3.0) + 1e-09, 6) AS quality,
           round((1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) + 1e-09, 6) AS rep_3gram,
           CAST(regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}') AS INT) AS has_email,
           CAST(regexp_matches(text, '\\b[0-9]{{3}}[-. ][0-9]{{3}}[-. ][0-9]{{4}}\\b') AS INT) AS has_phone,
           CAST(regexp_matches(text, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b') AS INT) AS has_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
             '\\b[0-9]{{3}}[-. ][0-9]{{3}}[-. ][0-9]{{4}}\\b', '[PII]', 'g'),
             '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '[PII]', 'g')
             AS text_redacted,
           CAST(len(t) AS INT) AS n_words,
           mean_word_len, symbol_word_ratio, bullet_line_ratio,
           ellipsis_line_ratio, alpha_word_ratio, gopher_stop_hits,
           CAST((len(t) >= 50 AND len(t) <= 100000
                 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                 AND symbol_word_ratio <= 0.1
                 AND bullet_line_ratio <= 0.9
                 AND ellipsis_line_ratio <= 0.3
                 AND alpha_word_ratio >= 0.8
                 AND gopher_stop_hits >= 2) AS INT) AS gopher_pass
    FROM feats
    """


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter feature set (r2: widened from the single composite):
    composite quality heuristic (length/diversity/stopword-ratio), duplicated-
    trigram repetition ratio (boilerplate/looping-generation detector), the
    classic PII scrub flags (email/phone/ipv4) plus the scrub TRANSFORM
    itself (r4: ``text_redacted`` — the chained redaction output compared
    byte-for-byte against the oracle's replacement chain), and the full
    Gopher rule set (Rae et al. 2021 App. A1.1: word-count bounds, mean
    word length, symbol-to-word ratio, bullet/ellipsis line ratios,
    alpha-word ratio, stopword hits, combined pass flag) — every column a
    codegen expression, every column recomputed exactly by the DuckDB
    oracle."""
    from ..functions.text import redact_pii

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        quality_score("text").alias("quality"),
        F.round(repetition_ratio("text") + 1e-09, 6).alias("rep_3gram"),
        *pii_flags("text"),
        redact_pii("text").alias("text_redacted"),
        *gopher_quality_columns("text"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the table's labeled lang column. The oracle
    mirrors the marker-hit argmax (lexicographic (hits, lang) max in both
    engines) and the CJK script check."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled"),
        lang_id("text").alias("predicted"),
    )


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprints, using the
    portable md5 variant so the fingerprint VALUES are oracle-checked (the
    in-engine default is the cheaper xxhash64 ``rolling_fingerprint``; same
    window/selection semantics, pinned equivalent by construction)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint_portable("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def dedup_exact_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest-groupBy, lowest-id survivor per distinct text."""
    return dedup_exact(load_table(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >= 0.2 via inverted-index join (no cross
    join). The oracle mirrors the inverted-index formulation in SQL."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2
    )


def dedup_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash-LSH gate with a SQL-checkable invariant: plant a
    near-duplicate (last token dropped) of every document with >= 20 tokens,
    run the full candidate pipeline (128 hashes, 32 bands) on the doubled
    corpus, and report how many planted pairs the banding missed. A planted
    pair has 3-gram Jaccard >= (T-5)/(T-2) >= 0.83, so the per-pair miss
    probability under the seeded banding is ~1e-9 — n_missed must be 0,
    which the DuckDB oracle states exactly (it can count the planted pairs,
    and the zero-miss claim IS the LSH recall property). The raw candidate
    operator stays covered by planted-pair property tests."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.split(F.trim(F.col("text")), WHITESPACE_RE)
    eligible = d.filter(F.size(t) >= 20)
    planted = eligible.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.array_join(F.slice(t, 1, F.size(t) - 1), " ").alias("text"),
    )
    cands = minhash_lsh_candidates(d.unionByName(planted))
    expected = eligible.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + F.lit(1000000)).alias("id_b")
    )
    missed = expected.join(cands, on=["id_a", "id_b"], how="left_anti")
    return expected.agg(F.count(F.lit(1)).alias("n_planted")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("n_missed"))
    )


def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SimHash gate with a SQL-checkable invariant: plant an
    exact copy of every document, run the full pipeline (64-bit bit-vote
    simhash, 16-bit pigeonhole blocks, hamming <= 3 verification) on the
    doubled corpus, and report missed planted pairs. Identical text gives
    an identical simhash, so every planted pair is GUARANTEED to share all
    four blocks and verify at hamming 0 — n_missed must be exactly 0. The
    discriminative (near-dup) behavior is covered by the single-token-edit
    property test."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select((F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text")
    pairs = simhash_near_dup_pairs(d.unionByName(planted))
    expected = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + F.lit(1000000)).alias("id_b")
    )
    missed = expected.join(pairs, on=["id_a", "id_b"], how="left_anti")
    return expected.agg(F.count(F.lit(1)).alias("n_planted")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("n_missed"))
    )


def dedup_embedding_cosine_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding-cosine near-dup gate with a SQL-checkable
    invariant: plant an exact copy of every nonzero embedding, run the full
    pipeline (8 random-hyperplane LSH tables of 8 sign bits, exact cosine
    verification at threshold 0.99) on the doubled corpus, and report
    missed planted pairs. Identical float values give identical sign bits
    in EVERY table, so each planted pair is guaranteed to share all 8
    buckets and verify at cosine 1.0 — n_missed must be exactly 0, which
    the DuckDB oracle states directly. The discriminative (perturbed-copy)
    behavior is covered by the recall property test in test_llm_ops.py."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    norm2 = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    eligible = e.filter(norm2 > 0)
    planted = eligible.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    pairs = embedding_near_dup_pairs(
        eligible.unionByName(planted), threshold=0.99
    )
    expected = eligible.select(
        F.col("vec_id").alias("id_a"), (F.col("vec_id") + F.lit(1000000)).alias("id_b")
    )
    missed = expected.join(pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
    return expected.agg(F.count(F.lit(1)).alias("n_planted")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("n_missed"))
    )


_RECALL_COLS = [("n_planted", "long"), ("n_missed", "long")]


def _recall_suite_oracle() -> str:
    from ._suite_utils import canary_sql

    return f"""
    SELECT CAST('minhash' AS VARCHAR) AS leg, CAST(count(*) AS BIGINT) AS n_planted,
           CAST(0 AS BIGINT) AS n_missed
    FROM documents
    WHERE len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) >= 20
    UNION ALL
    SELECT CAST('simhash' AS VARCHAR), CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
    FROM documents
    UNION ALL
    SELECT CAST('cosine' AS VARCHAR), CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
    FROM embeddings
    WHERE list_sum(list_transform(embedding, x -> CAST(x*x AS DOUBLE))) > 0
    UNION ALL
    SELECT CAST('decontam' AS VARCHAR), CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
    FROM embeddings
    WHERE vec_id < 50
      AND list_sum(list_transform(embedding, x -> CAST(x*x AS DOUBLE))) > 0
    UNION ALL
    {canary_sql(_RECALL_COLS)}
    """


@query("dedup_recall_suite", oracle=_recall_suite_oracle())
def dedup_recall_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three approximate-dedup planted-recall gates in one driver row
    (r12 fold of the r1 slots dedup_minhash_lsh_recall + dedup_simhash_recall
    + dedup_embedding_cosine_recall — all green every round r1–r11; VERDICT
    r11 item 1). Each leg is exactly the prior slot's single (n_planted,
    n_missed) invariant row, unchanged:

    'minhash' — plant a last-token-dropped near-dup of every >=20-token
    document, run the full 128-hash/32-band pipeline on the doubled corpus;
    n_missed must be 0 (planted Jaccard >= 0.83 → per-pair miss ~1e-9
    under the fixed seed).

    'simhash' — plant an exact copy of every document; identical text
    gives identical 64-bit simhash, so all four pigeonhole blocks match
    and hamming = 0: n_missed must be exactly 0.

    'cosine' — plant an exact copy of every nonzero embedding; identical
    floats give identical sign bits in all 8 hyperplane tables and verify
    at cosine 1.0: n_missed must be exactly 0.

    'decontam' (r14 fold of the decontam_embedding_recall slot — the
    COVERAGE.md window pre-plan's shape-identical candidate, executed to
    free a slot for quantile_sketch_suite) — embedding-level benchmark
    DECONTAMINATION (decontaminate_embedding): the "benchmark" is an
    exact copy of every nonzero embedding with vec_id < 50, each planted
    row must be flagged (identical floats → identical sign bits in
    every LSH table, verify at cosine 1.0 >= 0.99), n_missed exactly 0.
    The single's (n_planted, n_missed) invariant row rides UNCHANGED —
    this leg has the same shape as the other three by construction.

    Canary rows pin the long-type round-trip (2^53+1, int64 extremes,
    NULLs) per the r6 fold discipline. The raw candidate operators keep
    their planted-pair property tests in tests/test_llm_ops.py."""
    from ._suite_utils import canary_df
    from .extensions import decontam_embedding_recall

    def _leg(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("leg"),
            F.col("n_planted").cast("long").alias("n_planted"),
            F.col("n_missed").cast("long").alias("n_missed"),
        )

    return (
        _leg(dedup_minhash_lsh_recall(spark, sf_dir), "minhash")
        .unionByName(_leg(dedup_simhash_recall(spark, sf_dir), "simhash"))
        .unionByName(_leg(dedup_embedding_cosine_recall(spark, sf_dir), "cosine"))
        .unionByName(_leg(decontam_embedding_recall(spark, sf_dir), "decontam"))
        .unionByName(canary_df(spark, _RECALL_COLS))
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def similarity_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors vec_id < 10: broadcast queries,
    JVM-side dot products, per-query top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _knn_recall_gate(
    queries_df: DataFrame, exact: DataFrame, approx: DataFrame, k: int, floor: float
) -> DataFrame:
    """Per-query recall-vs-brute-force gate: (query_id, n_results,
    recall_ok). Both top-k sets are computed in the same plan; the oracle
    can state the expected shape (k results, recall above the floor) in
    plain SQL because the floor claim is deterministic under fixed seeds."""
    hits = (
        approx.join(exact.select("query_id", "neighbor_id"), on=["query_id", "neighbor_id"], how="left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n_hits"))
    )
    counts = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n_results"))
    base = queries_df.select(F.col("vec_id").alias("query_id"))
    return (
        base.join(counts, on="query_id", how="left")
        .join(hits, on="query_id", how="left")
        .select(
            "query_id",
            F.coalesce(F.col("_n_results"), F.lit(0)).alias("n_results"),
            (F.coalesce(F.col("_n_hits"), F.lit(0)) / float(k) >= floor).cast("int").alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def multimodal_asset_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary asset column + typed metadata struct. Payload is the utf-8
    encoding of text (the container has no media files); metadata extraction
    is the real production plumbing."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    with_meta = attach_asset_meta(d)
    return with_meta.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
    )


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing with the deterministic stub decoder —
    the oracle mirrors the stub's arithmetic, so the Arrow batch path,
    schema, and row alignment are all hash-checked."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return decode_image_features(d)


# r13 wave 2: driver slot folded into text_profile_suite; builder stays
# importable, oracle rides the fold.
_BPE_COUNTS_ORACLE = r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r\f]+') AS words
      FROM documents
    )
    SELECT d.doc_id,
           CAST(len(string_split_regex(trim(
             regexp_replace(
               regexp_replace(
                 regexp_replace(d.text, '([a-zA-Z])([0-9])', '\1 \2', 'g'),
                 '([0-9])([a-zA-Z])', '\1 \2', 'g'),
               '([^a-zA-Z0-9 \t\n\r\f])', ' \1 ', 'g')
           ), '[ \t\n\r\f]+')) AS INT) AS n_bpe_tokens,
           CAST(list_sum(list_transform(t.words, x -> length(x))) AS BIGINT)
             AS bpe_char_mass,
           CAST(len(t.words) AS BIGINT) AS bpe_word_marks
    FROM documents d JOIN t ON d.doc_id = t.doc_id
    """


def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenization under the driver hash gate, two tokenizers:

    n_bpe_tokens — the regex boundary approximation (bpe_ish_tokens),
    recomputed exactly by the RE2 oracle (cheap cost-estimation path).

    bpe_char_mass / bpe_word_marks — a REAL trained BPE tokenizer
    (operators/bpe.py: distributed pair-merge training on this very
    corpus, 64 merges in disjoint batches of 16, then the memoized encoder)
    checked through its conservation laws, which hold for ANY valid merge
    sequence and therefore are SQL-stateable without the oracle knowing
    the learned merges: stripping the end-of-word markers from a doc's
    subwords must restore exactly the document's character mass
    (lossless-ness), and exactly one marker-bearing subword must exist per
    word (boundary preservation). A merge that loses, duplicates, or
    crosses word boundaries breaks a column. The learned-merge SEQUENCE
    itself is pinned against a pure-Python reference implementation in
    tests/test_bpe.py."""
    from ..functions.text import bpe_ish_tokens
    from ..operators.bpe import EOW, bpe_encode, bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=64, batch_k=16)
    enc = bpe_encode(d, merges)
    bpe_cols = enc.select(
        "doc_id",
        F.aggregate(
            F.transform(
                F.col("subwords"),
                lambda s: F.length(F.replace(s, F.lit(EOW), F.lit(""))).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("bpe_char_mass"),
        F.size(
            F.filter(F.col("subwords"), lambda s: s.contains(EOW))
        ).cast("long").alias("bpe_word_marks"),
    )
    return d.select(
        "doc_id",
        F.size(bpe_ish_tokens("text")).alias("n_bpe_tokens"),
    ).join(bpe_cols, on="doc_id")


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_exact_duplicates: full-schema surviving rows (lowest id per
    distinct text), the operator a training-data pipeline actually applies."""
    from ..operators.dedup import drop_exact_duplicates

    d = load_table(spark, sf_dir, "documents")
    return drop_exact_duplicates(d).select("doc_id", "lang", "source")


# r13: driver slot folded into profile_agg_suite (catalog/relational.py);
# the builder stays importable and its oracle rides the folded suite.
_APPROX_AGG_ORACLE = """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts_exact,
           round((quantile_cont(l_extendedprice, 0.5)) + 1e-07, 4) AS med_price_exact,
           CAST(1 AS INT) AS approx_parts_ok,
           CAST(1 AS INT) AS approx_median_ok
    FROM lineitem
    GROUP BY l_returnflag
    """


def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB approximate toolkit — HyperLogLog++ distinct counts and
    quantile sketches — gated against the exact aggregates computed in the
    same plan. Sketch VALUES are engine-specific, so the driver-checkable
    claim is the tolerance: both approximations within 15% relative error
    of the exact answers — 3 sigma of HLL++'s default rsd = 0.05, so the
    gate holds at EVERY scale factor (r13: the earlier 1-sigma 5% gate
    legitimately flipped on ordinary HLL error at sf0.1; at the driver
    scale both thresholds emit the identical gated value, so the hash is
    unchanged); percentile_approx accuracy 10000. An engine bug in either
    sketch flips the booleans and fails the value hash."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.percentile("l_extendedprice", 0.5).alias("_med_exact"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_apx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("_apx_med"),
    )
    return exact.join(approx, on="l_returnflag").select(
        "l_returnflag",
        "n_parts_exact",
        F.round(F.col("_med_exact") + 1e-07, 4).alias("med_price_exact"),
        (F.abs(F.col("_apx_parts") - F.col("n_parts_exact")) / F.col("n_parts_exact") <= 0.15)
        .cast("int")
        .alias("approx_parts_ok"),
        (F.abs(F.col("_apx_med") - F.col("_med_exact")) / F.col("_med_exact") <= 0.15)
        .cast("int")
        .alias("approx_median_ok"),
    )


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components) and sampling / packing
# ---------------------------------------------------------------------------


@query(
    "dedup_clusters_cc",
    oracle="""
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
    FROM documents
    """,
)
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components duplicate clustering, oracle-checked end to end:
    build a PATH graph per exact-duplicate group (consecutive doc_ids under
    the same md5 digest — multi-hop chains, so the star contractions must
    actually iterate, not just read off single edges), run the alternating
    large-star/small-star algorithm (operators/cluster.py), and label every
    document with its cluster root. A document's root is provably the
    minimum doc_id sharing its text, which the DuckDB oracle states as a
    window min over the digest partition. Near-dup edge sets (MinHash/
    SimHash pairs) feed the same operator in production; the exact-dup
    edge set is the deterministic, SQL-checkable instance."""
    from pyspark.sql import Window

    from ..operators.cluster import connected_components

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("dg")
    )
    w = Window.partitionBy("dg").orderBy("doc_id")
    edges = (
        d.select("doc_id", F.lag("doc_id").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("doc_id").alias("dst"))
    )
    comps = connected_components(edges)
    singles = d.join(
        comps, d.doc_id == comps.node, "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).unionByName(singles)


_MIX_RATES = {"en": 1.0, "fr": 0.5, "zh": 0.5, "es": 0.25, "de": 0.25}
_PACK_BUDGET = 512


_CHUNK_TOKENS = 32


@query(
    "sample_pack_pipeline",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS n_tokens
      FROM documents
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0
            < CASE lang WHEN 'en' THEN 1.0 WHEN 'fr' THEN 0.5 WHEN 'zh' THEN 0.5
                        WHEN 'es' THEN 0.25 WHEN 'de' THEN 0.25 ELSE 0.0 END
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CAST(ceil(n_tokens / 32.0) AS BIGINT)) AS BIGINT) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(0 AS BIGINT) AS n_bad_packs
    FROM s GROUP BY lang
    """,
)
def sample_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full sample -> chunk -> pack preprocessing chain, oracle-checked
    end to end: keep a deterministic md5-hash stratified sample per
    language (exact binary rates, so the Spark filter and the DuckDB
    filter admit byte-identical row sets), split each sampled doc into
    <= 32-token chunks (map-only ``chunk_documents``), greedily pack the
    chunks into 512-token sequences (operators/sampling.py), and emit
    per-language conservation invariants computed from the PACK output:
    every sampled doc survives chunking+packing (n_docs, distinct),
    chunk count law n_chunks = sum(ceil(n_tokens/32)) (the r4 leg that
    puts chunk_documents under the driver's hash check), token mass
    preserved through chunk AND pack (total_tokens), and zero multi-chunk
    packs over budget (n_bad_packs). The oracle recomputes sample
    membership and the chunk/token arithmetic in SQL and states the
    packing invariants as constants — a lost or duplicated chunk, a
    token-splitting bug, or an overfilled pack each breaks a column."""
    from ..operators.sampling import (
        chunk_documents,
        hash_stratified_sample,
        pack_sequences,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sampled = hash_stratified_sample(d, _MIX_RATES, "lang", "doc_id")
    chunks = chunk_documents(sampled, max_tokens=_CHUNK_TOKENS).select(
        (F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_idx")).alias("chunk_id"),
        "n_tokens",
    )
    packed = pack_sequences(
        chunks,
        budget=_PACK_BUDGET,
        id_col="chunk_id",
        n_tokens_col="n_tokens",
        num_partitions=32,
    )
    fills = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n_in_pack")
    )
    bad = fills.filter(
        (F.col("fill") > _PACK_BUDGET) & (F.col("n_in_pack") > 1)
    ).agg(F.count(F.lit(1)).alias("n_bad"))
    per_lang = (
        packed.select(
            F.expr("chunk_id div 1000000").alias("doc_id"),
            "n_tokens",
        )
        .join(sampled.select("doc_id", "lang"), on="doc_id")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    return per_lang.crossJoin(bad).select(
        "lang", "n_docs", "n_chunks", "total_tokens", F.col("n_bad").alias("n_bad_packs")
    )


_LEAK_8GRAM = " ".join(f"zzleak{i}" for i in range(8))


def _zorder_oracle_expr(bits: int = 8) -> str:
    """DuckDB bit arithmetic reproducing ``layout.zorder_key`` over
    events(user_id, value) with ``bits``-wide buckets: the bucket mirrors
    Spark's width_bucket float operation ORDER exactly — (hi-lo)/n first,
    then (v-lo)/that, then floor — so IEEE doubles agree bit-for-bit and
    the Morton interleave is integer-exact (verified: 0 mismatches over
    the full events table)."""
    n_buckets = 1 << bits

    def bucket(col: str, lo: str, hi: str) -> str:
        return (
            f"least(greatest(CAST(floor((CAST({col} AS DOUBLE) - ({lo})) / "
            f"((({hi}) - ({lo})) / {n_buckets}.0)) AS BIGINT), 0), {n_buckets - 1})"
        )

    bu = bucket("user_id", "(SELECT min(user_id) FROM events)", "(SELECT max(user_id) FROM events)")
    bv = bucket("value", "(SELECT min(value) FROM events)", "(SELECT max(value) FROM events)")
    parts = []
    for b in range(bits):
        parts.append(f"(((({bu}) >> {b}) & 1) << {b * 2})")
        parts.append(f"(((({bv}) >> {b}) & 1) << {b * 2 + 1})")
    return " | ".join(parts)


#: (stat alias, micro-scaled Gopher threshold) in emission order — single
#: source of truth for the Spark leg AND the DuckDB oracle's pass flag.
_REPETITION_STATS = (
    ("dup_line_frac", 300000),
    ("dup_line_char_frac", 200000),
    ("dup_para_frac", 300000),
    ("dup_para_char_frac", 200000),
    ("top2gram_char_frac", 200000),
    ("top3gram_char_frac", 180000),
    ("top4gram_char_frac", 160000),
    ("dup5gram_char_frac", 150000),
    ("dup10gram_char_frac", 100000),
)


