"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first:
  exact          — hash-groupBy on a content digest (one shuffle)
  simhash        — 64-bit SimHash + hamming-band blocking
  minhash_lsh    — MinHash signatures + LSH banding (the 100 TB near-dup
                   workhorse: candidate pairs only ever meet inside an LSH
                   bucket join, never a cross join)
  ngram_jaccard  — exact Jaccard on word n-gram shingles, evaluated only on
                   candidate pairs produced by a shingle-inverted-index join
  embedding      — cosine near-dups over an embedding column: random-
                   hyperplane LSH tables for candidates, exact JVM cosine
                   verification (embedding_near_dup_pairs)

Scale design: every operator is shuffle-bounded by (band, bucket) or
(shingle) keys; nothing materializes O(n^2) pairs. Skewed buckets (boiler-
plate shingles) are capped with a per-bucket limit before pairing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rounding import stable_round
from ..functions.text import shingles, tokens
from ..schemas import fan_out_scan, local_table

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on content digest: keep the lowest id per distinct text.

    One hash-shuffle on md5(text) — never on the full text bytes, so 100 TB
    of documents shuffles only 16-byte digests + ids.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the surviving rows (lowest id per distinct text), full schema."""
    keep = dedup_exact(df, text_col, id_col).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def _universal_hash_61(a: np.ndarray, b: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Exact ``(a*x + b) mod (2^61 - 1)`` for uint64 arrays, no wraparound.

    ``a``/``b`` are (H,) params < p, ``x`` is (N,) values < 2^61 (callers
    mask). Returns the (H, N) hash matrix. A naive ``a*x`` wraps mod 2^64
    before the Mersenne mod (so the claimed universal family would not
    hold); instead split both operands at 31/30 bits so every partial
    product fits in uint64 exactly, and reduce with Mersenne folds
    (2^61 ≡ 1 mod p):

      a*x = (a1*x1)*2^62 + (a1*x0 + a0*x1)*2^31 + a0*x0
      2^62 ≡ 2 (mod p);  y*2^31 mod p = ((y << 31) & M61) + (y >> 30)
    """
    M61 = np.uint64(_MERSENNE)
    s31, s30, s61 = np.uint64(31), np.uint64(30), np.uint64(61)

    def fold(v: np.ndarray) -> np.ndarray:  # v < 2^63: one fold + conditional subtract
        v = (v & M61) + (v >> s61)
        return np.where(v >= M61, v - M61, v)

    a1 = (a >> s31)[:, None]                     # < 2^30
    a0 = (a & np.uint64((1 << 31) - 1))[:, None]  # < 2^31
    x1 = (x >> s31)[None, :]                     # < 2^30
    x0 = (x & np.uint64((1 << 31) - 1))[None, :]  # < 2^31

    hi = a1 * x1                                  # < 2^60, exact
    mid = a1 * x0 + a0 * x1                       # < 2^62, exact
    lo = a0 * x0                                  # < 2^62, exact
    # hi*2^62 ≡ 2*hi;  mid*2^31 via fold;  lo folded directly
    term_hi = fold(hi << np.uint64(1))
    term_mid = fold(((mid << s31) & M61) + (mid >> s30))
    term_lo = fold(lo)
    return fold(fold(term_hi + term_mid + term_lo) + b[:, None])


def _minhash_mins(
    a: np.ndarray, b: np.ndarray, x: np.ndarray, starts: np.ndarray
) -> np.ndarray:
    """Per-document minimums of the universal hashes: (H, n_docs) matrix of
    ``min over doc segment of (a_h*x + b_h) mod p``, where ``starts`` marks
    each document's first index in the flat shingle-hash vector ``x``.

    Same exact arithmetic as ``_universal_hash_61`` (pinned identical by
    ``test_minhash_mins_matches_matrix``), restructured as a loop over the
    H hash functions with (N,) vector temporaries: the (H, N) matrix form
    materializes ~20 temporaries of H*N*8 bytes and is memory-bandwidth
    bound (measured 11.3s for H=128, N=260k single-threaded); per-hash
    (N,) temporaries stay cache-resident (same workload: 1.0s).
    """
    M61 = np.uint64(_MERSENNE)
    s31, s30, s61 = np.uint64(31), np.uint64(30), np.uint64(61)
    mask31 = np.uint64((1 << 31) - 1)

    def fold(v: np.ndarray) -> np.ndarray:
        v = (v & M61) + (v >> s61)
        return np.where(v >= M61, v - M61, v)

    x1 = x >> s31
    x0 = x & mask31
    out = np.empty((len(a), len(starts)), dtype=np.uint64)
    for h in range(len(a)):
        a1 = a[h] >> s31
        a0 = a[h] & mask31
        hi = x1 * a1
        mid = x0 * a1 + x1 * a0
        lo = x0 * a0
        term_hi = fold(hi << np.uint64(1))
        term_mid = fold(((mid << s31) & M61) + (mid >> s30))
        v = fold(fold(term_hi + term_mid + fold(lo)) + b[h])
        out[h] = np.minimum.reduceat(v, starts)
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    seed: int = 42,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<long>) — MinHash signatures.

    Shingling + xxhash64 of each shingle stay JVM-side (codegen); Python
    receives only (id, array<long>) Arrow batches via ``mapInPandas``,
    flattens each batch's shingle hashes into one vector, and computes the
    per-document minimums of all ``num_hashes`` universal hashes in one
    ``_minhash_mins`` call ((a*x + b) mod p, p = 2^61-1, exact
    split-multiply arithmetic over shingle hashes masked to 61 bits;
    segment mins via ``minimum.reduceat`` — no per-document Python loop).

    mapInPandas (a plan node) rather than a scalar pandas_udf: scalar Python
    UDFs with higher-order-function arguments break self-join plan
    deduplication (the lambda-bound argument can't be re-extracted on the
    deduplicated side), and mapInPandas also amortizes better over batches.
    """
    from collections.abc import Iterator

    a, b = _minhash_params(num_hashes, seed)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mask61 = np.uint64(_MERSENNE)
        for pdf in it:
            ids = pdf[id_col].values
            hs = pdf["hs"].values
            lens = np.array(
                [0 if lst is None else len(lst) for lst in hs], dtype=np.int64
            )
            ne = lens > 0
            sigs = np.zeros((len(ids), num_hashes), dtype=np.int64)
            if ne.any():
                flat = np.concatenate(
                    [np.asarray(lst, dtype=np.int64) for lst in hs[ne]]
                ).astype(np.uint64) & mask61
                starts = np.concatenate([[0], np.cumsum(lens[ne])[:-1]]).astype(
                    np.int64
                )
                sigs[ne] = _minhash_mins(a, b, flat, starts).astype(np.int64).T
            yield pd.DataFrame({id_col: ids, "sig": list(sigs)})

    # opt-r16: fan the projected (id, text) scan out to the session's
    # parallelism BEFORE the shingle/signature kernels — a single-split
    # source otherwise serializes both the JVM shingling and the numpy
    # signature stage in one task (measured 3.3 s single-task vs 1.6 s
    # total after the fan-out on 32 cores)
    hashed = fan_out_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.transform(shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias("hs"),
    )
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("sig", T.ArrayType(T.LongType()))]
    )
    return hashed.mapInPandas(batches, out_schema)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding.

    Pipeline: shingle -> minhash signature (Pandas UDF) -> split into
    ``bands`` bands of ``num_hashes/bands`` rows -> hash each band ->
    explode to (band_idx, band_hash, id) -> self-join per bucket.

    Returns (id_a, id_b) candidate pairs (id_a < id_b, distinct). The
    threshold is implied by the banding: s ≈ (1/bands)^(1/rows_per_band).

    Scale: single-pass group-membership formulation (the shape public
    TB-scale text-dedup pipelines use): one shuffle on (band_idx,
    band_hash) collects each bucket's sorted id list, buckets over
    ``max_bucket`` docs are dropped whole (boilerplate guard — same
    semantics as the previous aggregate+anti-join cap), and pairs explode
    JVM-side from the sorted array (slice-after-index, so id_a < id_b by
    construction). The expensive MinHash signature stage runs exactly
    once — no persist, no cache-lifecycle to manage. Per-bucket arrays
    materialize before the size filter, so a mass-duplicate bucket costs
    one aggregation buffer of 8·bucket_n bytes transiently; run exact
    dedup first (standard pipeline order) to keep such buckets small.
    """
    banded = minhash_band_table(
        df, text_col, id_col, num_hashes, bands, shingle_n=shingle_n
    )
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    return (
        grouped.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select("id_a", F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b"))
        .distinct()
    )


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The persistable LSH index: (id, band, bucket) rows — the banded
    signature table :func:`minhash_lsh_candidates` buckets on, exposed so
    a pipeline can WRITE it once per corpus and dedup future shards
    incrementally (:func:`minhash_lsh_candidates_incremental`) instead of
    re-signaturing 100 TB on every new crawl. All banding parameters
    (num_hashes, bands, shingle_n, seed) must match between the index
    write and every later incremental call — they define the hash family.

    ~24 bytes/row x bands rows per doc; partition the written table by
    ``band`` so an incremental run prunes to hit bands at scan time."""
    rows_per_band = num_hashes // bands
    with_sig = minhash_signatures(
        df, text_col, id_col, num_hashes, seed=seed, shingle_n=shingle_n
    )
    return with_sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), bidx * rows_per_band + 1, rows_per_band).cast("string")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates_incremental(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dup candidates: a NEW shard against an existing
    corpus' :func:`minhash_band_table` index — the production re-crawl
    workflow, where re-signaturing the corpus at rest for every incoming
    shard would dwarf the shard itself. Emits exactly the candidate pairs
    of a full-corpus :func:`minhash_lsh_candidates` run that TOUCH a new
    document (new-new and new-old; old-old pairs were already emitted
    when the index was built), with identical bucket-cap semantics: the
    cap applies to the COMBINED bucket size. Ids must be disjoint between
    the index and the new shard.

    Scale shape: only the new shard is signatured (one Arrow pass over
    the shard, not the corpus); index buckets are pruned FIRST with a
    semi-join against the shard's (band, bucket) set — a 100 TB index
    contributes only the buckets a new document actually lands in (with
    the written table partitioned by band, partition pruning cuts the
    scan too). Pairing is the same sorted-members explode, carrying an
    is_new flag so old-old pairs never materialize past the JVM filter.
    """
    # lazy localCheckpoint: new_bands feeds two branches (the bucket probe
    # and the members union) whose exchanges differ, so without pinning the
    # shard's band table, the expensive signature stage would run twice —
    # violating the family's run-exactly-once invariant. LAZY (not eager)
    # so building the pairs plan stays job-free; the pin is shard-sized
    # (bands rows x ~24 bytes per doc), not corpus-sized. Callers that
    # already persist their band table (the streaming tier, or an index
    # writer) should call incremental_pairs_from_bands directly.
    new_bands = minhash_band_table(
        new_df, text_col, id_col, num_hashes, bands, shingle_n=shingle_n, seed=seed
    ).localCheckpoint(eager=False)
    return incremental_pairs_from_bands(
        new_bands, index, id_col=id_col, max_bucket=max_bucket
    ).select("id_a", "id_b")


def incremental_pairs_from_bands(
    new_bands: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = 1000,
) -> DataFrame:
    """Pair machinery under :func:`minhash_lsh_candidates_incremental`,
    taking ALREADY-BANDED tables on both sides (callers that persist band
    tables — the streaming near-dedup tier — skip re-signaturing). Emits
    (id_a, id_b, a_is_new, b_is_new) with id_a < id_b, only pairs
    touching a new id; combined-bucket cap. ``new_bands`` should be
    materialized (checkpointed or read from storage) — it feeds two
    branches."""
    hit = new_bands.select("band", "bucket").distinct()
    relevant = index.join(hit, on=["band", "bucket"], how="left_semi")
    members = relevant.select(id_col, "band", "bucket", F.lit(False).alias("is_new")).unionByName(
        new_bands.select(id_col, "band", "bucket", F.lit(True).alias("is_new"))
    )
    grouped = (
        members.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct(F.col(id_col).alias("id"), "is_new"))).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
    )
    return (
        grouped.select(F.posexplode("ms").alias("i", "a"), "ms")
        .select("a", F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b"))
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.is_new").alias("a_is_new"),
            F.col("b.is_new").alias("b_is_new"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Inverted-index formulation (no cross join), single pass: each document
    contributes (id, n_sh) to every distinct shingle's posting list; one
    shuffle on the shingle hash groups the postings, lists over
    ``max_shingle_freq`` docs are dropped whole (a shingle appearing in k
    docs contributes k² pairs — boilerplate guard, same semantics as the
    previous broadcast frequency filter), and co-occurring pairs explode
    from the sorted posting array. Because |A| and |B| ride inside the
    posting structs, n_common per pair is one more groupBy away and
    |A∪B| = |A| + |B| - |A∩B| needs no join back to a sizes table —
    the corpus is shingled exactly once, so nothing persists.

    Output: id_a, id_b, jaccard (rounded 6dp), id_a < id_b.

    Shingles are carried as xxhash64 longs, not strings: posting lists and
    the pair shuffle carry 8-byte keys regardless of shingle text length
    (collision probability at 64 bits is negligible against any realistic
    corpus-distinct-shingle count).
    """
    common = _shingle_common_counts(df, text_col, id_col, shingle_n, max_shingle_freq)
    return (
        common.withColumn(
            "jaccard",
            stable_round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_posting_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """The persistable containment/Jaccard index: ``(id, n_sh, shingle)``
    rows, one per (document, distinct shingle hash) — the exploded form
    every inverted-index pairing operator groups on, exposed (r12) so a
    pipeline can WRITE it once per corpus and probe future shards
    incrementally (:func:`containment_incremental_pairs`, the streaming
    containment tier) instead of re-shingling 100 TB per crawl.

    Shingles are xxhash64 longs: ~24 bytes/row x distinct-shingles rows
    per doc, text never rides the index. ``shingle_n`` must match
    between the index write and every later incremental call."""
    # opt-r16: fan the projected scan out — the tokenize/hash/explode
    # chain fuses into the scan stage, and a single-split source would
    # run it in one task regardless of session cores (guide §2.5;
    # measured 0.55s serialized on the sf0.1 profile). explode_outer +
    # post-generate null filter instead of explode: a plain explode makes
    # the optimizer infer `size(shs) > 0` and push it BELOW the fan-out
    # exchange, substituting the whole shingle expression — the full
    # chain then runs serially in the scan task AND again post-exchange
    # (the §4.4 duplicate-evaluation trap, with native expressions). The
    # null filter references the generated column, so it cannot sink.
    return (
        fan_out_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.transform(
                    shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)
                )
            ).alias("shs"),
        )
        .select(
            F.col(id_col),
            F.size("shs").alias("n_sh"),
            F.explode_outer("shs").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )


def _shingle_common_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_shingle_freq: int,
) -> DataFrame:
    """Shared candidate machinery of :func:`ngram_jaccard_pairs` /
    :func:`ngram_containment_pairs`: ``(id_a, n_a, id_b, n_b,
    n_common)`` for every pair sharing >= 1 surviving shingle
    (``id_a < id_b``; posting lists over ``max_shingle_freq`` docs drop
    whole — the boilerplate guard)."""
    sh = shingle_posting_table(df, text_col, id_col, shingle_n)
    postings = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct(id_col, "n_sh"))).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_shingle_freq))
    )
    pairs = (
        postings.select(F.posexplode("members").alias("i", "a"), "members")
        .select("a", F.explode(F.expr("slice(members, i + 2, size(members))")).alias("b"))
    )
    return pairs.groupBy(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col("a.n_sh").alias("n_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("b.n_sh").alias("n_b"),
    ).agg(F.count(F.lit(1)).alias("n_common"))


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """DIRECTIONAL n-gram containment pairs: ``(id_a, id_b,
    cont_a_in_b, cont_b_in_a)`` with ``id_a < id_b`` and
    ``max(cont_a_in_b, cont_b_in_a) >= threshold``, where
    ``cont_a_in_b = |Sh(A) ∩ Sh(B)| / |Sh(A)|`` over distinct
    ``shingle_n``-gram sets.

    Containment is the ASYMMETRIC near-dup relation Jaccard misses: a
    tweet quoted inside an article, a doc that is a strict superset of
    another, boilerplate wrapped around reused bodies — pairs where
    ``|A| << |B|`` can have Jaccard near 0 and containment near 1. The
    standard curation uses: quote/superset detection, "benchmark doc
    embedded in a crawl page" sweeps at corpus-pair granularity (the
    n-gram-level decontaminate() answers overlap, not which PAIRS).

    Same single-pass inverted-index machinery as
    :func:`ngram_jaccard_pairs` (one corpus shingle pass, one posting
    shuffle on the 8-byte hash, pairs explode from sorted posting
    arrays): any pair with containment >= t > 0 shares a shingle, so
    candidates are complete — modulo posting lists over
    ``max_shingle_freq`` dropping whole, the documented boilerplate
    guard shared with the Jaccard form. No cartesian anywhere."""
    common = _shingle_common_counts(df, text_col, id_col, shingle_n, max_shingle_freq)
    out = common.select(
        "id_a",
        "id_b",
        stable_round(F.col("n_common") / F.col("n_a"), 6).alias("cont_a_in_b"),
        stable_round(F.col("n_common") / F.col("n_b"), 6).alias("cont_b_in_a"),
    )
    return out.filter(
        F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
        >= F.lit(float(threshold))
    )


def drop_contained_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.95,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """The actionable form of :func:`ngram_containment_pairs`: drop every
    document whose distinct-shingle set is (>= ``threshold``) contained
    in a LARGER document's — quotes swallowed by their articles, strict
    subsets, truncated re-crawls — keeping the superset. Returns the
    survivors with their original columns.

    Drop rule (ONE pass over the pair table, no iteration): doc X drops
    iff some OTHER doc Y has ``containment(X in Y) >= threshold`` and Y
    outranks X — more distinct shingles, ties by smaller id. Ranking by
    size makes the relation acyclic: the top of any containment chain
    is never dropped (nothing outranks it), and mutual containment
    (near-identical docs) keeps exactly one — the exact-dedup tiebreak.
    Caveat stated plainly: a dropped doc's absorber may itself have
    been dropped against something bigger, and with ``threshold < 1``
    containment is not transitive, so a middle link's unique tail can
    be lost — the single-pass policy trades that sliver (bounded by
    ``1 - threshold`` of each doc) for never iterating; run with
    ``threshold=1.0`` when strict content preservation matters.

    Scale shape: the pair machinery's single corpus pass + posting
    shuffle, then one distinct drop-id projection and a broadcast-able
    left_anti join back — no collect, no cartesian."""
    common = _shingle_common_counts(df, text_col, id_col, shingle_n, max_shingle_freq)
    t = F.lit(float(threshold))
    a_loses = (F.col("n_common") / F.col("n_a") >= t) & (
        (F.col("n_a") < F.col("n_b"))
        | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") > F.col("id_b")))
    )
    b_loses = (F.col("n_common") / F.col("n_b") >= t) & (
        (F.col("n_b") < F.col("n_a"))
        | ((F.col("n_b") == F.col("n_a")) & (F.col("id_b") > F.col("id_a")))
    )
    drops = (
        common.select(
            F.when(a_loses, F.col("id_a")).alias("da"),
            F.when(b_loses, F.col("id_b")).alias("db"),
        )
        .select(F.explode(F.array("da", "db")).alias("_drop_id"))
        .filter(F.col("_drop_id").isNotNull())
        .distinct()
    )
    return df.join(
        drops, df[id_col] == drops["_drop_id"], "left_anti"
    )


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware duplicate-cluster survivor selection (r12): given a
    corpus and a near-duplicate PAIR table (``id_a``/``id_b`` — any of
    this module's pairing operators), cluster the pairs with connected
    components and keep the HIGHEST-``score_col`` document of each
    cluster (ties to smallest id; documents in no pair survive as their
    own cluster). Returns survivors with their original columns.

    This is the curation policy production pipelines actually want:
    min-id survivorship (``drop_exact_duplicates``) is arbitrary among
    near-dups whose content DIFFERS — CCNet/RefinedWeb-style pipelines
    keep the best-quality representative (longest, highest classifier
    score, lowest perplexity) so dedup never downgrades the corpus.
    NULL scores sort last (a scored doc always beats an unscored one);
    an all-NULL cluster falls back to min id.

    Scale shape: components run on the PAIR graph only (sparse —
    pair-sized, not corpus-sized; O(log n) star contraction rounds, or
    the driver union-find under the size guard), one equi-join labels
    the corpus, and survivor selection is a single per-cluster
    row_number window — no corpus self-join anywhere."""
    from .cluster import connected_components

    # underscore-prefixed temp names (the module discipline): a caller
    # frame that already has 'node'/'component' columns must not make the
    # labeling join ambiguous or get silently dropped (ADVICE r12).
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).select(F.col("node").alias("_cc_node"), F.col("component").alias("_cc_component"))
    labeled = (
        df.join(comps, df[id_col] == comps["_cc_node"], "left")
        .withColumn("_cluster", F.coalesce(F.col("_cc_component"), F.col(id_col)))
        .drop("_cc_node", "_cc_component")
    )
    w = Window.partitionBy("_cluster").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_cluster")
    )


def containment_incremental_pairs(
    new_sh: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.95,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """Incremental DROP-DECISION pairs for containment dedup: a NEW
    shard's :func:`shingle_posting_table` against a committed posting
    index (r12, VERDICT r11 item 6 — the streaming twin of
    :func:`drop_contained_documents`). Emits ``(id_a, id_b, a_is_new,
    b_is_new)`` in the victim-oriented contract the index-backed
    streaming choreography consumes:

    - MIXED pairs (one new, one indexed) appear ONLY when the NEW doc
      loses the batch rank rule — contained >= ``threshold`` in an
      indexed doc with more distinct shingles (ties to smaller id).
      The reverse case (an indexed doc contained in a new superset) is
      deliberately NOT emitted: landed documents are never retracted at
      ingest — the documented conservative asymmetry, caught by the
      at-rest batch pass.
    - NEW-NEW pairs are normalized so ``id_b`` IS the victim (``id_a``
      the survivor) under exactly the batch drop rule, so within one
      batch streaming == :func:`drop_contained_documents` row-for-row
      (the rank rule makes a_loses/b_loses mutually exclusive).

    Scale shape: index postings prune FIRST with a semi-join against
    the shard's shingle set — a 100 TB index contributes only postings
    a new doc actually touches; the pair shuffle carries 8-byte hashes;
    combined posting lists over ``max_shingle_freq`` drop whole (the
    boilerplate guard — the same cap applied to the SURVIVOR index plus
    batch membership, not to the full raw corpus: a shingle whose raw
    frequency exceeded the cap in a from-scratch batch pass can fall
    back under it here once earlier victims left the index, so pair
    emission may diverge across batches even though within-batch
    equivalence to :func:`drop_contained_documents` holds exactly;
    ADVICE r12). ``new_sh`` should be materialized — it feeds the probe
    and the union."""
    hit = new_sh.select("shingle").distinct()
    relevant = index.join(hit, on="shingle", how="left_semi")
    members = relevant.select(
        id_col, "n_sh", "shingle", F.lit(False).alias("is_new")
    ).unionByName(
        new_sh.select(id_col, "n_sh", "shingle", F.lit(True).alias("is_new"))
    )
    postings = (
        members.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "n_sh", "is_new"))
            ).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_shingle_freq))
    )
    common = (
        postings.select(F.posexplode("ms").alias("i", "a"), "ms")
        .select("a", F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b"))
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col("a.is_new").alias("a_is_new"),
            F.col("b.id").alias("id_b"),
            F.col("b.n_sh").alias("n_b"),
            F.col("b.is_new").alias("b_is_new"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    t = F.lit(float(threshold))
    a_loses = (F.col("n_common") / F.col("n_a") >= t) & (
        (F.col("n_a") < F.col("n_b"))
        | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") > F.col("id_b")))
    )
    b_loses = (F.col("n_common") / F.col("n_b") >= t) & (
        (F.col("n_b") < F.col("n_a"))
        | ((F.col("n_b") == F.col("n_a")) & (F.col("id_b") > F.col("id_a")))
    )
    mixed = F.col("a_is_new") != F.col("b_is_new")
    both_new = F.col("a_is_new") & F.col("b_is_new")
    mixed_drop = common.filter(
        mixed & ((F.col("a_is_new") & a_loses) | (F.col("b_is_new") & b_loses))
    ).select("id_a", "id_b", "a_is_new", "b_is_new")
    both_drop = common.filter(both_new & (a_loses | b_loses)).select(
        F.when(a_loses, F.col("id_b")).otherwise(F.col("id_a")).alias("id_a"),
        F.when(a_loses, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"),
        F.lit(True).alias("a_is_new"),
        F.lit(True).alias("b_is_new"),
    )
    return mixed_drop.unionByName(both_drop).distinct()


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 4000,
    dropped_acc=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) with
    id_a < id_b and cosine >= ``threshold``.

    Candidate generation is random-hyperplane LSH (``n_tables`` independent
    sign-bit tables of ``n_planes`` bits; per-table collision probability
    for angle θ is (1 - θ/π)^n_planes, so recall rises geometrically with
    ``n_tables``); candidates are pairs sharing any (table, bucket), then
    exact JVM-side cosine verification keeps true near-dups only.

    Scale: the bucket shuffle carries only (tbl, bkt, id) rows — vectors
    rejoin at scoring, so no shuffle carries a vector per candidate pair.
    Single-pass group-membership formulation: one shuffle on (tbl, bkt)
    collects each bucket's sorted id list, buckets over ``max_bucket``
    members (near-zero vectors, mass duplicates) are dropped whole — same
    guard as MinHash banding — and candidate pairs explode JVM-side from
    the sorted array. The hyperplane projection runs exactly once; nothing
    persists and nothing materializes O(n²).
    """
    from .similarity import cosine_similarity, lsh_table_buckets, random_hyperplanes

    planes = np.vstack(
        [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )
    buckets = lsh_table_buckets(
        emb, planes, n_tables, n_planes, id_col, vec_col, "id",
        dropped_acc=dropped_acc,
    )
    grouped = (
        buckets.groupBy("tbl", "bkt")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = (
        grouped.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select("id_a", F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            stable_round(cosine_similarity(F.col("_va"), F.col("_vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_bucket_index_table(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """The persistable embedding-LSH index (r12): ``(id, tbl, bkt,
    embedding)`` rows — ``n_tables`` sign-bit bucket rows per vector,
    with the vector itself stored ONCE (on the ``tbl == 0`` row, null
    elsewhere) so the index carries each embedding exactly one time
    while bucket probes stay 24-byte rows. The hyperplane family is a
    pure function of (dim, n_planes, n_tables, seed): an index written
    once dedups every future shard incrementally
    (:func:`embedding_incremental_pairs`, the streaming embedding tier)
    as long as the parameters match."""
    from .similarity import lsh_table_buckets, random_hyperplanes

    planes = np.vstack(
        [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )
    buckets = lsh_table_buckets(
        emb, planes, n_tables, n_planes, id_col, vec_col, id_col
    )
    vecs = emb.select(F.col(id_col), F.col(vec_col).alias("_vec"))
    return buckets.join(vecs, id_col).select(
        id_col,
        "tbl",
        "bkt",
        F.when(F.col("tbl") == 0, F.col("_vec")).alias("embedding"),
    )


def embedding_incremental_pairs(
    new_state: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    threshold: float = 0.9,
    max_bucket: int = 4000,
) -> DataFrame:
    """Incremental embedding near-dup pairs (r12): a NEW shard's
    :func:`embedding_bucket_index_table` against a committed index.
    Emits ``(id_a, id_b, a_is_new, b_is_new)`` candidate pairs touching
    a new id, cosine-verified >= ``threshold`` — the flag contract the
    index-backed streaming choreography consumes (mixed pairs drop the
    new side; new-new pairs drop ``id_b``, the larger id).

    Scale shape: index buckets prune FIRST with a semi-join against the
    shard's (tbl, bkt) set; the pairing shuffle carries 24-byte bucket
    rows; vectors rejoin only for VERIFIED-candidate ids (semi-join
    pruned from the once-per-id ``tbl == 0`` rows), so no shuffle
    carries a vector per candidate. Combined buckets over ``max_bucket``
    drop whole (the mass-duplicate guard shared with the batch form)."""
    from .similarity import cosine_similarity

    hit = new_state.select("tbl", "bkt").distinct()
    relevant = index.join(hit, on=["tbl", "bkt"], how="left_semi")
    members = relevant.select(
        id_col, "tbl", "bkt", F.lit(False).alias("is_new")
    ).unionByName(
        new_state.select(id_col, "tbl", "bkt", F.lit(True).alias("is_new"))
    )
    grouped = (
        members.groupBy("tbl", "bkt")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "is_new"))
            ).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
    )
    cand = (
        grouped.select(F.posexplode("ms").alias("i", "a"), "ms")
        .select("a", F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b"))
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.is_new").alias("a_is_new"),
            F.col("b.is_new").alias("b_is_new"),
        )
        .distinct()
    )
    all_vecs = (
        index.filter(F.col("embedding").isNotNull())
        .select(id_col, "embedding")
        .unionByName(
            new_state.filter(F.col("embedding").isNotNull()).select(
                id_col, "embedding"
            )
        )
    )
    va = all_vecs.select(
        F.col(id_col).alias("id_a"), F.col("embedding").alias("_va")
    )
    vb = all_vecs.select(
        F.col(id_col).alias("id_b"), F.col("embedding").alias("_vb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(
            stable_round(cosine_similarity(F.col("_va"), F.col("_vb")), 6)
            >= F.lit(float(threshold))
        )
        .select("id_a", "id_b", "a_is_new", "b_is_new")
    )


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh) — 64-bit SimHash per document, computed the scalable way:
    explode shingle hashes, one groupBy(id) with packed bit-count
    aggregates (single pass, map-side partial aggregation), then the
    majority vote reassembles the fingerprint.

    Semantically identical to ``functions.text.simhash64`` (same shingles,
    same xxhash64, same vote) but one data pass instead of 64 array walks
    per row.

    opt-r16 (guide §1.2 planning cost, §2.5 input skew): the original
    form carried 65 separate aggregates plus a 64-term bitwiseOR chain
    built one py4j call at a time — ~1.5 s of driver-side expression
    construction + optimizer/codegen per run, dwarfing the data work at
    bench scale and paid again on every cluster job submit. Packing four
    16-bit counter lanes per long cuts the aggregate tree to 17 columns
    (count + 16 packed sums), and building the pack/unpack expressions
    as single SQL strings via ``F.expr`` replaces hundreds of py4j
    round-trips with one JVM parse. Lane arithmetic is exact while every
    doc has < 65536 shingles per lane (a 16-bit lane counts one bit
    position; a doc would need >= 2^16 shingles to saturate — far past
    any realistic document; callers feeding books should chunk first).
    Measured: full simhash pipeline 2.7 s -> 1.48 s, plan-build
    1.5 s -> 0.5 s, results bit-identical at sf0.01 and sf0.1. The
    projected (id, text) scan fans out first so the shingle/pack stage
    is not serialized by a single-split source.
    """
    # explode_outer + post-generate null filter: a plain explode makes the
    # optimizer infer `size(...) > 0` and sink it below the fan-out
    # exchange with the whole shingle expression substituted in, running
    # the chain serially in the scan task and again post-exchange.
    hashed = fan_out_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode_outer(
            F.transform(shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s))
        ).alias("h"),
    ).filter(F.col("h").isNotNull())
    packs = [
        F.expr(
            " | ".join(f"(shiftrightunsigned(h, {l + 16 * w}) & 1) << {16 * w}" for w in range(4))
        ).alias(f"_p{l}")
        for l in range(16)
    ]
    g = hashed.select(F.col(id_col), *packs).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("k"),
        *[F.sum(f"_p{l}").alias(f"_s{l}") for l in range(16)],
    )
    sh = F.expr(
        " | ".join(
            f"(CAST(IF(((shiftrightunsigned(_s{l}, {16 * w}) & 65535) * 2) >= k, 1, 0) AS BIGINT) << {l + 16 * w})"
            for l in range(16)
            for w in range(4)
        )
    )
    return g.select(F.col(id_col), sh.alias("sh"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit simhash, block into ``n_blocks``
    16-bit chunks (pigeonhole: hamming<=3 pairs share at least one exact
    chunk), group per chunk, verify hamming distance exactly.

    Everything stays JVM-side — simhash (via ``simhash_table``), blocking,
    pair generation, and the popcount verification. Single-pass
    group-membership formulation: one shuffle on (block_idx, chunk)
    collects each chunk bucket's (id, sh) posting list sorted by id, and
    candidate pairs explode from the array with both fingerprints riding
    along — the simhash stage runs exactly once and nothing persists.
    Per-bucket arrays materialize in one aggregation buffer (16 bytes per
    member); a corpus whose docs concentrate in one 16-bit chunk value
    (mass duplicates) should run exact dedup first, as with MinHash.
    """
    with_sh = simhash_table(df, text_col, id_col, shingle_n)
    return hamming_near_dup_pairs(
        with_sh,
        id_col=id_col,
        hash_col="sh",
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    )


def hamming_near_dup_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column via chunk
    blocking — the shared Hamming tier behind :func:`simhash_near_dup_
    pairs` (text) and ``image_hash.image_near_dup_pairs`` (r9
    perceptual image dedup). Blocks the hash into ``n_blocks`` equal
    chunks (pigeonhole: any pair with ``hamming <= n_blocks - 1``
    shares at least one exact chunk), groups per (block, chunk), and
    verifies Hamming exactly JVM-side. Returns ``(id_a, id_b,
    hamming)`` with ``id_a < id_b``.

    Single-pass group-membership formulation: one shuffle on
    (block, chunk) collects each bucket's (id, hash) posting list
    sorted by id, and candidate pairs explode from the array with both
    fingerprints riding along — the upstream hash stage runs exactly
    once and nothing persists. Per-bucket arrays materialize in one
    aggregation buffer (16 bytes per member); a corpus whose items
    concentrate in one chunk value (mass exact duplicates) should run
    exact dedup first, as with MinHash banding.

    Candidate-volume honesty (review r9): a chunk has only
    ``2^(64/n_blocks)`` values, so even UNIFORM hashes collide at
    ``n^2 * n_blocks / 2^(64/n_blocks)`` expected candidate pairs —
    for the image default (8 blocks of 8 bits) that is ~``n^2/32``:
    effectively quadratic past ~10^5 items, and real perceptual-hash
    distributions are skewed, so worse. The simhash default (4 blocks
    of 16 bits) divides by 16384 instead. At large n, either lower the
    certified threshold (fewer, wider blocks), pre-dedup exact
    payloads, or set ``max_bucket`` — buckets larger than the cap are
    DROPPED (logged recall trade, the MinHash ``max_bucket``
    precedent): a bucket that hot is dominated by exact/mass
    duplicates an upstream pass should have removed.
    """
    if 64 % n_blocks != 0:
        raise ValueError(f"n_blocks must divide 64, got {n_blocks}")
    if max_hamming >= n_blocks:
        # pigeonhole only certifies hamming <= n_blocks - 1; a larger
        # threshold would SILENTLY lose recall — refuse, don't degrade
        raise ValueError(
            f"max_hamming={max_hamming} needs n_blocks >= "
            f"{max_hamming + 1} for complete recall (got {n_blocks})"
        )
    blocked = hamming_block_table(hashed, id_col, hash_col, n_blocks)
    grouped = (
        blocked.groupBy("blk", "chunk")
        .agg(F.array_sort(F.collect_list(F.struct(id_col, hash_col))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("members") <= max_bucket)
    cand = (
        grouped.select(F.posexplode("members").alias("i", "a"), "members")
        .select("a", F.explode(F.expr("slice(members, i + 2, size(members))")).alias("b"))
        # duplicate ids in the input (e.g. unioned crawl passes) sort
        # adjacent and would explode a (id, id, 0) self-pair — never
        # emit one (review r9; the documented contract is id_a < id_b)
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("sh_a"),
            F.col(f"b.{hash_col}").alias("sh_b"),
        )
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # One row per (id_a, id_b): min-aggregate instead of distinct —
    # duplicate input ids carrying DIFFERENT hashes (unioned crawl
    # passes) would otherwise emit the same pair several times with
    # conflicting hamming values (advice r9). min = the closest pair of
    # representatives, the conservative near-dup verdict; same single
    # shuffle the old distinct() paid. Filtering before the aggregate
    # is sound: min over the <= max_hamming survivors equals the global
    # min whenever any survivor exists, and pairs with no survivor are
    # exactly the pairs the filter-after-min would drop.
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def shared_token_pairs(
    tokens: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "fh",
    min_shared: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """``(id_a, id_b, n_shared)`` — items sharing at least ``min_shared``
    distinct token values, via an inverted index on the token (r9): the
    shared candidate tier behind ``image_hash.video_near_dup_pairs``
    (frame hashes) and ``audio_fp.audio_near_dup_pairs`` (sub-
    fingerprints); any (id, token) relation with exact-match semantics
    drops in. Group-membership explode per token bucket — bounded,
    never all-pairs; buckets above ``max_bucket`` are DROPPED (a token
    shared by thousands of items is a stop-token carrying no identity).
    Input rows are de-duplicated to distinct (id, token) first, so
    ``n_shared`` counts distinct shared values."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    # NULL is not a token: a natural left-join / failed-extraction shape
    # emits NULL for undecodable items, and grouping those into one
    # bucket would cross-pair every such item on "shared nothing"
    # (review r9 pass 2)
    distinct = (
        tokens.select(id_col, token_col)
        .filter(F.col(token_col).isNotNull())
        .distinct()
    )
    grouped = (
        distinct.groupBy(token_col)
        .agg(F.array_sort(F.collect_list(id_col)).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket))
    )
    return (
        grouped.select(F.posexplode("members").alias("i", "id_a"), "members")
        .select(
            "id_a",
            F.explode(F.expr("slice(members, i + 2, size(members))")).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def hamming_block_table(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    n_blocks: int = 4,
) -> DataFrame:
    """``(id, hash, blk, chunk)`` — the persistable Hamming index (the
    :func:`minhash_band_table` analogue for 64-bit fingerprints): write
    it partitioned by ``blk`` and an incremental re-crawl run prunes to
    hit chunks at scan time instead of re-hashing the corpus. All
    blocking parameters (n_blocks, and the upstream hash recipe) must
    match between index build and incremental probe."""
    if 64 % n_blocks != 0:
        raise ValueError(f"n_blocks must divide 64, got {n_blocks}")
    chunk_bits = 64 // n_blocks
    # static per-block expressions (shift amounts must be Python ints)
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col(hash_col), i * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("chunk"),
            )
            for i in range(n_blocks)
        ]
    )
    return hashed.select(id_col, hash_col, F.explode(blocks).alias("bc")).select(
        id_col, hash_col, "bc.blk", "bc.chunk"
    )


def hamming_incremental_pairs(
    new_blocked: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket: int | None = None,
    keep_flags: bool = False,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new shard, against a persisted
    :func:`hamming_block_table` index — the production re-crawl shape
    (the :func:`incremental_pairs_from_bands` analogue): only the new
    shard is hashed; the index is pruned by a semi-join to the (blk,
    chunk) buckets the shard actually hits (with the written table
    partitioned by ``blk``, partition pruning cuts the scan); old–old
    pairs never materialize. ``n_blocks`` must equal the index's (it is
    validated against ``max_hamming`` here; consistency with the stored
    table is the caller's contract — a mismatch mis-chunks silently).
    Ids should be disjoint between the index and the new shard (as with
    the MinHash incremental tier); a re-crawled identical id never
    self-pairs, but its cross-pairs can surface under both flag combos.
    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``;
    ``keep_flags=True`` appends ``a_is_new``/``b_is_new`` (the
    streaming drop policy needs to know WHICH side is the shard's —
    the ``incremental_pairs_from_bands`` convention)."""
    if 64 % n_blocks != 0:
        raise ValueError(f"n_blocks must divide 64, got {n_blocks}")
    if max_hamming >= n_blocks:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_blocks >= "
            f"{max_hamming + 1} for complete recall (got {n_blocks})"
        )
    hit = new_blocked.select("blk", "chunk").distinct()
    relevant = index.join(hit, on=["blk", "chunk"], how="left_semi")
    members = relevant.select(
        id_col, hash_col, "blk", "chunk", F.lit(False).alias("is_new")
    ).unionByName(
        new_blocked.select(
            id_col, hash_col, "blk", "chunk", F.lit(True).alias("is_new")
        )
    )
    grouped = (
        members.groupBy("blk", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(id_col, hash_col, "is_new"))
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    if max_bucket is not None:
        # cap on the COMBINED (index + shard) bucket size, matching the
        # full-run cap semantics
        grouped = grouped.filter(F.size("members") <= max_bucket)
    cand = (
        grouped.select(F.posexplode("members").alias("i", "a"), "members")
        .select(
            "a",
            F.explode(F.expr("slice(members, i + 2, size(members))")).alias("b"),
        )
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        # a re-crawled doc sits in BOTH the index and the new shard
        # under its own id — never a self-pair
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("sh_a"),
            F.col(f"b.{hash_col}").alias("sh_b"),
            F.col("a.is_new").alias("a_is_new"),
            F.col("b.is_new").alias("b_is_new"),
        )
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out_cols = ["id_a", "id_b", "hamming"] + (
        ["a_is_new", "b_is_new"] if keep_flags else []
    )
    # distinct AFTER projecting the output columns: with keep_flags off,
    # a pair whose ids both sit in index AND shard surfaces under
    # several flag combos — a flag-inclusive distinct would emit the
    # same (id_a, id_b, hamming) row up to 3x (review r9 pass 2)
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(*out_cols)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    bench_text: str = "text",
    shingle_n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing >=
    ``min_overlap`` distinct word ``shingle_n``-grams with ANY benchmark
    document — the overlap filter training pipelines run against eval sets
    so test questions don't leak into training data.

    Returns (corpus_id, n_contaminated_shingles) for flagged docs only;
    anti-join the result against the corpus to drop them.

    Scale shape: the benchmark side is tiny relative to the corpus (eval
    sets are thousands of rows vs billions), so its distinct shingle-hash
    set BROADCASTS; the corpus side is one explode + broadcast semi-join +
    groupBy — the corpus is scanned once, shuffles only (id, 8-byte hash)
    rows that actually hit, and nothing pairs corpus docs with each other.
    Shingles travel as xxhash64 longs (same trick as ``ngram_jaccard_pairs``).

    Collision budget (64-bit, deliberate): a corpus shingle colliding with a
    benchmark shingle FALSE-POSITIVES a contamination flag — the failure
    direction is conservative (a clean training doc gets dropped, never an
    eval leak kept). Expected spurious hits ≈ n_corpus_shingles ×
    n_bench_shingles / 2^64: at 1e9 distinct corpus shingles against a 1e7
    shingle eval set that is ~5e-4 flagged docs corpus-wide — noise next to
    the docs the ``min_overlap`` threshold flags legitimately. 64 bits is
    kept (vs the 128-bit membership keys in
    :func:`remove_boilerplate_lines`) because widening would double the
    broadcast set for no correctness gain in the safe direction.
    """
    bench_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        shingles(F.col(bench_text), shingle_n), lambda s: F.xxhash64(s)
                    )
                )
            ).alias("shingle")
        )
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col(corpus_id),
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(F.col(corpus_text), shingle_n), lambda s: F.xxhash64(s)
                )
            )
        ).alias("shingle"),
    )
    hits = corpus_sh.join(F.broadcast(bench_sh), on="shingle", how="left_semi")
    return (
        hits.groupBy(corpus_id)
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
        .filter(F.col("n_contaminated_shingles") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (r7): the scale path past broadcastability.
#
# decontaminate() broadcasts the benchmark's distinct 64-bit shingle hashes
# as a semi-join relation (~8 B/element plus hash-table overhead — a few GB
# at 1e8 elements, the practical broadcast ceiling). A Bloom filter at 1%
# FPR costs ~9.6 BITS/element (~120 MB at 1e8), extending the broadcast
# range ~30x. The filter is built and probed entirely with relational
# codegen: the bitset is a (word_idx, word) long table, membership is k
# broadcast hash-join probes — no Python stage, no driver-side bitset, no
# custom serialization (vs Spark's Scala-only DataFrameStatFunctions
# .bloomFilter, which PySpark does not expose and whose sketch cannot be
# probed from SQL).
#
# False positives are CONSERVATIVE (a clean doc gets over-flagged, never an
# eval leak kept); pass the benchmark to decontaminate_bloom for the
# verify stage, which re-checks only bloom survivors against the exact
# shingle set (now a shuffle join whose corpus side is the rare hits) and
# makes the output IDENTICAL to decontaminate() — no false negatives by
# Bloom construction (all k bits of a present element are always set).
# ---------------------------------------------------------------------------

from dataclasses import dataclass


@dataclass(frozen=True)
class ShingleBloom:
    """A built Bloom filter over benchmark shingle hashes: the bitset as
    a ``(word_idx: long, word: long)`` relation (one row per nonzero
    64-bit word) plus the probe parameters."""

    words: DataFrame
    m_bits: int
    num_hashes: int
    shingle_n: int


def bloom_parameters(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard sizing: ``m = -n ln p / (ln 2)^2`` bits (rounded up to a
    word), ``k = (m/n) ln 2`` hashes (clamped to [1, 16])."""
    import math

    n = max(int(n_items), 1)
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    if m >= 1 << 50:
        raise ValueError(f"filter of {m} bits exceeds the 2^50 sanity bound")
    k = max(1, min(16, round(m / n * math.log(2))))
    return m, k


def _bloom_probe_cols(h: Column, m_bits: int, num_hashes: int) -> list[Column]:
    """Bit positions for a 64-bit shingle hash via Kirsch–Mitzenmacher
    double hashing, ``pos_i = (h1 + i*h2) mod m`` with both draws
    pmod-reduced FIRST so the arithmetic never overflows int64 under
    ANSI mode (a, b < m < 2^50; i <= 15 => a + i*b < 2^54)."""
    a = F.pmod(h, F.lit(m_bits))
    b = F.pmod(F.xxhash64(h, F.lit(1)), F.lit(m_bits))
    return [F.pmod(a + F.lit(i) * b, F.lit(m_bits)) for i in range(num_hashes)]


def _shingle_hashes(df: DataFrame, text_col: str, shingle_n: int) -> Column:
    return F.array_distinct(
        F.transform(shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s))
    )


def build_shingle_bloom(
    benchmark: DataFrame,
    bench_text: str = "text",
    shingle_n: int = 8,
    fpp: float = 0.01,
    n_items: int | None = None,
) -> ShingleBloom:
    """Build the Bloom filter over the benchmark's distinct shingle
    hashes, distributively: explode each hash into its k bit positions,
    group by 64-bit word index, ``bit_or`` the masks — one shuffle over
    the (small) benchmark side only, output rows = nonzero words.

    ``n_items`` sizes the filter; by default it is counted exactly (one
    extra job over the benchmark — pass an estimate to skip it)."""
    bench_sh = (
        benchmark.select(
            F.explode(_shingle_hashes(benchmark, bench_text, shingle_n)).alias("h")
        ).distinct()
    )
    if n_items is None:
        n_items = bench_sh.count()
    m_bits, k = bloom_parameters(n_items, fpp)
    pos = bench_sh.select(
        F.explode(F.array(*_bloom_probe_cols(F.col("h"), m_bits, k))).alias("pos")
    )
    words = (
        pos.select(
            F.shiftrightunsigned("pos", 6).alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    # pin the built bitset: decontaminate_bloom broadcasts it k times
    # under k different aliases, which defeats ReuseExchange — without
    # this the benchmark explode+distinct+bit_or pipeline re-executes
    # once per probe (the run-exactly-once invariant, same as
    # minhash_lsh_candidates_incremental's)
    words = words.localCheckpoint(eager=False)
    return ShingleBloom(words=words, m_bits=m_bits, num_hashes=k, shingle_n=shingle_n)


def decontaminate_bloom(
    corpus: DataFrame,
    bloom: ShingleBloom,
    benchmark: DataFrame | None = None,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    bench_text: str = "text",
    min_overlap: int = 1,
) -> DataFrame:
    """:func:`decontaminate` behind a Bloom pre-filter. With
    ``benchmark`` given, bloom survivors are exactly verified and the
    output is IDENTICAL to :func:`decontaminate` (Bloom has no false
    negatives); without it, the output over-flags at the filter's FPP —
    the conservative direction for decontamination.

    Probe shape: ``k`` broadcast joins against the word table, one per
    hash. A dense-literal probe (the whole table as one array literal)
    measured as a wall-clock wash at two scales and was removed (receipt
    in OPTIMIZATION_r17.md). Only bloom HITS reach the verify join, so
    its corpus side is rare and the benchmark side never needs to fit
    a broadcast hash relation."""
    m, k = bloom.m_bits, bloom.num_hashes
    # opt-r16 (guide §2.5/§4.4): fan the projected corpus out — the 8-gram
    # shingle chain, the probes and the hit filter fuse into the scan
    # stage and ran serially on a single-split source — and use
    # explode_outer + a post-generate null filter so the inferred
    # size() predicate can't sink below the exchange with the shingle
    # expression substituted in (hashes are never null; only the
    # outer-emitted rows for empty docs drop, as plain explode did).
    fo = fan_out_scan(corpus.select(corpus_id, corpus_text))
    corpus_sh = fo.select(
        F.col(corpus_id),
        F.explode_outer(_shingle_hashes(fo, corpus_text, bloom.shingle_n)).alias("h"),
    ).filter(F.col("h").isNotNull())
    probes = _bloom_probe_cols(F.col("h"), m, k)
    out = corpus_sh
    hit = F.lit(True)
    for i, pos in enumerate(probes):
        out = out.withColumn(f"_bp{i}", pos)
        out = out.join(
            F.broadcast(
                bloom.words.select(
                    F.col("word_idx").alias(f"_bw{i}"),
                    F.col("word").alias(f"_bwv{i}"),
                )
            ),
            on=F.col(f"_bw{i}") == F.shiftrightunsigned(F.col(f"_bp{i}"), 6),
            how="left",
        )
        hit = hit & F.coalesce(
            F.expr(f"(_bwv{i} & shiftleft(1L, cast(_bp{i} % 64 AS int))) != 0"),
            F.lit(False),
        )
    candidates = out.filter(hit).select(corpus_id, "h")
    if benchmark is not None:
        bench_sh = (
            benchmark.select(
                F.explode(
                    _shingle_hashes(benchmark, bench_text, bloom.shingle_n)
                ).alias("h")
            ).distinct()
        )
        # no broadcast hint: the premise is a bench set past broadcast
        # size; the corpus side is the rare bloom hits, so AQE picks the
        # cheap join (and may still broadcast a small side at test scale)
        candidates = candidates.join(bench_sh, on="h", how="left_semi")
    return (
        candidates.groupBy(corpus_id)
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
        .filter(F.col("n_contaminated_shingles") >= min_overlap)
    )


def cross_split_contamination(
    df: DataFrame,
    split_col: str = "split",
    train_split: str = "train",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Train→eval leakage audit over an already-split corpus (e.g. from
    :func:`~..operators.sampling.assign_splits`): for every document NOT
    in ``train_split``, count its distinct word ``shingle_n``-grams that
    also occur anywhere in the train split. Returns
    ``(split, doc_id, n_contaminated_shingles)`` for docs at or over
    ``min_overlap`` — an eval set whose rows appear here is measuring
    memorization, not generalization.

    This is :func:`decontaminate` with the roles inverted: there the
    benchmark is tiny and broadcasts; here the "benchmark" is the full
    train split, so membership is a plain shuffled hash semi-join on
    64-bit shingle hashes — both sides shuffle ONLY (id, hash) longs,
    never text, and the eval side (the grouped side) is the small one.
    The train side's ``distinct`` is the honest dominant cost (one
    full-corpus shuffle of 8-byte hashes); for repeated audits against a
    growing train set, persist that distinct-hash table and append —
    or prefilter with :func:`build_shingle_bloom` over the EVAL shingles
    (eval sets are small) so only train hashes that might matter reach
    the join.

    Collision budget: identical to :func:`decontaminate` (64-bit,
    conservative direction — a spurious flag removes a clean eval row,
    never keeps a leaked one).
    """
    sh = df.select(
        F.col(split_col).alias("split"),
        F.col(id_col),
        F.explode(_shingle_hashes(df, text_col, shingle_n)).alias("h"),
    )
    train_h = sh.filter(F.col("split") == train_split).select("h").distinct()
    eval_sh = sh.filter(F.col("split") != train_split)
    return (
        eval_sh.join(train_h, on="h", how="left_semi")
        .groupBy("split", id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
        .filter(F.col("n_contaminated_shingles") >= min_overlap)
    )


def decontaminate_embedding(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 8,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag corpus rows whose
    vector is cosine >= ``threshold`` to ANY benchmark vector — the
    semantic companion to the n-gram :func:`decontaminate` (paraphrased
    eval questions share no 8-gram but sit next to each other in
    embedding space). Returns ``(id_col, n_bench_hits, max_cos_sim)``
    for flagged rows; anti-join to drop them.

    Two tiers:

    * ``exact=True`` — every (corpus, bench) pair via a broadcast cross
      join. The benchmark side is an eval set (thousands of rows), so
      the build side stays tiny; cost is |corpus| x |bench| JVM-side
      cosines — the brute-force baseline and the verifier for tests.
    * default — random-hyperplane LSH on BOTH sides with the SAME
      planes (the :func:`embedding_near_dup_pairs` machinery):
      candidates are (corpus, bench) bucket collisions only — corpus
      rows never pair with each other — then exact cosine verification.
      The bench bucket table broadcasts; the corpus side shuffles only
      (tbl, bkt, id) rows. Identical vectors collide in every table, so
      exact-duplicate leaks are flagged with probability 1; near-dup
      recall rises geometrically with ``n_tables`` (the LSH recall
      model in :func:`embedding_near_dup_pairs`).

    False positives are impossible in both tiers (cosine verifies every
    candidate); the LSH tier can MISS borderline-angle pairs — raise
    ``n_tables`` or drop ``n_planes`` for recall, or run ``exact=True``
    when the corpus is small enough. ``n_bench_hits`` counts DISTINCT
    benchmark vectors (bench rows carrying byte-identical vectors
    collapse — same vector, same cosine, same verdict); the internal
    bench key is ``xxhash64(vector)``, deterministic across plan
    re-executions (a generated id like monotonically_increasing_id
    could diverge between the bucket and verify subtrees).
    """
    from .similarity import (
        cosine_similarity_nullsafe,
        lsh_table_buckets,
        random_hyperplanes,
    )

    cv = corpus_emb.select(F.col(id_col), F.col(vec_col).alias("_cv"))
    bvi = bench_emb.select(
        F.xxhash64(F.col(vec_col)).alias("bid"),
        F.col(vec_col).alias("_bv"),
    ).dropDuplicates(["bid"])
    if exact:
        scored = cv.crossJoin(F.broadcast(bvi))
    else:
        planes = np.vstack(
            [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
        )
        # fan_out=False on both sides: this operator's Python stages are
        # trivial matmuls (the cost lives in the post-join cosine verify,
        # already parallel via AQE); widening them to 32 tasks measured a
        # ~2x regression from worker round-trips (see lsh_table_buckets).
        cb = lsh_table_buckets(
            corpus_emb, planes, n_tables, n_planes, id_col, vec_col, "cid",
            fan_out=False,
        )
        bb = lsh_table_buckets(
            bvi, planes, n_tables, n_planes, "bid", "_bv", "bid",
            fan_out=False,
        )
        cand = (
            cb.join(F.broadcast(bb), on=["tbl", "bkt"])
            .select("cid", "bid")
            .distinct()
        )
        scored = (
            cand.join(cv.withColumnRenamed(id_col, "cid"), on="cid")
            .join(F.broadcast(bvi), on="bid")
            .withColumnRenamed("cid", id_col)
        )
    sim = cosine_similarity_nullsafe(F.col("_cv"), F.col("_bv"))
    return (
        scored.select(F.col(id_col), sim.alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
            F.max(stable_round(F.col("_cos"), 6)).alias("max_cos_sim"),
        )
    )


_MEMBERSHIP_SALT = 0x9E3779B9  # fixed second-draw seed (golden-ratio constant, fits int64)


def _line_membership_hashes(c: Column) -> list[Column]:
    """Two practically-independent 64-bit draws forming a composite 128-bit
    membership key: ``xxhash64(line)`` and ``xxhash64(salt, line)`` (Spark's
    multi-arg xxhash64 feeds the running hash of the salt in as the seed for
    the line bytes, so the second draw is a differently-seeded xxhash64).

    Why 128 bits: membership-by-hash joins go WRONG on collision — a clean
    line whose hash equals a boilerplate line's is silently dropped. At 64
    bits, birthday collisions among distinct lines become expected around
    ~4e9 lines — i.e. a single real crawl. At 128 bits a 1e10-distinct-line
    corpus expects ~(1e10)^2 / 2 / 2^128 ≈ 1.5e-19 colliding pairs:
    unreachable. The shuffle key grows 8→16 bytes; line text still never
    shuffles into the frequency table.
    """
    return [F.xxhash64(c), F.xxhash64(F.lit(_MEMBERSHIP_SALT), c)]


def remove_boilerplate_lines(
    df: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    membership_hashes=None,
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb cleaning stage
    that document-level dedup cannot express): drop every line that occurs
    in >= ``min_df`` DISTINCT documents — navigation bars, cookie banners,
    license footers — and reassemble the remaining lines in order.

    Returns (id, text, n_kept_lines) with ``text`` rebuilt from the
    surviving lines (empty string when every line was boilerplate).

    Scale shape: lines explode once; the document-frequency table groups
    on a composite 128-bit line hash (:func:`_line_membership_hashes` —
    collision budget documented there) so the frequency shuffle carries
    16-byte keys (line text stays with its (id, pos) row); membership
    against the boilerplate set is a left-anti join on the same composite
    key (the boilerplate set is NOT assumed broadcastable — on a real
    crawl it is huge); reassembly is the posexplode /
    array_sort(struct(pos, line)) idiom, one groupBy, no window.
    Exact-line matching by design: a normalized variant is one
    ``lower/trim`` away, but exact lines keep the operator
    byte-reproducible in plain SQL.

    ``membership_hashes`` is a test seam: a function Column -> list[Column]
    replacing the default hash pair, used by the collision-injection tests
    to force colliding keys and to prove the second draw rescues
    first-draw collisions. Production callers leave it None.
    """
    hfn = membership_hashes or _line_membership_hashes
    hcols = [h.alias(f"lh{i}") for i, h in enumerate(hfn(F.col("line")))]
    keys = [f"lh{i}" for i in range(len(hcols))]
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).select(id_col, "pos", "line", *hcols)
    boiler = (
        lines.groupBy(*keys)
        .agg(F.count_distinct(id_col).alias("df_"))
        .filter(F.col("df_") >= min_df)
        .select(*keys)
    )
    kept = lines.join(boiler, on=keys, how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept_lines"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("_cleaned"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("_cleaned"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_kept_lines"), F.lit(0)).cast("long").alias("n_kept_lines"),
        )
    )


def _span_pos_grams(
    df: DataFrame, span_n: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the exact-substring operators: the tokenized
    docs table (id, toks, n_tokens) and the exploded per-position span
    table (id, pos, h0, h1) where (h0, h1) is the composite 128-bit hash
    of the ``span_n``-gram starting at ``pos`` (membership decides token
    drops — :func:`_line_membership_hashes`' collision rationale). Docs
    shorter than ``span_n`` tokens produce no spans."""
    toks = tokens(F.col(text_col))
    docs = df.select(F.col(id_col), toks.alias("toks")).select(
        id_col, "toks", F.size("toks").alias("n_tokens")
    )
    # two chained transforms let-bind each gram string so the slice+join
    # is built ONCE per position and hashed twice (the shingles() trick —
    # without the binding, h0 and h1 would each rebuild the 8-token string)
    gram_strs = F.transform(
        F.sequence(F.lit(0), F.col("n_tokens") - F.lit(span_n)),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), (i + 1).cast("int"), span_n)),
    )
    grams = F.when(
        F.col("n_tokens") >= span_n,
        F.transform(
            gram_strs,
            lambda g: F.struct(
                F.xxhash64(g).alias("h0"),
                F.xxhash64(F.lit(_MEMBERSHIP_SALT), g).alias("h1"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<h0:bigint,h1:bigint>>"))
    pos_grams = docs.select(
        id_col, F.posexplode(grams).alias("pos", "g")
    ).select(id_col, "pos", F.col("g.h0").alias("h0"), F.col("g.h1").alias("h1"))
    return docs, pos_grams


def duplicate_span_stats(
    df: DataFrame,
    span_n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication statistics (the Spark-native shape of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — their ExactSubstr dedup finds repeated >=50-token spans with
    a corpus-wide suffix array, which does not distribute; the standard
    cluster formulation slides a ``span_n``-token window instead): a token
    position is DUPLICATED when it is covered by at least one ``span_n``-
    gram occurring >= ``min_count`` times across the whole corpus
    (including repeats within the same document).

    Returns one row per input document: (id, n_tokens, n_dup_tokens,
    dup_span_frac) where ``dup_span_frac = n_dup_tokens / n_tokens``
    (stable-rounded; 0.0 for docs shorter than ``span_n`` tokens, which
    cannot carry a span).

    Scale shape: positions explode once; grams travel ONLY as the
    composite 128-bit membership key (:func:`_line_membership_hashes`'
    collision rationale — membership decides per-token dup marking, so
    64-bit birthday collisions on a crawl-scale corpus would silently
    inflate coverage); the frequency table groups on the 16-byte key; the
    membership check is a semi-join on the same key (the duplicated-gram
    set is NOT assumed broadcastable); per-doc coverage is computed
    JVM-side from each doc's hit positions (``sequence`` -> ``flatten``
    -> ``array_distinct``), bounded by tokens-per-document. No window
    functions, no Python.
    """
    docs, pos_grams = _span_pos_grams(df, span_n, id_col, text_col)
    dup = (
        pos_grams.groupBy("h0", "h1")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h0", "h1")
    )
    hits = pos_grams.join(dup, on=["h0", "h1"], how="left_semi")
    covered = hits.groupBy(id_col).agg(
        F.size(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.sequence(F.col("pos"), F.col("pos") + F.lit(span_n - 1)))
                )
            )
        ).cast("long").alias("n_dup_tokens")
    )
    return (
        docs.select(id_col, "n_tokens")
        .join(covered, on=id_col, how="left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias("n_dup_tokens"),
            stable_round(
                F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_span_frac"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    span_n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The TRANSFORM half of exact-substring dedup (Lee et al. 2021 cut
    duplicated spans out of the training set; :func:`duplicate_span_stats`
    is the measurement half): for every ``span_n``-gram occurring >=
    ``min_count`` times corpus-wide, keep its globally FIRST occurrence
    (minimum ``(doc_id, position)`` — removing every copy would delete the
    content from the corpus entirely) and drop the tokens covered only by
    the other occurrences.

    Returns (id, text, n_tokens, n_removed_tokens) with ``text`` rebuilt
    from the surviving tokens, single-space joined (tokenization is
    whitespace-split, so original whitespace is not byte-preserved —
    unlike :func:`remove_boilerplate_lines`, which keeps lines intact).

    Scale shape: identical to ``duplicate_span_stats`` (one explode,
    128-bit gram keys, frequency groupBy) plus a ``min(struct(doc, pos))``
    riding the same aggregate to elect each gram's keeper — no extra
    shuffle; removable instances come back via one join on the gram key,
    and per-doc removal masks are position arrays bounded by
    tokens-per-document (the token-keep filter is O(tokens x covered)
    per doc, with covered <= tokens).
    """
    docs, pos_grams = _span_pos_grams(df, span_n, id_col, text_col)
    dup = (
        pos_grams.groupBy("h0", "h1")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))).alias("keep"),
        )
        .filter(F.col("c") >= min_count)
        .select("h0", "h1", "keep")
    )
    removable = pos_grams.join(dup, on=["h0", "h1"]).filter(
        ~((F.col(id_col) == F.col("keep.kid")) & (F.col("pos") == F.col("keep.kpos")))
    )
    masks = removable.groupBy(id_col).agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence(F.col("pos"), F.col("pos") + F.lit(span_n - 1)))
            )
        ).alias("drop_pos")
    )
    rebuilt = (
        docs.join(masks, on=id_col, how="left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("drop_pos"), F.array().cast("array<int>")).alias("drop_pos"),
            "toks",
        )
        .select(
            id_col,
            F.concat_ws(
                " ",
                F.filter(
                    F.col("toks"),
                    lambda x, i: ~F.array_contains(F.col("drop_pos"), i.cast("int")),
                ),
            ).alias(text_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.size("drop_pos").cast("long").alias("n_removed_tokens"),
        )
    )
    return rebuilt


# ---------------------------------------------------------------------------
# Semantic dedup (cluster-scoped embedding dedup)
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    sample_size: int = 4096,
    seed: int = 42,
    max_cluster: int = 8192,
    train: str = "sample",
    dropped_acc=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication scoped by k-means clustering, the embedding-space
    complement of MinHash/SimHash text dedup.

    Pipeline: (1) fit k-means centroids (bounded driver-side sample, or
    full-corpus distributed Lloyd with ``train="distributed"``); (2) assign
    every vector to its nearest centroid — pairwise comparison is scoped to
    a cluster, never the corpus; (3) within each cluster, exact-cosine
    verify candidate pairs at ``threshold``; (4) group transitive near-dups
    with connected components; (5) per group, keep the single member with
    the LOWEST cosine similarity to its cluster centroid (the paper's
    representative choice — retain the "hardest" example; ties keep the
    smaller id).

    Returns one row per input vector:
    ``(id_col, cluster, centroid_sim, group_id, keep)`` where ``group_id``
    is the minimum member id of the vector's near-dup group (null when it
    has no near-duplicate; such singletons always have ``keep = true``).
    Null / wrong-dimension vectors are dropped by the assignment-stage
    guard and are ABSENT from the output — pass ``dropped_acc`` (a
    :func:`~kafka_streams_task_spark.operators.similarity.malformed_vector_accumulator`)
    to count them; zero-norm vectors survive as singletons with a NULL
    ``centroid_sim``.

    Scale: the centroid table is k x dim floats, broadcast inside the
    assignment closure and as a tiny join relation for ``centroid_sim``.
    The pairwise stage is the paper's own formulation: vectors shuffle
    ONCE, keyed by cluster, and each cluster's cosine matrix is a blocked
    numpy matmul inside ``applyInPandas`` (1024-row blocks bound the
    per-task score matrix to block x ``max_cluster`` doubles) — far
    cheaper than exploding candidate pairs through Spark's interpreted
    higher-order-function cosine, at either scale. Per-task memory is
    bounded by ``k ~ sqrt(N)`` cluster sizing plus the ``max_cluster`` cap
    (oversized clusters — near-zero regions, mass duplicates — are dropped
    whole, same guard as the LSH bucket caps). Component grouping is the
    large-star/small-star O(log n) contraction on (long, long) edges (with
    the bounded driver-side union-find fast path for sparse edge sets).
    The (id, cluster, centroid_sim) table — ~20 bytes/row — is
    localCheckpoint-ed once and reused by the keeper-choice and flag
    joins; the assignment closure itself runs once per branch (flags +
    pairing), each a single Arrow pass over the corpus.
    """
    from .cluster import connected_components
    from .similarity import (
        _assign_clusters,
        _clean_matrix,
        _kmeans_numpy,
        cosine_similarity_nullsafe,
        kmeans_fit_distributed,
    )

    if train not in ("sample", "distributed"):
        raise ValueError(f"train must be 'sample' or 'distributed', got {train!r}")
    if train == "distributed":
        centroids = kmeans_fit_distributed(emb, vec_col, id_col, n_clusters=n_clusters)
    else:
        sample_pdf = emb.select(vec_col).orderBy(id_col).limit(sample_size).toPandas()
        sample = _clean_matrix(sample_pdf[vec_col])
        centroids = _kmeans_numpy(sample, min(n_clusters, len(sample)), seed)

    def _clustered(acc):
        # opt-r16 (guide §2.5): fan the projected scan out so each
        # assignment pass runs at session parallelism on single-split
        # sources (no-op on multi-split tables).
        return _assign_clusters(
            fan_out_scan(
                emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
            ),
            "_v",
            centroids,
            1,
            "cluster",
            dropped_acc=acc,
        )

    assigned = _clustered(dropped_acc)
    cent_df = local_table(
        emb.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, _cent array<double>",
    )
    scored = (
        assigned.join(F.broadcast(cent_df), "cluster")
        .select(
            "_id",
            "cluster",
            stable_round(
                cosine_similarity_nullsafe(F.col("_v"), F.col("_cent")), 6
            ).alias("centroid_sim"),
        )
        .localCheckpoint(eager=True)
    )

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64")})
        n = len(pdf)
        if n < 2 or n > max_cluster:
            return empty
        ids = pdf["_id"].to_numpy()
        mat = np.array([np.asarray(v, dtype="float64") for v in pdf["_v"]])
        norms = np.sqrt((mat**2).sum(axis=1))
        ok = norms > 0  # zero-norm rows score 0 against everything: no edges
        normed = np.zeros_like(mat)
        normed[ok] = mat[ok] / norms[ok, None]
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        block = 1024  # bounds the score matrix to block x n doubles
        for s in range(0, n, block):
            sims = np.round(normed[s : s + block] @ normed.T + 1e-9, 6)
            ii, jj = np.nonzero(sims >= threshold)
            gi = ii + s
            keep = jj > gi  # strict upper triangle: each pair once, no self
            if keep.any():
                a, b = ids[gi[keep]], ids[jj[keep]]
                out_a.append(np.minimum(a, b))
                out_b.append(np.maximum(a, b))
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    # the pairing branch re-derives the same assignment plan but with NO
    # accumulator: both branches execute the guard, and wiring dropped_acc
    # into each would double-count every malformed vector
    edges = (
        _clustered(None)
        .groupBy("cluster")
        .applyInPandas(_cluster_pairs, "id_a long, id_b long")
    )
    comps = connected_components(edges, src="id_a", dst="id_b")
    keepers = (
        comps.join(scored, comps["node"] == scored["_id"])
        .groupBy("component")
        .agg(F.min_by("node", F.struct("centroid_sim", "node")).alias("_keeper"))
    )
    return (
        scored.join(comps.withColumnRenamed("node", "_id"), "_id", "left")
        .join(keepers, "component", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            "centroid_sim",
            F.col("component").alias("group_id"),
            (F.col("component").isNull() | (F.col("_id") == F.col("_keeper"))).alias(
                "keep"
            ),
        )
    )


def drop_semantic_duplicates(
    df: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    **kwargs,
) -> DataFrame:
    """Convenience form mirroring :func:`drop_exact_duplicates`: filter
    ``df`` to the rows :func:`semantic_dedup` keeps for ``emb`` (both keyed
    by ``id_col``; kwargs forward to ``semantic_dedup``). One left-semi
    join on ids — the flag table never carries vectors."""
    keep = semantic_dedup(emb, id_col=id_col, **kwargs).filter("keep").select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


def jaccard_join_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT threshold Jaccard self-join via prefix filtering (Bayardo et
    al. WWW'07 All-Pairs; Xiao et al. PPJoin family): every pair with
    n-gram Jaccard >= threshold, with a LOSSLESS candidate generator —
    unlike MinHash-LSH (probabilistic recall) and
    :func:`ngram_jaccard_pairs`'s document-frequency cap (drops hot
    shingles, and with them any pair only connected through one).

    Prefix principle: order each document's shingle set by GLOBAL rarity
    ((df, shingle) ascending — a total order). If J(A, B) >= t, then A
    and B overlap in >= t·max(|A|,|B|) elements, so each document's
    PREFIX — its p = s - ceil(t·s) + 1 rarest shingles — must contain at
    least one COMMON element of the pair; indexing prefixes only is
    therefore complete, and the prefix is the rarest slice, so posting
    lists stay short exactly where the corpus is hottest (the property
    the df-cap approximates by dropping data, delivered here for free).

    Scale shape: shingle once; one shuffle attaches df ranks; prefix
    explode indexes ~(1-t)·s entries per doc; pairs explode from sorted
    posting lists (the engine's group-membership pattern) with the size
    filter min >= t·max applied in the same stage; exact verification
    joins candidates back to full shingle sets (8-byte keys when
    ``hash_shingles``) and one groupBy counts intersections. Nothing
    persists; the only quadratic term is per-posting-list, bounded by
    prefix rarity.

    ``hash_shingles=False`` carries shingle STRINGS instead of xxhash64
    longs — heavier shuffles, but zero collision risk and SQL-restatable
    (the catalog leg uses it; production corpora use the default).

    Output: ``(id_a, id_b, jaccard)`` (6dp, ``id_a < id_b``).
    """
    rep = (lambda c: F.xxhash64(c)) if hash_shingles else (lambda c: c)
    # opt-r16: fan the projected scan out first — the shingle+distinct
    # chain fuses into the scan stage and a single-split source would
    # serialize it (guide §2.5). The four consumers of `sets` (df counts,
    # rarity ranking, both verify sides) each re-derive this chain —
    # branch-specific column pruning makes the subtrees canonically
    # different, so ReuseExchange cannot collapse them — but AQE runs the
    # four map chains concurrently, and a measured localCheckpoint variant
    # was strictly worse (consumers lose WholeStageCodegen fusion with the
    # scan and pay an uncompressed row-block materialization; driver gaps
    # grew 1.1->1.9s on the sf0.1 profile). No size guard on `sets`, and
    # explode_outer + a post-generate null filter instead of explode: a
    # size filter (explicit, or inferred by the optimizer from a plain
    # explode) pushes BELOW the fan-out exchange with the whole shingle
    # expression substituted in, running the chain serially in the scan
    # task and again post-exchange (§4.4 duplicate-evaluation trap).
    # Empty-set docs are harmless downstream: they produce no postings,
    # so no candidate or verify row ever references them.
    sets = fan_out_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), shingle_n), rep)
        ).alias("shs"),
    )
    tok = sets.select(
        "_id", F.size("shs").alias("s"), F.explode_outer("shs").alias("sh")
    ).filter(F.col("sh").isNotNull())
    dft = tok.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    # per-doc rarity order + prefix slice; the epsilon inside ceil guards
    # float grazes (t*s landing a hair ABOVE an integer would otherwise
    # shrink the prefix and silently break completeness — err larger)
    ranked = (
        tok.join(dft, "sh")
        .groupBy("_id")
        .agg(
            F.max("s").alias("s"),
            F.array_sort(F.collect_list(F.struct("_df", "sh"))).alias("ordered"),
        )
        .select(
            "_id",
            "s",
            F.slice(
                F.transform("ordered", lambda x: x["sh"]),
                1,
                (
                    F.col("s")
                    - F.ceil(F.lit(threshold) * F.col("s") - F.lit(1e-9))
                    + 1
                ).cast("int"),
            ).alias("prefix"),
        )
    )
    pre = ranked.select("_id", "s", F.posexplode("prefix").alias("pos", "sh"))
    postings = (
        pre.groupBy("sh")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "s", "pos"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    occ = (
        postings.select(F.posexplode("members").alias("i", "a"), "members")
        .select(
            "a", F.explode(F.expr("slice(members, i + 2, size(members))")).alias("b")
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("a.s").alias("n_a"),
            F.col("a.pos").alias("pa"),
            F.col("b._id").alias("id_b"),
            F.col("b.s").alias("n_b"),
            F.col("b.pos").alias("pb"),
        )
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-9)
        )
    )
    # PPJoin positional filter (Xiao et al.): dedup occurrences by pair
    # taking MIN positions — both prefix orders restrict the SAME global
    # order, so for any TRUE pair the min generating positions are exactly
    # the pair's first common element's positions, making
    # 1 + min(remaining_a, remaining_b) a valid overlap upper bound; pairs
    # whose bound misses the minoverlap alpha = ceil(t/(1+t)·(sa+sb)) are
    # pruned BEFORE the exact-verify joins (measured: -60% candidates on
    # the adversarial sf0.1 corpus). The epsilons again err toward keeping.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("n_a") - F.col("ia") - 1, F.col("n_b") - F.col("jb") - 1
    )
    cand = (
        occ.groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.min("pa").alias("ia"), F.min("pb").alias("jb"))
        .filter(ubound >= alpha)
        .drop("ia", "jb")
    )
    # opt-r16 (guide §2.3/§2.4): verify against the per-doc shingle ARRAYS
    # instead of re-joining the exploded token table. The old shape
    # shuffled tok (one row per (doc, shingle)) twice — by id_a and by
    # (id_b, sh) — and counted the intersection in a wide groupBy; this
    # shape shuffles `sets` (one row per doc) twice and computes the
    # intersection with a codegen array_intersect, moving ~1/s the rows
    # per exchange and dropping the pair x common-shingle aggregate.
    sa = sets.select(F.col("_id").alias("id_a"), F.col("shs").alias("shs_a"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("shs").alias("shs_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("n_common"),
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        stable_round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(threshold))


def estimate_jaccard_pair_mass(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    sample_fraction: float = 0.05,
    seed: int = 42,
) -> tuple[float, float]:
    """``(est_candidate_pairs, est_docs)`` — the candidate mass the
    inverted-index/prefix Jaccard operators would explode, estimated
    from a deterministic hash sample (opt-r17, VERDICT r16 item 4): a
    shingle appearing in ``df`` documents contributes ``df·(df−1)/2``
    pairs, so the corpus-wide mass is ``Σ_sh C(df_sh, 2)``. Under a
    Bernoulli ``p`` sample of documents each pair survives with
    probability ``p²``, so the sampled mass is scaled by ``1/p²`` (and
    the doc count by ``1/p``). One bounded job over ``p`` of the corpus;
    the estimate is unbiased but high-variance when a single shingle
    dominates — exactly the corpora the guard exists to catch, where the
    mass is so far past any threshold the variance cannot flip the
    decision."""
    if not (0.0 < sample_fraction <= 1.0):
        raise ValueError(f"sample_fraction must be in (0, 1], got {sample_fraction}")
    p = float(sample_fraction)
    sample = df
    if p < 1.0:
        # deterministic md5 membership (the engine's hash_stratified_sample
        # convention): reproducible under retries, no RNG state
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col(id_col).cast("string"),
                            F.lit(f"jmass:{seed}"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(4294967296.0)
        sample = df.filter(u < F.lit(p))
    sh = shingle_posting_table(sample, text_col, id_col, shingle_n)
    row = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / F.lit(2.0)), F.lit(0.0)
            ).alias("pairs"),
        )
        .crossJoin(sample.agg(F.count(F.lit(1)).alias("n")))
        .first()
    )
    return float(row["pairs"]) / (p * p), float(row["n"]) / p


def jaccard_pairs_guarded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_shingles: bool = True,
    max_pair_mass_ratio: float = 256.0,
    sample_fraction: float = 0.05,
    num_hashes: int = 128,
    bands: int = 32,
    max_bucket: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """The 100 TB entry point for threshold-Jaccard self-pairing
    (opt-r17, VERDICT r16 item 4 — SCALE.md's "switch to MinHash-LSH on
    a saturated vocabulary" rule, enforced by measurement instead of
    prose): estimate the candidate-pair mass (:func:`estimate_jaccard_
    pair_mass`, one bounded sample job), then dispatch —

      mass / docs <= max_pair_mass_ratio  →  :func:`jaccard_join_prefix`
          (exact, lossless — every pair with J >= threshold);
      else                                →  MinHash-LSH candidates
          (:func:`minhash_lsh_candidates`) + exact verification against
          the per-doc shingle arrays: identical columns and jaccard
          math, zero false positives, recall bounded by the banding
          curve (1/bands)^(bands/num_hashes) instead of 1.0.

    A skewed vocabulary at scale makes the exact path's posting-list
    pair explode quadratic in the hottest document frequency; the LSH
    path's buckets are capped (``max_bucket``), so its worst case stays
    linear. The default ratio (256 candidate pairs per document) keeps
    every sane near-dup corpus on the exact path — the guard exists for
    the pathological ones. Callers that must have lossless output at
    any cost should call :func:`jaccard_join_prefix` directly."""
    mass, n_docs = estimate_jaccard_pair_mass(
        df, text_col, id_col, shingle_n, sample_fraction, seed
    )
    if n_docs == 0 or mass / max(n_docs, 1.0) <= float(max_pair_mass_ratio):
        return jaccard_join_prefix(
            df, text_col, id_col, shingle_n, threshold, hash_shingles
        )
    rep = (lambda c: F.xxhash64(c)) if hash_shingles else (lambda c: c)
    cand = minhash_lsh_candidates(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket=max_bucket,
    )
    sets = fan_out_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), shingle_n), rep)
        ).alias("shs"),
    )
    sa = sets.select(F.col("_id").alias("id_a"), F.col("shs").alias("shs_a"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("shs").alias("shs_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("n_common"),
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"),
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        stable_round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(threshold))


def jaccard_join_tables(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT threshold Jaccard join BETWEEN two corpora (record linkage:
    a new crawl shard against the curated corpus, supplier catalogs,
    near-dup audits across snapshots) — the R×S form of
    :func:`jaccard_join_prefix`, with the same losslessness guarantee.

    The global rarity order is computed over the UNION of both sides'
    shingle document frequencies (the prefix theorem needs one total
    order both documents' prefixes restrict — a per-side order would
    break completeness), but pairs are generated ONLY across sides:
    posting lists keep the two sides separate and the pair explode is a
    left-list × right-list product within each shingle's posting entry,
    so no within-side candidate ever materializes (a same-side audit is
    :func:`jaccard_join_prefix`'s job). Size, positional (PPJoin), and
    exact-verification stages mirror the self-join operator.

    Output: ``(id_left, id_right, jaccard)`` (6dp).
    """
    rep = (lambda c: F.xxhash64(c)) if hash_shingles else (lambda c: c)

    def side_sets(df, side):
        # opt-r16: fan the projected scan out so the shingle chain runs at
        # session parallelism even on a single-split source (guide §2.5).
        # No size guard — like the self-join form, a size filter (or the
        # one the optimizer infers from a plain explode) sinks below the
        # fan-out exchange with the shingle expression substituted in and
        # serializes the chain into the scan task; empty-set docs are
        # harmless downstream (no postings, no candidates, inner verify).
        return fan_out_scan(df.select(F.col(id_col), F.col(text_col))).select(
            F.lit(side).alias("_side"),
            F.col(id_col).alias("_id"),
            F.array_distinct(
                F.transform(shingles(F.col(text_col), shingle_n), rep)
            ).alias("shs"),
        )

    sets = side_sets(left, 0).unionByName(side_sets(right, 1))
    tok = sets.select(
        "_side", "_id", F.size("shs").alias("s"), F.explode_outer("shs").alias("sh")
    ).filter(F.col("sh").isNotNull())
    dft = tok.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        tok.join(dft, "sh")
        .groupBy("_side", "_id")
        .agg(
            F.max("s").alias("s"),
            F.array_sort(F.collect_list(F.struct("_df", "sh"))).alias("ordered"),
        )
        .select(
            "_side",
            "_id",
            "s",
            F.slice(
                F.transform("ordered", lambda x: x["sh"]),
                1,
                (
                    F.col("s")
                    - F.ceil(F.lit(threshold) * F.col("s") - F.lit(1e-9))
                    + 1
                ).cast("int"),
            ).alias("prefix"),
        )
    )
    pre = ranked.select("_side", "_id", "s", F.posexplode("prefix").alias("pos", "sh"))
    # one posting list per shingle, split into its two sides — the pair
    # explode below is a pure left-list x right-list product, so no
    # within-side candidate ever exists
    members = F.collect_list(F.struct("_side", "_id", "s", "pos"))
    postings = (
        pre.groupBy("sh")
        .agg(
            F.array_sort(F.filter(members, lambda x: x["_side"] == 0)).alias("ls"),
            F.array_sort(F.filter(members, lambda x: x["_side"] == 1)).alias("rs"),
        )
        .filter((F.size("ls") >= 1) & (F.size("rs") >= 1))
    )
    occ = (
        postings.select(F.explode("ls").alias("a"), "rs")
        .select("a", F.explode("rs").alias("b"))
        .select(
            F.col("a._id").alias("id_left"),
            F.col("a.s").alias("n_a"),
            F.col("a.pos").alias("pa"),
            F.col("b._id").alias("id_right"),
            F.col("b.s").alias("n_b"),
            F.col("b.pos").alias("pb"),
        )
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-9)
        )
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("n_a") - F.col("ia") - 1, F.col("n_b") - F.col("jb") - 1
    )
    cand = (
        occ.groupBy("id_left", "id_right", "n_a", "n_b")
        .agg(F.min("pa").alias("ia"), F.min("pb").alias("jb"))
        .filter(ubound >= alpha)
        .drop("ia", "jb")
    )
    # opt-r16: same array-verify rewrite as jaccard_join_prefix — join the
    # per-side shingle arrays to the candidates and intersect in codegen
    # rather than shuffling the exploded token table twice.
    sa = sets.filter(F.col("_side") == 0).select(
        F.col("_id").alias("id_left"), F.col("shs").alias("shs_a")
    )
    sb = sets.filter(F.col("_side") == 1).select(
        F.col("_id").alias("id_right"), F.col("shs").alias("shs_b")
    )
    inter = (
        cand.join(sa, "id_left")
        .join(sb, "id_right")
        .select(
            "id_left",
            "id_right",
            "n_a",
            "n_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("n_common"),
        )
    )
    return inter.select(
        "id_left",
        "id_right",
        stable_round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(threshold))


def filter_by_domain_list(
    docs: DataFrame,
    domains: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    mode: str = "block",
) -> DataFrame:
    """Domain block/allow filtering (r6): drop (``mode='block'``) or keep
    (``mode='allow'``) documents whose URL's registrable domain appears
    in ``domains`` — the UT1-blocklist / curated-allowlist stage between
    ingestion and dedup.

    Entry semantics are HOST-SUFFIX match (how UT1-style lists are
    meant): an entry matches a document whose URL host equals it or is a
    subdomain of it. A registrable-domain entry (``example.com``) covers
    every host under it; a subdomain/host entry (``ads.example.com`` —
    common in real category lists) covers only that subtree, instead of
    silently never matching (the pre-r7 equi-join on eTLD+1 keys
    lowercased the list side only, so such entries were dead rows).
    Entries are normalized like document URLs (case, trailing dot,
    scheme/path cruft); unparseable entries are dropped.

    Scale shape: the list side is a domain-per-row relation (even the
    full UT1 corpus is a few MB), broadcast by Catalyst under the
    anti/semi join, so the corpus scans once with a map-side probe and
    never shuffles. The equi-key is the eTLD+1
    (:func:`~kafka_streams_task_spark.functions.url.registered_domain`)
    of BOTH sides — the suffix comparison runs as the hash join's
    residual condition on the (tiny) set of same-registrable-domain
    candidates, so the join stays a BroadcastHashJoin.
    """
    from ..functions.url import extract_host, registered_domain_of_host

    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    # layered: _host materializes the parse chain ONCE, _rd derives from
    # the column (CollapseProject keeps the layers separate — inlining
    # the parse at every _rd reference knocks the stage out of codegen)
    keyed = docs.withColumn("_host", extract_host(F.col(url_col))).withColumn(
        "_rd", registered_domain_of_host(F.col("_host"))
    )
    lst = (
        domains.select(extract_host(F.col(domain_col)).alias("_ehost"))
        .filter(F.col("_ehost").isNotNull())
        .withColumn("_erd", registered_domain_of_host(F.col("_ehost")))
        .distinct()
    )
    cond = (F.col("_rd") == F.col("_erd")) & (
        (F.col("_host") == F.col("_ehost"))
        | F.col("_host").endswith(F.concat(F.lit("."), F.col("_ehost")))
    )
    how = "left_anti" if mode == "block" else "left_semi"
    return keyed.join(F.broadcast(lst), on=cond, how=how).drop("_host", "_rd")
