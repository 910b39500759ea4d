"""Behavioral tests for the LLM-data-pipeline operators: planted duplicates
must be found (recall), clean data must not pair (precision), approximate
results must agree with exact baselines."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


WORDS = (
    "spark stream batch join filter group sort merge hash scan table row "
    "column vector query data key value window agg part customer order line"
).split()


def _random_doc(rng, n=120):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _mutate(rng, text, n_edits=3):
    toks = text.split()
    for _ in range(n_edits):
        toks[rng.randrange(len(toks))] = rng.choice(WORDS)
    return " ".join(toks)


@pytest.fixture(scope="module")
def planted(spark):
    """60 random docs + 10 near-dup pairs (3 token edits in 120) + 5 exact dups."""
    rng = random.Random(7)
    rows = []
    did = 0
    for _ in range(60):
        rows.append((did, _random_doc(rng)))
        did += 1
    near_pairs = []
    for _ in range(10):
        base = _random_doc(rng)
        rows.append((did, base))
        rows.append((did + 1, _mutate(rng, base)))
        near_pairs.append((did, did + 1))
        did += 2
    exact_pairs = []
    for _ in range(5):
        base = _random_doc(rng)
        rows.append((did, base))
        rows.append((did + 1, base))
        exact_pairs.append((did, did + 1))
        did += 2
    return _docs(spark, rows), near_pairs, exact_pairs


def test_exact_dedup(spark, planted):
    from kafka_streams_task_spark.operators.dedup import dedup_exact, drop_exact_duplicates

    df, _, exact_pairs = planted
    agg = dedup_exact(df).collect()
    dups = {r.doc_id: r.n_copies for r in agg if r.n_copies > 1}
    assert set(dups) == {a for a, _ in exact_pairs}
    assert all(n == 2 for n in dups.values())
    survivors = drop_exact_duplicates(df)
    assert survivors.count() == df.count() - len(exact_pairs)


def test_minhash_lsh_finds_planted_near_dups(spark, planted):
    from kafka_streams_task_spark.operators.dedup import minhash_lsh_candidates

    df, near_pairs, exact_pairs = planted
    got = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df).collect()}
    # recall: every planted near-dup and exact-dup pair is a candidate
    for pair in near_pairs + exact_pairs:
        assert pair in got, f"planted pair {pair} missed"
    # precision: random 120-token docs over a 25-word vocab share few
    # 3-gram shingles; candidates should be dominated by planted pairs
    planted_set = set(near_pairs + exact_pairs)
    false_pos = got - planted_set
    assert len(false_pos) <= len(got) // 2


def test_ngram_jaccard_scores(spark, planted):
    from kafka_streams_task_spark.operators.dedup import ngram_jaccard_pairs

    df, near_pairs, exact_pairs = planted
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    for pair in exact_pairs:
        assert out.get(pair) == pytest.approx(1.0), "exact dup must have jaccard 1"
    for pair in near_pairs:
        assert pair in out and out[pair] >= 0.5, f"near-dup {pair} below threshold"


def test_simhash_flags_near_dups(spark):
    """SimHash blocking guarantees detection for hamming <= n_blocks - 1
    (pigeonhole); plant single-token edits (small hamming) and use 8 blocks
    so the guarantee window covers them."""
    from kafka_streams_task_spark.operators.dedup import simhash_near_dup_pairs

    rng = random.Random(11)
    rows, near_pairs, exact_pairs = [], [], []
    did = 0
    for _ in range(30):
        rows.append((did, _random_doc(rng)))
        did += 1
    for _ in range(10):
        base = _random_doc(rng)
        rows.append((did, base))
        rows.append((did + 1, _mutate(rng, base, n_edits=1)))
        near_pairs.append((did, did + 1))
        did += 2
    for _ in range(5):
        base = _random_doc(rng)
        rows.append((did, base))
        rows.append((did + 1, base))
        exact_pairs.append((did, did + 1))
        did += 2
    df = _docs(spark, rows)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(df, max_hamming=7, n_blocks=8).collect()
    }
    for pair in exact_pairs:
        assert got.get(pair) == 0, "exact dup must have hamming 0"
    hits = sum(1 for p in near_pairs if p in got)
    assert hits >= 8, f"simhash found only {hits}/10 planted near-dups"


def test_knn_bruteforce_is_exact(spark):
    """Cross-check the Spark top-k against a numpy brute force."""
    import numpy as np

    from kafka_streams_task_spark.operators.similarity import knn_bruteforce

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)], ["vec_id", "embedding"]
    )
    out = knn_bruteforce(df, df.filter(F.col("vec_id") < 3), k=4)
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}

    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    sims = (v @ v.T) / np.outer(norms, norms)
    for q in range(3):
        order = [
            i for i in np.lexsort((np.arange(200), -np.round(sims[q] + 1e-9, 6)))
            if i != q
        ][:4]
        for rank, nid in enumerate(order, start=1):
            assert got[(q, rank)] == nid


def test_knn_lsh_recall(spark):
    """LSH top-k must recover most of the exact top-k."""
    import numpy as np

    from kafka_streams_task_spark.operators.similarity import knn_bruteforce, knn_lsh

    rng = np.random.default_rng(5)
    # clustered vectors so neighbors are meaningful
    centers = rng.standard_normal((10, 32)) * 3
    vecs = np.vstack([c + rng.standard_normal((30, 32)) * 0.5 for c in centers]).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))], ["vec_id", "embedding"]
    )
    queries = df.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(df, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in knn_lsh(df, queries, k=5, dim=32, n_planes=6, n_tables=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall:.2f} too low"


def test_embedding_near_dup_planted_recall(spark):
    """Embedding-cosine near-dup: perturbed copies (cos ~0.995) of every
    vector must be recovered with high recall, emitted cosines must match
    numpy, and unrelated random pairs must NOT appear at threshold 0.95."""
    import numpy as np

    from kafka_streams_task_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(9)
    n, dim = 200, 32
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    noise = rng.standard_normal((n, dim)) * 0.07
    near = vecs + noise
    near /= np.linalg.norm(near, axis=1, keepdims=True)

    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    rows += [(i + 1000, [float(x) for x in near[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = embedding_near_dup_pairs(
        df, threshold=0.95, dim=dim, n_tables=8, n_planes=8
    ).collect()
    pair_sims = {(r.id_a, r.id_b): r.cos_sim for r in got}

    planted = {
        (i, i + 1000)
        for i in range(n)
        if float(vecs[i] @ near[i]) >= 0.9500005  # planted pairs above threshold
    }
    recall = len(planted & set(pair_sims)) / len(planted)
    assert recall >= 0.9, f"embedding near-dup recall {recall:.2f} too low"

    # emitted cosine is the exact JVM-computed cosine (6dp)
    for (a, b), sim in list(pair_sims.items())[:20]:
        va = vecs[a] if a < 1000 else near[a - 1000]
        vb = vecs[b] if b < 1000 else near[b - 1000]
        expect = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert abs(sim - expect) < 1e-5
    # no unrelated pair sneaks in below the threshold
    assert all(s >= 0.95 for s in pair_sims.values())


def test_lang_id_accuracy(spark, sf_dir):
    """Heuristic lang-id: sanity floor on labeled data (the synthetic docs
    are English-ish word soup, so only en vs non-en separation is meaningful;
    assert the classifier is deterministic and emits known labels)."""
    from kafka_streams_task_spark.catalog.llm import text_lang_id

    out = text_lang_id(spark, sf_dir).collect()
    labels = {r.predicted for r in out}
    assert labels <= {"en", "de", "es", "fr", "zh", "und"}
    out2 = text_lang_id(spark, sf_dir).collect()
    assert [(r.doc_id, r.predicted) for r in out] == [(r.doc_id, r.predicted) for r in out2]


def test_fingerprint_deterministic_and_edit_sensitive(spark):
    from kafka_streams_task_spark.functions.text import rolling_fingerprint

    base = " ".join(f"tok{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, base), (3, base + " extra")], ["doc_id", "text"])
    rows = {r.doc_id: r.fp for r in df.select("doc_id", rolling_fingerprint("text").alias("fp")).collect()}
    assert rows[1] == rows[2]
    # min-of-rolling-hash is robust to suffix extension unless it creates a
    # smaller window hash — equality either way is fine; just must not error
    assert isinstance(rows[3], int)


def test_multimodal_plumbing(spark):
    from kafka_streams_task_spark.operators.multimodal import (
        attach_asset_meta,
        decode_image_features,
        sample_video_frames,
    )

    df = spark.createDataFrame([(1, "hello world"), (2, "x" * 100)], ["doc_id", "text"]).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    meta = attach_asset_meta(df).select("doc_id", "meta.n_bytes", "meta.checksum").collect()
    assert {r.doc_id: r.n_bytes for r in meta} == {1: 11, 2: 100}

    feats = {r.doc_id: (r.width, r.height, r.n_channels) for r in decode_image_features(df).collect()}
    assert feats[1] == (11 % 64 + 1, (11 * 7) % 64 + 1, 3)

    frames = sample_video_frames(df).collect()
    assert len(frames) > 0
    assert all(isinstance(r.frame_bytes, (bytes, bytearray)) for r in frames)


def test_multimodal_resize(spark):
    import pytest as _pytest

    from kafka_streams_task_spark.operators.multimodal import fake_resize_image, resize_images

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 100), (3, "")], ["doc_id", "text"]
    ).select("doc_id", F.encode("text", "utf-8").alias("payload"))
    out = {r.doc_id: r for r in resize_images(df, 8, 4).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        # stub invariant: exactly w*h*3 bytes, dims echoed in columns
        assert (r.width, r.height, r.n_bytes) == (8, 4, 8 * 4 * 3)
        assert len(r.payload) == 8 * 4 * 3
    # deterministic: payload is the input cycled to length
    assert bytes(out[1].payload) == fake_resize_image(b"hello world", 8, 4)
    with _pytest.raises(ValueError):
        resize_images(df, 0, 4)


def test_multimodal_codec_flag(spark):
    """VERDICT r4 item 7: the real-codec path is feature-flagged behind an
    import guard. With Pillow absent: codec='pil' raises up front
    (driver-side, not per-task), codec='auto' falls back to the stub
    byte-for-byte. With Pillow present: codec='auto'/'pil' decode a real
    PNG to its true dimensions. Either way the stub contract (default)
    is untouched."""
    import pytest as _pytest

    from kafka_streams_task_spark.operators.multimodal import (
        decode_image_features,
        pil_available,
        resize_images,
    )

    df = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"]).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    with _pytest.raises(ValueError):
        decode_image_features(df, codec="turbojpeg")

    if not pil_available():
        with _pytest.raises(ImportError):
            decode_image_features(df, codec="pil")
        with _pytest.raises(ImportError):
            resize_images(df, 8, 4, codec="pil")
        stub = decode_image_features(df, codec="stub").collect()
        auto = decode_image_features(df, codec="auto").collect()
        assert [tuple(r) for r in auto] == [tuple(r) for r in stub]
    else:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (20, 12)).save(buf, "PNG")
        png = spark.createDataFrame([(1, bytearray(buf.getvalue()))], ["doc_id", "payload"])
        (r,) = decode_image_features(png, codec="auto").collect()
        assert (r.width, r.height, r.n_channels) == (20, 12, 3)
        (rz,) = resize_images(png, 8, 4, codec="pil").collect()
        assert (rz.width, rz.height) == (8, 4)
        assert Image.open(io.BytesIO(bytes(rz.payload))).size == (8, 4)


def test_knn_ivf_recall(spark):
    """IVF top-k must recover most of the exact top-k on clustered data."""
    import numpy as np

    from kafka_streams_task_spark.operators.similarity import knn_bruteforce, knn_ivf

    rng = np.random.default_rng(9)
    centers = rng.standard_normal((8, 32)) * 3
    vecs = np.vstack([c + rng.standard_normal((40, 32)) * 0.5 for c in centers]).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))], ["vec_id", "embedding"]
    )
    queries = df.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(df, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in knn_ivf(df, queries, k=5, n_clusters=8, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall:.2f} too low"


def test_approx_aggregates_within_tolerance(spark, sf_dir):
    """HLL++ and quantile sketches must land within a few percent of exact —
    the catalog query computes both sides in one plan and emits the gate."""
    from kafka_streams_task_spark.catalog.llm import approx_aggregates
    from kafka_streams_task_spark.schemas import load_table

    rows = approx_aggregates(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.approx_parts_ok == 1 and r.approx_median_ok == 1, r
    # the emitted exact values are really exact (independent recompute)
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    for r in rows:
        assert r.n_parts_exact == exact[r.l_returnflag]


def test_text_functions_edge_cases(spark):
    """Empty/whitespace/single-token documents must not divide by zero or
    produce empty shingle arrays."""
    from kafka_streams_task_spark.functions.text import quality_score, shingles, token_count

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "single"), (4, "two words")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: (r.n, r.q, r.sh)
        for r in df.select(
            "doc_id",
            token_count("text").alias("n"),
            quality_score("text").alias("q"),
            F.size(shingles("text")).alias("sh"),
        ).collect()
    }
    for did, (n, q, sh) in rows.items():
        assert n >= 1 and sh >= 1, f"doc {did} degenerate"
        assert q is not None and 0.0 <= q <= 1.0 + 1e-6, f"doc {did} quality {q}"


def test_universal_hash_61_exact():
    """The MinHash universal hash must be EXACTLY (a*x + b) mod (2^61 - 1)
    — the split-multiply folding vs Python big-int arithmetic, including
    boundary values where a naive uint64 product would wrap."""
    import numpy as np

    from kafka_streams_task_spark.operators.dedup import (
        _MERSENNE,
        _minhash_params,
        _universal_hash_61,
    )

    a, b = _minhash_params(8, seed=7)
    rng = np.random.default_rng(11)
    xs = np.concatenate(
        [
            rng.integers(0, _MERSENNE, size=64, dtype=np.int64).astype(np.uint64),
            np.array([0, 1, _MERSENNE - 1, _MERSENNE, (1 << 61) - 2], dtype=np.uint64),
        ]
    )
    got = _universal_hash_61(a, b, xs)
    for i in range(len(a)):
        for j in range(len(xs)):
            exp = (int(a[i]) * int(xs[j]) + int(b[i])) % _MERSENNE
            assert int(got[i, j]) == exp, (i, j, int(a[i]), int(xs[j]))


def test_minhash_mins_matches_matrix():
    """The cache-friendly per-hash-loop segment-min formulation used by the
    signature stage is bit-identical to the reference (H, N) matrix form."""
    import numpy as np

    from kafka_streams_task_spark.operators.dedup import (
        _MERSENNE,
        _minhash_mins,
        _minhash_params,
        _universal_hash_61,
    )

    a, b = _minhash_params(16, seed=3)
    rng = np.random.default_rng(4)
    x = rng.integers(0, _MERSENNE, size=1000, dtype=np.int64).astype(np.uint64)
    lens = rng.integers(1, 40, size=50)
    lens = lens[np.cumsum(lens) <= len(x)]
    total = int(lens.sum())
    x = x[:total]
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    ref = np.minimum.reduceat(_universal_hash_61(a, b, x), starts, axis=1)
    got = _minhash_mins(a, b, x, starts)
    assert np.array_equal(ref, got)


def test_pii_flags_and_repetition(spark):
    from kafka_streams_task_spark.functions.text import pii_flags, repetition_ratio

    rows = [
        (1, "contact me at alice.smith+x@example.co.uk for details"),
        (2, "call 555-123-4567 or visit 192.168.1.1 today"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "spam spam spam spam spam spam spam spam"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *pii_flags("text"),
            F.round(repetition_ratio("text"), 4).alias("rep"),
        ).collect()
    }
    assert (out[1]["has_email"], out[1]["has_phone"], out[1]["has_ipv4"]) == (1, 0, 0)
    assert (out[2]["has_email"], out[2]["has_phone"], out[2]["has_ipv4"]) == (0, 1, 1)
    assert (out[3]["has_email"], out[3]["has_phone"], out[3]["has_ipv4"]) == (0, 0, 0)
    # "spam"x8 -> 6 trigrams, 1 distinct -> 5/6 duplicated
    assert abs(out[4]["rep"] - 5 / 6) < 1e-3
    assert out[3]["rep"] == 0.0


def test_gopher_quality_rules(spark):
    from kafka_streams_task_spark.functions.text import gopher_quality_columns

    prose = "the quick brown fox jumps over that lazy dog with great energy and speed "
    rows = [
        (1, (prose * 5).strip()),                                   # 70 clean words -> pass
        (2, "\n".join("- item number " + "word " * 5 for _ in range(10)).strip()),  # all-bullet lines
        (3, (prose * 5).strip().replace("speed", "speed###")),      # symbol-heavy
        (4, "short doc only"),                                      # < 50 words
        (5, " ".join(str(i) for i in range(60))),                   # numeric, no alpha words
        (6, "alpha line one\n- bullet line\nends with dots...\nlast line"),  # hand-computed ratios
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in df.select("doc_id", *gopher_quality_columns("text")).collect()}

    assert out[1]["gopher_pass"] == 1
    assert out[1]["n_words"] == 70
    assert out[1]["alpha_word_ratio"] == 1.0
    assert out[1]["gopher_stop_hits"] >= 4

    assert out[2]["bullet_line_ratio"] == 1.0
    assert out[2]["gopher_pass"] == 0

    # doc 3: 5 "speed###" words add 15 '#' chars over 70 words -> ratio > 0.1
    assert out[3]["symbol_word_ratio"] > 0.1
    assert out[3]["gopher_pass"] == 0

    assert out[4]["n_words"] == 3
    assert out[4]["gopher_pass"] == 0

    assert out[5]["alpha_word_ratio"] == 0.0
    assert out[5]["gopher_pass"] == 0

    # doc 6: 4 lines, 1 bullet, 1 ellipsis-ending
    assert out[6]["bullet_line_ratio"] == 0.25
    assert out[6]["ellipsis_line_ratio"] == 0.25

    # hot path stays JVM-side: all eight signals are codegen expressions
    plan = df.select(*gopher_quality_columns("text"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_audio_feature_plumbing(spark):
    from kafka_streams_task_spark.operators.multimodal import (
        extract_audio_features,
        fake_decode_audio,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 100)], ["doc_id", "text"]
    ).select("doc_id", F.encode("text", "utf-8").alias("payload"))
    got = {r.doc_id: r for r in extract_audio_features(df).collect()}
    for doc_id, payload in ((1, b"hello world"), (2, b"x" * 100)):
        sr, n, ch = fake_decode_audio(payload)
        r = got[doc_id]
        assert (r.sample_rate, r.n_samples, r.n_channels) == (sr, n, ch)
        assert abs(r.duration_s - n / sr) < 1e-12


def test_dedup_queries_leave_no_cached_blocks(spark, sf_dir):
    """Cache hygiene: the dedup catalog queries must not leave persisted
    RDD blocks behind (long sessions running many dedup calls would
    otherwise accumulate cached indexes and squeeze execution memory).
    The candidate-pair operators are single-pass groupBy formulations with
    no persist at all, so the set of persistent RDDs after each query
    executes must not grow. (dedup_clusters_cc is excluded: its per-round
    localCheckpoints are lineage-truncation by design and are reclaimed by
    the ContextCleaner once the result is dropped.)"""
    from kafka_streams_task_spark.catalog.llm import (
        dedup_embedding_cosine_recall,
        dedup_exact_digest,
        dedup_minhash_lsh_recall,
        dedup_ngram_jaccard,
        dedup_simhash_recall,
    )

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    # r6: the first two folded into dedup_exact_family_suite — the raw
    # query fns remain the per-operator probes here
    probes = {
        "dedup_exact_digest": dedup_exact_digest,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        # r12: folded into dedup_recall_suite — the raw gate fns remain
        # the per-operator probes here
        "dedup_minhash_lsh_recall": dedup_minhash_lsh_recall,
        "dedup_simhash_recall": dedup_simhash_recall,
        "dedup_embedding_cosine_recall": dedup_embedding_cosine_recall,
    }
    for name, fn in probes.items():
        assert fn(spark, sf_dir).count() >= 0
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        leaked = {int(k) for k in jmap.keySet().toArray()} - before
        assert not leaked, f"{name} left persisted RDDs: {leaked}"


def test_dedup_plan_shapes_pinned(spark, sf_dir):
    """Pin the r4 single-pass group-membership plan shapes so a future
    refactor can't silently reintroduce self-joins, extra Python stages, or
    persisted indexes:

    - minhash: the expensive signature stage (MapInPandas) appears exactly
      once; candidate pairing adds NO joins (one groupBy + pair explode +
      distinct = 2 exchanges).
    - simhash: all-JVM (zero Python), zero joins.
    - jaccard: all-JVM, ZERO joins anywhere — sizes ride inside the
      posting structs, so the old sizes-table broadcasts are gone.
    - embedding: exactly one Python stage (bucket projection) and exactly
      two broadcast joins (the per-side vector rejoin at cosine
      verification) — vectors never ride the bucket shuffle.
    - nothing reads from cache (no InMemoryTableScan: no hidden persist).
    """
    from kafka_streams_task_spark.operators.dedup import (
        embedding_near_dup_pairs,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from kafka_streams_task_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    expectations = {
        # (map_in_pandas, joins, max_exchanges)
        # opt-r16: minhash/simhash/jaccard gained one round-robin Exchange
        # from fan_out_scan (the projected scan fans out to session
        # parallelism before the CPU-dense shingle/signature kernels —
        # a single-split source otherwise serializes them in one task).
        # Still zero joins, zero extra Python stages, nothing cached.
        "minhash": (minhash_lsh_candidates(docs), 1, 0, 3),
        "simhash": (simhash_near_dup_pairs(docs), 0, 0, 4),
        "jaccard": (ngram_jaccard_pairs(docs), 0, 0, 3),
        # embedding: 5th exchange is lsh_table_buckets' fan_out_scan
        # (r16 — the hyperplane projection ran in one Python task on a
        # single-split source)
        "embedding": (embedding_near_dup_pairs(emb), 1, 2, 5),
    }
    for name, (df, n_py, n_join, max_ex) in expectations.items():
        p = df._jdf.queryExecution().executedPlan().toString()
        joins = sum(p.count(j) for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
        assert p.count("MapInPandas") == n_py, f"{name}: python stages\n{p}"
        assert joins == n_join, f"{name}: joins {joins} != {n_join}\n{p}"
        assert p.count("InMemoryTableScan") == 0, f"{name}: cached scan\n{p}"
        assert p.count("Exchange") <= max_ex, f"{name}: exchanges\n{p}"


def test_knn_ivf_pq_recall_and_shape(spark, sf01_dir):
    """IVF-PQ (residual coding): full-k results per query, recall >= 0.8 vs
    brute force (driver-gate params: probe 12/16 lists, 8x64 residual
    codebooks, ADC top-96 rerank). Runs on the sf0.01 corpus the gate
    parameters are tuned on (via the ``sf01_dir`` fixture)."""
    from kafka_streams_task_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_pq,
    )
    from kafka_streams_task_spark.schemas import load_table

    emb = load_table(spark, sf01_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {}
    for r in knn_bruteforce(emb, q, k=5).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    out = knn_ivf_pq(emb, q, k=5, n_probe=12, ks=64, rerank_k=96)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert 1 <= r.rank <= 5 and r.query_id != r.neighbor_id
    for qid, want in bf.items():
        assert len(got[qid]) == 5
        assert len(want & got[qid]) / 5 >= 0.8, (qid, want, got[qid])


def test_ivf_scale_params_rule():
    """Pin the executable sizing rule for BOTH geometries (r15, VERDICT
    r14 item 1). "uniform" is the r14 arithmetic the cross-scale recall
    gate runs under (2*isqrt(N) lists, ceil(0.75*nc) probes, shortlist
    max(96, N/10)). "clustered" — the DEFAULT — is the sub-linear shape
    set from the tools/ann_decade.py measurement: CONSTANT 12 probed
    lists and rerank max(96, ceil(4.5*sqrt(N))), so per-query candidate
    mass is O(sqrt N) instead of a per-query corpus scan."""
    import pytest

    from kafka_streams_task_spark.operators.similarity import ivf_scale_params

    assert ivf_scale_params(500, geometry="uniform") == (44, 33, 96)
    assert ivf_scale_params(2000, geometry="uniform") == (88, 66, 200)
    # the default is the measured sub-linear clustered shape
    assert ivf_scale_params(500) == (44, 12, 101)
    assert ivf_scale_params(2000) == (88, 12, 202)
    assert ivf_scale_params(50_000) == (446, 12, 1007)
    # the clustered rerank shortlist grows as sqrt(N), not N
    assert ivf_scale_params(5_000_000)[2] < 0.01 * 5_000_000
    # explicit fraction knobs override the geometry preset
    assert ivf_scale_params(2000, probe_frac=0.75, shortlist_frac=0.10) == (
        88,
        66,
        200,
    )
    # floors: tiny corpora keep the historical minimums
    assert ivf_scale_params(10) == (16, 12, 96)
    assert ivf_scale_params(10, geometry="uniform") == (16, 12, 96)
    with pytest.raises(ValueError, match="n_vectors"):
        ivf_scale_params(0)
    with pytest.raises(ValueError, match="geometry"):
        ivf_scale_params(100, geometry="blobby")


def test_knn_ivf_pq_scale_aware_recall_holds_at_10x(spark, sf_dir):
    """The r13 sweep finding, closed and regression-pinned: at sf0.1
    (2000 vectors — 10x the driver gate scale) the scale-aware
    parameters from ivf_scale_params hold per-query recall@5 >= 0.8 vs
    brute force, where the old fixed 16/12/96 demonstrably did not
    (3/10 queries under the floor). coarse_metric="l2" matches the
    driver suite's explicit pin for this near-uniform fixture (r16 —
    the floors were proven on the Euclidean partition; the spherical
    default targets clustered geometry and measurably re-rolls the
    partition dice here: query 9 drops to 0.4 under it). Skips if the
    sf0.1 fixture is not present next to the test data dir."""
    import os

    import pytest

    from kafka_streams_task_spark.operators.similarity import (
        ivf_scale_params,
        knn_bruteforce,
        knn_ivf_pq,
    )
    from kafka_streams_task_spark.schemas import load_table

    base = os.path.dirname(sf_dir.rstrip("/"))
    d = os.path.join(base, "sf0.1")
    if not os.path.isdir(d):
        pytest.skip(f"no sf0.1 dataset next to {sf_dir}")
    emb = load_table(spark, d, "embeddings")
    n_clusters, n_probe, rerank_k = ivf_scale_params(
        emb.count(), geometry="uniform"
    )
    q = emb.filter(F.col("vec_id") < 10)
    bf = {}
    for r in knn_bruteforce(emb, q, k=5).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    out = knn_ivf_pq(
        emb, q, k=5, n_clusters=n_clusters, n_probe=n_probe, ks=64,
        rerank_k=rerank_k, coarse_metric="l2",
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qid, want in bf.items():
        assert len(got[qid]) == 5
        assert len(want & got[qid]) / 5 >= 0.8, (qid, want, got[qid])


def test_malformed_vectors_counted_not_silent(spark):
    """VERDICT r4 item 5: the Arrow-stage ragged-row guards must SURFACE
    what they drop. Plant null and wrong-dimension vectors and assert the
    accumulator counts them across knn_lsh, knn_ivf and knn_ivf_pq (and
    that results for the clean rows are unaffected)."""
    import numpy as np

    from kafka_streams_task_spark.operators.similarity import (
        knn_ivf,
        knn_ivf_pq,
        knn_lsh,
        malformed_vector_accumulator,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(40)]
    bad = [(100, None), (101, [1.0, 2.0, 3.0]), (102, [0.0] * 65)]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(rows + bad, schema)
    q = emb.filter(F.col("vec_id") < 3)

    acc = malformed_vector_accumulator(spark)
    out = knn_lsh(emb, q, k=3, dropped_acc=acc).collect()
    assert acc.value >= 3, f"lsh guard dropped silently: {acc.value}"
    assert all(r.neighbor_id < 100 for r in out)

    acc2 = malformed_vector_accumulator(spark)
    knn_ivf(emb, q, k=3, n_clusters=4, dropped_acc=acc2).collect()
    # corpus pass + query pass each see the 3 malformed corpus rows only
    # (queries are clean): at least the corpus-side count must register
    assert acc2.value >= 3, f"ivf guard dropped silently: {acc2.value}"

    acc3 = malformed_vector_accumulator(spark)
    out3 = knn_ivf_pq(emb, q, k=3, n_clusters=4, m=8, ks=8, dropped_acc=acc3).collect()
    assert acc3.value >= 3, f"ivf_pq guard dropped silently: {acc3.value}"
    assert all(r.neighbor_id < 100 for r in out3)


def test_pq_encode_deterministic_and_bounded(spark, sf_dir):
    """PQ codes: one int per subspace, stable across partitionings, every
    code inside the codebook range."""
    import numpy as np

    from kafka_streams_task_spark.operators.similarity import (
        _clean_matrix,
        _kmeans_numpy,
        _l2_normalize,
        _pq_encode,
        _pq_train_codebooks,
    )
    from kafka_streams_task_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sample = _clean_matrix(emb.orderBy("vec_id").limit(256).toPandas()["embedding"])
    books = _pq_train_codebooks(_l2_normalize(sample), m=8, ks=16, seed=1)
    a = {r.vec_id: list(r.codes) for r in _pq_encode(emb.repartition(3), "embedding", books).collect()}
    b = {r.vec_id: list(r.codes) for r in _pq_encode(emb.repartition(7, "vec_id"), "embedding", books).collect()}
    assert a == b
    for codes in a.values():
        assert len(codes) == 8 and all(0 <= c < 16 for c in codes)
    # codes reconstruct an approximation: decoded vectors must be closer to
    # their source than to a random other vector on average (sanity bound)
    mat = _l2_normalize(_clean_matrix(emb.orderBy("vec_id").toPandas()["embedding"]))
    ids = sorted(a)
    dec = np.array([np.concatenate([books[j][a[i][j]] for j in range(8)]) for i in ids])
    self_err = ((dec - mat) ** 2).sum(axis=1).mean()
    perm_err = ((dec - np.roll(mat, 1, axis=0)) ** 2).sum(axis=1).mean()
    assert self_err < perm_err


def test_redact_pii_scrubs_all_classes(spark):
    from kafka_streams_task_spark.functions.text import pii_flags, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and carol@site.org ok"),
            (2, "call 555-123-4567 or 555.987.6543 now"),
            (3, "host 192.168.1.1 and 10.0.0.255 up"),
            (4, "clean text with no identifiers at all"),
            (5, "mixed a@b.co 555-000-1111 127.0.0.1"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id", redact_pii("text").alias("red"), *pii_flags("text")
    ).collect()}
    assert out[1].red == "mail [PII] and [PII] ok"
    assert out[2].red == "call [PII] or [PII] now"
    assert out[3].red == "host [PII] and [PII] up"
    assert out[4].red == "clean text with no identifiers at all"
    assert out[5].red == "mixed [PII] [PII] [PII]"
    # redacted text never re-triggers the detectors
    flags = df.select(*[c for c in pii_flags(redact_pii("text"))]).collect()
    assert all(r.has_email == 0 and r.has_phone == 0 and r.has_ipv4 == 0 for r in flags)


def test_remove_boilerplate_lines_multiline(spark):
    from kafka_streams_task_spark.operators.dedup import remove_boilerplate_lines

    footer = "(c) 2026 example corp all rights reserved"
    nav = "home | products | about"
    docs = [
        (1, f"{nav}\nunique article one body\n{footer}"),
        (2, f"{nav}\nanother distinct piece of text\nmore of it\n{footer}"),
        (3, f"{footer}\nthird thing entirely"),
        (4, f"{nav}\n{footer}"),           # all boilerplate -> emptied
        (5, "standalone doc with no shared lines"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in remove_boilerplate_lines(df, min_df=2).collect()}
    assert out[1].text == "unique article one body" and out[1].n_kept_lines == 1
    assert out[2].text == "another distinct piece of text\nmore of it"
    assert out[2].n_kept_lines == 2
    assert out[3].text == "third thing entirely"
    assert out[4].text == "" and out[4].n_kept_lines == 0
    assert out[5].text == "standalone doc with no shared lines"
    # order preserved and min_df respected: at min_df=3 the nav (2 docs
    # after doc 4? no - nav is in docs 1,2,4 = 3 docs) still drops, the
    # footer (4 docs) drops, nothing else changes
    out3 = {r.doc_id: r for r in remove_boilerplate_lines(df, min_df=4).collect()}
    assert out3[1].text == f"{nav}\nunique article one body"  # footer(4) out, nav(3) kept
    # a repeated line WITHIN one document is not boilerplate (distinct docs)
    df2 = spark.createDataFrame([(1, "x\nx\ny"), (2, "z")], ["doc_id", "text"])
    out2 = {r.doc_id: r for r in remove_boilerplate_lines(df2, min_df=2).collect()}
    assert out2[1].text == "x\nx\ny" and out2[1].n_kept_lines == 3


def test_remove_boilerplate_lines_collision_injection(spark):
    """Hash-collision audit (VERDICT r4 item 1): membership-by-hash must not
    drop a clean line whose first hash draw collides with a boilerplate
    line's. The ``membership_hashes`` seam injects collisions directly.
    """
    from pyspark.sql import functions as F

    from kafka_streams_task_spark.operators.dedup import remove_boilerplate_lines

    docs = [
        (1, "shared footer\nunique body one"),
        (2, "shared footer\nunique body two"),
        (3, "only line of three"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    expected = {r.doc_id: r for r in remove_boilerplate_lines(df, min_df=2).collect()}
    assert expected[1].text == "unique body one"
    assert expected[3].text == "only line of three"

    # (a) Failure-mode demonstration: a single fully-colliding draw makes
    # every line share one membership key -> every line "boilerplate".
    collided = {
        r.doc_id: r
        for r in remove_boilerplate_lines(
            df, min_df=2, membership_hashes=lambda c: [F.lit(0).cast("long")]
        ).collect()
    }
    assert all(r.text == "" and r.n_kept_lines == 0 for r in collided.values())

    # (b) Rescue proof: same fully-colliding first draw, but the second
    # independent draw disambiguates -> output identical to the default
    # 128-bit scheme. This is exactly why the key is composite.
    rescued = {
        r.doc_id: r
        for r in remove_boilerplate_lines(
            df,
            min_df=2,
            membership_hashes=lambda c: [F.lit(0).cast("long"), F.xxhash64(c)],
        ).collect()
    }
    for doc_id, exp in expected.items():
        assert rescued[doc_id].text == exp.text
        assert rescued[doc_id].n_kept_lines == exp.n_kept_lines


def test_encode_documents_composite_hash_no_duplication(spark):
    """encode_documents joins tokens->vocab on a composite 128-bit hash; a
    vocab-side collision would DUPLICATE join rows and inflate n_tokens.
    Verify n_tokens equals the true token count and ids decode back."""
    from kafka_streams_task_spark.operators.vocab import build_vocab, encode_documents

    docs = [(1, "alpha beta alpha"), (2, "beta gamma delta delta")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    vocab = build_vocab(df)
    enc = {r.doc_id: r for r in encode_documents(df, vocab).collect()}
    assert enc[1].n_tokens == 3 and len(enc[1].token_ids) == 3
    assert enc[2].n_tokens == 4 and len(enc[2].token_ids) == 4
    id2tok = {r.token_id: r.token for r in vocab.collect()}
    assert [id2tok[i] for i in enc[1].token_ids] == ["alpha", "beta", "alpha"]
    assert [id2tok[i] for i in enc[2].token_ids] == ["beta", "gamma", "delta", "delta"]


def test_ann_query_sides_broadcast(spark, sf_dir):
    """The explicit broadcast hints on every ANN candidate join must
    survive planning: each ANN operator's physical plan carries at least
    one BroadcastHashJoin (the |queries|-scale side), so the corpus side
    streams rather than shuffles in the small-query regime."""
    from kafka_streams_task_spark.operators.similarity import (
        knn_ivf,
        knn_ivf_pq,
        knn_lsh,
    )
    from kafka_streams_task_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    for name, df in [
        ("lsh", knn_lsh(emb, q, k=3)),
        ("ivf", knn_ivf(emb, q, k=3)),
        ("ivf_pq", knn_ivf_pq(emb, q, k=3)),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, f"{name}: query side not broadcast\n{plan}"


def test_bigram_nll_scores_match_python_reference(spark):
    """bigram_nll_scores vs a Counter-based reference: add-one-smoothed
    bigram NLL with unigram-scored first token, exact to float tolerance;
    ordered text must out-score (lower NLL) its shuffled-gibberish twin
    even though both share the unigram distribution."""
    import math
    from collections import Counter

    from kafka_streams_task_spark.operators.sampling import bigram_nll_scores

    docs = {
        0: "the cat sat on the mat",
        1: "the cat sat on the rug",
        2: "mat the on sat cat the",   # same unigrams as doc 0, scrambled
        3: "zz",                        # single token
    }
    df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_nll_scores(df).collect()}

    toks = {i: t.split() for i, t in docs.items()}
    uni = Counter(w for t in toks.values() for w in t)
    big = Counter((t[i - 1], t[i]) for t in toks.values() for i in range(1, len(t)))
    n_total, v = sum(uni.values()), len(uni)

    for i, t in toks.items():
        nlls = [-math.log((uni[t[0]] + 1) / (n_total + v))]
        nlls += [
            -math.log((big[(t[j - 1], t[j])] + 1) / (uni[t[j - 1]] + v))
            for j in range(1, len(t))
        ]
        assert got[i]["n_tokens"] == len(t)
        assert got[i]["avg_nll"] == pytest.approx(sum(nlls) / len(nlls), rel=1e-9)

    # order sensitivity: the scrambled doc scores strictly worse
    assert got[2]["avg_nll"] > got[0]["avg_nll"] + 0.2


def test_incremental_lsh_equals_full_run_restricted_to_new(spark):
    """Splitting the corpus into an indexed half and a new shard, the
    incremental candidates must equal EXACTLY the full-corpus LSH pairs
    that touch a new document — same banding, same bucket-cap semantics —
    without re-signaturing the indexed half."""
    from kafka_streams_task_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_candidates,
        minhash_lsh_candidates_incremental,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # plant near-dups across the boundary and inside the new shard
    old = base.filter(F.col("doc_id") % 2 == 0)
    new = base.filter(F.col("doc_id") % 2 == 1).unionByName(
        base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"
        )
    )
    full = minhash_lsh_candidates(old.unionByName(new), num_hashes=32, bands=8)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }

    index = minhash_band_table(old, num_hashes=32, bands=8)
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates_incremental(
            new, index, num_hashes=32, bands=8
        ).collect()
    }
    assert got == want
    assert want, "planted cross-boundary duplicates must produce candidates"


def test_char_entropy_matches_counter_reference(spark):
    """char_entropy's sorted-run fold vs a Counter-based reference, incl.
    degenerate (uniform, single-symbol, empty) inputs."""
    import math
    from collections import Counter

    from pyspark.sql import Row

    from kafka_streams_task_spark.functions.text import char_entropy

    texts = ["aaaa", "abab", "abcd", "", "aab", "the quick brown fox!",
             "zzzzzzzzzzzzzzzzzzzy", "0123456789" * 3]
    df = spark.createDataFrame([Row(t=t) for t in texts])
    got = {r.t: r.h for r in df.select("t", char_entropy("t").alias("h")).collect()}
    for t in texts:
        cnt = Counter(t)
        n = len(t)
        ref = 0.0 if n == 0 else (
            math.log(n) - sum(c * math.log(c) for c in cnt.values()) / n
        ) / math.log(2)
        assert got[t] == pytest.approx(ref, abs=1e-12), repr(t)


def test_char_entropy_is_codegen_only(spark, sf_dir):
    from kafka_streams_task_spark.functions.text import char_entropy
    from kafka_streams_task_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = docs.select(char_entropy("text"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _jaccard_brute(docs, n, t):
    """(id_a, id_b) -> rounded jaccard over word n-gram SETS, >= t after
    the same +1e-9/6dp rounding the operator applies."""
    import re as _re

    def shset(text):
        toks = _re.split(r"[ \t\n\r\f]+", text.strip())
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shset(t_) for i, t_ in docs}
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = round(inter / (len(sets[a]) + len(sets[b]) - inter) + 1e-9, 6)
            if j >= t:
                out[(a, b)] = j
    return out


def test_jaccard_join_prefix_exact_vs_brute_force(spark):
    """Prefix filtering must be LOSSLESS: the result equals brute force
    exactly — including pairs connected ONLY through a corpus-hot
    boilerplate shingle (the case the df-capped operator drops)."""
    import random

    from pyspark.sql import Row

    from kafka_streams_task_spark.operators.dedup import jaccard_join_prefix

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    boiler = "all rights reserved worldwide"  # hot 4-token run in EVERY doc
    for i in range(40):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(6, 16))]
        docs.append((i, " ".join(words) + " " + boiler))
    # planted near-identical pair sharing mostly the boilerplate run
    docs.append((100, "unique alpha beta " + boiler))
    docs.append((101, "unique alpha gamma " + boiler))

    for t in (0.3, 0.5, 0.8):
        df = spark.createDataFrame([Row(doc_id=i, text=x) for i, x in docs])
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_join_prefix(
                df, threshold=t, shingle_n=3, hash_shingles=False
            ).collect()
        }
        ref = _jaccard_brute(docs, 3, t)
        assert got == ref, f"t={t}: mismatch {set(got) ^ set(ref)}"


def test_jaccard_join_prefix_hashed_matches_string_path(spark):
    from pyspark.sql import Row

    from kafka_streams_task_spark.operators.dedup import jaccard_join_prefix

    docs = [(i, f"alpha beta gamma delta w{i % 4} epsilon zeta") for i in range(20)]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])
    a = {(r.id_a, r.id_b): r.jaccard
         for r in jaccard_join_prefix(df, threshold=0.5).collect()}
    b = {(r.id_a, r.id_b): r.jaccard
         for r in jaccard_join_prefix(df, threshold=0.5, hash_shingles=False).collect()}
    assert a == b


def test_jaccard_join_prefix_no_cartesian(spark, sf_dir):
    from kafka_streams_task_spark.operators.dedup import jaccard_join_prefix
    from kafka_streams_task_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = jaccard_join_prefix(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_persisted_index_matches_inmemory(spark, sf01_dir, tmpdir):
    """build_ivfpq_index + knn_ivf_pq_from_index must reproduce the
    in-memory knn_ivf_pq EXACTLY (same seed => same model => same ADC
    shortlist => same reranked top-k), and the index scan must carry a
    cluster partition filter (probed lists only)."""
    import os

    from kafka_streams_task_spark.operators.similarity import (
        build_ivfpq_index,
        knn_ivf_pq,
        knn_ivf_pq_from_index,
    )
    from kafka_streams_task_spark.schemas import load_table

    emb = load_table(spark, sf01_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    params = dict(k=5, n_probe=4, rerank_k=48)

    path = os.path.join(str(tmpdir), "ivfpq")
    build_ivfpq_index(emb, path, n_clusters=16, m=8, ks=32)
    from_index = knn_ivf_pq_from_index(queries, emb, path, **params)
    in_memory = knn_ivf_pq(emb, queries, n_clusters=16, m=8, ks=32, **params)

    a = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in from_index.collect()}
    b = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in in_memory.collect()}
    assert a == b

    # partition pruning: the index read must filter on cluster
    plan = from_index._jdf.queryExecution().executedPlan().toString()
    # STRICT: the "or cluster#" fallback was vacuous — any plan touching
    # the column prints cluster#N, pruned or not (review r15)
    assert "PartitionFilters: [cluster" in plan

    # the model directory is tiny and self-contained
    model = spark.read.parquet(f"{path}/model").first()
    assert model["dim"] == 64 and model["m"] == 8 and model["ks"] == 32
    assert len(model["centroids"]) == 16 and len(model["books"]) == 8 * 32


def test_jaccard_join_tables_exact_vs_brute_force(spark):
    """The R x S linkage join must equal brute-force cross-corpus Jaccard
    exactly — including pairs whose ids COLLIDE across the two tables
    (sides are tracked, ids never merged)."""
    import random

    from pyspark.sql import Row

    from kafka_streams_task_spark.operators.dedup import jaccard_join_tables

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(20)]
    mk = lambda: " ".join(vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(5, 12)))  # noqa: E731
    left = [(i, mk()) for i in range(25)]
    right = [(i, mk()) for i in range(25)]  # SAME id range on purpose
    # plant a cross-corpus near-dup
    right.append((99, left[3][1] + " extra"))

    for t in (0.4, 0.7):
        got = {
            (r.id_left, r.id_right): r.jaccard
            for r in jaccard_join_tables(
                spark.createDataFrame([Row(doc_id=i, text=x) for i, x in left]),
                spark.createDataFrame([Row(doc_id=i, text=x) for i, x in right]),
                threshold=t,
                hash_shingles=False,
            ).collect()
        }
        ref = {}
        for a, ta in left:
            sa = {" ".join(ta.split()[i:i + 3]) for i in range(max(1, len(ta.split()) - 2))}
            if len(ta.split()) < 3:
                sa = {ta}
            for b, tb in right:
                sb = {" ".join(tb.split()[i:i + 3]) for i in range(max(1, len(tb.split()) - 2))}
                if len(tb.split()) < 3:
                    sb = {tb}
                inter = len(sa & sb)
                if not inter:
                    continue
                j = round(inter / (len(sa) + len(sb) - inter) + 1e-9, 6)
                if j >= t:
                    ref[(a, b)] = j
        assert got == ref, f"t={t}: {set(got) ^ set(ref)}"
    # the planted cross-corpus near-dup is found at the lower threshold
    got04 = jaccard_join_tables(
        spark.createDataFrame([Row(doc_id=i, text=x) for i, x in left]),
        spark.createDataFrame([Row(doc_id=i, text=x) for i, x in right]),
        threshold=0.4, hash_shingles=False,
    ).filter("id_left = 3 AND id_right = 99").count()
    assert got04 == 1


def test_jaccard_join_tables_no_within_side_pairs(spark):
    """Identical docs on the SAME side must produce nothing (within-side
    pairing is jaccard_join_prefix's job, and the R x S plan must never
    spend candidates on it)."""
    from pyspark.sql import Row

    from kafka_streams_task_spark.operators.dedup import jaccard_join_tables

    left = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta"),
         Row(doc_id=2, text="alpha beta gamma delta")]  # same-side exact dup
    )
    right = spark.createDataFrame([Row(doc_id=7, text="zeta eta theta iota")])
    assert jaccard_join_tables(left, right, threshold=0.3).count() == 0


class TestContainmentPairs:
    def _docs(self, spark):
        # B = A + extra tail (A fully contained); C disjoint; D = quote
        # of A inside much larger text
        a = "w1 w2 w3 w4 w5 w6"
        b = a + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
        d = "h1 h2 h3 h4 h5 h6 h7 h8 " + a + " t1 t2 t3 t4 t5 t6 t7 t8"
        return spark.createDataFrame(
            [(1, a), (2, b), (3, "z1 z2 z3 z4 z5"), (4, d)],
            "doc_id long, text string",
        )

    def test_directional_containment(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        out = {
            (r["id_a"], r["id_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
            for r in ngram_containment_pairs(
                self._docs(spark), threshold=0.9
            ).collect()
        }
        # A has 4 distinct 3-grams, all inside B and D
        assert out[(1, 2)][0] == 1.0 and out[(1, 2)][1] < 0.5
        assert out[(1, 4)][0] == 1.0 and out[(1, 4)][1] < 0.5
        # C pairs with nobody; (2,4) share only A's grams — both
        # directions low, filtered
        assert set(out) == {(1, 2), (1, 4)}

    def test_jaccard_misses_what_containment_finds(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        docs = self._docs(spark)
        jac = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        cont = {
            (r["id_a"], r["id_b"])
            for r in ngram_containment_pairs(docs, threshold=0.9).collect()
        }
        # the quote-inside-article pair has tiny Jaccard but full
        # containment — the relation this operator exists for
        assert (1, 4) in cont and (1, 4) not in jac

    def test_agrees_with_python_reference(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        rows = [
            (i, " ".join(f"t{(i * j) % 13}" for j in range(1, 10)))
            for i in range(20)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        def grams(t):
            w = t.split()
            return set(
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            ) or {t}

        g = {i: grams(t) for i, t in rows}
        want = {}
        for i in range(20):
            for j in range(i + 1, 20):
                c = len(g[i] & g[j])
                if c and max(c / len(g[i]), c / len(g[j])) >= 0.4:
                    want[(i, j)] = (
                        round(c / len(g[i]), 6),
                        round(c / len(g[j]), 6),
                    )
        got = {
            (r["id_a"], r["id_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
            for r in ngram_containment_pairs(docs, threshold=0.4).collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == pytest.approx(want[k][0], abs=2e-6)
            assert got[k][1] == pytest.approx(want[k][1], abs=2e-6)

    def test_jaccard_unchanged_by_refactor(self, spark):
        # the shared-machinery refactor must not move jaccard values
        from kafka_streams_task_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = self._docs(spark)
        out = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
        }
        # A: 4 grams, B: 16 grams, common 4 -> 4/16 = 0.25
        assert out[(1, 2)] == pytest.approx(0.25)


class TestDropContainedDocuments:
    def test_quote_and_superset_dropped(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            drop_contained_documents,
        )

        a = "w1 w2 w3 w4 w5 w6"
        docs = spark.createDataFrame(
            [
                (1, a),                                              # ⊂ 2 and 4
                (2, a + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"),
                (3, "z1 z2 z3 z4 z5"),                               # unrelated
                (4, "h1 h2 h3 h4 h5 h6 h7 h8 " + a + " t1 t2 t3 t4 t5 t6 t7 t8"),
            ],
            "doc_id long, text string",
        )
        kept = {r["doc_id"] for r in drop_contained_documents(docs).collect()}
        assert kept == {2, 3, 4}

    def test_chain_keeps_only_the_top(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            drop_contained_documents,
        )

        a = "w1 w2 w3 w4 w5 w6"
        b = a + " y1 y2 y3"
        c = b + " q1 q2 q3 q4"
        docs = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        kept = {r["doc_id"] for r in drop_contained_documents(docs).collect()}
        assert kept == {3}

    def test_mutual_containment_keeps_one(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            drop_contained_documents,
        )

        # identical shingle sets (exact duplicate text, distinct ids):
        # both directions contain at threshold, sizes tie
        a = "w1 w2 w3 w4 w5"
        docs = spark.createDataFrame(
            [(7, a), (8, a)], "doc_id long, text string"
        )
        kept = {r["doc_id"] for r in drop_contained_documents(docs).collect()}
        assert kept == {7}  # equal size -> smaller id survives

    def test_columns_and_unrelated_preserved(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            drop_contained_documents,
        )

        docs = spark.createDataFrame(
            [(1, "a1 a2 a3 a4", "keepme")],
            "doc_id long, text string, extra string",
        )
        rows = drop_contained_documents(docs).collect()
        assert rows[0]["extra"] == "keepme" and len(rows) == 1


def test_keep_best_per_cluster_policy(spark):
    """r12 quality-aware survivorship: argmax score per CC cluster, ties
    to min id, NULL scores lose to any scored doc, all-NULL cluster falls
    back to min id, pair-less docs survive as their own cluster."""
    from pyspark.sql import functions as F

    from kafka_streams_task_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [
            (1, 0.5), (2, 0.9), (3, 0.7),   # chain cluster -> 2
            (4, 0.3), (5, 0.3),             # tie -> 4
            (6, None),                       # singleton, NULL score -> survives
            (7, None), (8, 0.1),            # NULL loses to scored -> 8
            (9, None), (10, None),          # all-NULL cluster -> min id 9
        ],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 8), (9, 10)], "id_a long, id_b long"
    )
    got = {r["doc_id"] for r in keep_best_per_cluster(docs, pairs).collect()}
    assert got == {2, 4, 6, 8, 9}

    # original columns come back intact
    row = (
        keep_best_per_cluster(docs, pairs)
        .filter(F.col("doc_id") == 2)
        .collect()[0]
    )
    assert row["score"] == 0.9 and set(row.asDict()) == {"doc_id", "score"}


def test_keep_best_per_cluster_random_matches_reference(spark):
    """Random-graph property: keep_best_per_cluster must equal a
    from-scratch python union-find + argmax reference on 8 random
    pair graphs (varying density, duplicate edges, scores with ties
    and NULLs)."""
    import random as _random

    from kafka_streams_task_spark.operators.dedup import keep_best_per_cluster

    rng = _random.Random(23)
    for trial in range(8):
        n = rng.randint(5, 40)
        ids = list(range(1, n + 1))
        scores = {
            i: (None if rng.random() < 0.15 else round(rng.random() * 3, 1))
            for i in ids
        }
        n_edges = rng.randint(0, n)
        edges = [
            (rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        # python reference: union-find, then per-root argmax
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        clusters: dict[int, list[int]] = {}
        for i in ids:
            clusters.setdefault(find(i), []).append(i)

        def rank(i):
            s = scores[i]
            return (0 if s is not None else 1, -(s or 0.0), i)

        expected = {min(members, key=rank) for members in clusters.values()}

        docs = spark.createDataFrame(
            [(i, scores[i]) for i in ids], "doc_id long, score double"
        )
        pairs = spark.createDataFrame(
            edges or [(None, None)], "id_a long, id_b long"
        ).filter("id_a IS NOT NULL")
        got = {
            r["doc_id"] for r in keep_best_per_cluster(docs, pairs).collect()
        }
        assert got == expected, f"trial {trial}: {got} != {expected}"


def test_drop_contained_random_matches_reference(spark):
    """Random-corpus property: drop_contained_documents must equal a
    from-scratch python reference (distinct 3-gram shingle sets, the
    containment >= t + size-rank drop rule) across 6 random corpora with
    planted subset/superset structure."""
    import random as _random

    from kafka_streams_task_spark.operators.dedup import drop_contained_documents

    rng = _random.Random(53)
    vocab = [f"t{i}" for i in range(30)]
    for trial in range(6):
        rows = []
        did = 1
        for _ in range(12):
            n = rng.randint(4, 14)
            toks = [rng.choice(vocab) for _ in range(n)]
            rows.append((did, " ".join(toks)))
            did += 1
            if rng.random() < 0.5:  # plant a prefix-subset doc
                cut = rng.randint(3, max(3, n - 1))
                rows.append((did, " ".join(toks[:cut])))
                did += 1
        threshold = rng.choice([0.8, 0.95, 1.0])

        def sh(text):
            t = text.split()
            if len(t) >= 3:
                return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
            return {" ".join(t)}

        shs = {i: sh(t) for i, t in rows}
        drops = set()
        ids = [i for i, _ in rows]
        for x in ids:
            for y in ids:
                if x == y:
                    continue
                common = len(shs[x] & shs[y])
                nx, ny = len(shs[x]), len(shs[y])
                if common / nx >= threshold and (
                    nx < ny or (nx == ny and x > y)
                ):
                    drops.add(x)
                    break
        expected = {i for i in ids if i not in drops}

        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]
            for r in drop_contained_documents(df, threshold=threshold).collect()
        }
        assert got == expected, (
            f"trial {trial} t={threshold}: {sorted(got ^ expected)}"
        )


def test_drop_contained_threshold_one_strict_preservation(spark):
    """Property pin of the docstring's threshold=1.0 promise (VERDICT r12
    item 5): at threshold=1.0 containment IS set inclusion, which is
    transitive — so even though the single-pass rule lets a dropped doc's
    absorber itself be dropped, every dropped doc's shingle set must be
    EXACTLY contained in some SURVIVOR's shingle set (follow absorbers up
    the acyclic size-then-id rank to an undropped doc). Checked on random
    corpora with planted exact-subset chains A ⊂ B ⊂ C (+ exact-duplicate
    pairs), including that no shingle of the corpus is lost."""
    import random as _random

    from kafka_streams_task_spark.operators.dedup import drop_contained_documents

    rng = _random.Random(97)
    vocab = [f"t{i}" for i in range(24)]

    def sh(text):
        t = text.split()
        if len(t) >= 3:
            return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
        return {" ".join(t)}

    for trial in range(6):
        rows = []
        did = 1
        for _ in range(8):
            n = rng.randint(6, 16)
            toks = [rng.choice(vocab) for _ in range(n)]
            rows.append((did, " ".join(toks)))
            did += 1
            # plant an exact-subset CHAIN under the top doc: each link a
            # strict prefix of the previous (C subset of B subset of A)
            cur = toks
            while len(cur) > 5 and rng.random() < 0.6:
                cur = cur[: rng.randint(4, len(cur) - 1)]
                rows.append((did, " ".join(cur)))
                did += 1
            if rng.random() < 0.3:  # exact duplicate (mutual containment)
                rows.append((did, " ".join(toks)))
                did += 1

        df = spark.createDataFrame(rows, "doc_id long, text string")
        kept = {
            r["doc_id"]
            for r in drop_contained_documents(df, threshold=1.0).collect()
        }
        shs = {i: sh(t) for i, t in rows}
        dropped = set(shs) - kept
        # strict content preservation: every dropped doc's shingle set is
        # exactly contained in a SURVIVING doc's shingle set...
        for x in dropped:
            assert any(shs[x] <= shs[y] for y in kept), (
                f"trial {trial}: dropped doc {x} not contained in any survivor"
            )
        # ...equivalently, no shingle of the corpus is lost
        all_sh = set().union(*shs.values())
        kept_sh = set().union(*(shs[y] for y in kept))
        assert kept_sh == all_sh, f"trial {trial}: lost {all_sh - kept_sh}"


def test_ivfpq_append_equals_monolithic_rebuild(spark, sf01_dir, tmpdir):
    """append_to_ivfpq_index (r15): building on a prefix shard and
    appending the rest must search IDENTICALLY to one monolithic build —
    provided the training sample is unchanged, which holds here because
    build_ivfpq_index trains on the first sample_size vectors in id
    order and the prefix shard contains all of them. Also pins that the
    appended rows land inside the cluster-partitioned layout (partition
    pruning intact) and that the model is untouched by the append."""
    import os

    from kafka_streams_task_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        knn_ivf_pq_from_index,
    )
    from kafka_streams_task_spark.schemas import load_table

    emb = load_table(spark, sf01_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    queries = emb.filter(F.col("vec_id") < 8)
    params = dict(k=5, n_probe=4, rerank_k=48)

    inc = os.path.join(str(tmpdir), "ivfpq_inc")
    build_ivfpq_index(old, inc, n_clusters=16, m=8, ks=32, sample_size=300)
    model_before = spark.read.parquet(f"{inc}/model").first()
    append_to_ivfpq_index(new, inc)
    model_after = spark.read.parquet(f"{inc}/model").first()
    assert model_after == model_before  # append never touches the model

    mono = os.path.join(str(tmpdir), "ivfpq_mono")
    build_ivfpq_index(emb, mono, n_clusters=16, m=8, ks=32, sample_size=300)

    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in knn_ivf_pq_from_index(queries, emb, inc, **params).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in knn_ivf_pq_from_index(queries, emb, mono, **params).collect()
    }
    assert got == want
    # results actually span both shards (the append is searched)
    assert any(nid >= 300 for nid, _ in got.values())

    # the appended index is still cluster-partitioned on disk: every
    # index row lives under a cluster=N directory, old and new alike
    idx = spark.read.parquet(f"{inc}/index")
    n_old = idx.filter(F.col("neighbor_id") < 300).count()
    n_new = idx.filter(F.col("neighbor_id") >= 300).count()
    assert n_old == 300 and n_new == emb.count() - 300
    plan = (
        knn_ivf_pq_from_index(queries, emb, inc, **params)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # STRICT: the "or cluster#" fallback was vacuous — any plan touching
    # the column prints cluster#N, pruned or not (review r15)
    assert "PartitionFilters: [cluster" in plan


def test_spherical_coarse_trainer_removes_probed_list_norm_bias(spark):
    """R16 (VERDICT r15 item 6): the measured probed-mass gap above the
    mean-list prediction was NOT trainer under-resolution — it was a
    metric mismatch. Euclidean nearest-centroid probing ranks unrelated
    lists by -||c||^2/2, and a centroid that averaged m near-orthogonal
    topic blobs has norm ~ 1/sqrt(m), so every query's probe set was
    steered into exactly the merged multi-blob (oversized) lists. The
    spherical trainer (metric="cosine", now the coarse default for the
    cosine-search operators) removes the norm term entirely.

    Pinned here on a small planted-blob fixture (the tools/ann_decade.py
    geometry at unit-test scale): with n/blob_size blobs and 2*isqrt(n)
    lists, the spherical trainer's probed mass stays within 1.5x the
    mean-list prediction while the Euclidean trainer's measurably
    exceeds it, and spherical IVF search keeps recall 1.0 for
    blob-member queries. Also pins the unit-norm invariant of both
    spherical trainers' outputs."""
    import numpy as np

    from kafka_streams_task_spark.operators.similarity import (
        _assign_clusters,
        _clean_matrix,
        _kmeans_numpy,
        kmeans_fit_distributed,
        knn_bruteforce,
        knn_ivf,
    )

    rng = np.random.default_rng(7)
    n, blob, dim = 4000, 10, 32
    centers = rng.normal(size=(n // blob, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.repeat(centers, blob, axis=0) + rng.normal(
        0, 0.3 / np.sqrt(dim), size=(n, dim)
    )
    perm = rng.permutation(n)  # ids uncorrelated with blob membership
    rows = [(int(i), vecs[p].tolist()) for i, p in enumerate(perm)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nc = 2 * int(np.sqrt(n))  # 126 lists over 400 blobs
    sample = _clean_matrix(
        emb.select("embedding").orderBy("vec_id").limit(2048).toPandas()["embedding"]
    )
    q = emb.filter(F.col("vec_id") < 10)

    def probed_mass(cent):
        sizes = {
            r["cluster"]: r["cnt"]
            for r in _assign_clusters(emb, "embedding", cent, 1, "cluster")
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        probes = _assign_clusters(
            q.select(F.col("vec_id").alias("qid"), "embedding"),
            "embedding", cent, 12, "cluster",
        ).collect()
        return sum(sizes.get(r["cluster"], 0) for r in probes) / 10

    sph = _kmeans_numpy(sample, nc, seed=42, metric="cosine")
    l2 = _kmeans_numpy(sample, nc, seed=42)
    assert np.allclose(np.linalg.norm(sph, axis=1), 1.0)
    mean_pred = 12 * n / nc
    m_sph, m_l2 = probed_mass(sph), probed_mass(l2)
    assert m_sph <= 1.5 * mean_pred, (m_sph, mean_pred)
    # the Euclidean trainer measurably exceeds spherical on the same
    # fixture (directional — the bias GROWS with blob separation scale:
    # ~1.35x mean here at unit-test size, 3.1x on the decade's clu_50k)
    assert m_l2 > 1.15 * m_sph, (m_l2, m_sph)

    # spherical IVF search (the library default path) keeps recall 1.0
    # for blob members at the constant-probe clustered sizing
    bf = {}
    for r in knn_bruteforce(emb, q, k=5).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in knn_ivf(
        emb, q, k=5, n_clusters=nc, n_probe=12, sample_size=2048
    ).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qid, want in bf.items():
        assert len(want & got.get(qid, set())) / 5 == 1.0, qid

    # the distributed spherical trainer emits unit-norm centroids too
    dist = kmeans_fit_distributed(
        emb.limit(500), n_clusters=8, n_iter=2, metric="cosine"
    )
    assert np.allclose(np.linalg.norm(dist, axis=1), 1.0)
    with pytest.raises(ValueError, match="metric"):
        _kmeans_numpy(sample, 4, seed=1, metric="dot")


def test_jaccard_guard_estimate_and_dispatch(spark):
    """opt-r17 (VERDICT r16 item 4): the candidate-mass guard. At
    sample_fraction=1.0 the estimate equals the exact posting mass; a
    saturated corpus trips the LSH branch (whose verified output keeps
    the exact jaccard math), a sane corpus stays on the lossless
    prefix path (bit-identical to jaccard_join_prefix)."""
    from pyspark.sql import Row

    from kafka_streams_task_spark.operators.dedup import (
        estimate_jaccard_pair_mass,
        jaccard_join_prefix,
        jaccard_pairs_guarded,
    )

    # every doc shares one hot 3-gram -> mass ~ C(n,2) per hot shingle
    docs = [(i, f"common run here tail{i} w{i % 3} x{i % 5}") for i in range(30)]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])

    mass, n = estimate_jaccard_pair_mass(df, sample_fraction=1.0)
    assert n == 30.0
    assert mass >= 30 * 29 / 2  # the hot shingle alone contributes C(30,2)

    # exact branch: high threshold ratio -> identical to the prefix join
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs_guarded(
            df, max_pair_mass_ratio=1e9, sample_fraction=1.0, threshold=0.5
        ).collect()
    }
    ref = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_join_prefix(df, threshold=0.5).collect()
    }
    assert exact == ref

    # guarded branch: ratio 0 forces LSH + exact verify; with 128 hashes
    # over near-identical docs the planted pair must survive, and every
    # reported jaccard must match the exact math (no false positives)
    near = [(200, "alpha beta gamma delta epsilon zeta"),
            (201, "alpha beta gamma delta epsilon eta")]
    df2 = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs + near]
    )
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs_guarded(
            df2, max_pair_mass_ratio=0.0, sample_fraction=1.0, threshold=0.3
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_join_prefix(df2, threshold=0.3).collect()
    }
    assert (200, 201) in lsh
    assert set(lsh) <= set(full)  # recall-bounded, never false-positive
    assert all(full[k] == v for k, v in lsh.items())
