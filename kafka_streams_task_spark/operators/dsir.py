"""DSIR — data selection via importance resampling (Xie et al. 2023).

The standard learned alternative to hand-written quality rules for
choosing pretraining data: given a small TARGET corpus (what you want
the model to sound like — Wikipedia, curated books) and a huge RAW pool
(Common Crawl), fit bag-of-hashed-ngram unigram models to both, weight
every raw document by its importance ratio p_target/p_raw, and resample
by that weight. "Data Selection for Language Models via Importance
Resampling" (NeurIPS 2023) used exactly this recipe — hashed word
uni+bigrams, Laplace-smoothed bucket counts, Gumbel-top-k resampling —
to pick GPT-3-scale corpora. (Reference repo has no analogue —
beyond-reference training-data mandate, SURVEY.md §2.7 note.)

Design for 100 TB:
  * the FEATURE SPACE is fixed-width hashed buckets (the hashing trick,
    shared with :mod:`classifier`): no vocabulary object exists; the
    gram→bucket map is a pure column expression over the engine's
    PORTABLE md5 index (``classifier.feature_index``), so the DuckDB
    oracle replays scores bit-for-bit. A production deploy can swap
    xxhash64 for speed at the cost of oracle portability.
  * FIT is two explode→groupBy aggregates (map-side partial combine;
    shuffle bounded by ``n_features`` buckets, not corpus size) plus one
    full-outer join of two ≤n_features-row tables. The model ships as a
    DataFrame of (idx, log_ratio) — a few hundred KB at the default
    2^13 buckets, never a driver-side vector.
  * SCORE is one scan: explode grams → BROADCAST join the weight table
    → one partial+final aggregate by doc id. No sort, no repartition;
    scoring 100 TB is embarrassingly parallel around a single
    doc-id shuffle.
  * RESAMPLE uses the Gumbel-top-k trick on the LOG weight directly:
    key = log_w/T + Gumbel(hash(id, seed)). Equivalent to
    Efraimidis–Spirakis ``u^(1/w)`` (``sampling.weighted_sample``) but
    stable when |log_w| exceeds 709 — ``exp(log_w)`` over/underflows
    double for long documents, the Gumbel form never does. The key is a
    pure expression of (id, seed, log_w): layout-independent,
    reproducible under retries, no RNG state. Global top-k compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of k).

Smoothing semantics: p[b] = (c[b] + alpha) / (N + alpha·B) over B
buckets. Buckets observed in neither corpus share one constant
log-ratio ln((Nr + alpha·B)/(Nt + alpha·B)); the weight table carries it
as a single idx-NULL row so the model is self-contained (no side
channel), and :func:`dsir_score` folds it back as the coalesce default.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import WHITESPACE_RE
from ..schemas import local_table
from .classifier import feature_index

#: md5-hex-to-uniform denominator, mirrors sampling._HASH_SPACE
_HASH_SPACE = float(1 << 32)


def _tokens_expr(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped."""
    return F.filter(
        F.split(F.trim(F.lower(text)), WHITESPACE_RE), lambda t: t != F.lit("")
    )


def _indices_of_tokens(toks: Column, n_features: int) -> Column:
    """Hashed uni+bigram bucket ids from an already-built token array."""
    n = F.size(toks)
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(n - F.lit(1), F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + F.lit(2))),
    )
    return F.transform(
        F.concat(toks, bigrams), lambda g: feature_index(g, n_features)
    )


def dsir_gram_indices(text: Column, n_features: int = 1 << 13) -> Column:
    """``array<long>`` of hashed word uni+bigram bucket ids for one
    document — the DSIR feature extractor as a pure column expression.

    Tokenization is the engine's whitespace split, always lowercased
    (per the paper, and so a model is fit and scored on the same
    tokens; both Spark and DuckDB lowercase plain ASCII identically —
    non-ASCII locale-edge casing is the caller's risk),
    empty tokens dropped. Bigrams join adjacent tokens with one space,
    so the bucket of bigram "a b" is ``feature_index('a b')`` in both
    engines. NULL text → NULL (explode drops it; ``dsir_score`` keeps
    such docs at weight 1 via ``explode_outer``).

    This inline form references the token array 4× — the operators
    below route through :func:`_gram_explode`, which materializes the
    tokens as their own aliased column first, so the split+filter runs
    ONCE per row (CollapseProject declines to inline a multiply-
    referenced non-cheap alias — the ``registered_domain_of_host``
    lesson).
    """
    return _indices_of_tokens(_tokens_expr(text), n_features)


def _gram_explode(
    df: DataFrame,
    text_col: str,
    n_features: int,
    id_cols: list[str],
    outer: bool = False,
) -> DataFrame:
    """``(*id_cols, idx)`` — one row per gram occurrence, tokenizing
    each document exactly once (see :func:`dsir_gram_indices`)."""
    if "_dsir_toks" in df.columns:
        raise ValueError("df already has a _dsir_toks column")
    from ..schemas import fan_out_scan

    # opt-r16 (guide §2.5): tokenize + hash + explode fuse into the scan
    # stage; fan the projected columns out first so a single-split
    # source (local single-row-group fixtures, one hot partition) does
    # not run the whole gram chain in one task. Measured: the fit-side
    # bucket count ran 4.2 s in ONE task on a 32-core session.
    projected = fan_out_scan(
        df.select(*[F.col(c) for c in id_cols], F.col(text_col))
    )
    with_toks = projected.select(
        *[F.col(c) for c in id_cols],
        _tokens_expr(F.col(text_col)).alias("_dsir_toks"),
    )
    idxs = _indices_of_tokens(F.col("_dsir_toks"), n_features)
    # always explode_outer: a plain explode makes the optimizer infer
    # `size(idxs) > 0` and sink it below the fan-out exchange with the
    # whole tokenize chain substituted in — the chain then runs serially
    # in the scan task AND again post-exchange. The non-outer form
    # recovers plain-explode semantics with a post-generate null filter
    # (gram indices are never null, so only the outer-emitted null rows
    # drop), which references the generated column and cannot sink.
    out = with_toks.select(*[F.col(c) for c in id_cols], F.explode_outer(idxs).alias("idx"))
    return out if outer else out.filter(F.col("idx").isNotNull())


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_features: int = 1 << 13,
    alpha: float = 1.0,
) -> DataFrame:
    """Fit the importance model: ``(idx, log_ratio, n_features)`` with
    one idx-NULL row carrying the unseen-bucket default (see module
    docstring). The constant ``n_features`` column stamps the hash
    width INTO the model, so every scorer can verify it scores with the
    width the model was fit at — a mismatch mis-hashes every gram
    silently otherwise (the bucket is ``gram mod width``).

    ``log_ratio[b] = ln p_target[b] − ln p_raw[b]`` under Laplace-alpha
    smoothing. The corpus totals are bounded scalar aggregates (the
    ``logreg_train`` precedent); everything else stays distributed.

    opt-r17 (guide §4.3 batched driver round-trips): BOTH corpora feed
    one side-tagged union through a SINGLE gram explode + aggregate —
    one Spark job where the old two-checkpoint form paid a sequential
    job per side plus a separate totals job per side (dsir_select's
    profile showed ~1.2 s of driver gaps over ~20 small jobs). Counts
    per side come from conditional sums over the tag; the per-bucket
    values and the totals are whole-number doubles either way, so the
    model is bit-identical to the two-scan form (pinned by
    ``test_tagged_fit_matches_two_scan_fit``'s canonical compare).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    if text_col == "_dsir_t":
        raise ValueError("text_col may not be named _dsir_t")
    tagged = target.select(
        F.lit(True).alias("_dsir_t"), F.col(text_col)
    ).unionByName(raw.select(F.lit(False).alias("_dsir_t"), F.col(text_col)))
    both = (
        _gram_explode(tagged, text_col, n_features, id_cols=["_dsir_t"])
        .groupBy("idx")
        .agg(
            F.sum(F.when(F.col("_dsir_t"), 1).otherwise(0))
            .cast("double")
            .alias("ct_c"),
            F.sum(F.when(F.col("_dsir_t"), 0).otherwise(1))
            .cast("double")
            .alias("cr_c"),
        )
        .localCheckpoint(eager=True)
    )
    return _finish_model(both, n_features, alpha)


def dsir_fit_tagged(
    corpus: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    n_features: int = 1 << 13,
    alpha: float = 1.0,
) -> DataFrame:
    """:func:`dsir_fit` for the common target-is-a-subset case — fit
    from ONE corpus scan instead of two. When the target corpus is a
    predicate over the raw pool (curated sources, a quality-score
    cut), ``dsir_fit(corpus.filter(cond), corpus)`` reads the corpus
    twice; here the gram explode carries the boolean and one
    partial+final aggregate produces BOTH count tables
    (``count_if(cond)`` / ``count(*)`` per bucket). At 100 TB that is
    the difference between one and two full-corpus reads.

    Produces a bit-identical model to the two-scan form (same bucket
    row set — target buckets are a subset of raw buckets by
    construction — and the same double arithmetic; pinned by
    ``test_tagged_fit_matches_two_scan_fit``).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    if "_dsir_t" in corpus.columns:
        raise ValueError("corpus already has a _dsir_t column")
    both = (
        _gram_explode(
            corpus.withColumn("_dsir_t", target_cond.cast("boolean")),
            text_col,
            n_features,
            id_cols=["_dsir_t"],
        )
        .groupBy("idx")
        .agg(
            F.sum(F.when(F.col("_dsir_t"), 1).otherwise(0))
            .cast("double")
            .alias("ct_c"),
            F.count(F.lit(1)).cast("double").alias("cr_c"),
        )
        .localCheckpoint(eager=True)
    )
    return _finish_model(both, n_features, alpha)


def _finish_model(
    both: DataFrame,
    n_features: int,
    alpha: float,
) -> DataFrame:
    """Totals → λ projection → default row → pinned model, from ONE
    checkpointed per-bucket count table ``(idx, ct_c, cr_c)`` (zero
    counts mean "bucket unseen on that side" — arithmetic-identical to
    the old full-outer join's NULL + coalesce(0), and the row set is
    the same union of both sides' buckets). One driver job fetches both
    totals (opt-r17, guide §4.3: the old form paid one job per side);
    the checkpointed frame is released once the model is materialized."""
    row = both.agg(F.sum("ct_c"), F.sum("cr_c")).first()
    n_t = row[0] or 0.0
    n_r = row[1] or 0.0
    denom_t = n_t + alpha * float(n_features)
    denom_r = n_r + alpha * float(n_features)
    lam = F.log(
        (F.col("ct_c") + F.lit(float(alpha))) / F.lit(denom_t)
    ) - F.log((F.col("cr_c") + F.lit(float(alpha))) / F.lit(denom_r))
    weights = both.select(
        F.col("idx").cast("long").alias("idx"),
        lam.cast("double").alias("log_ratio"),
        F.lit(int(n_features)).cast("long").alias("n_features"),
    )
    unseen = math.log(alpha / denom_t) - math.log(alpha / denom_r)
    default_row = local_table(
        both.sparkSession,
        [(None, float(unseen), int(n_features))],
        "idx bigint, log_ratio double, n_features bigint",
    )
    # materialize the model (≤n_features+1 rows), then free the count
    # table — the returned DataFrame is self-contained: scoring /
    # broadcasting it never re-touches either corpus
    out = weights.unionByName(default_row).localCheckpoint(eager=True)
    # best-effort: the freed blocks are ≤n_features rows, so a Spark
    # build where the analyzed plan of a localCheckpoint is not a
    # LogicalRDD should degrade to a tiny leak, never a crash
    try:
        both._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - vendor-build defensiveness
        pass
    return out


def _check_width(stamped: int | None, n_features: int | None) -> int:
    """Resolve the hash width from a stamped value and/or the explicit
    param: scoring with a different width than the fit mis-hashes every
    gram SILENTLY, so a stamp/param mismatch is an error."""
    if stamped is None:
        if n_features is None:
            raise ValueError(
                "weights carry no n_features stamp — pass n_features "
                "explicitly (and make it the width used at fit time)"
            )
        return int(n_features)
    if n_features is not None and int(n_features) != stamped:
        raise ValueError(
            f"n_features={int(n_features)} does not match the model's "
            f"fit width {stamped} — scoring with a different width "
            "mis-hashes every gram"
        )
    return stamped


def _model_meta(
    weights: DataFrame, n_features: int | None
) -> tuple[int, float]:
    """(resolved width, unseen-bucket default) in ONE driver job for
    every fitted model (opt-r17, guide §4.3: ``dsir_score`` previously
    paid a stamp-probe job AND a default-row collect). The default row
    carries the stamp like every other row, so one filtered collect
    answers both; only a hand-built table without a default row falls
    back to the stamp probe."""
    has_stamp = "n_features" in weights.columns
    cols = ["log_ratio"] + (["n_features"] if has_stamp else [])
    default_rows = weights.filter(F.col("idx").isNull()).select(*cols).collect()
    unseen = float(default_rows[0]["log_ratio"]) if default_rows else 0.0
    stamped = None
    if has_stamp:
        if default_rows and default_rows[0]["n_features"] is not None:
            stamped = int(default_rows[0]["n_features"])
        else:
            row = weights.select("n_features").first()
            if row is not None and row[0] is not None:
                stamped = int(row[0])
    return _check_width(stamped, n_features), unseen


def dsir_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int | None = None,
) -> DataFrame:
    """``(id_col, dsir_logw, n_grams)`` for every input document —
    ``dsir_logw = Σ_grams log_ratio[bucket(gram)]`` (ln of the
    importance weight). One explode → one BROADCAST join against the
    ≤n_features-row weight table → one aggregate by id: a single
    shuffle end to end. Docs with no grams (empty/NULL text) keep
    ``dsir_logw = 0`` (weight 1) via ``explode_outer`` — no second
    pass, no re-join against the id set. The hash width comes from the
    model's stamp by default (see :func:`_model_meta`).

    A hand-built weights table WITHOUT the idx-NULL default row scores
    out-of-model grams at 0.0 (weight 1) — deliberate for the minimal
    (idx, log_ratio) form, but fitted models should always keep their
    default row: dropping it silently flattens unseen-bucket mass.
    """
    n_features, unseen = _model_meta(weights, n_features)
    w = weights.filter(F.col("idx").isNotNull()).select("idx", "log_ratio")
    grams = _gram_explode(
        df, text_col, n_features, id_cols=[id_col], outer=True
    )
    term = F.when(F.col("idx").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(F.col("log_ratio"), F.lit(unseen))
    )
    return (
        grams.join(F.broadcast(w), "idx", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(F.sum(term), F.lit(0.0)).alias("dsir_logw"),
            F.count(F.col("idx")).alias("n_grams"),
        )
    )


def dsir_dense_model(
    weights: DataFrame, n_features: int | None = None
) -> "object":
    """Collapse the fitted weight table into a dense numpy λ-vector of
    length ``n_features`` (the model's stamped width by default;
    unseen buckets pre-filled with the idx-NULL default row's value).
    Bounded by construction — the model is ≤n_features+1 rows no matter
    the corpus, so this driver collect is the legitimate "ship the
    model" step (~64 KB at the default 2^13), not an unbounded
    materialization."""
    rows = weights.collect()
    # resolve the width from the already-collected rows (opt-r17: the
    # separate stamp-probe job is redundant next to a full collect)
    stamped = None
    if "n_features" in weights.columns:
        stamped = next(
            (int(r["n_features"]) for r in rows if r["n_features"] is not None),
            None,
        )
    n_features = _check_width(stamped, n_features)
    unseen = next(
        (r["log_ratio"] for r in rows if r["idx"] is None), 0.0
    )
    vec = np.full(n_features, float(unseen), dtype=np.float64)
    for r in rows:
        if r["idx"] is not None:
            i = int(r["idx"])
            if not (0 <= i < n_features):
                # unreachable for stamped models (the width check above
                # already raised); loud backstop for hand-built tables
                raise ValueError(
                    f"weight idx {i} outside [0, {n_features})"
                )
            vec[i] = float(r["log_ratio"])
    return vec


#: the most recent dsir_score_dense broadcast — retained so replacement
#: can unpersist it (see the lifetime note in :func:`dsir_score_dense`)
_LAST_DENSE_BROADCAST: list = []


def _retain_dense_broadcast(bvec) -> None:
    """Retain ``bvec`` as the current dense-model broadcast, releasing
    the previously retained one (non-blocking executor unpersist; the
    driver copy survives, so in-flight plans re-fetch on demand)."""
    while _LAST_DENSE_BROADCAST:
        prev = _LAST_DENSE_BROADCAST.pop()
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # context already stopped: nothing left to release
    _LAST_DENSE_BROADCAST.append(bvec)


def dsir_release_dense(blocking: bool = False) -> bool:
    """Unpersist and drop the retained dense-model broadcast, if any;
    returns whether one was held. Session-teardown companion to the
    replacement-time release in :func:`dsir_score_dense`."""
    if not _LAST_DENSE_BROADCAST:
        return False
    b = _LAST_DENSE_BROADCAST.pop()
    try:
        b.unpersist(blocking=blocking)
    except Exception:
        pass  # context already stopped: nothing left to release
    return True


def dsir_score_dense(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    n_features: int | None = None,
) -> DataFrame:
    """STATELESS scorer: appends ``dsir_logw``/``n_grams`` to ``df``
    with zero joins and zero shuffles — tokenize+hash stays a JVM
    codegen expression; the model rides along as a broadcast dense
    λ-vector gathered-and-summed in ONE Arrow stage per row batch.

    This is the streaming/hot-path twin of :func:`dsir_score` (which is
    all-relational and oracle-replayable): because it is a pure
    projection, it composes into Structured Streaming pipelines (no
    stateful aggregation, no stream-static join) and into batch maps
    where even the one doc-id shuffle of the relational form is
    unwanted. Identical semantics; float sum order differs (~1e-12
    relative), so gate exactness on the relational form.

    Broadcast lifetime (VERDICT r8 item 5): each call ships one dense
    λ-vector (~8·n_features bytes) as a SparkContext broadcast. The
    handle is RETAINED module-side and the previous call's handle is
    ``unpersist()``-ed (non-blocking) when a new one is created — so a
    long-lived streaming session that re-plans with fresh models holds
    executor memory for at most one stale copy in flight, instead of
    accreting every model it ever planned. ``unpersist`` (not
    ``destroy``) keeps the driver copy, so an older plan still running
    on the prior model simply re-fetches it on demand — replacement is
    safe under concurrent queries. Call :func:`dsir_release_dense` to
    drop the last retained handle too (session teardown).
    """
    from pyspark.sql.functions import pandas_udf

    clash = [c for c in ("_dsir_toks", "_dsir_idx") if c in df.columns]
    if clash:
        raise ValueError(f"df already has columns {clash!r}")
    # one width resolution total: dsir_dense_model resolves (stamp vs
    # param), and the vector's length IS the resolved width
    vec = dsir_dense_model(weights, n_features)
    n_features = int(vec.shape[0])
    bvec = df.sparkSession.sparkContext.broadcast(vec)
    _retain_dense_broadcast(bvec)

    @pandas_udf("double")
    def _gather_sum(idxs: pd.Series) -> pd.Series:
        v = bvec.value
        return pd.Series(
            [
                float(v[np.asarray(a, dtype=np.int64)].sum())
                if a is not None and len(a)
                else 0.0
                for a in idxs
            ],
            dtype="float64",
        )

    # the function IS deterministic; the marker exists to block filter
    # pushdown THROUGH the Arrow stage, which would otherwise split a
    # downstream `dsir_logw >= t` filter into a SECOND ArrowEvalPython
    # (the UDF runs twice per row — measured 5-20× slower). With the
    # marker, filters evaluate ON the one stage's output.
    _gather_sum = _gather_sum.asNondeterministic()

    # two steps for the same tokenize-once reason as _gram_explode
    with_idx = df.withColumn(
        "_dsir_toks", _tokens_expr(F.col(text_col))
    ).withColumn(
        "_dsir_idx", _indices_of_tokens(F.col("_dsir_toks"), n_features)
    ).drop("_dsir_toks")
    return (
        with_idx.withColumn("dsir_logw", _gather_sum(F.col("_dsir_idx")))
        .withColumn(
            "n_grams",
            F.coalesce(
                F.when(
                    F.col("_dsir_idx").isNotNull(), F.size(F.col("_dsir_idx"))
                ),
                F.lit(0),
            ).cast("long"),
        )
        .drop("_dsir_idx")
    )


def dsir_resample(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    logw_col: str = "dsir_logw",
    seed: int = 42,
    temperature: float = 1.0,
) -> DataFrame:
    """Gumbel-top-k weighted sample WITHOUT replacement by importance:
    the k largest ``logw/T + Gumbel(hash(id, seed))`` keys are a sample
    with inclusion ∝ w^(1/T) — the log-space twin of
    ``sampling.weighted_sample``'s A-ES keys (see module docstring for
    why log space). Adds ``sample_rank`` (1 = largest key). Rows with
    NULL log-weight never sample. T > 1 flattens toward uniform, T < 1
    sharpens toward argmax."""
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    if "_g_key" in scored.columns:
        raise ValueError("scored already has a _g_key column")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(id_col).cast("string"), F.lit(f"dsir:{seed}")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(_HASH_SPACE)
    gumbel = -F.log(-F.log(u))
    key = F.col(logw_col).cast("double") / F.lit(float(temperature)) + gumbel
    from pyspark.sql import Window

    eligible = scored.filter(F.col(logw_col).isNotNull()).withColumn(
        "_g_key", key
    )
    ranked = eligible.orderBy(F.col("_g_key").desc(), F.col(id_col)).limit(k)
    # partitionBy(lit(1)): the window runs AFTER limit(k), so it is
    # single-partition and bounded at k rows either way — the constant
    # partition key only suppresses the per-run "No Partition Defined"
    # WindowExec warning (VERDICT r8 hygiene)
    w = Window.partitionBy(F.lit(1)).orderBy(F.col("_g_key").desc(), F.col(id_col))
    return ranked.withColumn("sample_rank", F.row_number().over(w)).drop(
        "_g_key"
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1 << 13,
    alpha: float = 1.0,
    seed: int = 42,
    temperature: float = 1.0,
    min_grams: int = 1,
) -> DataFrame:
    """The whole DSIR recipe in one call: fit on (target, raw), score
    raw, resample k docs. Returns the sampled rows of ``raw`` joined
    with their ``dsir_logw``/``n_grams``/``sample_rank``.

    Scoring stays on the RELATIONAL path deliberately: a ``min_grams``
    filter over the dense scorer's output gets pushed below the Arrow
    stage with the whole gram chain substituted into an interpreted
    Filter AND duplicates the Arrow stage itself (measured 5× slower
    end to end); the relational scorer's aggregate is a natural
    pushdown barrier, so the filter stays a cheap post-agg predicate.

    ``min_grams`` drops gram-poor docs before the draw (default 1:
    empty/NULL-text docs carry weight exactly 1 = logw 0, which would
    outrank every below-average real document — rarely what a corpus
    selection wants; pass 0 to keep the raw semantics)."""
    weights = dsir_fit(target, raw, text_col, n_features, alpha)
    scored = dsir_score(raw, weights, text_col, id_col, n_features).filter(
        F.col("n_grams") >= F.lit(int(min_grams))
    )
    picked = dsir_resample(scored, k, id_col, seed=seed, temperature=temperature)
    return raw.join(picked, id_col)
