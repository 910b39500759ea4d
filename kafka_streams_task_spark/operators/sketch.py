"""Bounded-memory heavy-hitter sketching: Misra–Gries candidates + exact
recount top-k.

At 100 TB the exact global token top-k is a full groupBy over the token
domain — Spark's partial aggregation bounds the SHUFFLE, but the map-side
hash tables grow with each partition's distinct-token count and spill.
The Misra–Gries summary (Misra & Gries 1982; the SpaceSaving variant is
Metwally et al. 2005) holds exactly ``capacity`` counters per partition no
matter how many distinct tokens stream through, with the classic
guarantee: a token with true partition count > n_partition/(capacity+1)
is ALWAYS retained, and every retained lower-bound undercounts by at most
n_partition/(capacity+1).

Two-phase exact top-k built on it:

1. Phase 1 (one Arrow stage, no shuffle): per-partition Misra–Gries over
   the token stream → a candidate set of at most capacity tokens per
   partition. Union bound: any token with GLOBAL count > N/(capacity+1)
   exceeds the threshold in at least one partition (if it fell below in
   every one, its global count would be ≤ Σ nᵢ/(capacity+1) =
   N/(capacity+1)) — so the candidate set provably contains every such
   token.
2. Phase 2 (shuffle bounded by the candidate set, not the token domain):
   exact counts of candidate tokens only — explode + semi-join against
   the broadcast candidate list + one groupBy — then top-k with a
   deterministic (count DESC, token ASC) tiebreak.

The result equals the exact top-k whenever the true k-th count exceeds
N/(capacity+1) — a checkable condition the caller can verify from the
returned counts (the gate suite states it as an in-plan invariant). When
the condition fails the output is still the exact top-k OF THE CANDIDATE
SET (counts are exact either way — phase 2 never estimates).

Reference provenance: no analogue in the reference (SURVEY §2.4 absent);
beyond-reference training-data mandate (corpus profiling at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import WHITESPACE_RE
from ..schemas import local_table

__all__ = [
    "cms_estimate",
    "count_min_table",
    "dd_alpha",
    "dd_collapse",
    "dd_quantiles",
    "dd_sketch_table",
    "hll_cardinality",
    "hll_register_table",
    "merge_cms_tables",
    "merge_dd_sketches",
    "merge_hll_tables",
    "merge_mg_summaries",
    "misra_gries_candidates",
    "theta_a_not_b",
    "theta_distinct",
    "theta_intersect",
    "theta_sample",
    "theta_sketch_table",
    "theta_union",
    "topk_tokens_sketched",
]


def misra_gries_candidates(
    df: DataFrame,
    text_col: str = "text",
    capacity: int = 4096,
) -> DataFrame:
    """Per-partition Misra–Gries heavy-hitter candidates: ``(token,
    lower_bound)`` rows, at most ``capacity`` per input partition.

    One mapInPandas stage holding a summary of at most ``capacity``
    counters per partition ACROSS Arrow batches (the iterator closure
    carries it): persistent state is O(capacity) regardless of the
    partition's total distinct-token count — the property a spilling
    hash aggregate does not have. Transient memory per batch is
    O(batch text bytes) (the joined string + split token list + the
    batch's distinct-count table all materialize briefly), bounded by
    the Arrow batch size, not by the partition.

    Vectorized formulation (r13, VERDICT r12 item 2): instead of the
    per-token serial MG loop, each Arrow batch is counted exactly with
    pandas (regex split → explode → value_counts — an error-free MG
    summary of the batch), then FOLDED into the running summary with
    the SAME trim rule :func:`merge_mg_summaries` implements: sum per
    token, subtract the (capacity+1)-th largest summed counter from
    every counter, drop non-positives. By the mergeable-summaries
    argument (Agarwal et al., PODS 2012) each fold's subtracted value
    telescopes over the left-deep batch merge tree, so the total
    undercount of any surviving counter is ≤ n_partition/(capacity+1)
    and any token with true partition count > n_partition/(capacity+1)
    is always retained — the SAME constant and retention guarantee as
    the serial decrement-all loop (pinned by tests/test_sketch.py).
    ``lower_bound`` is the folded counter value (an undercount by at
    most that constant); use :func:`topk_tokens_sketched` for exact
    counts."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")

    import re

    import pandas as pd

    # compile the SAME separator class the JVM tokenizers split on —
    # python str.split() also breaks on \v and unicode spaces, which
    # would desynchronize the candidate stream from the phase-2 explode
    ws = re.compile(WHITESPACE_RE)

    def mg(batches):
        summary = pd.Series(dtype="int64")
        for pdf in batches:
            s = pdf[text_col].dropna().astype(str)
            if s.empty:
                continue
            # ONE C-level regex pass over the whole batch ('\n' is in the
            # separator class, so the join introduces no token merges),
            # then a C hashtable count — measured faster than both the
            # per-token dict loop and pandas str.split().explode()
            toks = ws.split("\n".join(s.tolist()))
            counts = pd.Series(toks, dtype="object").value_counts()
            counts = counts[counts.index != ""]
            if counts.empty:
                continue
            summary = summary.add(counts, fill_value=0).astype("int64")
            if len(summary) > capacity:
                # merge_mg_summaries trim: subtract the (capacity+1)-th
                # largest from EVERY counter, keep strict positives
                kth = summary.nlargest(capacity + 1).iloc[-1]
                summary = summary - kth
                summary = summary[summary > 0]
        if len(summary):
            yield pd.DataFrame(
                {
                    "token": summary.index.astype(str),
                    "lower_bound": summary.to_numpy(),
                }
            )

    return df.select(text_col).mapInPandas(mg, "token string, lower_bound long")


def merge_mg_summaries(summaries: DataFrame, capacity: int = 4096) -> DataFrame:
    """Merge any number of Misra–Gries summaries — ``(token,
    lower_bound)`` rows, unioned — into ONE summary of at most
    ``capacity`` tokens (Agarwal et al., "Mergeable Summaries", PODS
    2012): sum counters per token, then subtract the (capacity+1)-th
    largest summed counter from every counter and drop the
    non-positives. Each merge adds at most that subtracted value to the
    undercount, and telescoping over any merge tree keeps the total
    undercount ≤ N_total/(capacity+1) — the SAME guarantee a single
    pass would give, which is what makes the sketch a streaming/
    partition-parallel object.

    Scale shape: input is summary-sized (not corpus-sized); one groupBy
    on token + one broadcast of the 1-row trim threshold."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    summed = summaries.groupBy("token").agg(
        F.sum("lower_bound").alias("lower_bound")
    )
    kth = (
        summed.orderBy(F.col("lower_bound").desc())
        .limit(capacity + 1)
        .agg(
            F.min("lower_bound").alias("_kth"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        summed.crossJoin(F.broadcast(kth))
        .select(
            "token",
            F.when(F.col("_n") <= capacity, F.col("lower_bound"))
            .otherwise(F.col("lower_bound") - F.col("_kth"))
            .alias("lower_bound"),
        )
        .filter(F.col("lower_bound") > 0)
    )


def topk_tokens_sketched(
    df: DataFrame,
    k: int = 20,
    capacity: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Exact-recount heavy-hitter top-k: ``(token, n, rank)`` — the
    ``k`` most frequent whitespace tokens with EXACT counts, found
    without ever building the full token-domain aggregate.

    Phase 1: :func:`misra_gries_candidates` (no shuffle, O(capacity)
    memory/partition). Phase 2: exact counts of candidate tokens only —
    the explode feeds a broadcast semi-join against the distinct
    candidate list, so the groupBy's key domain is at most
    (partitions × capacity) tokens, not the corpus vocabulary. Provably
    equal to the true top-k whenever the k-th true count >
    N/(capacity+1) (see module docstring); counts are exact
    unconditionally. Deterministic (n DESC, token ASC) tiebreak."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cands = (
        misra_gries_candidates(df, text_col, capacity)
        .select("token")
        .distinct()
    )
    toks = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), WHITESPACE_RE)).alias("token")
    ).filter(F.col("token") != "")
    exact = (
        toks.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    # take k FIRST (TakeOrderedAndProject — no global shuffle), then rank
    # the k survivors; the single-partition window sees only k rows
    topk = exact.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "token", "n", "rank"
    )


# ---------------------------------------------------------------------------
# Count-min sketch (r13): point-frequency estimation in bounded memory —
# the companion to the Misra-Gries top-k above. MG answers "which tokens
# are heavy"; the CMS answers "how often does THIS token occur" for any
# token, without the full vocabulary aggregate. Cormode & Muthukrishnan
# 2005: depth x width counters, each token increments one cell per row
# (row-keyed hash), estimate = min over rows; always an OVERcount, within
# e*N/width of truth with probability 1 - (1/2)^depth per classic analysis.
#
# Hashing is the repo's PORTABLE md5 idiom (the weighted_sample /
# decontam precedent): col = conv(substr(md5(token || ':' || row), 1, 15),
# 16, 10) % width — a pure codegen expression DuckDB restates verbatim as
# CAST(('0x' || substr(md5(...), 1, 15)) AS BIGINT) % width, so the driver
# gate can re-derive the ENTIRE sketch, not just sample it.
#
# Scale shape: the token stream aggregates map-side onto a key domain of
# at most depth x width cells (CONSTANT, corpus-independent) — partial
# aggregation collapses each partition to <= depth x width rows before the
# one bounded shuffle; lookups broadcast-join the probe set against the
# sketch table. Merging sketches (shards, streams) is cell-wise addition —
# the estimate/guarantee telescope additively.
# ---------------------------------------------------------------------------


def _cms_cell(token: "F.Column", row: int, width: int) -> "F.Column":
    """Portable row-keyed hash column: 60 md5 bits mod width (pure
    codegen; identical arithmetic in the DuckDB oracle)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", token, F.lit(str(row)))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % F.lit(int(width))


def count_min_table(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Build the CMS counter table ``(row, col, c)`` over the whitespace
    tokens of ``df[text_col]`` — at most ``depth * width`` rows
    regardless of corpus size. Cells never touched are absent (= 0);
    :func:`cms_estimate` coalesces.

    Per-key frequencies ("how often does token t occur under key k")
    need no ``group_col``, unlike HLL/DDSketch (r15): hash the
    COMPOSITE key — sketch a ``concat(key, ':', token)`` column and
    probe the same concatenation. A (key, row, col) table would
    multiply the bounded domain by |keys| for identical accuracy;
    composite hashing keeps one bounded table and the same one-sided
    error bound over the combined stream. (HLL/DDSketch DO take a
    ``group_col`` because their estimates aggregate over a whole
    register/bucket table per group — there is no composite-key trick
    for "distinct per key" or "p99 per key".)"""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    toks = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), WHITESPACE_RE)).alias("token")
    ).filter(F.col("token") != "")
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cms_cell(F.col("token"), r, width).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc")
    )
    return (
        cells.groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Point-frequency estimates for a probe relation: ``(token, est)``
    with ``est = min over rows of the token's counter`` (0 for cells the
    corpus never touched). ``est >= true count`` whenever ``width``
    matches the sketch's build width (each counted occurrence increments
    every row's cell; collisions only inflate). NULL probe tokens are
    dropped — the sketch never counted them, and hashing NULL would
    fabricate a row (review r13).

    A ``depth`` LARGER than the build depth cannot break the guarantee:
    the min consults only rows the sketch actually contains (a
    consulted-but-never-built row would otherwise read 0 and invert the
    overcount contract — review r13). An EMPTY sketch (zero-token
    corpus) has no built rows at all, so every probe falls through to
    est=0 — correct, the true cumulative count is 0 (review r13: the
    earlier semi-join prune returned an empty frame instead). A
    mismatched ``width`` is
    structurally undetectable from the counter table alone and WILL
    produce garbage — callers persisting sketches (streaming state)
    must persist the build parameters with them.

    Scale shape: probes explode to depth rows each and equi-join the
    (<= depth x width)-row sketch — broadcast the sketch side for any
    realistic width; no scan of the original corpus."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    pc = (
        probes.filter(F.col(token_col).isNotNull())
        .select(
            F.col(token_col).alias("token"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).cast("int").alias("row"),
                            _cms_cell(F.col(token_col), r, width).alias("col"),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("rc"),
        )
        .select("token", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    )
    # only consult rows the sketch was actually built with (<= depth
    # distinct values — a tiny broadcast relation); a probe row the
    # sketch never built contributes NULL (min skips it), and a probe
    # whose EVERY row is unbuilt — the empty-sketch case — coalesces to
    # the contract's est=0
    built_rows = cms.select("row").distinct().withColumn("_built", F.lit(1))
    pc = pc.join(F.broadcast(built_rows), on="row", how="left")
    joined = pc.join(F.broadcast(cms), on=["row", "col"], how="left")
    consulted = F.when(F.col("_built") == 1, F.coalesce(F.col("c"), F.lit(0)))
    return joined.groupBy("token").agg(
        F.coalesce(F.min(consulted), F.lit(0)).cast("long").alias("est")
    )


def merge_cms_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two CMS tables built with the SAME depth/width:
    the merged sketch is EXACTLY the sketch of the concatenated input
    (counter addition commutes with the deterministic hashing), so
    shard-parallel or streaming construction loses nothing."""
    return (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("c").alias("c"))
    )


# ---------------------------------------------------------------------------
# DDSketch (r14): relative-error quantile estimation in bounded memory —
# the third leg of the sketch triad (Misra-Gries: WHICH values are heavy;
# count-min: HOW OFTEN a given value occurs; DDSketch: WHERE a quantile
# sits). Masson, Rim & Lee, VLDB 2019 ("DDSketch: a fast and fully-
# mergeable quantile sketch with relative-error guarantees").
#
# Unlike GK/KLL (compaction-dependent, not SQL-restatable), DDSketch's
# buckets are a DETERMINISTIC pure function of the value: bucket(x) =
# ceil(log_gamma(x)) for x > 0, so a DuckDB oracle re-derives the ENTIRE
# sketch cell by cell (the CMS discipline), and the quantile walk is plain
# window arithmetic over the bucket table. Any value in bucket b lies in
# (gamma^(b-1), gamma^b]; the midpoint estimate 2*gamma^b/(gamma+1) is
# within relative error alpha = (gamma-1)/(gamma+1) of EVERY value in the
# bucket — so the estimated q-quantile is within alpha of the true
# q-th order statistic, always, not probabilistically.
#
# Cross-engine boundary discipline: the bucket index subtracts the suite
# family's 1e-9 nudge before ceil (the fmicro idiom) so libm ULP
# differences between engines cannot flip a value sitting mathematically
# ON a bucket boundary (ln(x)/ln(gamma) exactly integral).
#
# Scale shape: the value stream aggregates map-side onto a key domain of
# ceil(log_gamma(v_max/v_min)) buckets (for gamma=1.02, ~1160 buckets
# per 10 ORDERS OF MAGNITUDE of value range — constant for any fixed
# data domain, corpus-independent); partial aggregation collapses every
# partition before one bounded shuffle. Merging sketches (shards,
# streams) is cell-wise addition — estimates and the alpha guarantee
# telescope exactly, which is what makes the streaming twin
# (streaming/sketch.py) bit-identical to the batch build.
# ---------------------------------------------------------------------------


def dd_alpha(gamma: float) -> float:
    """The relative-error guarantee of a gamma-indexed DDSketch:
    alpha = (gamma-1)/(gamma+1)."""
    if gamma <= 1.0:
        raise ValueError(f"gamma must be > 1, got {gamma}")
    return (gamma - 1.0) / (gamma + 1.0)


def _dd_bucket(value, gamma: float) -> "F.Column":
    """ceil(ln(x)/ln(gamma) - 1e-9) as INT — pure codegen; the DuckDB
    oracle states CAST(ceil(ln(x)/ln(gamma) - 1e-9) AS INT) verbatim."""
    import math

    return F.ceil(
        F.log(value.cast("double")) / F.lit(math.log(gamma)) - F.lit(1e-9)
    ).cast("int")


def _keys(table: DataFrame) -> list[str]:
    """``["grp"]`` for a keyed sketch table (built with a ``group_col``),
    ``[]`` for a global one — every reader and merger partitions by it."""
    return ["grp"] if "grp" in table.columns else []


def _on_grp(table: DataFrame, per_group: DataFrame, key: str) -> DataFrame:
    """Join a per-group relation (group column ``key``) back onto a
    sketch table: NULL-safe on ``grp`` when keyed (a NULL group is its
    own group), a broadcast of the one global row otherwise."""
    if _keys(table):
        return table.join(per_group, on=F.col("grp").eqNullSafe(F.col(key)))
    return table.crossJoin(F.broadcast(per_group))


def dd_sketch_table(
    df: DataFrame,
    value_col: str,
    gamma: float = 1.02,
    group_col: str | None = None,
) -> DataFrame:
    """Build the DDSketch bucket table ``(bucket, c)`` over the strictly
    POSITIVE values of ``df[value_col]`` — NULL, NaN and non-positive
    rows are excluded (DDSketch's guarantee is relative error, which is
    undefined at and across zero; callers with signed data sketch the
    two sign branches separately, the paper's standard extension).
    Buckets never touched are absent; the quantile walk needs no zeros
    because ranks come from cumulative counts.

    ``group_col``: per-group tables in one pass, ``(grp, bucket, c)`` —
    the sketch's canonical deployment shape ("p99 latency per
    endpoint") as ONE bounded relation; a NULL group is its own group.
    Every reader and merger below takes either shape and treats each
    group exactly as its own global sketch. Scale shape: map-side
    aggregation onto at most |groups| x bucket-domain cells, then one
    shuffle."""
    if gamma <= 1.0:
        raise ValueError(f"gamma must be > 1, got {gamma}")
    v = F.col(value_col).cast("double")
    grp = [] if group_col is None else [F.col(group_col).alias("grp")]
    cells = df.filter(v.isNotNull() & ~F.isnan(v) & (v > 0)).select(
        *grp, _dd_bucket(v, gamma).alias("bucket")
    )
    return cells.groupBy(*_keys(cells), "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def dd_quantiles(
    sketch: DataFrame,
    qs: list[float],
    gamma: float = 1.02,
) -> DataFrame:
    """Quantile estimates from a bucket table: ``(q, est)`` with
    ``est = 2*gamma^b/(gamma+1)`` for the bucket b holding the
    q-th order statistic (rank ``floor(q*(N-1)) + 1``, 1-indexed — the
    paper's definition). Guarantee: |est - x_q| <= alpha * x_q for the
    true order statistic x_q, with alpha from :func:`dd_alpha`, because
    bucket indexing is monotone in the value (the sketch's rank-r
    element sits in the same bucket as the data's rank-r element) and
    the midpoint is within alpha of everything in its bucket.

    A keyed table gives ``(grp, q, est)``: the same walk per group over
    the group's own N. A group with no positive values is absent from
    the sketch and so from the result.

    Plan shape: per-group totals (one row when global) crossed with the
    tiny q-relation, joined onto one cumulative window over the bucket
    table — bounded by |groups| x bucket-domain x |qs|. A global sketch
    pays ONE bounded collect of its total first, which is the
    empty-sketch raise — a quantile of nothing is a contract error, not
    a 0 (unlike CMS point counts, where absent means zero
    occurrences)."""
    from pyspark.sql import Window

    if gamma <= 1.0:
        raise ValueError(f"gamma must be > 1, got {gamma}")
    if not qs or any(q < 0 or q > 1 for q in qs):
        raise ValueError(f"qs must be non-empty fractions in [0,1], got {qs}")
    g = _keys(sketch)
    totals = sketch.groupBy(*g).agg(F.sum("c").cast("long").alias("_N"))
    if not g and not totals.collect()[0]["_N"]:
        raise ValueError("dd_quantiles: empty sketch (no positive values)")
    qdf = local_table(sketch.sparkSession, [(float(q),) for q in qs], "q double")
    # rank = floor(q * (N-1)) + 1 in double: the DuckDB oracle's arithmetic
    rank = (F.floor(F.col("q") * (F.col("_N") - 1).cast("double")) + 1).cast("long")
    ranked = totals.crossJoin(F.broadcast(qdf)).select(
        *[F.col(c).alias("_rg") for c in g], "q", rank.alias("_rank")
    )
    w = (
        Window.partitionBy(*g)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sketch.withColumn("_cum", F.sum("c").over(w))
    hit = _on_grp(cum, ranked, "_rg").filter(F.col("_cum") >= F.col("_rank"))
    est = (
        F.lit(2.0)
        * F.pow(F.lit(float(gamma)), F.min("bucket").cast("double"))
        / F.lit(float(gamma) + 1.0)
    )
    return hit.groupBy(*[F.col("_rg").alias(c) for c in g], "q").agg(
        est.alias("est")
    )


def merge_dd_sketches(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two DDSketch tables (global or keyed) built with
    the SAME gamma: the merged sketch is EXACTLY the sketch of the
    concatenated input, per group (bucket indexing is deterministic,
    counter addition commutes), so shard-parallel or streaming
    construction loses nothing and the alpha guarantee carries over
    unchanged."""
    return a.unionByName(b).groupBy(*_keys(a), "bucket").agg(
        F.sum("c").cast("long").alias("c")
    )


def dd_collapse(sketch: DataFrame, max_buckets: int) -> DataFrame:
    """The paper's bounded-bucket-count mode (Masson et al. §2.2): when
    the value range would exceed a memory budget, collapse the LOWEST
    buckets into the smallest kept bucket so at most ``max_buckets``
    remain. Counts are preserved exactly; quantiles whose rank falls in
    the kept range keep the full alpha guarantee, while ranks inside the
    collapsed mass degrade to "at most the collapse boundary" — the
    deliberate trade (DDSketch is typically deployed for UPPER quantiles,
    p95/p99 latency style, which collapse never touches). A keyed table
    collapses each group independently, as its own global sketch.

    Deterministic (the cut is the max_buckets-th highest bucket index),
    so the collapsed table is still oracle-restatable. Apply AFTER
    merges when exactness matters: collapse(merge(a,b)) loses nothing
    vs merging pre-collapsed shards, whose already-collapsed mass cannot
    be re-split (the cut is non-decreasing as data grows, so
    collapse-after-merge-per-batch equals collapsing the full build).

    Plan shape: one row_number window over the bounded bucket table,
    whose per-group cut (one row when global) joins back onto it."""
    from pyspark.sql import Window

    if max_buckets < 1:
        raise ValueError(f"max_buckets must be >= 1, got {max_buckets}")
    g = _keys(sketch)
    w = Window.partitionBy(*g).orderBy(F.col("bucket").desc())
    cut = (
        sketch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_buckets)
        .groupBy(*[F.col(c).alias("_cg") for c in g])
        .agg(F.min("bucket").alias("_cut"))
    )
    return (
        _on_grp(sketch, cut, "_cg")
        .select(
            *g,
            F.greatest(F.col("bucket"), F.col("_cut")).alias("bucket"),
            F.col("c"),
        )
        .groupBy(*g, "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (r14): mergeable distinct counting in bounded memory — the
# fourth classic sketch (MG: which values are heavy; CMS: how often a
# value occurs; DDSketch: where a quantile sits; HLL: how many DISTINCT
# values exist). Flajolet, Fusy, Gandouet & Meunier 2007 ("HyperLogLog:
# the analysis of a near-optimal cardinality estimation algorithm").
#
# Spark already exposes approx_count_distinct (HLL++) as an aggregate,
# but an aggregate is not a SKETCH OBJECT: it cannot be persisted,
# merged across shards/streams, or maintained cumulatively. This family
# materializes the register TABLE — (reg, rho) rows — which is all three.
#
# Portable and integer-exact end to end: the hash is the repo's 60-bit
# md5 idiom, the register index is the low b bits, rho = leading zeros
# of the remaining (60-b)-bit suffix + 1 computed via length(bin(v)) —
# a STRING length, not a float log, so DuckDB re-derives the ENTIRE
# register table cell by cell with zero boundary risk. The estimator's
# register sum Σ 2^-rho is computed as the scaled INTEGER Σ 2^(K-rho)
# (K = 61-b; max m*2^K = 2^61 < 2^63), so parallel aggregation order
# cannot perturb it — the estimate is a deterministic closed form of an
# exact integer, restatable by the oracle to the last bit of arithmetic.
#
# The merge is element-wise MAX — not just commutative/associative but
# IDEMPOTENT, so redelivered shards and replayed batches are absorbed
# with no versioning discipline needed at all (the streaming twin keeps
# the family's versioned protocol anyway, for uniform reads/audit).
#
# Scale shape: the value stream aggregates map-side onto a key domain
# of at most 2^b registers (constant, corpus-independent); one bounded
# shuffle. Standard error ~ 1.04/sqrt(2^b) (b=10 -> 3.25%).
# ---------------------------------------------------------------------------


def hll_register_table(
    df: DataFrame,
    value_col: str,
    b: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Build the HLL register table ``(reg, rho)`` over the NON-NULL
    values of ``df[value_col]`` (cast to string before hashing — equal
    values collapse by construction, which is the whole point).
    Registers never touched are absent (the estimator counts them as
    empty). ``b`` register-index bits: 4 <= b <= 16 (m = 2^b registers;
    the 60-bit hash leaves a 44-bit suffix even at b=16).

    ``group_col``: per-group register tables in one pass,
    ``(grp, reg, rho)`` — "distinct users per key" as ONE bounded
    relation of at most |groups| x 2^b cells instead of one sketch
    object per group; a NULL group is its own group. The estimator and
    the merge take either shape."""
    if not 4 <= b <= 16:
        raise ValueError(f"b must be in [4, 16], got {b}")
    vbits = 60 - b
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    reg = (h % F.lit(1 << b)).cast("int")
    # EXACT integer shift — h/2^b through a double would round the
    # 60-bit hash at the 53-bit mantissa and corrupt the suffix
    suffix = F.shiftright(h, b)
    # rho = leading zeros of the vbits-wide suffix + 1; bit_length via
    # the bin() STRING length (integer-exact in Spark and DuckDB alike)
    rho = F.when(suffix == 0, F.lit(vbits + 1)).otherwise(
        F.lit(vbits + 1) - F.length(F.bin(suffix))
    ).cast("int")
    grp = [] if group_col is None else [F.col(group_col).alias("grp")]
    cells = df.filter(F.col(value_col).isNotNull()).select(
        *grp, reg.alias("reg"), rho.alias("rho")
    )
    return cells.groupBy(*_keys(cells), "reg").agg(F.max("rho").alias("rho"))


def hll_cardinality(registers: DataFrame, b: int = 10) -> DataFrame:
    """Cardinality estimate from a register table: one row
    ``(n_registers, est)``, or ``(grp, n_registers, est)`` per group of
    a keyed table (a group with no non-NULL values is absent). Classic
    HLL estimator with the small-range (linear counting) correction; the
    32-bit large-range correction does not apply at a 60-bit hash.
    Standard error ~ 1.04/sqrt(2^b) — a PROBABILISTIC bound
    (per-dataset deterministic under the fixed md5 hash, unlike
    DDSketch's worst-case alpha).

    Deterministic across engines and partitionings: the register sum is
    the exact integer S' = Σ 2^(K-rho) + empty*2^K (K = 61-b), so the
    raw estimate alpha_m * m^2 * 2^K / S' involves exactly one float
    division of literals by an exact integer."""
    if not 4 <= b <= 16:
        raise ValueError(f"b must be in [4, 16], got {b}")
    g = _keys(registers)
    m = 1 << b
    k_exp = 61 - b
    agg = registers.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k_exp} - rho)")),
            F.lit(0),
        )
        .cast("long")
        .alias("_s_touched"),
    )
    n_empty = F.lit(m) - F.col("n_registers")
    s_scaled = F.col("_s_touched") + n_empty.cast("long") * F.lit(1 << k_exp)
    numer = _hll_alpha(m) * m * m * float(1 << k_exp)
    raw = F.lit(numer) / s_scaled.cast("double")
    # linear counting when the raw estimate is small and empties remain
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (n_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / n_empty.cast("double")),
    ).otherwise(raw)
    return agg.select(*g, "n_registers", est.alias("est"))


def _hll_alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    if m == 64:
        return 0.709
    if m == 32:
        return 0.697
    return 0.673


def merge_hll_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """Element-wise MAX of two register tables (global or keyed) built
    with the SAME b: the merged table is EXACTLY the table of the
    concatenated input, per group — and because max is idempotent,
    merging overlapping or duplicated shards (redelivery, replay,
    re-union) changes nothing."""
    return a.unionByName(b).groupBy(*_keys(a), "reg").agg(F.max("rho").alias("rho"))


# ---------------------------------------------------------------------------
# Theta / KMV distinct sketch — SET OPERATIONS over distinct counts (r16)
# ---------------------------------------------------------------------------
# The one ask the HLL registers cannot answer: corpus OVERLAP. "How many
# user-days appear in both cohorts", "how many documents do crawl A and
# crawl B share" — at 100 TB the exact answer is a distinct-join across
# both corpora; the KMV (k minimum values) theta sketch answers it from
# two k-row summaries (Beyer et al. 2007, "On Synopses for Distinct-Value
# Estimation"; the theta-sketch framing is Dasgupta et al. 2016). Keep
# the k smallest DISTINCT hash values of each corpus: the k-th smallest
# hash U_(k) estimates density k/U_(k), so N ~ (k-1)·H/U_(k) (H = hash
# space size, the unbiased form), and — the point — the sketches COMPOSE:
#   union       = k smallest distinct of (S_A ∪ S_B)  (a KMV sketch again)
#   intersection/difference = count sketch rows below theta =
#     min(theta_A, theta_B) and scale by H/theta — each surviving row is
#     a uniform sample of the corresponding set at rate theta/H.
# Below theta, S_A contains EVERY corpus-A hash < theta (they are the
# smallest), so membership tests against the other sketch are exact on
# the sampled region — no second corpus scan, ever.
#
# Hashing is the repo's portable 60-bit md5 idiom (HLL's convention), so
# DuckDB re-derives the ENTIRE k-row sketch and every estimate closed
# form bit-for-bit: the driver gate hash-checks sketches AND estimates,
# with accuracy-vs-exact stated as separate theorem flags (KMV relative
# error ~ 1/sqrt(k-2) on saturated sketches; unsaturated sketches are
# EXACT — the estimator returns the true count).
#
# Scale shape: the builder's map-side fold bounds every partition's
# contribution to k rows (mapInPandas keeping a k-truncated sorted
# distinct array across Arrow batches), so the one shuffle carries at
# most k·partitions rows — never the distinct domain (the property that
# separates the sketch from an exact COUNT(DISTINCT)). All set-op inputs
# are k-row relations; every join below is sketch-vs-sketch.

_THETA_H = 1 << 60  # hash space size: the 60-bit md5 prefix, as HLL


def _theta_hash(value_col: str) -> "F.Column":
    """The portable 60-bit hash (HLL's md5 idiom), uniform on
    [0, 2^60)."""
    return F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")


def theta_sketch_table(
    df: DataFrame, value_col: str, k: int = 512
) -> DataFrame:
    """Build the KMV theta sketch of ``df[value_col]``'s NON-NULL
    distinct values: the k smallest distinct 60-bit hashes, as a
    bounded relation ``(h long)`` of at most k rows.

    Two-level build: a mapInPandas fold keeps at most k sorted distinct
    hashes per PARTITION (state bounded at k regardless of the
    partition's distinct count; numpy unique + truncate per Arrow
    batch), then one tiny global dedup + take-k over <= k·partitions
    rows. Deterministic: same data -> same sketch, any partitioning."""
    import numpy as np
    import pandas as pd

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashed = df.filter(F.col(value_col).isNotNull()).select(
        _theta_hash(value_col).alias("h")
    )

    def fold(it):
        best = np.array([], dtype="int64")
        for pdf in it:
            best = np.unique(
                np.concatenate([best, pdf["h"].to_numpy(dtype="int64")])
            )[:k]
        yield pd.DataFrame({"h": best})

    local = hashed.mapInPandas(fold, "h long")
    return local.distinct().orderBy("h").limit(k)


def _theta_stats(sketch: DataFrame):
    """One-row (n, hmax) aggregate of a sketch — the n < k exactness
    decision lives in each caller (review r16: no dead k here)."""
    return sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("h").alias("hmax"),
    )


def _theta_est(n_col, theta_col) -> "F.Column":
    """est = n · H/theta — the inverse-sampling-rate scale-up shared by
    every saturated estimator below (division of exact integers in
    double: IEEE-identical in Spark and DuckDB)."""
    return n_col.cast("double") * F.lit(float(_THETA_H)) / theta_col.cast("double")


def theta_distinct(sketch: DataFrame, k: int = 512) -> DataFrame:
    """Distinct-count estimate from one sketch: one row
    ``(n_kept, est)``. Unsaturated (n < k): est = n exactly. Saturated:
    the unbiased KMV form (k-1)·H/U_(k) with U_(k) = the sketch's max
    (its k-th smallest hash); relative error ~ 1/sqrt(k-2)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    s = _theta_stats(sketch)
    return s.select(
        F.col("n").alias("n_kept"),
        F.when(F.col("n") < k, F.col("n").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(float(_THETA_H)) / F.col("hmax").cast("double")
        )
        .alias("est"),
    )


def theta_union(a: DataFrame, b: DataFrame, k: int = 512) -> DataFrame:
    """KMV sketch of A ∪ B from the two sketches alone: k smallest
    distinct of the combined rows — EXACTLY the sketch a single build
    over the concatenated corpora would produce (pinned), which is what
    makes the family mergeable (shard-parallel and streaming builds
    lose nothing). Also the streaming twin's merge."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def _theta_threshold(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """One row ``(theta)``: min over the two sketches of (hmax if
    saturated else H) — the common sampling threshold. Every hash < theta
    present in either CORPUS is present in its sketch, so set membership
    below theta is exact."""
    sa = _theta_stats(a).select(
        F.when(F.col("n") < k, F.lit(_THETA_H)).otherwise(F.col("hmax")).alias("ta")
    )
    sb = _theta_stats(b).select(
        F.when(F.col("n") < k, F.lit(_THETA_H)).otherwise(F.col("hmax")).alias("tb")
    )
    return sa.crossJoin(sb).select(F.least("ta", "tb").alias("theta"))


def _theta_setop(
    matches: DataFrame, th: DataFrame, n_name: str
) -> DataFrame:
    """Shared set-op tail: count ``matches`` rows below the 1-row
    ``th`` threshold and scale. The threshold plan is instantiated
    ONCE (review r16 — a second crossJoin of ``th`` re-ran both
    corpus-scanning sketch builds): left-join the matches onto the
    1-row threshold on a TRUE condition (empty matches still yield the
    threshold row with a NULL h), count below-theta rows via a
    conditional count, and group by the single theta value so the
    output is always exactly one row."""
    return (
        F.broadcast(th)
        .join(matches, F.lit(True), "left")
        .groupBy("theta")
        .agg(
            F.count(F.when(F.col("h") < F.col("theta"), 1))
            .cast("long")
            .alias(n_name)
        )
        .select(
            n_name,
            "theta",
            _theta_est(F.col(n_name), F.col("theta")).alias("est"),
        )
    )


def theta_intersect(a: DataFrame, b: DataFrame, k: int = 512) -> DataFrame:
    """|A ∩ B| estimate from the two sketches: one row
    ``(n_common, theta, est)`` — n_common = sketch-row matches below the
    common theta (an equi-join of two <= k-row relations), est =
    n_common · H/theta. Exact when both sketches are unsaturated."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return _theta_setop(a.join(b, "h"), _theta_threshold(a, b, k), "n_common")


def theta_a_not_b(a: DataFrame, b: DataFrame, k: int = 512) -> DataFrame:
    """|A \\ B| estimate from the two sketches: one row
    ``(n_only, theta, est)`` — sketch rows of A below theta with no
    match in B (anti-join of two <= k-row relations; membership below
    theta is exact, see :func:`_theta_threshold`)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return _theta_setop(
        a.join(b, "h", "left_anti"), _theta_threshold(a, b, k), "n_only"
    )


def theta_sample(
    df: DataFrame, value_col: str, k: int = 512
) -> DataFrame:
    """Bottom-k uniform sample of the DISTINCT values of
    ``df[value_col]``: ``(h, value)`` rows for the k smallest distinct
    hashes — the theta sketch with its payload attached (Cohen &
    Kaplan 2007's bottom-k sketch). Because the hash is uniform and
    deterministic, this is a uniform-without-replacement sample of the
    distinct-value DOMAIN (each distinct value equally likely
    regardless of its row frequency — the corpus-inspection draw
    "show me 512 random distinct urls/users/documents" that a
    row-level sample cannot give without a full dedup), it is
    REPRODUCIBLE across runs and engines, and it composes: the union
    of two samples re-truncated to k is the sample of the unioned
    corpora, so shard-parallel and streaming builds lose nothing.
    Its ``h`` column IS ``theta_sketch_table``'s sketch, so every
    set-operation estimator accepts ``theta_sample(...)`` output
    directly.

    Scale shape: same bounded fold as the sketch builder — at most k
    (h, value) rows per partition leave the Arrow stage, so the one
    shuffle never carries the distinct domain."""
    import numpy as np
    import pandas as pd

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashed = df.filter(F.col(value_col).isNotNull()).select(
        _theta_hash(value_col).alias("h"),
        F.col(value_col).cast("string").alias("value"),
    )

    def fold(it):
        best = pd.DataFrame({"h": np.array([], dtype="int64"), "value": []})
        for pdf in it:
            both = pd.concat([best, pdf[["h", "value"]]], ignore_index=True)
            both = both.drop_duplicates("h").sort_values("h")
            best = both.head(k)
        yield best

    local = hashed.mapInPandas(fold, "h long, value string")
    # ties on h cannot occur across DISTINCT hashes; dropDuplicates on h
    # collapses the same value arriving from several partitions
    return local.dropDuplicates(["h"]).orderBy("h").limit(k)
