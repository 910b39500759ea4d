"""Catalog-wide runtime checks over the registered queries: every entry
runs at sf0.001 and carries an oracle, and each folded suite's rows are
checked leg by leg, so a break names its leg rather than an opaque
suite-level hash mismatch. That no unregistered, uncalled query function
lingers in ``catalog/`` is checked by tests/test_catalog_reach.py.
"""

from __future__ import annotations


def test_every_catalog_query_runs_and_returns_rows(spark, sf_dir):
    """Catalog-wide smoke: all registered queries (the driver's first-50
    window plus the local-gated extensions, r8–r10) execute
    at sf0.001 and return a sane row count, and every one carries an
    oracle (the driver hash gate depends on the first 50; the local gate
    mirror holds the extensions to the same standard). Catches breakage
    the per-query tests and the sf0.01 oracle sweep would only find
    later. The window-placement invariant itself is pinned in
    test_plan_audit.py::test_catalog_driver_window_is_exactly_fifty."""
    from kafka_streams_task_spark.catalog import CATALOG

    # r12: 74 -> 72 (recall gates folded into dedup_recall_suite),
    # 73 (quality_survivor_suite extension), 71 (second fold wave:
    # join_flavors_suite + reshape_suite replace four singles),
    # 72 (heavy_hitter_suite extension)
    # r13: 72 -> 61 (six stats singles -> stats_family_suite; eight
    # window singles -> profile_agg/window_family/relational_misc
    # suites + the llm_dedup_join_suite xlink leg); wave 2: 61 -> 50
    # (perceptual/geo/model-eval/linkage/mixing/corpus-stats/text-profile
    # umbrellas + the new cms_freq_suite) — the catalog now fills the
    # driver window EXACTLY, every capability officially gated
    # opt-r16: 51 = the pinned 50-entry r15 driver window +
    # theta_sketch_suite registered past the cap (check_oracle-gated)
    assert len(CATALOG) == 51
    for name, spec in sorted(CATALOG.items()):
        assert spec.oracle is not None, f"{name} lost its oracle"
        n = spec.fn(spark, sf_dir).count()
        assert n >= 0, name
        # recall/invariant gates must not be empty either
        if name.endswith("_recall") or name.endswith("_suite"):
            assert n > 0, f"{name} returned no rows"


def test_llm_suite_legs_individually(spark, sf_dir):
    """Diagnosability for the five thematic suite hash gates (r6 split of
    llm_library_suite, VERDICT r5 item 2): collect each suite once, group
    rows by leg tag, and run a per-leg sanity assert, so a break surfaces
    as the leg's name instead of one opaque suite-level hash mismatch.
    Also pins the canary legs (VERDICT r5 item 3) row-for-row against the
    generator both engines share."""
    from kafka_streams_task_spark.catalog.llm_suites import (
        _SUITE_COLS,
        _canary_rows,
        llm_cdc_analytics_suite,
        llm_dedup_join_suite,
        llm_graph_layout_suite,
        llm_retrieval_suite,
        llm_text_model_suite,
    )

    suites = {
        "graph_layout": (
            llm_graph_layout_suite,
            {"pagerank", "triangles", "zorder", "xsplit", "robots", "nfc",
             "delay", "charset"},
        ),
        "cdc_analytics": (
            llm_cdc_analytics_suite,
            {"merge", "scd2", "expect", "cohort", "funnel", "corpus", "domain",
             "html"},
        ),
        "text_model": (
            llm_text_model_suite,
            {"vocab", "encode", "nll", "nll2", "entropy", "repetition",
             "classifier", "clean"},
        ),
        "retrieval": (
            llm_retrieval_suite,
            {"tfidf", "bm25", "mixrates", "shuffle", "wsample", "splits",
             "urlnorm", "shards"},
        ),
        "dedup_join": (
            llm_dedup_join_suite,
            # r13: + the 'xlink' cross-corpus linkage leg
            # (dedup_crosscorpus_linkage folded in)
            {"decontam", "bloomdtm", "boilerplate", "dupspans", "semdedup",
             "jacjoin", "editdist", "xlink"},
        ),
    }
    expected_canary = sorted(tuple(r) for r in _canary_rows(_SUITE_COLS))
    legs: dict[str, list] = {}
    for sname, (fn, expected_legs) in suites.items():
        rows = fn(spark, sf_dir).collect()
        by_leg: dict[str, list] = {}
        for r in rows:
            by_leg.setdefault(r.leg, []).append(r)
        assert set(by_leg) == expected_legs | {"canary"}, sname
        got_canary = sorted(
            (r.leg, r.key, r.s1, r.i1, r.i2) for r in by_leg.pop("canary")
        )
        assert got_canary == expected_canary, f"{sname}: canary rows drifted"
        legs.update(by_leg)

    n_docs = None
    for name, rows in legs.items():
        assert rows, f"leg {name!r} returned no rows"
        if name == "vocab":
            ids = sorted(r.key for r in rows)
            assert ids == list(range(len(ids))), f"leg {name!r}: ids not dense"
        elif name == "encode":
            assert all(r.i2 == 0 for r in rows), f"leg {name!r}: decode mismatch"
            n_docs = len(rows)
        elif name in ("decontam", "bloomdtm"):
            assert all(r.key % 50 == 0 and r.i1 == 1 for r in rows), (
                f"leg {name!r}: wrong docs flagged"
            )
        elif name == "shuffle":
            (r,) = rows
            assert r.i2 == 0, f"leg {name!r}: layout-dependent shards"
        elif name == "nll":
            assert all(r.i2 is not None and r.i2 > 0 for r in rows), (
                f"leg {name!r}: non-positive NLL"
            )
        elif name == "tfidf":
            assert all(1 <= r.i1 <= 3 and r.i2 > 0 for r in rows), (
                f"leg {name!r}: bad rank/score"
            )
        elif name == "semdedup":
            assert all(r.i1 == 1 and r.i2 == 1 for r in rows), (
                f"leg {name!r}: original dropped or planted copy kept"
            )
        elif name == "repetition":
            assert all(0 <= r.i1 <= 1_000_000 for r in rows), (
                f"leg {name!r}: micro fraction out of [0, 1e6]"
            )
            stats = {r.s1 for r in rows}
            assert "repetition_pass" in stats and len(stats) == 10, (
                f"leg {name!r}: missing stats {stats}"
            )
        elif name == "dupspans":
            assert all(0 <= r.i2 <= r.i1 for r in rows), (
                f"leg {name!r}: dup tokens exceed token count"
            )
        elif name == "clean":
            assert all(
                r.s1 == f"A B C\n\nD {r.key}" and r.i1 == len(r.s1)
                for r in rows
            ), f"leg {name!r}: clean_text drifted from the planted closed form"
        elif name == "urlnorm":
            assert all(
                r.s1 == f"https://www.ex{r.key % 5}ample.com/Path/{r.key}?b={r.key % 5}"
                for r in rows
            ), f"leg {name!r}: normalize_url drifted from the planted closed form"
        elif name == "html":
            assert all(
                r.s1 == f"Doc {r.key}"
                and r.i1 == 1
                and r.i2 == (2 if r.key % 3 == 0 else 1)
                for r in rows
            ), f"leg {name!r}: extraction drifted from the planted structure"
        elif name == "xsplit":
            assert all(r.s1 == "test" and r.key % 4 == 0 for r in rows), (
                f"leg {name!r}: non-eval doc flagged"
            )
            assert all(r.i1 >= 1 for r in rows), f"leg {name!r}: empty overlap"
            assert {r.key for r in rows if r.key % 20 == 0}, (
                f"leg {name!r}: planted leaks not flagged"
            )
        elif name == "splits":
            leak = [r for r in rows if r.s1 == "_leak_groups"]
            assert len(leak) == 1 and leak[0].i1 == 0, (
                f"leg {name!r}: split leakage detected"
            )
            per_src = [r for r in rows if r.s1 != "_leak_groups"]
            srcs = [r.s1.split(":", 1)[1] for r in per_src]
            assert len(srcs) == len(set(srcs)), (
                f"leg {name!r}: a source straddles splits"
            )
            assert {r.s1.split(":", 1)[0] for r in per_src} <= {
                "train", "val", "test"
            }, f"leg {name!r}: unknown split name"
        elif name == "nll2":
            assert all(r.i1 > 0 and r.i2 is not None and r.i2 > 0 for r in rows), (
                f"leg {name!r}: non-positive bigram NLL"
            )
        elif name == "bm25":
            assert all(1 <= r.i2 <= 10 and r.i1 > 0 for r in rows), (
                f"leg {name!r}: bad rank/score"
            )
            # per query: ranks contiguous from 1, scores non-increasing
            # in rank (the query doc need NOT be rank-1: BM25 length
            # normalization can favor a shorter doc repeating the terms)
            by_q = {}
            for r in rows:
                by_q.setdefault(r.key, []).append((r.i2, r.i1))
            for q, rs in by_q.items():
                rs.sort()
                assert [x[0] for x in rs] == list(range(1, len(rs) + 1)), (
                    f"leg {name!r}: ranks not contiguous for query {q}"
                )
                scores = [x[1] for x in rs]
                assert scores == sorted(scores, reverse=True), (
                    f"leg {name!r}: scores increase with rank for query {q}"
                )
        elif name == "classifier":
            assert all((r.i1 > 0) == (r.i2 == 1) for r in rows), (
                f"leg {name!r}: label disagrees with margin sign"
            )
        elif name == "corpus":
            stats = {r.s1: r.i1 for r in rows}
            grouped_docs = sum(
                v for k, v in stats.items()
                if k.endswith("|n_docs") and not k.startswith("ALL|")
            )
            assert stats["ALL|ALL|n_docs"] == grouped_docs, (
                f"leg {name!r}: grouped doc counts don't sum to the global"
            )
            for q in ("p50_ok", "p90_ok", "p99_ok"):
                assert stats[f"ALL|ALL|{q}"] == 1, (
                    f"leg {name!r}: quantile rank-bracket gate {q} failed"
                )
        elif name == "domain":
            block = {r.key for r in rows if r.s1 == "block"}
            allow = {r.key for r in rows if r.s1 == "allow"}
            assert block and allow, f"leg {name!r}: a mode returned no rows"
            assert not (block & allow), (
                f"leg {name!r}: doc in both block-survivors and allow-keepers"
            )
        elif name == "merge":
            assert all(r.i2 is not None for r in rows), f"leg {name!r}: null user"
            assert not [r for r in rows if r.key % 10 == 0 and r.key < 10000000], (
                f"leg {name!r}: deleted keys survived"
            )
        elif name == "scd2":
            by_key_open = {}
            for r in rows:
                if r.i2 % 100 == 50:
                    by_key_open[r.key] = by_key_open.get(r.key, 0) + 1
            assert all(v == 1 for v in by_key_open.values()), (
                f"leg {name!r}: key with multiple open intervals"
            )
        elif name == "pagerank":
            total = sum(r.i1 for r in rows)
            assert abs(total - 1_000_000_000) < len(rows) + 10, (
                f"leg {name!r}: rank mass not conserved ({total})"
            )
        elif name == "jacjoin":
            assert all(r.i1 >= 500_000 for r in rows), (
                f"leg {name!r}: pair below the 0.5 threshold emitted"
            )
            assert all(int(r.s1) > r.key for r in rows), (
                f"leg {name!r}: pair ordering id_a < id_b violated"
            )
        elif name == "entropy":
            assert all(0 <= r.i1 <= 8_000_000 for r in rows), (
                f"leg {name!r}: entropy outside [0, 8] bits/char"
            )
        elif name == "funnel":
            n_by_stage = {}
            for r in rows:
                assert 1 <= r.i1 <= 3 and r.i2 is not None, f"leg {name!r}: bad row"
                n_by_stage[r.i1] = n_by_stage.get(r.i1, 0) + 1
            assert set(n_by_stage) <= {1, 2, 3}
        elif name == "expect":
            assert {r.s1 for r in rows} == {
                "value_not_null", "type_domain", "value_below_90",
                "user_nonneg", "event_id_unique",
            }
            assert all(0 <= r.i1 <= r.i2 for r in rows), (
                f"leg {name!r}: violations outside [0, n_rows]"
            )
        elif name == "cohort":
            sizes = {r.s1: r.i2 for r in rows if r.i1 == 0}
            for r in rows:
                assert r.i1 >= 0 and r.i2 <= sizes.get(r.s1, 0) or r.i1 == 0, (
                    f"leg {name!r}: retention exceeds cohort size"
                )
        elif name == "editdist":
            assert all(0 <= r.i1 <= 3 and int(r.s1) > r.key for r in rows), (
                f"leg {name!r}: distance/order violation"
            )
        elif name == "triangles":
            (r,) = rows
            assert r.i1 >= 0, f"leg {name!r}: negative triangle count"
        elif name == "wsample":
            ranks = sorted(r.i1 for r in rows)
            assert ranks == list(range(1, len(ranks) + 1)), (
                f"leg {name!r}: sample ranks not a contiguous permutation"
            )
            assert len({r.key for r in rows}) == len(rows), (
                f"leg {name!r}: duplicate docs sampled (with replacement?)"
            )
    if n_docs is not None:
        assert len(legs["boilerplate"]) == n_docs


def test_r13_umbrella_suites_leg_tags(spark, sf_dir):
    """Diagnosability pin for the r13 umbrella folds (same discipline as
    test_llm_suite_legs_individually): each umbrella must contain exactly
    its folded singles' tag-prefixed legs, every leg non-empty — so a
    break surfaces as a leg name, not an opaque suite hash mismatch."""
    from kafka_streams_task_spark.catalog import CATALOG

    def leg_prefixes(name):
        return {
            r["leg"].split(":")[0] if ":" in r["leg"] else r["leg"]
            for r in CATALOG[name].fn(spark, sf_dir).select("leg").distinct().collect()
        }

    expected = {
        "stats_family_suite": {"az", "tf", "qn", "cu", "rb", "sa"},
        "profile_agg_suite": {"stats", "approx", "profile", "canary"},
        "window_family_suite": {"rank", "analytic", "canary"},
        "relational_misc_suite": {"salt", "band", "array", "canary"},
        "perceptual_dedup_suite": {"img", "vid", "aud"},
        "geo_suite": {"rad", "clu"},
        "model_eval_suite": {"kn", "cls", "ret"},
        "linkage_suite": {"sdx", "jw"},
        "mixing_policy_suite": {"sbk", "umx"},
        # r14 fold: privacy_kanon_suite rides as the 'kanon:*' legs
        "corpus_stats_suite": {"drift", "pmi", "mkv", "kanon"},
        "text_profile_suite": {"tok", "qual", "bpe", "fp", "canary"},
        "cms_freq_suite": {"est", "cells", "planted", "canary"},
    }
    for name, legs in expected.items():
        got = leg_prefixes(name)
        assert got == legs, f"{name}: {sorted(got)} != {sorted(legs)}"
