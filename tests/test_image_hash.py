"""Perceptual image hashing + Hamming near-dedup (operators/image_hash.py,
r9): golden hashes (frozen against an independent reimplementation),
brute-force recall parity for the band-blocking, batch/partition
determinism, codec seam, validation guards, and plan pins."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_streams_task_spark.operators.image_hash import (
    HASH_EDGE,
    PHASH_GRID,
    dhash64_from_gray,
    fake_decode_gray,
    image_hash_table,
    image_near_dup_pairs,
    phash64_from_gray,
)


def _mk(mul, add, mod):
    return bytes((i * mul + add) % mod for i in range(1024))


def _perturb(p, pos, delta):
    b = bytearray(p)
    b[pos] = (b[pos] + delta) % 256
    return bytes(b)


def _ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


class TestPureHashes:
    def test_golden_hashes_match_independent_reimplementation(self):
        """The catalog extension's frozen constants — derived here from
        the same planted payloads and verified during development with
        a numpy-free direct-sum DCT + pure-int packing."""
        from kafka_streams_task_spark.catalog.extensions import (
            _IH_DHASH,
            _IH_PHASH,
            _ih_payloads,
        )

        for m, payload in _ih_payloads():
            g32 = fake_decode_gray(bytes(payload), PHASH_GRID, PHASH_GRID)
            g98 = fake_decode_gray(bytes(payload), HASH_EDGE + 1, HASH_EDGE)
            assert phash64_from_gray(g32) == _IH_PHASH[m], f"phash m={m}"
            assert dhash64_from_gray(g98) == _IH_DHASH[m], f"dhash m={m}"

    def test_dhash_golden_tiny_grid(self):
        # 8x9 grid, strictly increasing rows -> every gradient bit set
        inc = np.tile(np.arange(9, dtype=np.float64), (8, 1))
        assert dhash64_from_gray(inc) == -1  # 64 ones = -1 in two's complement
        dec = inc[:, ::-1].copy()
        assert dhash64_from_gray(dec) == 0
        flat = np.zeros((8, 9))
        assert dhash64_from_gray(flat) == 0  # ties are not 'brighter'

    def test_phash_is_brightness_scale_invariant(self):
        # scaling every pixel by a power of two scales every DCT
        # coefficient and the median EXACTLY (float multiply by 2 is
        # exact) — the comparison pattern, hence the hash, is identical.
        # The perceptual property a brightness/contrast re-encode relies
        # on, and a pure-math pin on the DCT->median->threshold chain.
        g = fake_decode_gray(_mk(37, 11, 251), 32, 32)
        assert phash64_from_gray(g) == phash64_from_gray(g * 2.0)
        assert phash64_from_gray(g) == phash64_from_gray(g * 0.25)

    def test_single_byte_perturbation_is_near_zero_hamming(self):
        a = _mk(37, 11, 251)
        b = _perturb(a, 500, 120)
        ha = phash64_from_gray(fake_decode_gray(a, 32, 32))
        hb = phash64_from_gray(fake_decode_gray(b, 32, 32))
        assert 0 < _ham(ha, hb) <= 6
        # unrelated pattern: far
        c = _mk(97, 3, 253)
        hc = phash64_from_gray(fake_decode_gray(c, 32, 32))
        assert _ham(ha, hc) > 15

    def test_shape_guards(self):
        with pytest.raises(ValueError, match="phash expects"):
            phash64_from_gray(np.zeros((8, 8)))
        with pytest.raises(ValueError, match="dhash expects"):
            dhash64_from_gray(np.zeros((32, 32)))

    def test_fake_decode_empty_and_cycling(self):
        assert fake_decode_gray(b"", 4, 4).sum() == 0.0
        g = fake_decode_gray(b"\x01\x02", 3, 2)  # cycles 1,2,1,2,1,2
        assert g.shape == (2, 3)
        assert g.ravel().tolist() == [1, 2, 1, 2, 1, 2]


class TestSparkOperators:
    def _planted(self, spark, n_per=4):
        from kafka_streams_task_spark.catalog.extensions import _ih_payloads

        rows = [
            (m * 100 + i, payload)
            for m, payload in _ih_payloads()
            for i in range(n_per)
        ]
        return spark.createDataFrame(rows, "doc_id bigint, payload binary")

    def test_hash_table_matches_pure_functions_and_is_deterministic(
        self, spark
    ):
        from kafka_streams_task_spark.catalog.extensions import _IH_PHASH

        df = self._planted(spark)
        got = {
            r["doc_id"]: r["ih"]
            for r in image_hash_table(df, method="phash").collect()
        }
        for doc_id, h in got.items():
            assert h == _IH_PHASH[doc_id // 100], doc_id
        # partition layout must not matter (Arrow batch boundaries move)
        got2 = {
            r["doc_id"]: r["ih"]
            for r in image_hash_table(
                df.repartition(7), method="phash"
            ).collect()
        }
        assert got == got2

    def test_banded_pairs_equal_brute_force(self, spark):
        """Recall gate: band-blocked pairs == all-pairs Hamming filter,
        over random payloads seeded with planted near-dups."""
        rng = random.Random(42)
        payloads = {}
        for i in range(12):
            payloads[i] = bytes(rng.randrange(256) for _ in range(1024))
        # planted near-dups of 0 and 5
        payloads[12] = _perturb(payloads[0], 700, 90)
        payloads[13] = _perturb(payloads[5], 31, 77)
        hashes = {
            i: phash64_from_gray(fake_decode_gray(p, 32, 32))
            for i, p in payloads.items()
        }
        brute = {
            (a, b, _ham(hashes[a], hashes[b]))
            for a in payloads
            for b in payloads
            if a < b and _ham(hashes[a], hashes[b]) <= 7
        }
        df = spark.createDataFrame(
            list(payloads.items()), "doc_id bigint, payload binary"
        )
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in image_near_dup_pairs(
                df, max_hamming=7, n_blocks=8
            ).collect()
        }
        assert got == brute
        assert (0, 12, _ham(hashes[0], hashes[12])) in got  # plant found

    def test_pair_chain_plan_one_arrow_stage_no_cartesian(self, spark):
        df = self._planted(spark, n_per=1)
        plan = (
            image_near_dup_pairs(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("MapInPandas") == 1
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                    "BatchEvalPython"):
            assert bad not in plan, bad

    def test_validation_guards(self, spark):
        df = self._planted(spark, n_per=1)
        with pytest.raises(ValueError, match="method"):
            image_hash_table(df, method="ahash")
        with pytest.raises(ValueError, match="codec"):
            image_hash_table(df, codec="turbo")
        # pigeonhole guard: threshold beyond what the blocking certifies
        with pytest.raises(ValueError, match="complete recall"):
            image_near_dup_pairs(df, max_hamming=8, n_blocks=8)
        with pytest.raises(ValueError, match="divide 64"):
            image_near_dup_pairs(df, max_hamming=3, n_blocks=5)

    def test_codec_seam(self, spark):
        from kafka_streams_task_spark.operators.multimodal import pil_available

        df = self._planted(spark, n_per=1)
        if not pil_available():
            # 'pil' fails fast driver-side; 'auto' falls back to stub
            with pytest.raises(ImportError, match="Pillow"):
                image_hash_table(df, codec="pil")
            stub = {r["doc_id"]: r["ih"]
                    for r in image_hash_table(df, codec="stub").collect()}
            auto = {r["doc_id"]: r["ih"]
                    for r in image_hash_table(df, codec="auto").collect()}
            assert stub == auto
        else:  # pragma: no cover - PIL absent in this container
            image_hash_table(df, codec="pil").collect()


def test_generic_hamming_pairs_on_hand_built_hashes(spark):
    """The shared band-blocking tier (dedup.hamming_near_dup_pairs)
    over hand-built fingerprints incl. sign-bit values: exact Hamming,
    id_a < id_b, threshold respected."""
    from kafka_streams_task_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    rows = [
        (1, -9223372036854775808),            # only bit 63
        (2, -9223372036854775807),            # bits 63 and 0
        (3, 0),
        (4, 15),                               # bits 0..3
        (5, -1),                               # all 64 bits
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, h bigint")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup_pairs(
            df, hash_col="h", max_hamming=4, n_blocks=8
        ).collect()
    }
    hm = dict(rows)
    brute = {
        (a, b, _ham(hm[a], hm[b]))
        for a in hm
        for b in hm
        if a < b and _ham(hm[a], hm[b]) <= 4
    }
    assert (1, 2, 1) in brute and (3, 4, 4) in brute  # sign-bit cases
    assert got == brute


class TestIncrementalIndex:
    """r9 re-crawl tier: persisted hash index + incremental probe —
    equivalence with the full run restricted to pairs touching the new
    shard (the minhash incremental-LSH proof pattern)."""

    def _payloads(self, n, seed):
        rng = random.Random(seed)
        return {i: bytes(rng.randrange(256) for _ in range(1024)) for i in range(*n)}

    def test_incremental_equals_full_run_restricted_to_new(
        self, spark, tmp_path
    ):
        from kafka_streams_task_spark.operators.image_hash import (
            image_hash_index,
            image_near_dup_pairs,
            image_near_dup_pairs_incremental,
        )

        old = self._payloads((0, 10), seed=7)
        new = self._payloads((100, 104), seed=9)
        # plant cross-boundary near-dups: new 104 ~ old 3, new 105 ~ new 101
        new[104] = _perturb(old[3], 600, 80)
        new[105] = _perturb(new[101], 50, 60)
        old_df = spark.createDataFrame(
            list(old.items()), "doc_id bigint, payload binary"
        )
        new_df = spark.createDataFrame(
            list(new.items()), "doc_id bigint, payload binary"
        )
        # the index round-trips through parquet partitioned by blk (the
        # documented layout), as production would
        idx_path = str(tmp_path / "idx")
        image_hash_index(old_df, n_blocks=8).write.partitionBy("blk").parquet(
            idx_path
        )
        index = spark.read.parquet(idx_path)
        inc = {
            (r.id_a, r.id_b, r.hamming)
            for r in image_near_dup_pairs_incremental(
                new_df, index, max_hamming=7, n_blocks=8
            ).collect()
        }
        full = {
            (r.id_a, r.id_b, r.hamming)
            for r in image_near_dup_pairs(
                old_df.unionByName(new_df), max_hamming=7, n_blocks=8
            ).collect()
        }
        new_ids = set(new)
        assert inc == {
            p for p in full if p[0] in new_ids or p[1] in new_ids
        }
        assert any((a, b) == (3, 104) for a, b, _ in inc)   # cross-boundary
        assert any((a, b) == (101, 105) for a, b, _ in inc)  # new-new

    def test_recrawled_same_id_never_self_pairs(self, spark):
        from kafka_streams_task_spark.operators.image_hash import (
            image_hash_index,
            image_near_dup_pairs_incremental,
        )

        p = self._payloads((0, 3), seed=3)
        df = spark.createDataFrame(
            list(p.items()), "doc_id bigint, payload binary"
        )
        index = image_hash_index(df, n_blocks=8)
        # the SAME shard re-crawled: identical ids+hashes in both sides
        pairs = image_near_dup_pairs_incremental(
            df, index, max_hamming=7, n_blocks=8
        ).collect()
        assert all(r.id_a != r.id_b for r in pairs)

    def test_incremental_guards(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            hamming_incremental_pairs,
        )

        df = spark.createDataFrame(
            [(1, 0, 0, 0)], "doc_id bigint, sh bigint, blk int, chunk bigint"
        )
        with pytest.raises(ValueError, match="complete recall"):
            hamming_incremental_pairs(df, df, max_hamming=4, n_blocks=4)
        with pytest.raises(ValueError, match="divide 64"):
            hamming_incremental_pairs(df, df, max_hamming=2, n_blocks=7)


class TestReviewR9Fixes:
    """Regression tests for the r9 review findings."""

    def test_custom_string_id_col(self, spark):
        """The hash stage carries the caller's id column with its own
        name AND type — string URL keys included (previously hardcoded
        doc_id:long and crashed any other id_col)."""
        from kafka_streams_task_spark.catalog.extensions import _ih_payloads

        rows = [(f"http://img/{m}", payload) for m, payload in _ih_payloads()]
        df = spark.createDataFrame(rows, "img_url string, payload binary")
        hashed = image_hash_table(df, id_col="img_url")
        assert dict(hashed.dtypes)["img_url"] == "string"
        assert hashed.count() == 6
        pairs = image_near_dup_pairs(df, id_col="img_url")
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert ("http://img/0", "http://img/1") in got

    def test_null_and_empty_payloads_produce_no_hash_rows(self, spark):
        """Failed fetches (NULL) and zero-byte payloads are dropped by
        the hash stage — not collapsed onto one mass hash-0 bucket that
        explodes spurious hamming-0 pairs."""
        from kafka_streams_task_spark.catalog.extensions import _ih_payloads

        good = [(m, payload) for m, payload in _ih_payloads()]
        rows = good + [(100, None), (101, None), (102, bytearray(b"")), (103, None)]
        df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
        hashed = image_hash_table(df)
        assert {r.doc_id for r in hashed.collect()} == {0, 1, 2, 3, 4, 5}
        pairs = image_near_dup_pairs(df, max_hamming=6, n_blocks=8)
        bad_ids = {100, 101, 102, 103}
        assert all(
            r.id_a not in bad_ids and r.id_b not in bad_ids
            for r in pairs.collect()
        )

    def test_duplicate_ids_never_self_pair(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            hamming_near_dup_pairs,
        )

        df = spark.createDataFrame(
            [(1, 15), (1, 15), (2, 14)], "doc_id bigint, h bigint"
        )
        pairs = hamming_near_dup_pairs(
            df, hash_col="h", max_hamming=3, n_blocks=4
        ).collect()
        assert all(r.id_a != r.id_b for r in pairs)
        assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}

    def test_duplicate_ids_conflicting_hashes_one_row_min(self, spark):
        """Duplicate ids carrying DIFFERENT hashes (unioned crawl
        passes) collapse to ONE row per (id_a, id_b) with the MIN
        hamming — not several rows with conflicting values (advice
        r9: distinct() kept every (sh_a, sh_b) combination)."""
        from kafka_streams_task_spark.operators.dedup import (
            hamming_near_dup_pairs,
        )

        # id 1 appears with hashes 15 (hamming 1 from 14) and 12
        # (hamming 2 from 14); id 2 = 14. Both 1-hash variants land in
        # the same low block as 14, so both candidate pairs generate.
        df = spark.createDataFrame(
            [(1, 15), (1, 12), (2, 14)], "doc_id bigint, h bigint"
        )
        pairs = hamming_near_dup_pairs(
            df, hash_col="h", max_hamming=3, n_blocks=4
        ).collect()
        assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(1, 2, 1)]

    def test_max_bucket_drops_hot_buckets(self, spark):
        from kafka_streams_task_spark.operators.dedup import (
            hamming_near_dup_pairs,
        )

        # 20 identical hashes (a mass-dup bucket) + one near pair FAR
        # from the hot bucket (-1 is hamming-64 from 0)
        rows = [(i, 0) for i in range(20)] + [(100, -1), (101, -2)]
        df = spark.createDataFrame(rows, "doc_id bigint, h bigint")
        capped = hamming_near_dup_pairs(
            df, hash_col="h", max_hamming=3, n_blocks=4, max_bucket=10
        ).collect()
        # the hot bucket is dropped; the small genuine pair survives
        assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}
        uncapped = hamming_near_dup_pairs(
            df, hash_col="h", max_hamming=3, n_blocks=4
        )
        assert uncapped.count() == 20 * 19 // 2 + 1


class TestVideoFingerprint:
    """r9 video near-dedup: fused sample+hash stage (frame bytes never
    leave the task), inverted frame-hash index, shared-frame threshold,
    stop-frame bucket cap."""

    def _expected_hashes(self, payload, every_n=4):
        from kafka_streams_task_spark.operators.multimodal import (
            fake_frame_slices,
        )

        return {
            phash64_from_gray(fake_decode_gray(fb, 32, 32))
            for _, fb in fake_frame_slices(payload, every_n)
            if fb
        }

    def _videos(self):
        a = _mk(37, 11, 251) + bytes(17)  # 1041 bytes -> 17 fake frames
        b = _perturb(a, 1000, 90)   # inside sampled frame 16 -> 4/5 shared
        c = _mk(97, 3, 253) + bytes(17)   # unrelated
        return {1: a, 2: b, 3: c}

    def test_frame_hashes_match_pure_recomputation(self, spark):
        from kafka_streams_task_spark.operators.image_hash import (
            video_frame_hashes,
        )

        vids = self._videos()
        df = spark.createDataFrame(
            list(vids.items()) + [(9, None), (10, bytearray(b""))],
            "doc_id bigint, payload binary",
        )
        got = {}
        for r in video_frame_hashes(df).collect():
            got.setdefault(r["doc_id"], set()).add(r["fh"])
        assert set(got) == {1, 2, 3}  # null/empty videos emit nothing
        for vid, payload in vids.items():
            assert got[vid] == self._expected_hashes(payload), vid

    def test_near_dup_pairs_shared_frame_threshold(self, spark):
        from kafka_streams_task_spark.operators.image_hash import (
            video_near_dup_pairs,
        )

        vids = self._videos()
        expected_shared = len(
            self._expected_hashes(vids[1]) & self._expected_hashes(vids[2])
        )
        assert expected_shared >= 3  # the plant: most frames shared
        df = spark.createDataFrame(
            list(vids.items()), "doc_id bigint, payload binary"
        )
        pairs = {
            (r.id_a, r.id_b): r.n_shared_frames
            for r in video_near_dup_pairs(df, min_shared_frames=3).collect()
        }
        assert pairs == {(1, 2): expected_shared}
        # a threshold above the overlap returns nothing
        assert (
            video_near_dup_pairs(
                df, min_shared_frames=expected_shared + 1
            ).count()
            == 0
        )

    def test_stop_frame_bucket_cap(self, spark):
        from kafka_streams_task_spark.operators.image_hash import (
            video_near_dup_pairs,
        )

        vids = self._videos()
        df = spark.createDataFrame(
            list(vids.items()), "doc_id bigint, payload binary"
        )
        # a cap of 1 drops every shared bucket -> no pairs survive
        assert (
            video_near_dup_pairs(
                df, min_shared_frames=1, max_frame_bucket=1
            ).count()
            == 0
        )

    def test_plan_one_arrow_stage_and_guards(self, spark):
        from kafka_streams_task_spark.operators.image_hash import (
            video_near_dup_pairs,
        )

        df = spark.createDataFrame(
            list(self._videos().items()), "doc_id bigint, payload binary"
        )
        plan = (
            video_near_dup_pairs(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("MapInPandas") == 1  # sample+hash FUSED
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                    "BatchEvalPython"):
            assert bad not in plan, bad
        with pytest.raises(ValueError, match="min_shared_frames"):
            video_near_dup_pairs(df, min_shared_frames=0)
        from kafka_streams_task_spark.operators.image_hash import (
            video_frame_hashes,
        )

        with pytest.raises(ValueError, match="method"):
            video_frame_hashes(df, method="ahash")

    def test_composes_with_cluster_survivors(self, spark):
        """Image/video pair frames drop into the shared transitive-
        cluster survivor machinery unchanged."""
        from kafka_streams_task_spark.operators.cluster import (
            dedup_survivors_by_cluster,
        )
        from kafka_streams_task_spark.operators.image_hash import (
            video_near_dup_pairs,
        )

        vids = self._videos()
        df = spark.createDataFrame(
            list(vids.items()), "doc_id bigint, payload binary"
        )
        pairs = video_near_dup_pairs(df, min_shared_frames=3)
        kept = dedup_survivors_by_cluster(df, pairs)
        assert {r.doc_id for r in kept.collect()} == {1, 3}  # 2 lost to 1


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None)
@given(
    hashes=st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        min_size=2,
        max_size=24,
        unique=True,
    ),
    max_hamming=st.integers(min_value=0, max_value=7),
)
def test_property_hamming_banding_equals_brute_force(
    spark, hashes, max_hamming
):
    """Hypothesis gate on the shared banding tier: for ANY fingerprint
    set (full signed-int64 range incl. sign-bit extremes) and any
    certified threshold, banded pairs == brute-force Hamming pairs."""
    from kafka_streams_task_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    rows = list(enumerate(hashes))
    df = spark.createDataFrame(rows, "doc_id bigint, h bigint")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_dup_pairs(
            df, hash_col="h", max_hamming=max_hamming, n_blocks=8
        ).collect()
    }
    brute = {
        (a, b, _ham(ha, hb))
        for a, ha in rows
        for b, hb in rows
        if a < b and _ham(ha, hb) <= max_hamming
    }
    assert got == brute


def test_multimodal_dedup_capstone(spark, tmp_path):
    """r9 capstone for the multimodal×dedup matrix: one asset corpus
    carrying image, video, and audio payloads — each modality's
    near-dup pass runs its own chain, losers resolve through the shared
    transitive-cluster survivor machinery, and the deduped corpus
    commits as a gated snapshot version."""
    from kafka_streams_task_spark.catalog.extensions import (
        _afp_payloads,
        _ih_payloads,
        _vid_payloads,
    )
    from kafka_streams_task_spark.operators import (
        audio_near_dup_pairs,
        dedup_survivors_by_cluster,
        image_near_dup_pairs,
        snapshot_read,
        snapshot_write,
        video_near_dup_pairs,
    )

    rows = (
        [(100 + m, "image", p) for m, p in _ih_payloads()]
        + [(200 + m, "video", p) for m, p in _vid_payloads()]
        + [(300 + m, "audio", p) for m, p in _afp_payloads()]
    )
    assets = spark.createDataFrame(
        rows, "asset_id bigint, modality string, payload binary"
    )
    img = assets.filter("modality = 'image'")
    vid = assets.filter("modality = 'video'")
    aud = assets.filter("modality = 'audio'")
    pairs = (
        image_near_dup_pairs(img, id_col="asset_id", max_hamming=6)
        .select("id_a", "id_b")
        .unionByName(
            video_near_dup_pairs(
                vid, id_col="asset_id", min_shared_frames=3
            ).select("id_a", "id_b")
        )
        .unionByName(
            audio_near_dup_pairs(
                aud, id_col="asset_id", min_shared=3
            ).select("id_a", "id_b")
        )
    )
    kept = dedup_survivors_by_cluster(assets, pairs, id_col="asset_id")
    kept_ids = {r.asset_id for r in kept.collect()}
    # per plant design: image variants {0,1,2} cluster (100 survives),
    # {3,4} cluster (103), 105 alone; video {0,1} (200), 202 alone;
    # audio {0,1,2} (300), {3,4} (303), 305 alone
    assert kept_ids == {100, 103, 105, 200, 202, 300, 303, 305}
    tbl = str(tmp_path / "assets")
    v = snapshot_write(
        spark, kept, tbl,
        expectations={"has_payload": "payload is not null"},
        unique_keys={"pk": ["asset_id"]},
    )
    assert snapshot_read(spark, tbl, v).count() == len(kept_ids)


def test_incremental_pairs_no_duplicates_when_ids_overlap(spark):
    """r9 review pass 2: a pair whose ids sit in BOTH the index and the
    shard must surface exactly once — the flag-inclusive distinct used
    to emit it up to 3x."""
    from kafka_streams_task_spark.operators.dedup import (
        hamming_block_table,
        hamming_incremental_pairs,
    )

    hashed = spark.createDataFrame(
        [(1, 0), (2, 1)], "doc_id bigint, h bigint"  # hamming(0,1)=1
    )
    blocked = hamming_block_table(hashed, hash_col="h", n_blocks=8)
    pairs = hamming_incremental_pairs(
        blocked, blocked, hash_col="h", max_hamming=3, n_blocks=8
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(1, 2, 1)]


def test_shared_token_pairs_ignores_null_tokens(spark):
    from kafka_streams_task_spark.operators.dedup import shared_token_pairs

    rows = [(1, None), (2, None), (3, None), (1, 10), (2, 10), (1, 11), (2, 11)]
    df = spark.createDataFrame(rows, "doc_id bigint, fh bigint")
    got = {
        (r.id_a, r.id_b, r.n_shared)
        for r in shared_token_pairs(df, min_shared=1).collect()
    }
    # docs 1,2 share tokens 10 and 11; NULL "tokens" never pair (3 absent)
    assert got == {(1, 2, 2)}


def test_video_every_n_guard(spark):
    from kafka_streams_task_spark.operators.image_hash import (
        video_frame_hashes,
    )

    df = spark.createDataFrame([(1, b"x" * 100)], "doc_id bigint, payload binary")
    with pytest.raises(ValueError, match="every_n"):
        video_frame_hashes(df, every_n=0)
    with pytest.raises(ValueError, match="every_n"):
        video_frame_hashes(df, every_n=-4)


@settings(max_examples=5, deadline=None)
@given(
    rels=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.one_of(st.none(), st.integers(min_value=0, max_value=15)),
        ),
        min_size=1,
        max_size=60,
    ),
    min_shared=st.integers(min_value=1, max_value=4),
)
def test_property_shared_token_pairs_equals_brute_force(
    spark, rels, min_shared
):
    """Hypothesis gate on the inverted-index tier: for ANY (id, token)
    relation with duplicates and NULL tokens, pairs == brute-force
    distinct-shared-token counts (NULLs never shared)."""
    from kafka_streams_task_spark.operators.dedup import shared_token_pairs

    df = spark.createDataFrame(rels, "doc_id bigint, fh bigint")
    got = {
        (r.id_a, r.id_b, r.n_shared)
        for r in shared_token_pairs(df, min_shared=min_shared).collect()
    }
    sets: dict = {}
    for i, t in rels:
        if t is not None:
            sets.setdefault(i, set()).add(t)
    brute = {
        (a, b, len(sets[a] & sets[b]))
        for a in sets
        for b in sets
        if a < b and len(sets[a] & sets[b]) >= min_shared
    }
    assert got == brute
