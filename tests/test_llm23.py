"""Round-11 wave 1: aHash image dedup, incremental IVF maintenance."""

from pyspark.sql import functions as F

from rust_ruuvitag_etl_spark.plans.llm23 import (
    _AH_COPY_MOD,
    _AU_COPY_MOD,
    dedup_audio_envelope,
    dedup_image_phash,
    similarity_ivf_append_maintain,
)
from rust_ruuvitag_etl_spark.sources import load

SF_SMALL = "/root/testdata/sf0.001"


class TestImagePhash:
    def test_planted_pairs_at_hamming_zero(self, spark):
        rows = dedup_image_phash(spark, SF_SMALL).collect()
        planted = (
            load(spark, SF_SMALL, "events")
            .filter(F.col("event_id") % _AH_COPY_MOD == 0)
            .select("event_id")
            .distinct()
            .count()
        )
        # aHash is EXACTLY invariant to the planted +16 brightness
        # shift (module docstring derivation): every planted pair must
        # surface at Hamming distance 0. Random near-collisions may add
        # rows, but never remove planted ones.
        by_pair = {(r["id_a"], r["id_b"]): r["hd"] for r in rows}
        found = 0
        for (id_a, id_b), hd in by_pair.items():
            if id_a == -(id_b + 1):  # planted copy (negative keyspace)
                assert hd == 0
                found += 1
        assert found == planted
        for r in rows:
            assert 0 <= r["hd"] <= 1

    def test_brightness_shift_never_clamps(self):
        # invariance argument requires no channel clamping at 255:
        # channels are mod 200 (max 199) + 16 = 215 < 256
        from rust_ruuvitag_etl_spark.plans.llm23 import _AH_BRIGHT

        assert 199 + _AH_BRIGHT < 256


class TestAudioEnvelope:
    def test_planted_gain_copies_found(self, spark):
        rows = dedup_audio_envelope(spark, SF_SMALL).collect()
        planted = (
            load(spark, SF_SMALL, "events")
            .filter(F.col("event_id") % _AU_COPY_MOD == 0)
            .select("event_id")
            .distinct()
            .count()
        )
        # the envelope key is EXACTLY gain-invariant (rational
        # cancellation — module docstring), so every planted x2-gain
        # pair must surface, with the copy's total energy exactly 4x
        found = 0
        for r in rows:
            if r["id_a"] == -(r["id_b"] + 1):
                assert r["e_total_a"] == 4 * r["e_total_b"]
                found += 1
        assert found == planted

    def test_real_codec_decodes_packed_wav(self):
        # the packed blobs must be genuine RIFF/WAVE PCM16: decode one
        # with the stdlib parser outside the query path
        from rust_ruuvitag_etl_spark.operators.multimodal import (
            decode_wav,
        )
        from rust_ruuvitag_etl_spark.plans.llm23 import _au_pack_bytes

        blob = _au_pack_bytes(1, 1)
        d = decode_wav(blob)
        assert d["sample_rate"] == 16000
        assert d["n_channels"] == 1
        assert len(d["samples"]) == 32
        assert all(-8000 <= s <= 8000 for s in d["samples"])


class TestUnimaxEpochCaps:
    def test_matches_sequential_water_filling(self, spark):
        """Re-derive the closed form with the paper's sequential loop:
        ascending by size, cap while affordable, equal-share the rest."""
        from rust_ruuvitag_etl_spark.plans.llm23 import (
            _UNIMAX_CAP,
            _UNIMAX_EPOCH_BUDGET,
            mixture_unimax_epoch_caps,
        )

        rows = {
            r["lang"]: r
            for r in mixture_unimax_epoch_caps(spark, SF_SMALL).collect()
        }
        sizes = sorted(
            (r["n_tokens"], s) for s, r in rows.items()
        )
        budget = _UNIMAX_EPOCH_BUDGET * sum(n for n, _ in sizes)
        k = len(sizes)
        alloc = {}
        remaining, left = budget, k
        for n, s in sizes:
            share = remaining / left
            a = min(_UNIMAX_CAP * n, share)
            alloc[s] = (a, a == _UNIMAX_CAP * n)
            remaining -= a
            left -= 1
        capped_seen_uncapped = False
        for n, s in sizes:
            a, capped = alloc[s]
            r = rows[s]
            assert r["capped"] == capped
            assert abs(r["alloc_tokens"] - a) < 1e-3, (s, a, r)
            assert abs(r["epochs"] - a / n) < 1e-6
            assert 0 < r["epochs"] <= _UNIMAX_CAP + 1e-9
            # the capped set must be a PREFIX of the ascending order
            if not capped:
                capped_seen_uncapped = True
            else:
                assert not capped_seen_uncapped
        # the budget must make the cap BIND for some source and not all
        flags = [rows[s]["capped"] for _, s in sizes]
        assert any(flags) and not all(flags)
        # allocations exhaust the budget
        assert (
            abs(sum(r["alloc_tokens"] for r in rows.values()) - budget)
            < 1e-2
        )


class TestIvfAppendMaintain:
    def test_flags_true_and_exact_rows(self, spark):
        rows = similarity_ivf_append_maintain(spark, SF_SMALL).collect()
        assert len(rows) == 50  # 5 queries x top-10 exact rows
        by_q = {}
        for r in rows:
            # the flags are MEASURED in-plan; both must hold: the
            # segment-maintained probe loses nothing vs a full rebuild
            assert r["recall_ok"] is True
            assert r["parity_ok"] is True
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, 11))

    def test_compaction_parity_flags_true(self, spark):
        from rust_ruuvitag_etl_spark.plans.llm23 import (
            similarity_ivf_compact_segments,
        )

        rows = similarity_ivf_compact_segments(spark, SF_SMALL).collect()
        assert len(rows) == 1
        r = rows[0]
        # compaction must lose nothing: row-level AND probe-level
        # parity are measured over the actual tables, not assumed
        assert r["content_parity_ok"] is True
        assert r["probe_parity_ok"] is True
        assert r["segments_before"] == 2 and r["segments_after"] == 1
        n = load(spark, SF_SMALL, "embeddings").count()
        assert r["n_vectors"] == n

    def test_segment_union_covers_full_corpus(self, spark):
        from rust_ruuvitag_etl_spark.plans.llm23 import ensure_ivfm_tables

        _, base_idx, delta_seg = ensure_ivfm_tables(spark, SF_SMALL)
        n = load(spark, SF_SMALL, "embeddings").count()
        # maintenance must index every vector exactly once
        assert base_idx.count() + delta_seg.count() == n
        assert (
            base_idx.select("vec_id")
            .unionAll(delta_seg.select("vec_id"))
            .distinct()
            .count()
            == n
        )
