"""Round-12 wave 1: video near-duplicate detection over real AVI clips."""

from pyspark.sql import functions as F

from rust_ruuvitag_etl_spark.operators.multimodal import decode_avi
from rust_ruuvitag_etl_spark.plans.llm24 import (
    _VID_BRIGHT,
    _VID_COPY_MOD,
    _VID_FRAMES,
    _vid_media,
    dedup_video_frames,
)
from rust_ruuvitag_etl_spark.sources import load

SF_SMALL = "/root/testdata/sf0.001"


class TestVideoPacker:
    def test_packed_clips_decode_with_real_parser(self, spark):
        ev = (
            load(spark, SF_SMALL, "events")
            .select("event_id")
            .limit(3)
        )
        base = _vid_media(ev, F.col("event_id"), 0, 0, _VID_FRAMES)
        for r in base.collect():
            d = decode_avi(bytes(r["content"]))
            assert (d["width"], d["height"]) == (8, 4)
            assert d["n_frames"] == _VID_FRAMES
            # grayscale: every pixel's three channels are equal
            for fr in d["frames"]:
                assert (fr[:, :, 0] == fr[:, :, 1]).all()
                assert (fr[:, :, 1] == fr[:, :, 2]).all()

    def test_copy_is_trimmed_and_shifted(self, spark):
        ev = (
            load(spark, SF_SMALL, "events")
            .select("event_id")
            .filter(F.col("event_id") % _VID_COPY_MOD == 0)
            .orderBy("event_id")
            .limit(2)
        ).localCheckpoint(eager=True)  # pin the same 2 ids for both uses
        base = {
            r["media_id"]: decode_avi(bytes(r["content"]))
            for r in _vid_media(
                ev, F.col("event_id"), 0, 0, _VID_FRAMES
            ).collect()
        }
        copies = {
            r["media_id"]: decode_avi(bytes(r["content"]))
            for r in _vid_media(
                ev,
                -(F.col("event_id") + 1),
                _VID_BRIGHT,
                1,
                _VID_FRAMES - 1,
            ).collect()
        }
        for cid, cd in copies.items():
            bd = base[-cid - 1]  # copy id -(e+1) -> base id e
            assert cd["n_frames"] == _VID_FRAMES - 1
            for g in range(cd["n_frames"]):
                # copy frame g = base frame g+1, +BRIGHT on every channel
                assert (
                    cd["frames"][g].astype(int)
                    == bd["frames"][g + 1].astype(int) + _VID_BRIGHT
                ).all()


class TestVideoDedup:
    def test_every_planted_copy_found_at_offset_one(self, spark):
        rows = dedup_video_frames(spark, SF_SMALL).collect()
        planted = (
            load(spark, SF_SMALL, "events")
            .filter(F.col("event_id") % _VID_COPY_MOD == 0)
            .count()
        )
        pairs = {(r["id_a"], r["id_b"]): r for r in rows}
        found = 0
        for (id_a, id_b), r in pairs.items():
            if id_a == -(id_b + 1):  # planted copy (negative keyspace)
                # frame 0 was dropped -> the 3-frame copy matches the
                # 4-frame base at offset exactly 1
                assert r["match_offset"] == 1
                assert {r["nf_a"], r["nf_b"]} == {
                    _VID_FRAMES - 1,
                    _VID_FRAMES,
                }
                found += 1
        assert found == planted

    def test_brightness_shift_never_clamps(self):
        # the invariance derivation requires no channel clamp at 255:
        # channels are mod 200 (max 199) + 16 = 215 < 256
        assert 199 + _VID_BRIGHT < 256
