"""The vectorized aHash (operators/multimodal.py:_ahash32) the fused
image/video dedup packers run must be bit-identical to the plans' old
transform/aggregate SQL chain, replayed here as plain integer
arithmetic over the channel vectors of payloads packed by the SQL
packers and decoded on the driver."""

from pyspark.sql import functions as F

from rust_ruuvitag_etl_spark.operators.multimodal import (
    _ahash32,
    decode_avi,
    decode_bmp_array,
)
from rust_ruuvitag_etl_spark.plans.llm23 import _AH_BRIGHT, _ah_media
from rust_ruuvitag_etl_spark.plans.llm24 import _VID_FRAMES, _vid_media
from rust_ruuvitag_etl_spark.sources import load

SF_SMALL = "/root/testdata/sf0.001"


def _ahash_from_channels(channels):
    """The exact integer semantics of the replaced SQL chain: lum_p =
    ch[3p]+ch[3p+1]+ch[3p+2]; bit p = lum_p * n_pixels > total."""
    lums = [
        channels[3 * p] + channels[3 * p + 1] + channels[3 * p + 2]
        for p in range(len(channels) // 3)
    ]
    total = sum(lums)
    return sum(
        1 << p for p, l in enumerate(lums) if l * len(lums) > total
    )


class TestFusedAhashParity:
    def test_bmp_ahash32_matches_channel_path(self, spark):
        ev = load(spark, SF_SMALL, "events").select("event_id").limit(16)
        rows = _ah_media(ev, F.col("event_id"), _AH_BRIGHT).collect()
        assert len(rows) == 16
        for r in rows:
            rgb = decode_bmp_array(bytes(r["content"]))["rgb"]
            assert _ahash32(rgb) == _ahash_from_channels(
                rgb.reshape(-1).tolist()
            )

    def test_avi_frame_ahash32_matches_channel_path(self, spark):
        ev = load(spark, SF_SMALL, "events").select("event_id").limit(4)
        rows = _vid_media(ev, F.col("event_id"), 0, 0, _VID_FRAMES).collect()
        frames = [
            rgb
            for r in rows
            for rgb in decode_avi(bytes(r["content"]))["frames"]
        ]
        assert len(frames) == 4 * _VID_FRAMES
        for rgb in frames:
            assert _ahash32(rgb) == _ahash_from_channels(
                rgb.reshape(-1).tolist()
            )
