"""Round-13 fused pack→decode→feature operators: parity pins.

The optimization moved the BMP/AVI pack step from giant generated JVM
projections into the SAME Arrow worker that decodes the bytes
(llm22._img_feats, llm23._ah_feats, llm24._vid_feats). These tests pin
the two claims the queries' correctness rests on:

1. BYTE parity — the Python packers produce bit-identical payloads to
   the retired-from-the-hot-path SQL/Column packers (which stay in the
   tree precisely so drift is detectable), for base AND planted-copy
   variants.
2. FEATURE parity — the fused operators emit exactly the rows the old
   pack→transfer→decode chains emitted (ids, per-frame hashes, channel
   vectors), including the in-pass planted-copy generation. The old
   chain's values come from decoding the SQL-packed payloads on the
   driver with the same stdlib parsers.

The band keys of _img_feats intentionally have NO old-path twin (any
deterministic hash works; the query re-checks true quantized equality),
so the test instead pins their contract: equal quantized vectors give
equal keys, and the planted ±1 pairs collide in at least one band.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_ruuvitag_etl_spark.operators import multimodal as mm
from rust_ruuvitag_etl_spark.plans.llm22 import (
    _IMG_COPY_MOD,
    _img_feats,
    _img_pack_bytes,
    _media,
)
from rust_ruuvitag_etl_spark.plans.llm23 import (
    _AH_BRIGHT,
    _AH_COPY_MOD,
    _ah_feats,
    _ah_media,
    _ah_pack_bytes,
)
from rust_ruuvitag_etl_spark.plans.llm24 import (
    _VID_BRIGHT,
    _VID_COPY_MOD,
    _VID_FRAMES,
    _vid_feats,
    _vid_media,
    _vid_pack_bytes,
)


@pytest.fixture(scope="module")
def ev(spark):
    return spark.range(0, 120).select(F.col("id").alias("event_id"))


class TestAhFused:
    def test_pack_byte_parity(self, ev):
        for bump in (0, _AH_BRIGHT):
            for r in _ah_media(ev, F.col("event_id"), bump).collect():
                assert bytes(r["content"]) == _ah_pack_bytes(
                    r["media_id"], bump
                )

    def test_feature_parity(self, ev):
        base = _ah_media(ev, F.col("event_id"), 0)
        copies = _ah_media(
            ev.filter(F.col("event_id") % _AH_COPY_MOD == 0),
            -(F.col("event_id") + 1),
            _AH_BRIGHT,
        )
        old = {
            r["media_id"]: mm._ahash32(
                mm.decode_bmp_array(bytes(r["content"]))["rgb"]
            )
            for r in base.unionAll(copies).collect()
        }
        new = {r["media_id"]: r["fh"] for r in _ah_feats(ev).collect()}
        assert new == old


class TestVidFused:
    def test_pack_byte_parity(self, ev):
        for bump, f0, nf in ((0, 0, _VID_FRAMES), (_VID_BRIGHT, 1, _VID_FRAMES - 1)):
            for r in _vid_media(
                ev.limit(40), F.col("event_id"), bump, f0, nf
            ).collect():
                assert bytes(r["content"]) == _vid_pack_bytes(
                    r["media_id"], bump, f0, nf
                )

    def test_feature_parity(self, ev):
        base = _vid_media(ev, F.col("event_id"), 0, 0, _VID_FRAMES)
        copies = _vid_media(
            ev.filter(F.col("event_id") % _VID_COPY_MOD == 0),
            -(F.col("event_id") + 1),
            _VID_BRIGHT,
            1,
            _VID_FRAMES - 1,
        )
        old = {
            (r["media_id"], fno): mm._ahash32(rgb)
            for r in base.unionAll(copies).collect()
            for fno, rgb in enumerate(
                mm.decode_avi(bytes(r["content"]))["frames"]
            )
        }
        new = {
            (r["media_id"], r["frame_no"]): r["fh"]
            for r in _vid_feats(ev).collect()
        }
        assert new == old


class TestImgFused:
    def test_pack_byte_parity(self, ev):
        for bump in (False, True):
            for r in _media(ev, F.col("event_id"), bump=bump).collect():
                assert bytes(r["content"]) == _img_pack_bytes(
                    r["media_id"], bump
                )

    def test_channel_parity_and_copies(self, ev):
        base = _media(ev, F.col("event_id"), bump=False)
        copies = _media(
            ev.filter(F.col("event_id") % _IMG_COPY_MOD == 0),
            -(F.col("event_id") + 1),
            bump=True,
        )
        old = {
            r["media_id"]: mm.decode_bmp_array(bytes(r["content"]))["rgb"]
            .reshape(-1)
            .tolist()
            for r in base.unionAll(copies).collect()
        }
        rows = _img_feats(ev).collect()
        new = {r["media_id"]: list(r["channels"]) for r in rows}
        assert new == old

    def test_band_key_contract(self, ev):
        # equal quantized vectors -> equal keys; planted ±1 pairs
        # collide in at least one band (the recall-by-construction
        # derivation in the module docstring)
        rows = {r["media_id"]: r for r in _img_feats(ev).collect()}
        planted = [e for e in range(120) if e % _IMG_COPY_MOD == 0]
        assert planted
        for e in planted:
            b, c = rows[e], rows[-(e + 1)]
            assert (b["bk0"] == c["bk0"]) or (b["bk1"] == c["bk1"])

    def test_band_key_deterministic(self, ev):
        a = {r["media_id"]: (r["bk0"], r["bk1"]) for r in _img_feats(ev).collect()}
        b = {r["media_id"]: (r["bk0"], r["bk1"]) for r in _img_feats(ev).collect()}
        assert a == b
