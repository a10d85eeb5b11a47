"""Byte pins for the Python media packers of the codec queries.

Each digest is the sha256 of the packer's bytes for event ids 0..999
(the sf0.001 corpus), concatenated in id order. The digests were taken
from the JVM expression packers these functions replace, so a match
means every codec query still decodes the same payloads. Pure Python:
no Spark session."""

from __future__ import annotations

import hashlib

import pytest

from rust_ruuvitag_etl_spark.plans import (
    analytics,
    analytics2,
    llm6,
    llm8,
    llm23,
    timeseries,
)

PINS = [
    (analytics._pack_bmp,
     "6861f8909fc5ce6951a41d5ebf7c9162289a4ff8fdb887b1087ed49a0efc74a5"),
    (analytics._pack_png,
     "20b93c673adcc46ced611274ef4fa0f3fe7086f571e07594a272ad0e7ab3d669"),
    (analytics2._pack_jpeg,
     "a80fe29d36e495c26b7c1d7c3b9d7df06af2eaaa606a365746b1dc89b33721f3"),
    (llm6._pack_gif,
     "16830819514d7d966fd5fd83be8cfd62abc1881714b78287f9e81ce1f46f81c9"),
    (llm8._pack_tiff,
     "89b5b379ef07cd972e8ea561b98beb36275e413ef53a0ad076e5f44ca395c9fd"),
    (timeseries._pack_wav,
     "ea3d1b2f1b6401521f2502da604ba4fab326403081cc3ac144467be0a7e768a6"),
    (analytics2._pack_flac,
     "03f28cc389f0c1509bb0dd04db09c5fa6287511a23618c10b0ee97bb8698a966"),
    (llm8._pack_avi,
     "44302c1c1aafeb31f71db4f1da1b8a9ea314abec5697e9ab8b7a33df1d8d9952"),
    (llm8._pack_ogg,
     "f570ff468674f3518548eb8ebdb35fef40bf59de9ef4476763b1c3708872a595"),
    (llm8._pack_mp3,
     "3d40dd999516b085d1c5b65baaa7e35944fa6bc84da81bbebbbd821a03dfbf29"),
]


@pytest.mark.parametrize(
    "pack, want", PINS, ids=[p.__name__ for p, _ in PINS]
)
def test_packer_bytes_pinned(pack, want):
    blob = b"".join(pack(e) for e in range(1000))
    assert hashlib.sha256(blob).hexdigest() == want


def test_audio_envelope_packer_bytes_pinned():
    """dedup_audio_envelope's clips: ids 0..999 at gain 1, then the
    planted x2-gain copies of every 13th id."""
    pack = llm23._au_pack_bytes
    blob = b"".join(pack(e, 1) for e in range(1000)) + b"".join(
        pack(e, llm23._AU_GAIN) for e in range(0, 1000, llm23._AU_COPY_MOD)
    )
    assert hashlib.sha256(blob).hexdigest() == (
        "b76868cb58ef0a94691b115760dc57a4cafac5e0575ee0311be95a52092204a7"
    )
