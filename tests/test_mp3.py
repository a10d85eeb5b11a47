"""Roundtrip/fuzz tests for the MPEG audio frame walker
(operators/multimodal.py:decode_mp3_frames) against an INDEPENDENT
in-test encoder (its own bitrate/rate tables and bitwise CRC), plus
tampering and rejection paths. The registry-level differential
(test_registry) separately hash-checks multimodal_mp3_frames against
its arithmetic oracle.
"""

from __future__ import annotations

import pytest

from rust_ruuvitag_etl_spark.operators.multimodal import decode_mp3_frames

_BR_V1 = {32: 1, 40: 2, 48: 3, 56: 4, 64: 5, 80: 6, 96: 7, 112: 8,
          128: 9, 160: 10, 192: 11, 224: 12, 256: 13, 320: 14}
_BR_V2 = {8: 1, 16: 2, 24: 3, 32: 4, 40: 5, 48: 6, 56: 7, 64: 8,
          80: 9, 96: 10, 112: 11, 128: 12, 144: 13, 160: 14}
_SR = {3: {44100: 0, 48000: 1, 32000: 2},
       2: {22050: 0, 24000: 1, 16000: 2},
       0: {11025: 0, 12000: 1, 8000: 2}}


def _crc_ref(data: bytes) -> int:
    """Independent bit-serial CRC-16 (0x8005, init 0xFFFF)."""
    crc = 0xFFFF
    for b in data:
        for k in range(7, -1, -1):
            bit = (b >> k) & 1
            hi = (crc >> 15) & 1
            crc = ((crc << 1) & 0xFFFF)
            if hi ^ bit:
                crc ^= 0x8005
    return crc


def encode_mp3(
    frame_fills,
    kbps=128,
    rate=48000,
    version=3,
    mono=True,
    protect=True,
    paddings=None,
    id3=b"",
):
    """Independent encoder: one frame per entry of ``frame_fills``
    (each a byte value or a bytes object for the main data); per-frame
    bitrate (int) or (kbps, padding) via ``paddings``."""
    out = bytearray()
    if id3:
        body = id3
        out += b"ID3\x04\x00\x00" + bytes(
            [(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
             (len(body) >> 7) & 0x7F, len(body) & 0x7F]
        ) + body
    kbps_list = kbps if isinstance(kbps, list) else [kbps] * len(frame_fills)
    paddings = paddings or [0] * len(frame_fills)
    for fill, fk, pad in zip(frame_fills, kbps_list, paddings):
        br_tab = _BR_V1 if version == 3 else _BR_V2
        coef = 144 if version == 3 else 72
        b1 = 0xE0 | (version << 3) | (1 << 1) | (0 if protect else 1)
        b2 = (br_tab[fk] << 4) | (_SR[version][rate] << 2) | (pad << 1)
        b3 = 0xC0 if mono else 0x00
        hdr = bytes([0xFF, b1, b2, b3])
        flen = coef * fk * 1000 // rate + pad
        side_n = (17 if mono else 32) if version == 3 else (9 if mono else 17)
        main_n = flen - 4 - (2 if protect else 0)
        if isinstance(fill, int):
            main = bytes([fill]) * main_n
        else:
            main = (fill * (main_n // len(fill) + 1))[:main_n]
        frame = hdr
        if protect:
            frame += _crc_ref(hdr[2:4] + main[:side_n]).to_bytes(2, "big")
        frame += main
        assert len(frame) == flen
        out += frame
    return bytes(out)


class TestMp3Roundtrip:
    def test_cbr_two_frames(self):
        d = decode_mp3_frames(encode_mp3([0xAA, 0xBB]))
        assert d["n_frames"] == 2
        assert (d["sample_rate"], d["channels"]) == (48000, 1)
        assert d["bitrates_kbps"] == [128, 128]
        assert d["frames_main"][0][:1] == b"\xaa"
        assert d["frames_main"][1][-1:] == b"\xbb"

    def test_vbr_bitrates(self):
        d = decode_mp3_frames(
            encode_mp3([1, 2, 3], kbps=[64, 128, 320])
        )
        assert d["bitrates_kbps"] == [64, 128, 320]
        # 144*kbps*1000/48000 - 6 bytes of hdr+crc
        assert [len(m) for m in d["frames_main"]] == [186, 378, 954]

    def test_padding_bit_respected(self):
        # 44100 Hz, 128k: 417.96 -> 417 + padding alternates in real
        # encoders; the walker must honor the per-frame bit.
        d = decode_mp3_frames(
            encode_mp3([5, 6], rate=44100, paddings=[1, 0])
        )
        assert d["n_frames"] == 2
        assert [len(m) for m in d["frames_main"]] == [412, 411]

    def test_mpeg2_coefficient(self):
        # MPEG2 Layer III uses coef 72: 72*64000/24000 = 192.
        d = decode_mp3_frames(
            encode_mp3([7], kbps=64, rate=24000, version=2)
        )
        assert d["sample_rate"] == 24000
        assert len(d["frames_main"][0]) == 192 - 6

    def test_stereo_side_info_crc(self):
        d = decode_mp3_frames(encode_mp3([8], mono=False))
        assert d["channels"] == 2

    def test_unprotected_frames(self):
        d = decode_mp3_frames(encode_mp3([9], protect=False))
        assert d["protected"] is False
        assert len(d["frames_main"][0]) == 384 - 4

    def test_id3_tag_skipped(self):
        d = decode_mp3_frames(
            encode_mp3([1, 2], id3=b"TALB\x00\x00\x00\x05\x00\x00album")
        )
        assert d["n_frames"] == 2


class TestMp3Rejection:
    def _valid(self, **kw):
        return encode_mp3([0x11, 0x22], **kw)

    def test_not_mp3(self):
        with pytest.raises(ValueError):
            decode_mp3_frames(b"RIFF" + b"\x00" * 40)
        with pytest.raises(ValueError):
            decode_mp3_frames(b"\xff")

    def test_crc_tamper(self):
        data = bytearray(self._valid())
        data[8] ^= 0xFF  # a side-info byte inside the CRC-protected span
        with pytest.raises(ValueError, match="CRC"):
            decode_mp3_frames(bytes(data))

    def test_truncated_last_frame(self):
        with pytest.raises(ValueError, match="truncated"):
            decode_mp3_frames(self._valid()[:-5])

    def test_trailing_garbage_breaks_sync(self):
        with pytest.raises(ValueError, match="sync"):
            decode_mp3_frames(self._valid() + b"\x00\x01\x02\x03")

    def test_parameter_change_mid_stream(self):
        a = encode_mp3([1])
        b = encode_mp3([2], rate=32000)
        with pytest.raises(ValueError, match="parameters"):
            decode_mp3_frames(a + b)

    def test_layer2_not_implemented(self):
        data = bytearray(self._valid(protect=False))
        data[1] = (data[1] & ~0x06) | (2 << 1)  # layer id 2 = Layer II
        with pytest.raises(NotImplementedError, match="Layer"):
            decode_mp3_frames(bytes(data))

    def test_free_format_not_implemented(self):
        data = bytearray(self._valid(protect=False))
        data[2] &= 0x0F  # bitrate index 0
        with pytest.raises(NotImplementedError, match="free-format"):
            decode_mp3_frames(bytes(data))

    def test_id3_size_overrun(self):
        blob = b"ID3\x04\x00\x00\x00\x00\x01\x00" + b"\x00" * 10
        with pytest.raises(ValueError):
            decode_mp3_frames(blob)

    def test_non_synchsafe_id3_size(self):
        blob = b"ID3\x04\x00\x00\x00\x00\x00\x80" + b"\x00" * 200
        with pytest.raises(ValueError, match="synchsafe"):
            decode_mp3_frames(blob)

    def test_fuzz_totality(self):
        import random

        rnd = random.Random(11)
        base = self._valid()
        for _ in range(300):
            data = bytearray(base)
            for _ in range(rnd.randrange(1, 6)):
                data[rnd.randrange(len(data))] = rnd.randrange(256)
            try:
                decode_mp3_frames(bytes(data))
            except (ValueError, NotImplementedError):
                pass
        for _ in range(100):
            blob = bytes(
                rnd.randrange(256) for _ in range(rnd.randrange(0, 500))
            )
            try:
                decode_mp3_frames(blob)
            except (ValueError, NotImplementedError):
                pass


class TestMp3AudioHonesty:
    def test_corrupt_stream_still_valueerror(self):
        blob = bytearray(encode_mp3([3]))
        blob[8] ^= 0xFF
        with pytest.raises(ValueError):
            decode_mp3_frames(bytes(blob))
