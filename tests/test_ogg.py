"""Roundtrip/fuzz tests for the Ogg container parser
(operators/multimodal.py:decode_ogg_pages) against an INDEPENDENT
in-test encoder (bitwise CRC, its own lacing/paging logic), plus
tampering and rejection paths. The registry-level differential
(test_registry) separately hash-checks multimodal_ogg_pages against its
arithmetic oracle.
"""

from __future__ import annotations

import struct

import pytest

from rust_ruuvitag_etl_spark.operators.multimodal import decode_ogg_pages


def _crc_ref(data: bytes) -> int:
    """Independent bitwise CRC-32 (direct 0x04C11DB7, init 0, no final
    XOR) — deliberately NOT the table fold the decoder uses."""
    crc = 0
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x04C11DB7) if crc & 0x80000000 else crc << 1
            ) & 0xFFFFFFFF
    return crc


def _page(htype, granule, serial, seq, laces, body):
    h = (
        b"OggS" + bytes([0, htype]) + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
    )
    seg = bytes([len(laces)]) + bytes(laces)
    crc = _crc_ref(h + b"\x00" * 4 + seg + body)
    return h + struct.pack("<I", crc) + seg + body


def encode_ogg(packets, serial=0xABCD1234, max_segs=255):
    """Independent encoder: packets → lacing values (255-run + final
    <255, incl. the zero terminator for exact multiples of 255) →
    pages of at most ``max_segs`` segments, continuation flags set
    whenever a page break lands mid-packet."""
    laces: list[int] = []
    blob = b""
    for p in packets:
        n = len(p)
        laces += [255] * (n // 255) + [n % 255]
        blob += p
    pages = []
    pos = 0
    i = 0
    open_packet = False
    while i < len(laces) or not pages:
        chunk = laces[i : i + max_segs]
        body_len = sum(chunk)
        htype = 0x01 if open_packet else 0
        if not pages:
            htype |= 0x02
        if i + len(chunk) >= len(laces):
            htype |= 0x04
        pages.append(
            (htype, chunk, blob[pos : pos + body_len])
        )
        open_packet = bool(chunk) and chunk[-1] == 255
        pos += body_len
        i += len(chunk)
    return b"".join(
        _page(htype, seq, serial, seq, chunk, body)
        for seq, (htype, chunk, body) in enumerate(pages)
    )


class TestOggRoundtrip:
    def test_two_packets_one_page(self):
        pkts = [b"hello ogg", b"\x01\x02\x03\x04"]
        d = decode_ogg_pages(encode_ogg(pkts))
        assert d["n_pages"] == 1
        assert d["packets"] == pkts
        assert d["payload_bytes"] == 13

    def test_large_packet_spans_pages(self):
        # 600 bytes -> laces [255, 255, 90]; max_segs=2 forces a page
        # break mid-packet, so page 2 must carry the continued flag.
        big = bytes(range(256)) * 2 + bytes(88)
        d = decode_ogg_pages(encode_ogg([big, b"tail"], max_segs=2))
        assert d["n_pages"] >= 2
        assert d["packets"] == [big, b"tail"]

    def test_exact_255_multiple_zero_lace(self):
        # len 510 -> laces [255, 255, 0]: the zero terminator is load-
        # bearing (without it the packet would run into the next one).
        p = bytes(510)
        d = decode_ogg_pages(encode_ogg([p, b"x"]))
        assert d["packets"] == [p, b"x"]

    def test_many_pages_sequenced(self):
        pkts = [bytes([i]) * (i + 1) for i in range(20)]
        d = decode_ogg_pages(encode_ogg(pkts, max_segs=3))
        assert d["n_packets"] == 20
        assert d["packets"] == pkts

    def test_serial_and_granule_surface(self):
        d = decode_ogg_pages(encode_ogg([b"a"], serial=42))
        assert d["serial"] == 42
        assert d["last_granule"] == 0


class TestOggRejection:
    def _valid(self, **kw):
        return encode_ogg([b"packet one", b"packet two"], **kw)

    def test_not_ogg(self):
        with pytest.raises(ValueError):
            decode_ogg_pages(b"RIFF" + b"\x00" * 40)
        with pytest.raises(ValueError):
            decode_ogg_pages(b"OggS")

    def test_crc_tamper(self):
        data = bytearray(self._valid())
        data[-1] ^= 0xFF  # flip a payload byte -> CRC mismatch
        with pytest.raises(ValueError, match="CRC"):
            decode_ogg_pages(bytes(data))

    def test_version_rejected(self):
        data = bytearray(self._valid())
        data[4] = 1  # stream structure version must be 0
        with pytest.raises(ValueError):
            decode_ogg_pages(bytes(data))

    def test_truncated(self):
        with pytest.raises(ValueError):
            decode_ogg_pages(self._valid()[:-3])

    def test_missing_bos(self):
        # Rebuild page 0 without the BOS flag (valid CRC).
        pkts = [b"abc"]
        data = _page(0x04, 0, 7, 0, [3], b"abc")
        with pytest.raises(ValueError, match="BOS"):
            decode_ogg_pages(data)

    def test_missing_eos(self):
        data = _page(0x02, 0, 7, 0, [3], b"abc")  # BOS but never EOS
        with pytest.raises(ValueError, match="EOS"):
            decode_ogg_pages(data)

    def test_sequence_gap(self):
        p0 = _page(0x02, 0, 7, 0, [1], b"a")
        p2 = _page(0x04, 1, 7, 2, [1], b"b")  # seq jumps 0 -> 2
        with pytest.raises(ValueError, match="sequence"):
            decode_ogg_pages(p0 + p2)

    def test_multiplexed_serials(self):
        p0 = _page(0x02, 0, 7, 0, [1], b"a")
        p1 = _page(0x04, 1, 8, 1, [1], b"b")  # different serial
        with pytest.raises(NotImplementedError):
            decode_ogg_pages(p0 + p1)

    def test_continuation_mismatch(self):
        # Page 1 claims continuation but page 0 closed its packet.
        p0 = _page(0x02, 0, 7, 0, [1], b"a")
        p1 = _page(0x05, 1, 7, 1, [1], b"b")  # cont + EOS
        with pytest.raises(ValueError, match="continuation"):
            decode_ogg_pages(p0 + p1)

    def test_ends_mid_packet(self):
        # A 255 lace leaves the packet open; EOS with it still open.
        p0 = _page(0x06, 0, 7, 0, [255], bytes(255))  # BOS + EOS
        with pytest.raises(ValueError, match="mid-packet"):
            decode_ogg_pages(p0)

    def test_fuzz_totality(self):
        # Same contract as the other codecs: nothing but ValueError /
        # NotImplementedError may escape.
        import random

        rnd = random.Random(7)
        base = self._valid(max_segs=2)
        for _ in range(300):
            data = bytearray(base)
            for _ in range(rnd.randrange(1, 6)):
                data[rnd.randrange(len(data))] = rnd.randrange(256)
            try:
                decode_ogg_pages(bytes(data))
            except (ValueError, NotImplementedError):
                pass
        for _ in range(100):
            blob = bytes(
                rnd.randrange(256) for _ in range(rnd.randrange(0, 400))
            )
            try:
                decode_ogg_pages(blob)
            except (ValueError, NotImplementedError):
                pass


class TestOggAudioHonesty:
    def test_corrupt_container_still_valueerror(self):
        blob = bytearray(encode_ogg([b"data"]))
        blob[-1] ^= 0xFF
        with pytest.raises(ValueError):
            decode_ogg_pages(bytes(blob))
