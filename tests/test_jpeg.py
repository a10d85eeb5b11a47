"""Fuzz/roundtrip tests for the baseline JPEG decoder
(operators/multimodal.py:decode_jpeg_array) against an INDEPENDENT
in-test encoder: real FDCT + quantization + canonical Huffman coding +
byte stuffing + optional restart markers, for grayscale and 4:4:4
color. The registry-level differential (test_registry) separately
hash-checks multimodal_jpeg_stats against its arithmetic oracle.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from rust_ruuvitag_etl_spark.operators.multimodal import decode_jpeg_array

ZZ = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

_x = np.arange(8)
M = np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16) / 2.0
M[0, :] /= np.sqrt(2.0)


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def flush(self) -> bytes:
        bits = self.bits + [1] * ((-len(self.bits)) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
            if b == 0xFF:
                out.append(0)  # byte stuffing
        self.bits = []
        return bytes(out)


def _huff_fixed(symbols):
    """Canonical fixed-length table over ``symbols`` (all codes length
    L with 2^L > N so the all-ones code stays unused)."""
    n = len(symbols)
    L = max(1, n.bit_length())
    if (1 << L) <= n:
        L += 1
    counts = [0] * 16
    counts[L - 1] = n
    return counts, list(symbols), {sym: (L, i) for i, sym in enumerate(symbols)}


def _code_block(qz, dc_prev, dc_syms, ac_syms, coded):
    diff = int(qz[0]) - dc_prev
    c = 0 if diff == 0 else abs(diff).bit_length()
    dc_syms.add(c)
    acs = []
    run = 0
    last_nz = max([k for k in range(1, 64) if qz[k] != 0], default=0)
    for k in range(1, 64):
        v = int(qz[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            if run == 16:
                acs.append((0xF0, 0, 0))
                ac_syms.add(0xF0)
                run = 0
            continue
        sz = abs(v).bit_length()
        acs.append(((run << 4) | sz, v if v >= 0 else v + (1 << sz) - 1, sz))
        ac_syms.add((run << 4) | sz)
        run = 0
    if last_nz < 63:
        acs.append((0x00, 0, 0))
        ac_syms.add(0x00)
    coded.append((c, diff, acs))
    return int(qz[0])


def encode_jpeg(planes, q=None, restart_interval=0):
    """Independent baseline encoder: ``planes`` is [Y] (grayscale) or
    [Y, Cb, Cr] (4:4:4), each (h, w) float arrays in 0..255."""
    h, w = planes[0].shape
    q = q if q is not None else np.ones(64, dtype=int)
    bh, bw = (h + 7) // 8, (w + 7) // 8
    dc_syms, ac_syms = set(), set()
    coded = []  # flat MCU-major, component-minor block list
    dc_prev = [0] * len(planes)
    for by in range(bh):
        for bx in range(bw):
            mcu_index = by * bw + bx
            if (
                restart_interval
                and mcu_index
                and mcu_index % restart_interval == 0
            ):
                coded.append(("RST",))
                dc_prev = [0] * len(planes)
            for ci, plane in enumerate(planes):
                padded = np.zeros((bh * 8, bw * 8))
                padded[:h, :w] = plane
                padded[h:, :w] = plane[-1:, :]
                padded[:h, w:] = plane[:, -1:]
                padded[h:, w:] = plane[-1, -1]
                blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                C = M @ blk @ M.T
                zz = np.array([C[r, c] for r, c in ZZ])
                qz = np.round(zz / q).astype(int)
                dc_prev[ci] = _code_block(
                    qz, dc_prev[ci], dc_syms, ac_syms, coded
                )
    dcc, dcs, dccodes = _huff_fixed(sorted(dc_syms))
    acc, acl, accodes = _huff_fixed(sorted(ac_syms))
    bw_ = _BitWriter()
    entropy = bytearray()
    rst_n = 0
    for item in coded:
        if item == ("RST",):
            entropy += bw_.flush()
            entropy += bytes([0xFF, 0xD0 + rst_n])
            rst_n = (rst_n + 1) % 8
            continue
        c, diff, acs = item
        L, code = dccodes[c]
        bw_.put(code, L)
        if c:
            bw_.put(diff if diff >= 0 else diff + (1 << c) - 1, c)
        for sym, vb, sz in acs:
            L2, code2 = accodes[sym]
            bw_.put(code2, L2)
            if sz:
                bw_.put(vb, sz)
    entropy += bw_.flush()
    ncomp = len(planes)
    out = b"\xff\xd8"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(v) for v in q
    )
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp) + b"".join(
        bytes([ci + 1, 0x11, 0]) for ci in range(ncomp)
    )
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(dcs))
        + b"\x00"
        + bytes(dcc)
        + bytes(dcs)
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(acl))
        + b"\x10"
        + bytes(acc)
        + bytes(acl)
    )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos_body = bytes([ncomp]) + b"".join(
        bytes([ci + 1, 0x00]) for ci in range(ncomp)
    ) + bytes([0, 0x3F, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos_body)) + sos_body
    out += bytes(entropy) + b"\xff\xd9"
    return out


class TestJpegRoundtrip:
    def test_constant_gray_every_value_exact(self):
        # DC-only blocks reconstruct EXACTLY (q=1 here; the registry
        # packer uses q[0]=8 with the same property).
        for g in (0, 1, 127, 128, 129, 254, 255):
            img = np.full((8, 8), float(g))
            d = decode_jpeg_array(encode_jpeg([img]))
            assert d["width"] == 8 and d["height"] == 8
            assert (d["rgb"] == g).all()

    def test_multiblock_random_gray_q1(self):
        rng = np.random.RandomState(42)
        img = (rng.rand(20, 29) * 255).round()
        d = decode_jpeg_array(encode_jpeg([img]))
        assert (d["width"], d["height"]) == (29, 20)
        err = np.abs(d["rgb"][:, :, 0].astype(float) - img).max()
        # q=1: reconstruction error is pure FDCT/IDCT rounding
        assert err <= 1.0

    def test_gradient_with_real_quantization(self):
        yy, xx = np.mgrid[0:16, 0:24]
        img = ((yy * 7 + xx * 5) % 256).astype(float)
        q = np.full(64, 4)
        q[0] = 8
        d = decode_jpeg_array(encode_jpeg([img], q))
        # max error bounded by the quantization step energy
        assert np.abs(d["rgb"][:, :, 0].astype(float) - img).max() <= 8

    def test_color_444_roundtrip(self):
        rng = np.random.RandomState(7)
        y = (rng.rand(8, 16) * 255).round()
        cb = np.full((8, 16), 128.0)
        cr = np.full((8, 16), 128.0)
        d = decode_jpeg_array(encode_jpeg([y, cb, cr]))
        # Cb=Cr=128 -> R=G=B=Y exactly through the JFIF transform
        for ch in range(3):
            assert np.abs(d["rgb"][:, :, ch].astype(float) - y).max() <= 1.0

    def test_color_saturated_channels(self):
        y = np.full((8, 8), 128.0)
        cb = np.full((8, 8), 255.0)
        cr = np.full((8, 8), 0.0)
        d = decode_jpeg_array(encode_jpeg([y, cb, cr]))
        r = 128 + 1.402 * (0 - 128)
        b = 128 + 1.772 * (255 - 128)
        assert abs(int(d["rgb"][0, 0, 0]) - round(max(0, r))) <= 2
        assert abs(int(d["rgb"][0, 0, 2]) - round(min(255, b))) <= 2

    def test_restart_markers(self):
        rng = np.random.RandomState(3)
        img = (rng.rand(8, 40) * 255).round()  # 5 MCUs in a row
        data = encode_jpeg([img], restart_interval=2)
        assert b"\xff\xd0" in data and b"\xff\xd1" in data
        d = decode_jpeg_array(data)
        assert np.abs(d["rgb"][:, :, 0].astype(float) - img).max() <= 1.0

    def test_fill_bytes_and_standalone_markers_tolerated(self):
        # Spec-legal 0xFF fill padding between marker segments (B.1.1.2)
        # and length-less standalone markers (TEM 0x01, stray RSTn)
        # before SOS must be skipped, not rejected — real encoders
        # occasionally emit fill bytes.
        data = encode_jpeg([np.full((8, 8), 77.0)])
        idx = data.find(b"\xff\xdb")  # before the DQT segment
        padded = (
            data[:idx] + b"\xff\xff\xff" + data[idx : idx + 69]
            + b"\xff\x01" + b"\xff\xd3"  # TEM + stray RST3
            + data[idx + 69 :]
        )
        d = decode_jpeg_array(padded)
        assert (d["rgb"] == 77).all()

    def test_byte_stuffing_survives(self):
        # An image engineered to produce 0xFF entropy bytes somewhere:
        # random data over many blocks makes stuffing overwhelmingly
        # likely; assert the stuffed stream still decodes.
        rng = np.random.RandomState(11)
        img = (rng.rand(32, 32) * 255).round()
        data = encode_jpeg([img])
        d = decode_jpeg_array(data)
        assert np.abs(d["rgb"][:, :, 0].astype(float) - img).max() <= 1.0


class TestJpegRejection:
    def _valid(self):
        return encode_jpeg([np.full((8, 8), 100.0)])

    def test_not_a_jpeg(self):
        with pytest.raises(ValueError):
            decode_jpeg_array(b"GIF89a junk")
        with pytest.raises(ValueError):
            decode_jpeg_array(b"\xff\xd8")  # SOI only

    def test_truncated_scan(self):
        data = self._valid()
        with pytest.raises(ValueError):
            decode_jpeg_array(data[:-4])  # cut into the entropy bytes

    def test_progressive_rejected(self):
        data = bytearray(self._valid())
        idx = data.find(b"\xff\xc0")
        data[idx + 1] = 0xC2  # SOF0 -> SOF2
        with pytest.raises(NotImplementedError):
            decode_jpeg_array(bytes(data))

    def test_subsampled_rejected(self):
        data = bytearray(self._valid())
        idx = data.find(b"\xff\xc0")
        # marker(2) + len(2) + prec/h/w/ncomp(6) + comp id(1) -> HV byte
        data[idx + 11] = 0x21  # component sampling 2x1
        with pytest.raises(NotImplementedError):
            decode_jpeg_array(bytes(data))


class TestCodecTotalityFuzz:
    """Property: NO byte string makes a codec decoder raise anything but
    ValueError/NotImplementedError. Guards against unhandled
    IndexError/struct.error/zlib.error leaking from any of the nine
    parsers."""

    def test_real_decoders_never_crash(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from rust_ruuvitag_etl_spark.operators import multimodal as mm

        decoders = (
            mm.decode_bmp_array, mm.decode_png_array, mm.decode_gif_array,
            mm.decode_jpeg_array, mm.decode_tiff_array, mm.decode_wav,
            mm.decode_flac, mm.decode_ogg_pages, mm.decode_mp3_frames,
        )
        prefixes = [
            b"", b"\xff\xd8", b"BM", b"\x89PNG\r\n\x1a\n", b"GIF89a",
            b"GIF87a", b"II*\x00", b"MM\x00*", b"RIFF", b"fLaC", b"OggS",
            b"ID3", b"\xff\xfb",
        ]

        @settings(max_examples=300, deadline=None)
        @given(
            st.sampled_from(prefixes),
            st.binary(min_size=0, max_size=200),
        )
        def run(prefix, tail):
            payload = prefix + tail
            for fn in decoders:
                try:
                    fn(payload)
                except (ValueError, NotImplementedError):
                    pass  # the only exceptions a decoder may raise

        run()

    def test_truncated_chunk_bodies_are_valueerrors(self):
        import struct

        from rust_ruuvitag_etl_spark.operators.multimodal import (
            decode_flac,
            decode_jpeg_array,
            decode_wav,
        )

        # WAV: fmt chunk claims 16 bytes, carries 2
        wav = (
            b"RIFF" + struct.pack("<I", 20) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
        )
        with pytest.raises(ValueError):
            decode_wav(wav)
        # JPEG: SOF0 with a 3-byte body
        jp = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 5) + b"\x08\x00\x10"
        with pytest.raises(ValueError):
            decode_jpeg_array(jp)
        # FLAC: STREAMINFO length lies
        fl = b"fLaC" + struct.pack(">I", (1 << 31) | 34) + b"\x00" * 10
        with pytest.raises(ValueError):
            decode_flac(fl)
