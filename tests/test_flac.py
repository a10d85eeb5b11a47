"""Roundtrip/fuzz tests for the FLAC decoder
(operators/multimodal.py:decode_flac) against an INDEPENDENT in-test
encoder covering constant, verbatim, and fixed-predictor subframes with
partitioned-Rice residuals, plus CRC tampering and rejection paths.
The registry-level differential (test_registry) separately hash-checks
multimodal_flac_stats against its arithmetic oracle.
"""

from __future__ import annotations

import struct

import pytest

from rust_ruuvitag_etl_spark.operators.multimodal import (
    _crc8,
    _crc16,
    decode_flac,
)


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def puts(self, v: int, n: int) -> None:
        self.put(v & ((1 << n) - 1), n)

    def flush(self) -> bytes:
        bits = self.bits + [0] * ((-len(self.bits)) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        self.bits = []
        return bytes(out)


def _streaminfo(blocksize, rate, n_ch, bits, total):
    b = _BitWriter()
    b.put(blocksize, 16)
    b.put(blocksize, 16)
    b.put(0, 24)
    b.put(0, 24)
    b.put(rate, 20)
    b.put(n_ch - 1, 3)
    b.put(bits - 1, 5)
    b.put(total, 36)
    body = b.flush() + b"\x00" * 16
    return struct.pack(">I", (1 << 31) | 34) + body


_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _encode_frame(channels, frame_no, bits, kind, order=0, rice_param=2):
    blocksize = len(channels[0])
    h = _BitWriter()
    h.put(0x3FFE, 14)
    h.put(0, 2)
    h.put(6, 4)  # 8-bit blocksize-1 at end
    h.put(0, 4)  # rate from STREAMINFO
    h.put(len(channels) - 1, 4)
    h.put({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bits], 3)
    h.put(0, 1)
    header = h.flush() + bytes([frame_no, blocksize - 1])
    header += bytes([_crc8(header)])
    body = _BitWriter()
    for samples in channels:
        if kind == "constant":
            body.put(0, 8)
            body.puts(samples[0], bits)
        elif kind == "verbatim":
            body.put(0, 1)
            body.put(1, 6)
            body.put(0, 1)
            for v in samples:
                body.puts(v, bits)
        else:  # fixed
            body.put(0, 1)
            body.put(8 + order, 6)
            body.put(0, 1)
            for v in samples[:order]:
                body.puts(v, bits)
            coefs = _FIXED_COEFS[order]
            body.put(0, 2)  # rice, 4-bit params
            body.put(0, 4)  # partition order 0
            body.put(rice_param, 4)
            for i in range(order, len(samples)):
                pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
                res = samples[i] - pred
                zz = 2 * res if res >= 0 else -2 * res - 1
                q, r = zz >> rice_param, zz & ((1 << rice_param) - 1)
                for _ in range(q):
                    body.put(0, 1)
                body.put(1, 1)
                if rice_param:
                    body.put(r, rice_param)
    frame = header + body.flush()
    return frame + struct.pack(">H", _crc16(frame))


def encode_flac(channels, rate=16000, bits=16, kind="verbatim", order=0,
                rice_param=2):
    blocksize = len(channels[0])
    out = b"fLaC" + _streaminfo(blocksize, rate, len(channels), bits, blocksize)
    return out + _encode_frame(channels, 0, bits, kind, order, rice_param)


class TestFlacRoundtrip:
    def test_constant_subframe(self):
        for v in (-32768, -5, 0, 7, 32767):
            d = decode_flac(encode_flac([[v] * 8], kind="constant"))
            assert d["samples"] == [v] * 8
            assert (d["sample_rate"], d["n_channels"], d["bits"]) == (
                16000, 1, 16,
            )

    def test_verbatim_subframe(self):
        s = [100, -200, 3000, -32768, 32767, 0, 7, -1]
        assert decode_flac(encode_flac([s]))["samples"] == s

    @pytest.mark.parametrize("order", [0, 1, 2, 3, 4])
    def test_fixed_predictors_all_orders(self, order):
        s = [10, 12, 13, 13, 12, 10, 9, 11, 14, 18, 23, 29, 28, 25, 21, 16]
        got = decode_flac(
            encode_flac([s], kind="fixed", order=order, rice_param=3)
        )
        assert got["samples"] == s

    def test_rice_parameter_sweep(self):
        s = [0, 1, -1, 2, -2, 100, -100, 5000]
        for p in (0, 1, 4, 10):
            got = decode_flac(
                encode_flac([s], kind="fixed", order=0, rice_param=p)
            )
            assert got["samples"] == s

    def test_stereo_independent_interleaves(self):
        left = [1, 2, 3, 4, 5, 6, 7, 8]
        right = [-1, -2, -3, -4, -5, -6, -7, -8]
        d = decode_flac(encode_flac([left, right]))
        assert d["n_channels"] == 2
        assert d["samples"] == [v for pair in zip(left, right) for v in pair]

    def test_multiple_frames(self):
        a = [5] * 8
        b = [9] * 8
        out = b"fLaC" + _streaminfo(8, 16000, 1, 16, 16)
        out += _encode_frame([a], 0, 16, "constant")
        out += _encode_frame([b], 1, 16, "constant")
        assert decode_flac(out)["samples"] == a + b


class TestFlacRejection:
    def test_not_flac(self):
        with pytest.raises(ValueError):
            decode_flac(b"RIFFxxxxWAVE" + b"\x00" * 40)
        with pytest.raises(ValueError):
            decode_flac(b"fLaC")  # magic only

    def test_header_crc8_tamper(self):
        data = bytearray(encode_flac([[7] * 8], kind="constant"))
        # frame starts right after 4 + 38 metadata bytes; flip a header bit
        data[42 + 2] ^= 0x01
        with pytest.raises(ValueError):
            decode_flac(bytes(data))

    def test_frame_crc16_tamper(self):
        data = bytearray(encode_flac([[7] * 8], kind="constant"))
        data[-1] ^= 0xFF
        with pytest.raises(ValueError):
            decode_flac(bytes(data))

    def test_truncated_stream(self):
        data = encode_flac([[1, 2, 3, 4, 5, 6, 7, 8]])
        with pytest.raises(ValueError):
            decode_flac(data[:-6])

    def test_reserved_subframe_type_rejected(self):
        data = bytearray(encode_flac([[7] * 8], kind="constant"))
        # subframe header byte is right after the 7-byte frame header
        data[42 + 7] = 0x04  # type bits 000010 -> reserved
        with pytest.raises(ValueError):
            decode_flac(bytes(data))

    def test_zero_frames_total_unknown(self):
        # Structurally valid: STREAMINFO with total=0 (unknown) and no
        # frames. Must return an empty decode with STREAMINFO's rate —
        # historically raised UnboundLocalError ('rate'), which leaked
        # through _total_decoder.
        data = b"fLaC" + _streaminfo(8, 22050, 1, 16, 0)
        d = decode_flac(data)
        assert d == {
            "sample_rate": 22050, "n_channels": 1, "bits": 16, "samples": [],
        }


class TestFlacStereoDecorrelation:
    def _encode_side(self, left, right, mode):
        """mode: 8=left/side, 9=side/right, 10=mid/side."""
        blocksize = len(left)
        bits = 16
        side = [l - r for l, r in zip(left, right)]
        if mode == 8:
            subframes = [(left, 16), (side, 17)]
        elif mode == 9:
            subframes = [(side, 17), (right, 16)]
        else:
            mid = [(l + r) >> 1 for l, r in zip(left, right)]
            subframes = [(mid, 16), (side, 17)]
        h = _BitWriter()
        h.put(0x3FFE, 14)
        h.put(0, 2)
        h.put(6, 4)
        h.put(0, 4)
        h.put(mode, 4)  # channel assignment code
        h.put(4, 3)     # 16-bit
        h.put(0, 1)
        header = h.flush() + bytes([0, blocksize - 1])
        header += bytes([_crc8(header)])
        body = _BitWriter()
        for samples, sbits in subframes:
            body.put(0, 1)
            body.put(1, 6)  # verbatim
            body.put(0, 1)
            for v in samples:
                body.puts(v, sbits)
        frame = header + body.flush()
        frame += struct.pack(">H", _crc16(frame))
        out = b"fLaC" + _streaminfo(blocksize, 16000, 2, bits, blocksize)
        return out + frame

    @pytest.mark.parametrize("mode", [8, 9, 10])
    def test_all_side_modes_reconstruct(self, mode):
        left = [100, -200, 32767, -32768, 0, 1, -1, 777]
        right = [-5, 250, -32768, 32767, 3, 0, -2, -777]
        d = decode_flac(self._encode_side(left, right, mode))
        assert d["n_channels"] == 2
        got_left = d["samples"][0::2]
        got_right = d["samples"][1::2]
        assert got_left == left, mode
        assert got_right == right, mode


class TestFlacRicePartitions:
    def _encode_partitioned(self, samples, order, po, params):
        """Fixed-predictor frame with partition order ``po`` and one
        Rice parameter per partition (len(params) == 2**po)."""
        blocksize = len(samples)
        h = _BitWriter()
        h.put(0x3FFE, 14)
        h.put(0, 2)
        h.put(6, 4)
        h.put(0, 4)
        h.put(0, 4)  # mono
        h.put(4, 3)
        h.put(0, 1)
        header = h.flush() + bytes([0, blocksize - 1])
        header += bytes([_crc8(header)])
        body = _BitWriter()
        body.put(0, 1)
        body.put(8 + order, 6)
        body.put(0, 1)
        for v in samples[:order]:
            body.puts(v, 16)
        coefs = _FIXED_COEFS[order]
        body.put(0, 2)
        body.put(po, 4)
        idx = order
        for p, param in enumerate(params):
            n = (blocksize >> po) - (order if p == 0 else 0)
            body.put(param, 4)
            for _ in range(n):
                i = idx
                pred = sum(
                    c * samples[i - 1 - j] for j, c in enumerate(coefs)
                )
                res = samples[i] - pred
                zz = 2 * res if res >= 0 else -2 * res - 1
                q, r = zz >> param, zz & ((1 << param) - 1)
                for _ in range(q):
                    body.put(0, 1)
                body.put(1, 1)
                if param:
                    body.put(r, param)
                idx += 1
        frame = header + body.flush()
        frame += struct.pack(">H", _crc16(frame))
        return (
            b"fLaC" + _streaminfo(blocksize, 16000, 1, 16, blocksize) + frame
        )

    @pytest.mark.parametrize("po", [1, 2])
    def test_partitioned_rice_decodes(self, po):
        samples = [7, 9, 12, 16, 15, 13, 10, 8, 6, 5, 7, 10, 14, 19, 25, 32]
        params = [2 + (i % 3) for i in range(2**po)]
        d = decode_flac(self._encode_partitioned(samples, 1, po, params))
        assert d["samples"] == samples

    def test_escape_partition_raw_bits(self):
        # escape code (param 1111) -> 5-bit raw length; verbatim-coded
        # residuals inside one partition of a fixed-order-0 subframe.
        samples = [3, -3, 7, -7, 1, 0, -1, 2]
        h = _BitWriter()
        h.put(0x3FFE, 14)
        h.put(0, 2)
        h.put(6, 4)
        h.put(0, 4)
        h.put(0, 4)
        h.put(4, 3)
        h.put(0, 1)
        header = h.flush() + bytes([0, len(samples) - 1])
        header += bytes([_crc8(header)])
        body = _BitWriter()
        body.put(0, 1)
        body.put(8, 6)  # fixed order 0
        body.put(0, 1)
        body.put(0, 2)
        body.put(0, 4)   # one partition
        body.put(15, 4)  # ESCAPE
        body.put(5, 5)   # raw 5-bit residuals
        for v in samples:
            body.puts(v, 5)
        frame = header + body.flush()
        frame += struct.pack(">H", _crc16(frame))
        data = (
            b"fLaC"
            + _streaminfo(len(samples), 16000, 1, 16, len(samples))
            + frame
        )
        assert decode_flac(data)["samples"] == samples


class TestFlacLpc:
    def _encode_lpc(self, samples, coefs, shift, prec, rice_param=4):
        """LPC subframe: quantized predictor ``coefs`` (prec bits,
        newest-lag first), residual = s[i] - (Σ c_j·s[i-1-j] >> shift)."""
        order = len(coefs)
        blocksize = len(samples)
        h = _BitWriter()
        h.put(0x3FFE, 14)
        h.put(0, 2)
        h.put(6, 4)
        h.put(0, 4)
        h.put(0, 4)
        h.put(4, 3)
        h.put(0, 1)
        header = h.flush() + bytes([0, blocksize - 1])
        header += bytes([_crc8(header)])
        body = _BitWriter()
        body.put(0, 1)
        body.put(0x20 | (order - 1), 6)
        body.put(0, 1)
        for v in samples[:order]:
            body.puts(v, 16)
        body.put(prec - 1, 4)
        body.put(shift, 5)
        for c in coefs:
            body.puts(c, prec)
        body.put(0, 2)
        body.put(0, 4)
        body.put(rice_param, 4)
        for i in range(order, blocksize):
            pred = sum(
                c * samples[i - 1 - j] for j, c in enumerate(coefs)
            ) >> shift
            res = samples[i] - pred
            zz = 2 * res if res >= 0 else -2 * res - 1
            q, r = zz >> rice_param, zz & ((1 << rice_param) - 1)
            for _ in range(q):
                body.put(0, 1)
            body.put(1, 1)
            if rice_param:
                body.put(r, rice_param)
        frame = header + body.flush()
        frame += struct.pack(">H", _crc16(frame))
        return (
            b"fLaC" + _streaminfo(blocksize, 16000, 1, 16, blocksize) + frame
        )

    def test_lpc_order2_roundtrip(self):
        # A damped oscillation an order-2 predictor models well:
        # coefs ≈ [2cosθ, -1] scaled by 2^shift.
        samples = [1000, 980, 922, 830, 708, 563, 402, 233, 63, -99]
        coefs = [125, -64]  # (1.953, -1.0) at shift 6
        d = decode_flac(self._encode_lpc(samples, coefs, shift=6, prec=8))
        assert d["samples"] == samples

    def test_lpc_high_order_and_precision(self):
        samples = list(range(0, 64, 4)) + [30, 20, 12, 8, 7, 9, 14, 22]
        coefs = [900, -300, 120, -60]  # prec 12, shift 9
        d = decode_flac(
            self._encode_lpc(samples, coefs, shift=9, prec=12)
        )
        assert d["samples"] == samples

    def test_lpc_bad_precision_rejected(self):
        data = bytearray(self._encode_lpc([5] * 8, [64], shift=6, prec=8))
        # precision nibble sits right after order*16 warm-up bits:
        # subframe header byte is at offset 42+7; warm-up = 2 bytes;
        # flip the precision to the invalid 15 (stored 4 bits = 0b1111).
        # Easier: corrupt via decode of a crafted stream — set prec-1
        # bits to 1111 by re-encoding manually.
        h = _BitWriter()
        h.put(0x3FFE, 14)
        h.put(0, 2)
        h.put(6, 4)
        h.put(0, 4)
        h.put(0, 4)
        h.put(4, 3)
        h.put(0, 1)
        header = h.flush() + bytes([0, 7])
        header += bytes([_crc8(header)])
        body = _BitWriter()
        body.put(0, 1)
        body.put(0x20, 6)  # LPC order 1
        body.put(0, 1)
        body.puts(5, 16)   # warm-up
        body.put(15, 4)    # INVALID precision code
        body.put(0, 5)
        frame = header + body.flush()
        frame += struct.pack(">H", _crc16(frame))
        data = b"fLaC" + _streaminfo(8, 16000, 1, 16, 8) + frame
        with pytest.raises(ValueError):
            decode_flac(data)
