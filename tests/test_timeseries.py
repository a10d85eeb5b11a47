"""Tests for the as-of join operator and multimodal binary plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_ruuvitag_etl_spark.operators import multimodal as mm
from rust_ruuvitag_etl_spark.operators.asof import asof_join


def _rows(pixels):
    """Rows of (r, g, b) tuples as the nested lists ``rgb.tolist()``
    returns."""
    return [[list(px) for px in row] for row in pixels]


class TestAsofJoin:
    def _frames(self, spark):
        trades = spark.createDataFrame(
            [
                ("A", "2024-01-01T10:00:05", 100),
                ("A", "2024-01-01T10:00:30", 101),
                ("B", "2024-01-01T10:00:10", 200),
                ("C", "2024-01-01T10:00:10", 300),  # no quotes at all
            ],
            "sym string, ts_s string, trade_id int",
        ).select("sym", F.col("ts_s").cast("timestamp").alias("ts"), "trade_id")
        quotes = spark.createDataFrame(
            [
                ("A", "2024-01-01T10:00:00", 10.0),
                ("A", "2024-01-01T10:00:05", 10.5),  # equal ts → inclusive
                ("A", "2024-01-01T10:00:20", 11.0),
                ("B", "2024-01-01T10:00:15", 20.0),  # after the trade
            ],
            "sym string, ts_s string, px double",
        ).select("sym", F.col("ts_s").cast("timestamp").alias("ts"), "px")
        return trades, quotes

    def test_backward_inclusive(self, spark):
        trades, quotes = self._frames(spark)
        out = asof_join(trades, quotes, key="sym", right_value_cols=("px",))
        got = {r["trade_id"]: r["px_asof"] for r in out.collect()}
        assert got[100] == 10.5  # equal-ts quote wins (inclusive)
        assert got[101] == 11.0  # latest prior quote
        assert got[200] is None  # only future quotes exist
        assert got[300] is None  # key never quoted
        assert len(got) == 4  # every left row survives

    def test_forward_inclusive(self, spark):
        trades, quotes = self._frames(spark)
        out = asof_join(
            trades, quotes, key="sym", right_value_cols=("px",), forward=True
        )
        got = {r["trade_id"]: r["px_next"] for r in out.collect()}
        assert got[100] == 10.5  # equal-ts quote wins (inclusive >=)
        assert got[101] is None  # no quote after 10:00:30
        assert got[200] == 20.0  # the future quote is now reachable
        assert got[300] is None  # key never quoted
        assert len(got) == 4


class TestMultimodal:
    def test_extract_features(self, spark):
        docs = spark.createDataFrame(
            [(1, "hello"), (2, ""), (3, "wörld")], "doc_id long, text string"
        )
        feats = {
            r["media_id"]: r
            for r in mm.extract_features(mm.documents_as_media(docs)).collect()
        }
        import hashlib

        assert feats[1]["n_bytes"] == 5
        assert feats[1]["digest"] == hashlib.md5(b"hello").hexdigest()
        assert feats[2]["n_bytes"] == 0 and feats[2]["first_byte"] == -1
        assert feats[3]["n_bytes"] == 6  # ö is 2 bytes in UTF-8

    def test_frame_sampling(self, spark):
        docs = spark.createDataFrame(
            [(1, "x" * 2560)], "doc_id long, text string"
        )
        frames = mm.sample_frames(mm.documents_as_media(docs), every_nth=2).collect()
        assert [r["frame_no"] for r in frames] == [0, 2, 4, 6, 8]
        assert all(len(r["frame"]) == 256 for r in frames)

    def test_resize_keeps_every_kth_byte(self, spark):
        docs = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, text string")
        out = mm.resize_media(mm.documents_as_media(docs), factor=2).collect()
        assert len(out) == 1
        assert bytes(out[0]["content"]) == b"aceg"
        assert out[0]["scale_factor"] == 2


class TestWavCodec:
    """The REAL RIFF/PCM16 decoder, cross-checked against files written
    by the stdlib ``wave`` module (an independent implementation of the
    format)."""

    def _wav_bytes(self, samples, rate=8000, channels=1):
        import io
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    def test_roundtrip_vs_stdlib_wave(self):
        samples = [0, 1, -1, 32767, -32768, 12345, -12345, 100]
        d = mm.decode_wav(self._wav_bytes(samples, rate=44100))
        assert d["sample_rate"] == 44100
        assert d["n_channels"] == 1
        assert d["bits"] == 16
        assert list(d["samples"]) == samples

    def test_chunk_walk_skips_unknown_chunks(self):
        """A LIST chunk (odd-sized, exercising the padding rule) between
        fmt and data must be skipped, not break the parse."""
        import struct

        raw = self._wav_bytes([7, -7, 7])
        fmt_end = raw.index(b"data")
        extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad
        patched = (
            raw[:4]
            + struct.pack("<I", struct.unpack_from("<I", raw, 4)[0] + len(extra))
            + raw[8:fmt_end]
            + extra
            + raw[fmt_end:]
        )
        d = mm.decode_wav(patched)
        assert list(d["samples"]) == [7, -7, 7]

    def test_malformed_payloads_raise(self):
        with pytest.raises(ValueError):
            mm.decode_wav(b"not a wav at all....")
        with pytest.raises(ValueError):
            mm.decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data
        # non-PCM format tag → NotImplementedError (compressed codec)
        import struct

        raw = bytearray(self._wav_bytes([1, 2]))
        fmt_at = raw.index(b"fmt ") + 8
        struct.pack_into("<H", raw, fmt_at, 3)  # IEEE float tag
        with pytest.raises(NotImplementedError):
            mm.decode_wav(bytes(raw))

    def test_wav_audio_stats_spark(self, spark):
        samples = [10, -20, 30, -40]
        df = spark.createDataFrame(
            [(1, bytearray(self._wav_bytes(samples)))],
            "media_id long, content binary",
        )
        row = mm.pcm_audio_stats(df, mm.decode_wav).collect()[0]
        assert row["n_samples"] == 4
        assert row["sum_samples"] == -20
        assert row["max_abs"] == 40
        assert row["mean_sample"] == -5.0
        assert row["sample_rate"] == 8000


class TestBmpCodec:
    """The REAL BMP decoder, cross-checked against bitmaps built by an
    independent hand-rolled writer (header laid out field by field)."""

    @staticmethod
    def _bmp_bytes(pixels, top_down=False):
        """pixels: rows (top→bottom) of (r, g, b). Writes 24-bit BI_RGB
        with proper stride padding; bottom-up unless top_down."""
        import struct

        h, w = len(pixels), len(pixels[0])
        stride = (w * 3 + 3) & ~3
        body = bytearray()
        file_rows = pixels if top_down else pixels[::-1]
        for row in file_rows:
            for r, g, b in row:
                body += bytes((b, g, r))
            body += b"\x00" * (stride - w * 3)
        header = struct.pack(
            "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
        ) + struct.pack(
            "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
            len(body), 0, 0, 0, 0,
        )
        return bytes(header + body)

    PIXELS = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],  # top row: R G B
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]

    def test_bottom_up_roundtrip(self):
        d = mm.decode_bmp_array(self._bmp_bytes(self.PIXELS))
        assert (d["width"], d["height"]) == (3, 2)
        # rows un-flipped to top→bottom
        assert d["rgb"].tolist() == _rows(self.PIXELS)

    def test_top_down_roundtrip(self):
        d = mm.decode_bmp_array(self._bmp_bytes(self.PIXELS, top_down=True))
        assert d["rgb"].tolist() == _rows(self.PIXELS)

    def test_malformed_payloads_raise(self):
        import struct

        with pytest.raises(ValueError):
            mm.decode_bmp_array(b"PNG not a bmp" + b"\x00" * 60)
        # truncated pixel array
        raw = self._bmp_bytes(self.PIXELS)
        with pytest.raises(ValueError):
            mm.decode_bmp_array(raw[:-8])
        # 8-bit palettized → NotImplementedError
        raw8 = bytearray(raw)
        struct.pack_into("<H", raw8, 28, 8)
        with pytest.raises(NotImplementedError):
            mm.decode_bmp_array(bytes(raw8))

    def test_bmp_image_stats_spark(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(self._bmp_bytes(self.PIXELS)))],
            "media_id long, content binary",
        )
        row = mm.image_stats(df, mm.decode_bmp_array).collect()[0]
        assert (row["width"], row["height"], row["n_pixels"]) == (3, 2, 6)
        assert row["sum_r"] == 255 + 10 + 40 + 70
        assert row["sum_g"] == 255 + 20 + 50 + 80
        assert row["sum_b"] == 255 + 30 + 60 + 90
        assert row["max_channel"] == 255
        assert row["topleft_r"] == 255  # top-left pixel is pure red
        total = (255 * 3) + sum(range(10, 100, 10))
        assert row["mean_luma"] == total / 18


class TestSlidingWindow:
    def test_each_event_in_exactly_two_windows(self, spark):
        from rust_ruuvitag_etl_spark.plans import REGISTRY
        from rust_ruuvitag_etl_spark.sources import load
        from .conftest import SF_SMALL

        out = REGISTRY["sliding_window_user_value"].fn(spark, SF_SMALL)
        total = out.agg(F.sum("n")).collect()[0][0]
        n_events = load(spark, SF_SMALL, "events").count()
        assert total == 2 * n_events

    def test_window_starts_quarter_aligned(self, spark):
        from rust_ruuvitag_etl_spark.plans import REGISTRY
        from .conftest import SF_SMALL

        rows = REGISTRY["sliding_window_user_value"].fn(spark, SF_SMALL).head(50)
        for r in rows:
            ws = r["window_start"]
            assert ws.minute % 15 == 0 and ws.second == 0


class TestGapFill:
    def test_grid_contiguous_and_fill_forward(self, spark):
        from rust_ruuvitag_etl_spark.plans.timeseries import timeseries_gap_fill

        from .conftest import SF_SMALL

        out = timeseries_gap_fill(spark, SF_SMALL)
        rows = out.orderBy("user_id", "window_start").collect()
        assert rows
        by_user: dict[int, list] = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r)
        checked_gap = False
        for user, rs in by_user.items():
            # grid is contiguous at 30-minute steps
            for a, b in zip(rs, rs[1:]):
                assert (
                    b["window_start"] - a["window_start"]
                ).total_seconds() == 1800, (user, a, b)
            # first bucket is observed (grid starts at min observed)
            assert rs[0]["avg_value"] is not None
            # forward fill: filled_value equals the last observed value
            last = None
            for r in rs:
                if r["avg_value"] is not None:
                    last = r["avg_value"]
                    assert r["is_gap"] is False
                else:
                    assert r["is_gap"] is True
                    checked_gap = True
                assert r["filled_value"] == last
        assert checked_gap, "corpus produced no gaps; test is vacuous"


class TestBmpCodecFuzz:
    """Property-based roundtrip: any pixel grid (1..5 wide — covers all
    four stride-padding cases — and 1..4 tall, both row orders) must
    survive write→decode exactly; arbitrary byte junk must never decode
    silently."""

    @staticmethod
    def _grid(w, h, seed):
        import random

        rnd = random.Random(seed)
        return [
            [(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
             for _ in range(w)]
            for _ in range(h)
        ]

    def test_roundtrip_all_strides_and_orders(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(
            st.integers(1, 5), st.integers(1, 4),
            st.integers(0, 10_000), st.booleans(),
        )
        def prop(w, h, seed, top_down):
            pixels = self._grid(w, h, seed)
            raw = TestBmpCodec._bmp_bytes(pixels, top_down=top_down)
            d = mm.decode_bmp_array(raw)
            assert (d["width"], d["height"]) == (w, h)
            assert d["rgb"].tolist() == _rows(pixels)

        prop()

    def test_junk_never_decodes_silently(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=100, deadline=None)
        @given(st.binary(min_size=0, max_size=120))
        def prop(junk):
            try:
                mm.decode_bmp_array(junk)
            except (ValueError, NotImplementedError):
                return
            # decoding junk without the BM magic must be impossible
            assert junk[:2] == b"BM"

        prop()


class TestPngCodec:
    """The REAL stdlib-zlib PNG decoder, cross-checked against an
    in-test encoder (an independent implementation of the format:
    real zlib compression, per-row filter choice, chunked IDAT)."""

    @staticmethod
    def _encode(rgb_rows, filters, color=2, idat_split=1):
        """Encode rows of (r,g,b) tuples as a PNG with the given
        per-row filter cycle and color type (0 grey / 2 RGB / 6 RGBA)."""
        import struct
        import zlib

        h, w = len(rgb_rows), len(rgb_rows[0])
        bpp = {0: 1, 2: 3, 6: 4}[color]

        def channels(px):
            if color == 0:
                return (px[0],)
            if color == 6:
                return (*px, 200)
            return px

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        raw = bytearray()
        prev = [0] * (w * bpp)
        for y, row in enumerate(rgb_rows):
            line = [c for px in row for c in channels(px)]
            ft = filters[y % len(filters)]
            raw.append(ft)
            for i, v in enumerate(line):
                left = line[i - bpp] if i >= bpp else 0
                upleft = prev[i - bpp] if i >= bpp else 0
                pred = {
                    0: 0,
                    1: left,
                    2: prev[i],
                    3: (left + prev[i]) // 2,
                    4: paeth(left, prev[i], upleft),
                }[ft]
                raw.append((v - pred) % 256)
            prev = line
        comp = zlib.compress(bytes(raw), 6)
        step = max(1, len(comp) // idat_split)
        idats = b"".join(
            chunk(b"IDAT", comp[i : i + step])
            for i in range(0, len(comp), step)
        )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + idats
            + chunk(b"IEND", b"")
        )

    PIXELS = [
        [(10, 20, 30), (40, 50, 60), (250, 0, 128)],
        [(1, 2, 3), (130, 140, 150), (255, 255, 255)],
    ]

    def test_roundtrip_each_filter(self):
        for ft in range(5):
            d = mm.decode_png_array(self._encode(self.PIXELS, [ft]))
            assert (d["width"], d["height"]) == (3, 2)
            assert d["rgb"].tolist() == _rows(self.PIXELS), f"filter {ft}"

    def test_roundtrip_mixed_filters_and_split_idat(self):
        d = mm.decode_png_array(self._encode(self.PIXELS, [1, 4], idat_split=3))
        assert d["rgb"].tolist() == _rows(self.PIXELS)

    def test_greyscale_expands_and_rgba_drops_alpha(self):
        grey = [[(7, 7, 7), (200, 200, 200)]]
        assert mm.decode_png_array(
            self._encode(grey, [0], color=0)
        )["rgb"].tolist() == _rows(grey)
        assert mm.decode_png_array(
            self._encode(self.PIXELS, [2], color=6)
        )["rgb"].tolist() == _rows(self.PIXELS)

    def test_rejects_bad_signature_crc_and_truncation(self):
        raw = self._encode(self.PIXELS, [1])
        with pytest.raises(ValueError):
            mm.decode_png_array(b"BM" + raw[2:])
        corrupted = bytearray(raw)
        corrupted[20] ^= 0xFF  # flip an IHDR body byte -> CRC mismatch
        with pytest.raises(ValueError):
            mm.decode_png_array(bytes(corrupted))
        with pytest.raises(ValueError):
            mm.decode_png_array(raw[:-16])  # IEND (and IDAT tail) gone

    def test_rejects_unknown_filter_and_wrong_length(self):
        import struct
        import zlib

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        sig = b"\x89PNG\r\n\x1a\n"
        bad_filter = chunk(b"IDAT", zlib.compress(bytes([9, 1, 2, 3])))
        with pytest.raises(ValueError, match="filter"):
            mm.decode_png_array(sig + ihdr + bad_filter + chunk(b"IEND", b""))
        short = chunk(b"IDAT", zlib.compress(bytes([0, 1, 2])))
        with pytest.raises(ValueError, match="length"):
            mm.decode_png_array(sig + ihdr + short + chunk(b"IEND", b""))

    def test_unsupported_variants_raise_notimplemented(self):
        import struct
        import zlib

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        sig = b"\x89PNG\r\n\x1a\n"
        for depth, color, interlace in ((16, 2, 0), (8, 3, 0), (8, 2, 1)):
            ihdr = chunk(
                b"IHDR", struct.pack(">IIBBBBB", 1, 1, depth, color, interlace and 0 or 0, 0, interlace)
            )
            with pytest.raises(NotImplementedError):
                mm.decode_png_array(sig + ihdr + chunk(b"IEND", b""))


class TestPngCodecFuzz:
    def test_roundtrip_random_grids(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(
            st.integers(1, 5), st.integers(1, 5), st.integers(0, 10_000),
            st.lists(st.integers(0, 4), min_size=1, max_size=5),
        )
        def prop(w, h, seed, filters):
            pixels = TestBmpCodecFuzz._grid(w, h, seed)
            d = mm.decode_png_array(TestPngCodec._encode(pixels, filters))
            assert (d["width"], d["height"]) == (w, h)
            assert d["rgb"].tolist() == _rows(pixels)

        prop()

    def test_junk_never_decodes_silently(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=100, deadline=None)
        @given(st.binary(min_size=0, max_size=120))
        def prop(junk):
            try:
                mm.decode_png_array(junk)
            except (ValueError, NotImplementedError):
                return
            assert junk[:8] == b"\x89PNG\r\n\x1a\n"

        prop()

class TestGifCodec:
    """The REAL GIF/LZW decoder, cross-checked against an in-test
    encoder that is a genuine dictionary-growing LZW compressor (not
    the literal-code form the in-engine packer emits) — so round-trips
    exercise width growth, dictionary hits, and the KwKwK case."""

    @staticmethod
    def _lzw_encode(indices, mcs):
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        width = mcs + 1
        codes = [(clear, width)]
        table = {(i,): i for i in range(clear)}
        next_code = eoi + 1
        buf = ()
        for px in indices:
            cand = buf + (px,)
            if cand in table:
                buf = cand
                continue
            codes.append((table[buf], width))
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
            buf = (px,)
        if buf:
            codes.append((table[buf], width))
        codes.append((eoi, width))
        out, acc, nbits = bytearray(), 0, 0
        for c, w in codes:
            acc |= c << nbits
            nbits += w
            while nbits >= 8:
                out.append(acc & 255)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 255)
        return bytes(out)

    @classmethod
    def _encode(cls, pixels, n_colors=256, extension=False):
        """Full GIF file: palette = the distinct pixel colors; indices
        LZW-compressed with the real encoder; data split into <=255
        sub-blocks."""
        import struct

        h, w = len(pixels), len(pixels[0])
        palette = sorted({px for row in pixels for px in row})
        assert len(palette) <= n_colors
        lut = {c: i for i, c in enumerate(palette)}
        indices = [lut[px] for row in pixels for px in row]
        size_field = max(1, (n_colors - 1).bit_length() - 1)
        table = bytearray()
        for i in range(2 << size_field):
            table += bytes(palette[i]) if i < len(palette) else b"\x00\x00\x00"
        mcs = max(2, size_field + 1)
        data = cls._lzw_encode(indices, mcs)
        blocks = bytearray()
        for i in range(0, len(data), 100):
            chunk = data[i : i + 100]
            blocks += bytes((len(chunk),)) + chunk
        ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00" if extension else b""
        return (
            b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | (0x70 | size_field), 0, 0)
            + bytes(table)
            + ext
            + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
            + bytes((mcs,))
            + bytes(blocks)
            + b"\x00\x3b"
        )

    PIXELS = [
        [(10, 20, 30), (40, 50, 60), (250, 0, 128)],
        [(10, 20, 30), (10, 20, 30), (10, 20, 30)],
    ]

    def test_roundtrip_with_real_compression(self):
        d = mm.decode_gif_array(self._encode(self.PIXELS))
        assert (d["width"], d["height"]) == (3, 2)
        assert d["rgb"].tolist() == _rows(self.PIXELS)

    def test_skips_89a_extension_blocks(self):
        d = mm.decode_gif_array(self._encode(self.PIXELS, extension=True))
        assert d["rgb"].tolist() == _rows(self.PIXELS)

    def test_rejects_junk_truncation_and_interlace(self):
        raw = self._encode(self.PIXELS)
        with pytest.raises(ValueError):
            mm.decode_gif_array(b"NOTGIF" + raw[6:])
        with pytest.raises(ValueError):
            mm.decode_gif_array(raw[:-6])  # LZW stream truncated
        interlaced = bytearray(raw)
        # image descriptor packed byte: flip the interlace bit
        idx = raw.index(b"\x2c")
        interlaced[idx + 9] |= 0x40
        with pytest.raises(NotImplementedError):
            mm.decode_gif_array(bytes(interlaced))

    def test_roundtrip_fuzz_runs_and_dictionary(self):
        """Run-heavy grids force long dictionary chains and KwKwK."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=50, deadline=None)
        @given(st.integers(1, 6), st.integers(1, 6), st.integers(0, 10_000))
        def prop(w, h, seed):
            import random

            rnd = random.Random(seed)
            colors = [(rnd.randrange(256),) * 3 for _ in range(4)]
            pixels = [
                [colors[rnd.randrange(len(colors))] for _ in range(w)]
                for _ in range(h)
            ]
            d = mm.decode_gif_array(self._encode(pixels, n_colors=256))
            assert (d["width"], d["height"]) == (w, h)
            assert d["rgb"].tolist() == _rows(pixels)

        prop()


class TestSeasonalDecompose:
    def _write_events(self, spark, tmp_path, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/events.parquet"
        )

    def test_constant_series_decomposes_to_zero(self, spark, tmp_path):
        """A constant hourly series must yield trend == the constant,
        seasonal == 0, resid == 0 at every interior point — the
        decomposition identity with no signal to mis-attribute."""
        import datetime as dt

        from rust_ruuvitag_etl_spark.plans.timeseries import (
            timeseries_seasonal_decompose,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (i, t0 + dt.timedelta(hours=i), 1, "m", 7.5, "{}")
            for i in range(72)
        ]
        self._write_events(spark, tmp_path, rows)
        got = timeseries_seasonal_decompose(spark, str(tmp_path)).collect()
        # 72 buckets, 24 edge rows excluded (12 each side)
        assert len(got) == 72 - 24
        for r in got:
            assert r["hourly_total"] == 7.5
            assert r["trend"] == 7.5
            assert r["seasonal"] == 0.0
            assert r["resid"] == 0.0

    def test_components_sum_to_series(self, spark):
        """resid + trend + seasonal must reconstruct the hourly total
        (within the 1e-6 rounding grain) on the real corpus, and only
        complete 25-hour neighborhoods may appear."""
        from rust_ruuvitag_etl_spark.plans.timeseries import (
            timeseries_seasonal_decompose,
        )

        got = timeseries_seasonal_decompose(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(got) > 0
        for r in got:
            recon = r["trend"] + r["seasonal"] + r["resid"]
            assert abs(recon - r["hourly_total"]) < 3e-6


class TestHoltWinters:
    def test_constant_series_forecasts_constant(self, spark, tmp_path):
        """With y == c everywhere: level pins to c, trend and seasonal
        stay 0, so every one-step forecast is exactly c."""
        import datetime as dt

        from rust_ruuvitag_etl_spark.plans.timeseries import (
            timeseries_holt_winters,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (i, t0 + dt.timedelta(hours=i), 1, "m", 5.25, "{}")
            for i in range(60)
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/events.parquet"
        )
        got = timeseries_holt_winters(spark, str(tmp_path)).collect()
        assert len(got) == 60
        for r in got:
            assert r["actual"] == 5.25
            assert r["forecast_next"] == 5.25

    def test_learns_daily_seasonality(self, spark, tmp_path):
        """On a perfectly 24-periodic series the seasonal state halves
        its error every period: the last day's forecasts must be much
        closer to the actuals than the first day's."""
        import datetime as dt

        from rust_ruuvitag_etl_spark.plans.timeseries import (
            timeseries_holt_winters,
        )

        t0 = dt.datetime(2024, 1, 1)
        pattern = [10.0 + (h % 24) for h in range(24)]
        rows = [
            (i, t0 + dt.timedelta(hours=i), 1, "m", pattern[i % 24], "{}")
            for i in range(24 * 8)
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/events.parquet"
        )
        got = sorted(
            timeseries_holt_winters(spark, str(tmp_path)).collect(),
            key=lambda r: r["bucket_ts"],
        )
        # forecast_next at row t predicts actual at t+1. With
        # alpha = gamma = 1/2 the level chases part of the seasonal
        # swing each step, so a discontinuous sawtooth converges to a
        # tracking plateau rather than zero error (measured day-max
        # error 24 -> 18 -> 13.5 -> ~10): assert the learning halves
        # the first day's error and keeps improving monotonically over
        # the first three days.
        errs = [
            abs(got[t]["forecast_next"] - got[t + 1]["actual"])
            for t in range(len(got) - 1)
        ]
        day_max = [max(errs[d * 24 : (d + 1) * 24]) for d in range(7)]
        assert day_max[0] > day_max[1] > day_max[2]
        assert max(errs[-24:]) < day_max[0] / 2
