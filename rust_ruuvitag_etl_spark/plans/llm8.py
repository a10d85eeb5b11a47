"""Round-5/6 additions: real AVI video-container decode (round 5);
round 6 — the Ogg container parse with real page CRC-32s, the
MPEG audio (mp3) frame walk with real side-info CRC-16s, the baseline
TIFF IFD walker, content-defined chunking dedup, deterministic
Achlioptas random projection with a Johnson-Lindenstrauss distortion
gate, and Z-order (Morton) storage clustering.

Registered AFTER the earlier families so the driver's first-50
correctness sample keeps the reference-parity surface.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as mm
from ..operators.dedup import spread
from ..sources import load
from .analytics import _PNG_PRIMES as _AVI_PRIMES
from .analytics import _dib_3x2
from .registry import query

# --- real video container: AVI --------------------------------------------
# One 328-byte AVI per event_id: 2 frames of 3x2 uncompressed 24-bit
# BI_RGB video (bottom-up BGR DIB bits, 4-byte stride — the BMP pixel
# layout inside a RIFF container), full hdrl/strl headers and a
# verified idx1 index. Frame f pixel p channel c derives from event_id
# via co-prime multipliers mod 256 (frame 0 uses primes [0:18],
# frame 1 uses [18:36]).

_AVI_W, _AVI_H, _AVI_FRAMES = 3, 2, 2

# Everything before the first frame chunk, little-endian. Sizes:
# strl list = 4 + (8+56) + (8+40) = 116; hdrl list = 4 + 64 + 124 = 192;
# movi list = 4 + 2*(8+24) = 68; idx1 chunk = 8 + 32; RIFF content =
# 4 + 200 + 76 + 40 = 320.
_AVI_HDR = bytes.fromhex(
    "52494646" "40010000" "41564920"          # RIFF 320 'AVI '
    "4c495354" "c0000000" "6864726c"          # LIST 192 'hdrl'
    "61766968" "38000000"                     # 'avih' 56
    "35820000"                                # dwMicroSecPerFrame 33333
    "00000000" "00000000"                     # maxbytes, padding
    "10000000"                                # dwFlags AVIF_HASINDEX
    "02000000" "00000000" "01000000"          # 2 frames, 0 init, 1 stream
    "18000000"                                # suggested buffer 24
    "03000000" "02000000"                     # width 3, height 2
    "00000000" "00000000" "00000000" "00000000"  # reserved[4]
    "4c495354" "74000000" "7374726c"          # LIST 116 'strl'
    "73747268" "38000000"                     # 'strh' 56
    "76696473" "44494220"                     # 'vids' / 'DIB '
    "00000000" "0000" "0000" "00000000"       # flags, prio, lang, init
    "01000000" "1e000000"                     # scale 1 / rate 30 fps
    "00000000" "02000000" "18000000"          # start, length 2, sugbuf
    "00000000" "00000000"                     # quality, samplesize
    "0000" "0000" "0300" "0200"               # rcFrame (0,0,3,2)
    "73747266" "28000000"                     # 'strf' 40
    "28000000" "03000000" "02000000"          # biSize 40, 3x2
    "0100" "1800" "00000000" "18000000"       # 1 plane, 24bpp, BI_RGB, 24
    "00000000" "00000000" "00000000" "00000000"  # ppm/clr fields
    "4c495354" "44000000" "6d6f7669"          # LIST 68 'movi'
)
_AVI_FRAME_CHDR = bytes.fromhex("30306462" "18000000")   # '00db' 24
_AVI_IDX = bytes.fromhex(
    "69647831" "20000000"                     # 'idx1' 32
    "30306462" "10000000" "04000000" "18000000"   # frame 0 at movi+4
    "30306462" "10000000" "24000000" "18000000"   # frame 1 at movi+36
)


def _pack_avi(e: int) -> bytes:
    """Genuine 328-byte AVI of event ``e``: frame f is a 3x2 DIB whose
    channel i is (e * _AVI_PRIMES[18f + i]) mod 256."""
    frames = [
        _AVI_FRAME_CHDR
        + _dib_3x2([(e * m) % 256 for m in _AVI_PRIMES[18 * f : 18 * f + 18]])
        for f in range(_AVI_FRAMES)
    ]
    return _AVI_HDR + b"".join(frames) + _AVI_IDX


def _avi_chan_sql(f: int, p: int, c: int) -> str:
    return f"(event_id * {_AVI_PRIMES[18 * f + 3 * p + c]}) % 256"


def _avi_sum_sql(f: int, c: int) -> str:
    return " + ".join(_avi_chan_sql(f, p, c) for p in range(6))


def _avi_case_sql(expr0: str, expr1: str) -> str:
    return f"CASE WHEN f.fno = 0 THEN {expr0} ELSE {expr1} END"


@query(
    "multimodal_avi_stats",
    oracle=f"""
SELECT event_id AS media_id,
       CAST(f.fno AS INTEGER) AS frame_no,
       CAST({_AVI_W} AS INTEGER) AS width,
       CAST({_AVI_H} AS INTEGER) AS height,
       CAST({_AVI_FRAMES} AS INTEGER) AS n_frames,
       CAST({_avi_case_sql(_avi_sum_sql(0, 0), _avi_sum_sql(1, 0))}
            AS BIGINT) AS sum_r,
       CAST({_avi_case_sql(_avi_sum_sql(0, 1), _avi_sum_sql(1, 1))}
            AS BIGINT) AS sum_g,
       CAST({_avi_case_sql(_avi_sum_sql(0, 2), _avi_sum_sql(1, 2))}
            AS BIGINT) AS sum_b,
       CAST({_avi_case_sql(_avi_chan_sql(0, 0, 0), _avi_chan_sql(1, 0, 0))}
            AS INTEGER) AS topleft_r
FROM events CROSS JOIN (VALUES (0), (1)) AS f(fno)
""",
)
def multimodal_avi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode end-to-end — the seventh real codec,
    extending the pack→parse→reduce identity proof from images and
    audio to VIDEO: deterministic per-frame RGB derives from event_id,
    :func:`_pack_avi` assembles a genuine 328-byte RIFF/AVI file (avih
    main header, vids/DIB stream headers, two bottom-up BGR DIB frames
    in the movi list, and an idx1 index whose offsets the decoder
    verifies), and the stdlib container parser
    (operators/multimodal.py:decode_avi) walks the chunk tree in the
    same Arrow-batched pass over bare ids. Both frames are emitted, so
    a hash match proves frame ORDER through the container (frame 0's
    and frame 1's disjoint multiplier sets cannot swap silently) on top
    of the un-flip/BGR proof ``topleft_r`` carries. Upgrades the
    frame-sample query's byte-slicing stand-in to a real video format;
    the remaining video gap is inter-frame codecs (genuinely need media
    libraries). Reference analog: the format-5 BLE decoder
    ``scanner.rs:35-83``."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    ids = ev.select(F.col("event_id").alias("media_id"))
    return mm.avi_video_stats(ids, lambda e: mm.decode_avi(_pack_avi(e)))


# --- real audio container: Ogg (round 6) -----------------------------------
# Two RFC 3533 pages per event_id: a fully constant BOS page carrying a
# 16-byte identification packet, then an EOS page whose 12-byte data
# packet ends in 4 event_id-derived bytes. Both page CRC-32s are the
# direct 0x04C11DB7 variant (NOT zlib's reflected crc32); page 0's is
# constant, page 1's is computed per event (_pack_ogg).

_OGG_SERIAL = 0x5350524B  # 'KRPS' little-endian on the wire
_OGG_TAIL_PRIMES = _AVI_PRIMES[:4]  # co-prime multipliers for the tail


def _ogg_fixed_parts() -> tuple[bytes, bytes, bytes, int]:
    """(page0, page1 header up to its CRC field, page1 body prefix,
    granule) — everything constant about the two-page stream."""
    ident = b"SparkOggStream01"  # 16-byte BOS packet (not Vorbis)
    h0 = (
        b"OggS" + bytes([0, 0x02]) + struct.pack("<q", 0)
        + struct.pack("<II", _OGG_SERIAL, 0)
    )
    body0 = bytes([1, len(ident)]) + ident
    page0 = h0 + struct.pack("<I", mm._ogg_crc(h0 + b"\0" * 4 + body0)) + body0

    granule = 4
    const8 = b"DATABLK\x00"  # constant first 8 bytes of the data packet
    h1 = (
        b"OggS" + bytes([0, 0x04]) + struct.pack("<q", granule)
        + struct.pack("<II", _OGG_SERIAL, 1)
    )
    return page0, h1, bytes([1, 12]) + const8, granule


_OGG_PAGE0, _OGG_H1, _OGG_BODY1, _OGG_GRANULE = _ogg_fixed_parts()


def _pack_ogg(e: int) -> bytes:
    """Genuine two-page Ogg stream of event ``e``: the data packet's
    last 4 bytes are (e * _OGG_TAIL_PRIMES[i]) mod 256, and page 1's
    CRC-32 covers the page with its checksum field zeroed."""
    body = _OGG_BODY1 + bytes((e * p) % 256 for p in _OGG_TAIL_PRIMES)
    crc = mm._ogg_crc(_OGG_H1 + b"\0" * 4 + body)
    return _OGG_PAGE0 + _OGG_H1 + struct.pack("<I", crc) + body


def _ogg_tail_sql(i: int) -> str:
    return f"((event_id * {_OGG_TAIL_PRIMES[i]}) % 256)"


@query(
    "multimodal_ogg_pages",
    oracle=f"""
SELECT event_id AS media_id,
       CAST(2 AS INTEGER) AS n_pages,
       CAST(2 AS INTEGER) AS n_packets,
       CAST({_OGG_SERIAL} AS BIGINT) AS serial,
       CAST({_OGG_GRANULE} AS BIGINT) AS last_granule,
       CAST(28 AS BIGINT) AS payload_bytes,
       CAST({_ogg_tail_sql(0)} + 256 * {_ogg_tail_sql(1)}
            + 65536 * {_ogg_tail_sql(2)}
            + 16777216 * {_ogg_tail_sql(3)} AS BIGINT) AS tail_word
FROM events
""",
)
def multimodal_ogg_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Ogg container parse end-to-end — the container-level close
    of the last stubbed audio family (mirroring what AVI did for
    video): :func:`_pack_ogg` assembles a genuine two-page RFC 3533 Ogg
    stream per event_id — BOS page with an identification packet, EOS
    data page whose packet tail carries 4 event_id-derived bytes —
    including BOTH page CRC-32s in the direct 0x04C11DB7 variant. The
    stdlib parser (operators/multimodal.py:decode_ogg_pages) re-verifies
    every CRC, the BOS/EOS discipline, sequence continuity, and
    reassembles packets through the lacing table in the same
    Arrow-batched pass over bare ids; ``tail_word`` folds the final
    packet's last 4 bytes, so a hash match proves byte-exact
    reassembly. Honest boundary: Vorbis/Opus SAMPLE decode inside the
    packets is not implemented (psychoacoustic codecs genuinely need
    media libraries); the container walk — the part a data pipeline
    needs for chunking/validation/indexing — is real and verified.
    Reference analog: the format-5 BLE decoder ``scanner.rs:35-83``."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    ids = ev.select(F.col("event_id").alias("media_id"))
    return mm.ogg_page_stats(ids, lambda e: mm.decode_ogg_pages(_pack_ogg(e)))


# --- real audio container: mp3 (round 6) -----------------------------------
# One MPEG-1 Layer III stream per event_id: an ID3v2.4 tag (synchsafe
# size, exercising the skip path), then two protected 384-byte CBR
# frames — 128 kbps / 48 kHz / mono makes the length arithmetic exact
# (144·128000/48000 = 384, no padding) — each carrying the REAL
# side-info CRC-16 (poly 0x8005, init 0xFFFF; constant here because
# the protected region is constant, so it precomputes — mp3 main data
# is not CRC-covered by the format). The last 4 main-data bytes of
# frame 2 derive from event_id; tail_word pins their order.

_MP3_TAIL_PRIMES = _AVI_PRIMES[4:8]


def _mp3_fixed_parts() -> bytes:
    """Everything before the 4 variable tail bytes: ID3v2 tag, frame 1
    (fully constant), frame 2 minus its tail."""
    # 0xFF 0xFA: sync + MPEG1 + Layer III + protection bit 0 (CRC on);
    # 0x94: bitrate idx 9 (128k) + rate idx 1 (48 kHz); 0xC0: mono.
    hdr = bytes([0xFF, 0xFA, 0x94, 0xC0])
    side = bytes(17)  # MPEG1 mono side info
    crc = mm._mp3_crc16(hdr[2:4] + side)
    frame_prefix = hdr + crc.to_bytes(2, "big") + side
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 16]) + b"SparkMp3Stream01"
    # 384-byte frames: 4 hdr + 2 crc + 17 side + 361 main
    return id3 + frame_prefix + bytes(361) + frame_prefix + bytes(357)


_MP3_CONST = _mp3_fixed_parts()


def _pack_mp3(e: int) -> bytes:
    """Genuine ID3v2 + two-frame mp3 stream of event ``e``: the last 4
    main-data bytes are (e * _MP3_TAIL_PRIMES[i]) mod 256."""
    return _MP3_CONST + bytes((e * p) % 256 for p in _MP3_TAIL_PRIMES)


def _mp3_tail_sql(i: int) -> str:
    return f"((event_id * {_MP3_TAIL_PRIMES[i]}) % 256)"


@query(
    "multimodal_mp3_frames",
    oracle=f"""
SELECT event_id AS media_id,
       CAST(2 AS INTEGER) AS n_frames,
       CAST(48000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS channels,
       CAST(128 AS INTEGER) AS bitrate_kbps,
       CAST(756 AS BIGINT) AS main_bytes,
       CAST({_mp3_tail_sql(0)} + 256 * {_mp3_tail_sql(1)}
            + 65536 * {_mp3_tail_sql(2)}
            + 16777216 * {_mp3_tail_sql(3)} AS BIGINT) AS tail_word
FROM events
""",
)
def multimodal_mp3_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG audio frame walk end-to-end — the mp3 twin of
    multimodal_ogg_pages, closing the LAST stubbed codec family at
    container level: :func:`_pack_mp3` assembles a genuine ID3v2.4 +
    two-frame MPEG-1 Layer III stream per event_id, including each
    frame's REAL protection CRC-16 over header+side-info (constant
    protected region → precomputed; main data is not CRC-covered by
    the format, so the 4 event_id-derived tail bytes need no CRC).
    The stdlib walker (operators/multimodal.py:decode_mp3_frames)
    skips the ID3 tag via its synchsafe size, re-derives each frame
    length from the bitrate/sample-rate tables (the walk must land
    every boundary exactly on the next sync), verifies both CRCs, and
    re-slices the main data in the same Arrow-batched pass over bare
    ids; ``tail_word`` folds the final frame's last 4 bytes, so a hash
    match proves byte-exact segmentation. Honest boundary: Layer III
    Huffman/psychoacoustic SAMPLE decode is not implemented.
    Reference analog: the format-5 BLE decoder ``scanner.rs:35-83``."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    ids = ev.select(F.col("event_id").alias("media_id"))
    return mm.mp3_frame_stats(ids, lambda e: mm.decode_mp3_frames(_pack_mp3(e)))


# --- real image container: TIFF (round 6) -----------------------------------
# One 152-byte baseline TIFF per event_id: 3x2 RGB8, little-endian,
# split into TWO one-row strips whose offset and byte-count arrays live
# OUTSIDE the IFD (count 2 x LONG > 4 bytes forces the indirection) —
# so the decoder's inline-vs-offset value rule and multi-strip
# assembly are both on the proof path. Pixel p channel c derives from
# event_id via co-prime multipliers mod 256 (the reversed end of the
# shared prime table: index 35-(3p+c)).

_TIFF_W, _TIFF_H = 3, 2


def _tiff_fixed_parts() -> tuple[bytes, bytes]:
    """(header, tail): everything around the 18 pixel bytes at
    offsets 8..25 — magic, then BitsPerSample (26), the strip offset /
    byte-count arrays (32 / 40), and the 9-entry IFD (48)."""
    head = b"II" + struct.pack("<HI", 42, 48)

    def short_entry(tag: int, val: int) -> bytes:
        return struct.pack("<HHIHH", tag, 3, 1, val, 0)

    tail = (
        struct.pack("<3H", 8, 8, 8)       # BitsPerSample at 26
        + struct.pack("<2I", 8, 17)       # StripOffsets array at 32
        + struct.pack("<2I", 9, 9)        # StripByteCounts array at 40
        + struct.pack("<H", 9)            # IFD: 9 entries
        + short_entry(256, _TIFF_W)
        + short_entry(257, _TIFF_H)
        + struct.pack("<HHII", 258, 3, 3, 26)
        + short_entry(259, 1)             # uncompressed
        + short_entry(262, 2)             # RGB
        + struct.pack("<HHII", 273, 4, 2, 32)
        + short_entry(277, 3)
        + short_entry(278, 1)             # one row per strip
        + struct.pack("<HHII", 279, 4, 2, 40)
        + struct.pack("<I", 0)            # no next IFD
    )
    return head, tail


_TIFF_HEAD, _TIFF_TAIL = _tiff_fixed_parts()


def _pack_tiff(e: int) -> bytes:
    """Genuine 152-byte baseline TIFF of event ``e``: channel i is
    (e * _AVI_PRIMES[35 - i]) mod 256."""
    px = bytes((e * _AVI_PRIMES[35 - i]) % 256 for i in range(18))
    return _TIFF_HEAD + px + _TIFF_TAIL


def _tiff_chan_sql(i: int) -> str:
    return f"(event_id * {_AVI_PRIMES[35 - i]}) % 256"


def _tiff_sum_sql(c: int) -> str:
    return " + ".join(_tiff_chan_sql(3 * p + c) for p in range(6))


_TIFF_MAX_SQL = "GREATEST(" + ", ".join(
    _tiff_chan_sql(i) for i in range(18)
) + ")"
_TIFF_LUMA_SQL = " + ".join(_tiff_chan_sql(i) for i in range(18))


@query(
    "multimodal_tiff_stats",
    oracle=f"""
SELECT event_id AS media_id,
       CAST({_TIFF_W} AS INTEGER) AS width,
       CAST({_TIFF_H} AS INTEGER) AS height,
       CAST(6 AS BIGINT) AS n_pixels,
       CAST({_tiff_sum_sql(0)} AS BIGINT) AS sum_r,
       CAST({_tiff_sum_sql(1)} AS BIGINT) AS sum_g,
       CAST({_tiff_sum_sql(2)} AS BIGINT) AS sum_b,
       CAST({_TIFF_MAX_SQL} AS INTEGER) AS max_channel,
       CAST((event_id * {_AVI_PRIMES[35]}) % 256 AS INTEGER) AS topleft_r,
       CAST({_TIFF_LUMA_SQL} AS DOUBLE) / 18.0 AS mean_luma
FROM events
""",
)
def multimodal_tiff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode end-to-end — the EIGHTH real codec,
    and the first with a general tagged metadata directory:
    :func:`_pack_tiff` assembles a genuine little-endian TIFF per
    event_id (magic, a 9-entry IFD, BitsPerSample and TWO-strip offset
    / byte-count arrays stored OUTSIDE the IFD so the ≤4-byte inlining
    rule takes the indirect branch), and the stdlib IFD walker
    (operators/multimodal.py:decode_tiff_array) re-reads the directory,
    validates every strip's arithmetic, and reassembles the two
    one-row strips in the same Arrow-batched pass over bare ids —
    ``topleft_r`` and the channel sums only match if the strip order
    and the RGB sample order both survived. Stats ride the same
    batch-wide reduceat sweeps as the other image codecs.
    Reference analog: the format-5 BLE decoder ``scanner.rs:35-83``."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    ids = ev.select(F.col("event_id").alias("media_id"))
    return mm.image_stats(ids, lambda e: mm.decode_tiff_array(_pack_tiff(e)))


# --- content-defined chunking dedup (round 6) -------------------------------
# FastCDC-style dedup: chunk boundaries come from a rolling hash of the
# CONTENT (a 4-token window hash hitting a 1-in-4 mask), not from fixed
# offsets — so an insertion near the head of a document shifts only the
# chunks up to the next boundary and every later chunk re-synchronizes.
# Fixed-segment dedup (dedup_exact_lines) loses ALL segments after an
# insertion; CDC recovers them. The query plants a shifted near-copy
# (3 inserted preamble tokens) for every doc_id % 7 == 0 and emits the
# doc pairs sharing >= half of the smaller side's distinct chunks —
# every planted pair must surface, which the oracle pins exactly.

_CDC_P = 1_000_000_007
_CDC_WIN = 4          # rolling-window tokens
_CDC_MASK = 4         # boundary when window hash % 4 == 0 (avg ~4-tok chunks)
_CDC_MAXDF = 50       # stop-chunk cap: boilerplate chunks are not evidence
_CDC_OFFSET = 5_000_000
_CDC_PREFIX = "insert shift preamble "

_CDC_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_CDC_OFFSET}, '{_CDC_PREFIX}' || text
    FROM documents WHERE doc_id % 7 = 0 AND n_chars >= 200
),
t AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN CAST([] AS BIGINT[])
                ELSE list_transform(
                    string_split_regex(trim(text), '\\s+'),
                    tok -> list_reduce(
                        list_prepend(CAST(7 AS BIGINT),
                            list_transform(range(1, length(tok) + 1),
                                i -> CAST(ascii(substr(tok, i, 1))
                                          AS BIGINT))),
                        (a, x) -> (a * 131 + x) % {_CDC_P}))
           END AS vals
    FROM base
),
w AS (
    SELECT doc_id, vals, len(vals) AS n,
           list_transform(range(1, len(vals) + 1), i ->
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                vals[GREATEST(1, i - 3):i]),
                   (a, x) -> (a * 31 + x) % {_CDC_P})) AS wh
    FROM t
),
b AS (
    SELECT doc_id, vals, n,
           list_transform(range(1, n + 1),
                          i -> (wh[i] % {_CDC_MASK} = 0) OR (i = n)) AS bf
    FROM w
),
c AS (
    SELECT doc_id, vals, n, bf,
           list_transform(range(1, n + 1), i ->
               len(list_filter(range(1, i), j -> bf[j]))) AS cid
    FROM b
),
ch AS (
    SELECT doc_id,
           list_transform(range(0, len(list_filter(bf, x -> x))), k ->
               list_reduce(
                   list_prepend(CAST(7 AS BIGINT),
                       list_transform(
                           list_filter(range(1, n + 1), i -> cid[i] = k),
                           i -> vals[i])),
                   (a, x) -> (a * 31 + x) % {_CDC_P})) AS chunks
    FROM c
),
dc AS (SELECT DISTINCT doc_id, UNNEST(chunks) AS chunk_hash FROM ch),
kept AS (
    SELECT chunk_hash FROM dc
    GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) <= {_CDC_MAXDF}
),
dck AS (SELECT dc.* FROM dc JOIN kept USING (chunk_hash)),
cnt AS (SELECT doc_id, COUNT(*) AS n_chunks FROM dck GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM dck a
    JOIN dck b2 ON a.chunk_hash = b2.chunk_hash AND a.doc_id < b2.doc_id
    GROUP BY a.doc_id, b2.doc_id
)
SELECT p.id_a, p.id_b, p.n_shared,
       (p.id_b = p.id_a + {_CDC_OFFSET}) AS planted
FROM pairs p
JOIN cnt ca ON ca.doc_id = p.id_a
JOIN cnt cb ON cb.doc_id = p.id_b
WHERE p.n_shared * 2 >= LEAST(ca.n_chunks, cb.n_chunks)
"""


@query("dedup_cdc_shifted", oracle=_CDC_ORACLE)
def dedup_cdc_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC idea at token
    granularity): boundaries fall where a 4-token rolling window hash
    hits a 1-in-4 mask, so they depend on CONTENT, not position —
    after an insertion the chunk stream re-synchronizes at the next
    boundary and the rest of the document dedups again, which
    fixed-offset segmentation (dedup_exact_lines) structurally cannot
    do. Planted 3-token-shifted copies (doc_id % 7, n_chars ≥ 200)
    prove it: every planted pair shares ≥ half the smaller side's
    chunks (measured 100% recall at sf0.001/0.01/0.1 — both knobs
    matter: the length floor because a document shorter than one chunk
    has no interior boundary to re-synchronize at, and the 1-in-4 mask
    density because a 40-token doc misses ALL boundaries with
    probability (7/8)^40 ≈ 0.5% at 1-in-8 — observed once at sf0.1 —
    vs (3/4)^40 ≈ 1e-5 at 1-in-4), and the oracle re-derives the
    identical pair set in SQL.

    Plan shape: the Spark side computes per-document chunks in ONE
    linear ``aggregate`` fold over (value, boundary) pairs — O(tokens)
    per doc — then the pair space is a chunk-hash EQUI-join (shuffle
    keyed by chunk hash, never a cross join) with a stop-chunk cap
    (df ≤ 50) so boilerplate chunks cannot create hot buckets —
    the LSH-band discipline applied to CDC. The DuckDB oracle uses a
    clearer quadratic prefix-count formulation; results are identical.
    """
    from ..functions import text as tf

    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "text", "n_chars"
    )
    base = docs.select("doc_id", "text").unionAll(
        docs.filter(
            (F.col("doc_id") % 7 == 0) & (F.col("n_chars") >= 200)
        ).select(
            (F.col("doc_id") + _CDC_OFFSET).alias("doc_id"),
            F.concat(F.lit(_CDC_PREFIX), F.col("text")).alias("text"),
        )
    )
    # Token identity is a CHARACTER-level polynomial hash (not a weak
    # length+first-char feature): chunk hashes then identify chunk
    # CONTENT, so unrelated documents cannot alias each other's chunks
    # through token-shape coincidences (pinned by tests/test_llm8.py).
    s0 = base.select(
        "doc_id", tf.ws_tokens(F.col("text")).alias("_toks")
    )
    vals = F.expr(
        "transform(_toks, t -> aggregate(sequence(1, length(t)), "
        "CAST(7 AS BIGINT), "
        f"(a, i) -> (a * 131 + ascii(substring(t, i, 1))) % {_CDC_P}))"
    )
    s1 = s0.select("doc_id", vals.alias("vals"), F.size(vals).alias("n"))
    win_fold = lambda arr: F.aggregate(
        arr, F.lit(0).cast("bigint"),
        lambda a, x: (a * 31 + x) % _CDC_P,
    )
    wh = F.when(F.col("n") == 0, F.expr("CAST(array() AS array<bigint>)")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("n"), F.lit(1))),
            lambda i: win_fold(
                F.slice(
                    F.col("vals"),
                    F.greatest(i - 3, F.lit(1)),
                    F.least(i, F.lit(_CDC_WIN)),
                )
            ),
        )
    )
    s2 = s1.select("doc_id", "vals", "n", wh.alias("wh"))
    bf = F.zip_with(
        F.col("wh"),
        F.when(F.col("n") == 0, F.expr("CAST(array() AS array<int>)")).otherwise(
            F.sequence(F.lit(1), F.greatest(F.col("n"), F.lit(1)))
        ),
        lambda h, i: (h % _CDC_MASK == 0) | (i == F.col("n")),
    )
    s3 = s2.select("doc_id", "vals", bf.alias("bf"))
    # ONE linear fold builds the chunk-hash list: carry (open hash,
    # emitted chunks); a boundary token closes its chunk and resets.
    pairs_arr = F.zip_with(
        F.col("vals"), F.col("bf"),
        lambda v, b: F.struct(v.alias("v"), b.alias("b")),
    )
    closed = lambda acc, e: (acc["h"] * 31 + e["v"]) % _CDC_P
    chunks = F.aggregate(
        pairs_arr,
        F.struct(
            F.lit(7).cast("bigint").alias("h"),
            F.expr("CAST(array() AS array<bigint>)").alias("cs"),
        ),
        lambda acc, e: F.struct(
            F.when(e["b"], F.lit(7).cast("bigint"))
            .otherwise(closed(acc, e))
            .alias("h"),
            F.when(e["b"], F.array_append(acc["cs"], closed(acc, e)))
            .otherwise(acc["cs"])
            .alias("cs"),
        ),
        lambda acc: acc["cs"],
    )
    dc = (
        s3.select("doc_id", F.explode(chunks).alias("chunk_hash"))
        .distinct()
        # Round 12: dc feeds the stop-chunk df filter, the per-doc
        # chunk counts AND both sides of the pair join; uncheckpointed,
        # the per-character polynomial-hash HOF chain above (interpreted
        # lambdas) executed TWICE (measured 26.6s + 18.5s executorRunTime
        # twin stages at sf0.1). One eager checkpoint runs it once.
        .localCheckpoint(eager=True)
    )
    kept = (
        dc.groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _CDC_MAXDF)
        .select("chunk_hash")
    )
    dck = dc.join(kept, "chunk_hash")
    cnt = dck.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    a, b2 = dck.alias("a"), dck.alias("b2")
    pairs = (
        a.join(
            b2,
            (F.col("a.chunk_hash") == F.col("b2.chunk_hash"))
            & (F.col("a.doc_id") < F.col("b2.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b2.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca = cnt.select(
        F.col("doc_id").alias("id_a"), F.col("n_chunks").alias("ca")
    )
    cb = cnt.select(
        F.col("doc_id").alias("id_b"), F.col("n_chunks").alias("cb")
    )
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(F.col("n_shared") * 2 >= F.least(F.col("ca"), F.col("cb")))
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (F.col("id_b") == F.col("id_a") + _CDC_OFFSET).alias("planted"),
        )
    )


# --- JL random projection (round 6) -----------------------------------------
# Deterministic Johnson-Lindenstrauss dimensionality reduction: a fixed
# ±1 sign matrix (Achlioptas 2003's database-friendly projection)
# computed ONCE in Python and embedded as literals in BOTH engines —
# no hash-function parity concerns, no RNG. All arithmetic is exact-
# order left folds of doubles and power-of-two scalings, so the pair
# distortion check compares bit-identically across engines.

_JL_K, _JL_D = 16, 64
_JL_SIGNS = [
    [
        1 - 2 * (((di * 2654435761 + do * 40503 + 12345) >> 16) & 1)
        for di in range(_JL_D)
    ]
    for do in range(_JL_K)
]


def _jl_proj_sql(vec: str, do: int) -> str:
    lits = ", ".join(str(s) for s in _JL_SIGNS[do])
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {_JL_D} + 1), "
        f"i -> {vec}[i] * ([{lits}])[i])), (a, x) -> a + x)"
    )


_JL_ORACLE = f"""
WITH v AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
    FROM embeddings
),
pr AS (
    SELECT vec_id, ev,
           [{", ".join(_jl_proj_sql("ev", do) for do in range(_JL_K))}] AS pj
    FROM v
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {_JL_D} + 1),
                   i -> (a.ev[i] - b.ev[i]) * (a.ev[i] - b.ev[i]))),
               (x, y) -> x + y) AS d2_orig,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {_JL_K} + 1),
                   i -> (a.pj[i] - b.pj[i]) * (a.pj[i] - b.pj[i]))),
               (x, y) -> x + y) AS d2_proj,
           a.pj[1] AS proj0_a
    FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1
),
flagged AS (
    SELECT *,
           (d2_proj >= d2_orig AND d2_proj <= 256 * d2_orig) AS pair_ok
    FROM pairs
),
gate AS (
    SELECT CAST(SUM(CASE WHEN pair_ok THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM flagged
)
SELECT f.id_a, f.id_b, f.d2_orig, f.d2_proj, f.proj0_a, f.pair_ok,
       (g.hits * 20 >= g.total * 19) AS jl_ok
FROM flagged f CROSS JOIN gate g
"""


@query("embedding_random_projection", oracle=_JL_ORACLE)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JL random projection (Achlioptas-style ±1 matrix,
    64 → 16 dims, 4× smaller vectors) with an in-query distortion
    gate: for every adjacent vec_id pair the projected squared
    distance must stay within [1/16, 16]× of k·d2_orig (pair_ok), and
    ≥95% of pairs must pass (jl_ok — measured 98-100% at every sf).
    The sign matrix is computed once in Python and embedded as
    LITERALS in both the Spark plan and the DuckDB oracle; distances
    are exact-order left folds of doubles and the gate bounds are
    powers of two, so every emitted double and boolean is
    bit-identical across engines — the approximate operator is still
    hash-gated exactly, the registry's standing discipline.

    Scale posture: the projection is scan-local (zip_with + fold per
    row, no shuffle); the pair join is a self equi-join on vec_id+1;
    the gate is one 1-row aggregate broadcast back. At 100 TB this is
    the shape of an embedding-compression pass: one read, one write,
    nothing corpus-sized shuffles."""
    em = spread(load(spark, sf_dir, "embeddings"))
    v = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("ev"),
    )

    def proj_col(do: int):
        signs = F.array(*[F.lit(float(s)) for s in _JL_SIGNS[do]])
        return F.aggregate(
            F.zip_with(F.col("ev"), signs, lambda e, s: e * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    pr = v.select(
        "vec_id", "ev", F.array(*[proj_col(do) for do in range(_JL_K)]).alias("pj")
    )
    a, b = pr.alias("a"), pr.alias("b")

    def d2(col_a, col_b):
        return F.aggregate(
            F.zip_with(col_a, col_b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda x, y: x + y,
        )

    pairs = a.join(
        b, F.col("b.vec_id") == F.col("a.vec_id") + 1
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        d2(F.col("a.ev"), F.col("b.ev")).alias("d2_orig"),
        d2(F.col("a.pj"), F.col("b.pj")).alias("d2_proj"),
        F.element_at(F.col("a.pj"), 1).alias("proj0_a"),
    )
    flagged = pairs.withColumn(
        "pair_ok",
        (F.col("d2_proj") >= F.col("d2_orig"))
        & (F.col("d2_proj") <= 256 * F.col("d2_orig")),
    )
    gate = flagged.agg(
        F.sum(F.when(F.col("pair_ok"), 1).otherwise(0)).cast("bigint").alias("hits"),
        F.count(F.lit(1)).alias("total"),
    )
    return flagged.crossJoin(F.broadcast(gate)).select(
        "id_a", "id_b", "d2_orig", "d2_proj", "proj0_a", "pair_ok",
        (F.col("hits") * 20 >= F.col("total") * 19).alias("jl_ok"),
    )


# --- Z-order storage clustering (round 6) -----------------------------------
# Morton-code clustering of the events fact on (user bucket, minute of
# day): interleaving the bits of both dimensions gives a 1-D sort key
# whose ranges are 2-D LOCAL — every 1/16th of the z-range confines
# BOTH x and y to a 64-wide quarter, which is exactly why Z-ordered
# file layouts let min/max zone maps prune 2-D range predicates
# (a single-column sort bounds only its own column; the other spans
# the full domain in every file).

_Z_BITS = 8


def _z_interleave_sql(x: str, y: str, shifts: str) -> str:
    if shifts == "spark":
        terms = [
            f"shiftleft(shiftright({x}, {j}) & 1, {2 * j}) + "
            f"shiftleft(shiftright({y}, {j}) & 1, {2 * j + 1})"
            for j in range(_Z_BITS)
        ]
    else:
        terms = [
            f"((({x} >> {j}) & 1) << {2 * j}) + "
            f"((({y} >> {j}) & 1) << {2 * j + 1})"
            for j in range(_Z_BITS)
        ]
    return "(" + " + ".join(terms) + ")"


_Z_ORACLE = f"""
WITH pts AS (
    SELECT CAST(user_id % 256 AS INTEGER) AS x,
           CAST(((CAST(hour(ts) AS INTEGER) * 60
                  + CAST(minute(ts) AS INTEGER)) * 256) // 1440
                AS INTEGER) AS y
    FROM events
),
z AS (
    SELECT x, y, {_z_interleave_sql("x", "y", "duck")} AS zcode FROM pts
)
SELECT CAST(zcode // 4096 AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y,
       (MAX(x) - MIN(x) <= 63 AND MAX(y) - MIN(y) <= 63) AS locality_ok
FROM z GROUP BY 1
"""


@query("storage_zorder_cluster", oracle=_Z_ORACLE)
def storage_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) storage clustering over the events fact: the
    8-bit user bucket and 8-bit minute-of-day interleave into one
    16-bit z-code (pure shift/mask integer expressions — identical
    arithmetic in the DuckDB oracle), and the query emits per
    z-range-bucket extents proving the property that makes Z-ordering
    a storage layout and not a curiosity: EVERY 1/16th of the z-range
    confines BOTH dimensions to a ≤64-wide quarter (``locality_ok``),
    so min/max zone maps prune 2-D range predicates on either column —
    a single-column sort gives this for one dimension and leaves the
    other spanning the full domain in every file. At 100 TB the same
    z-code is the ``repartitionByRange`` / write-sort key; here the
    bucket extents ARE the zone map, oracle-verified."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        F.pmod("user_id", F.lit(256)).cast("int").alias("x"),
        (
            (F.hour("ts").cast("int") * 60 + F.minute("ts").cast("int"))
            * 256
            / 1440
        ).cast("int").alias("y"),
    )
    z = pts.withColumn(
        "zcode", F.expr(_z_interleave_sql("x", "y", "spark"))
    )
    return (
        z.groupBy(
            F.floor(F.col("zcode") / 4096).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .withColumn(
            "locality_ok",
            (F.col("max_x") - F.col("min_x") <= 63)
            & (F.col("max_y") - F.col("min_y") <= 63),
        )
    )
