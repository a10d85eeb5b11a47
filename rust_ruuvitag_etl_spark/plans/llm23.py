"""Round-11 wave 1 — perceptual-hash image dedup and incremental ANN
index maintenance (the two capability gaps the round-10 verdict named):

* aHash near-duplicate detection (`dedup_image_phash`): the promise in
  dedup_image_bands' docstring made real — 8x4 24-bit BMPs decoded with
  the REAL stdlib codec, a 32-bit average-hash (aHash: per-pixel
  luminance vs image mean) computed from the decoded pixels, banded
  Hamming blocking (two 16-bit bands; pigeonhole gives recall 1.0 for
  Hamming distance <= 1), and planted brightness-shifted copies that
  aHash is EXACTLY invariant to (see the derivation below);
* incremental IVF maintenance (`similarity_ivf_append_maintain`): new
  embeddings append to the persisted IVF index as a SEGMENT (assign to
  the existing centroids, write new bucket files, re-register) without
  touching the base index files — the production loop that keeps an
  ANN index fresh between full rebuilds — with in-query flags asserting
  (a) probe-recall against the exact top-k and (b) EXACT probe parity
  between the segment-maintained index and a rebuilt-from-scratch
  assignment, both of which the oracle asserts TRUE.

aHash brightness invariance (why the planted copies are found at
Hamming 0 BY CONSTRUCTION, not by tuning): adding a constant B to every
channel adds 3B to every pixel luminance and 32*3B to the luminance
total, so the bit predicate lum*32 > total is unchanged term for term —
exactly invariant as long as no channel clamps at 255. Channels are
derived mod 200 (max 199) and B = 16, so clamping can never occur.

Float discipline: the image family is integer end to end; the ANN
family emits the exact brute-force rows (the similarity_ivf_topk
convention) whose cosines both engines compute with one identical
double op sequence.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators.dedup import spread
from ..sources import load
from .llm import _SIM_ORACLE, _warehouse_dir, sf_slug
from .registry import query

# --- aHash perceptual image dedup ---------------------------------------------

_AH_W, _AH_H = 8, 4  # 32 pixels -> 32 aHash bits -> 2 x 16-bit bands
_AH_PIXELS = _AH_W * _AH_H
_AH_CHANNELS = 3 * _AH_PIXELS
_AH_BYTES_PER_HASH = 7  # 60-bit h60 yields 7 full bytes (256^7 < 2^60)
_AH_NHASH = -(-_AH_CHANNELS // _AH_BYTES_PER_HASH)  # 14
_AH_COPY_MOD = 9  # every 9th image gets a planted brightness-shifted copy
_AH_BRIGHT = 16  # uniform +16 per channel; 199 + 16 < 256 -> never clamps
_AH_HD_MAX = 1  # 2 bands find ALL pairs at Hamming <= 1 (pigeonhole)


def _ah_header_hex() -> str:
    """54-byte BMP header (BITMAPFILEHEADER + BITMAPINFOHEADER) for the
    8x4 24-bit BI_RGB layout — constant, computed once. Stride 8*3 = 24
    is already 4-byte aligned, so rows carry no padding."""
    stride = (_AH_W * 3 + 3) & ~3
    data_len = stride * _AH_H
    fh = struct.pack("<2sIHHI", b"BM", 54 + data_len, 0, 0, 54)
    ih = struct.pack(
        "<IiiHHIIiiII", 40, _AH_W, _AH_H, 1, 24, 0, data_len,
        2835, 2835, 0, 0,
    )
    return (fh + ih).hex().upper()


_AH_HEADER_HEX = _ah_header_hex()


def _ah_chan_sql(i: int, bump: int, dialect: str) -> str:
    """Channel i in 0..199 (+bump), extracted as byte i%7 of portable
    hash h{i//7} — SAME arithmetic rendered for either dialect."""
    j, k = divmod(i, _AH_BYTES_PER_HASH)
    div = "div" if dialect == "spark" else "//"
    return f"(((_h{j} {div} {256 ** k}) % 256) % 200 + {bump})"


def _ah_pack_bytes(e: int, bump: int) -> bytes:
    """Pack ONE event's genuine 8x4 24-bit BMP in plain Python —
    byte-identical to :func:`_ah_media`'s SQL-text projection (pinned
    by tests/test_r13_fused_pack.py): the same 14 h60 hashes
    (hashlib.md5 == Spark md5 == DuckDB md5, first 15 hex chars as the
    60-bit value), the same mod-200(+bump) channels, the same BGR
    bottom-up pixel layout behind the same 54-byte header. Lives here
    so the round-13 fused packer (below) and the retired-from-the-hot-
    path SQL packer can never drift."""
    import hashlib

    hs = [
        int(hashlib.md5(f"ah:{j}:{e}".encode()).hexdigest()[:15], 16)
        for j in range(_AH_NHASH)
    ]
    chan = [
        ((hs[i // _AH_BYTES_PER_HASH] >> (8 * (i % _AH_BYTES_PER_HASH)))
         & 255) % 200 + bump
        for i in range(_AH_CHANNELS)
    ]
    px = bytearray()
    for y in reversed(range(_AH_H)):  # BMP rows are stored bottom-up
        for x in range(_AH_W):
            p = y * _AH_W + x
            for c in (2, 1, 0):  # BGR byte order within a pixel
                px.append(chan[3 * p + c])
    return bytes.fromhex(_AH_HEADER_HEX) + bytes(px)


def _ah_feats(ev: DataFrame) -> DataFrame:
    """Round-13 fused pack -> REAL decode -> aHash in ONE Arrow pass
    over bare event_ids: each worker packs the genuine BMP bytes
    (:func:`_ah_pack_bytes`), decodes them with the SAME stdlib BI_RGB
    parser as before (operators/multimodal.py:decode_bmp_array), and
    emits (media_id, fh). Planted brightness-shifted copies of every
    9th image are generated in the same pass (mapInPandas may change
    cardinality), so the base/copies unionAll and its second scan are
    gone too.

    Why (guide §4.2, measured round 13): the retired JVM pack was a
    ~400-node generated projection (96 channel extracts, hex/lpad per
    byte, one concat) whose giant codegen class was the suite's
    C2-deopt/recompile hot spot — the query read 3.5 s in one bench
    and 9.6 s in the next on the same inputs. Packing where the
    decoder already runs moves ~40 bytes of event_id per image across
    Arrow instead of a 150-byte blob, and leaves nothing for C2 to
    deoptimize. Byte parity with the SQL packer is pinned by
    tests/test_r13_fused_pack.py."""
    from ..operators.multimodal import _ahash32, decode_bmp_array, decode_map

    def _fh(e: int, bump: int) -> int:
        return _ahash32(decode_bmp_array(_ah_pack_bytes(e, bump))["rgb"])

    def decode(e: int) -> list:
        rows = [(e, _fh(e, 0))]
        if e % _AH_COPY_MOD == 0:
            rows.append((-(e + 1), _fh(e, _AH_BRIGHT)))
        return rows

    def emit(_keys, rows) -> dict:
        return dict(zip(("media_id", "fh"), zip(*rows)))

    return decode_map(ev, decode, emit, "media_id long, fh long")


def _ah_media(ev: DataFrame, mid, bump: int) -> DataFrame:
    """Pack each event's 96 hash-derived channels into a genuine 8x4
    24-bit BMP. The ~400-node packing projection (96 channel extracts,
    hex/lpad per byte, one concat) is generated as SQL TEXT parsed
    JVM-side — the PLANS.md expression-build lesson; the 14 md5s are
    materialized as columns first so each computes once."""
    hs = ev.select(
        mid.alias("media_id"),
        *[
            F.expr(
                tf.h60_spark_sql(
                    f"concat('ah:{j}:', CAST(event_id AS STRING))"
                )
            ).alias(f"_h{j}")
            for j in range(_AH_NHASH)
        ],
    )
    parts = []
    for y in reversed(range(_AH_H)):  # BMP rows are stored bottom-up
        for x in range(_AH_W):
            p = y * _AH_W + x
            for c in (2, 1, 0):  # BGR byte order within a pixel
                chan = _ah_chan_sql(3 * p + c, bump, "spark")
                parts.append(f"lpad(hex({chan}), 2, '0')")
    payload = f"unhex(concat('{_AH_HEADER_HEX}', {', '.join(parts)}))"
    return hs.select("media_id", F.expr(payload).alias("content"))


def _ah_oracle() -> str:
    h_cols = ",\n           ".join(
        tf.h60_sql(f"'ah:{j}:' || CAST(e AS VARCHAR)") + f" AS _h{j}"
        for j in range(_AH_NHASH)
    )
    chans = ", ".join(
        _ah_chan_sql(i, 0, "duck") + " + bump"
        for i in range(_AH_CHANNELS)
    )
    return f"""
WITH ids AS (
    SELECT event_id AS mid, event_id AS e, 0 AS bump FROM events
    UNION ALL
    -- planted-copy ids in the negative keyspace (disjoint at any sf)
    SELECT -(event_id + 1), event_id, {_AH_BRIGHT} FROM events
    WHERE event_id % {_AH_COPY_MOD} = 0
),
hs AS (
    SELECT mid, bump,
           {h_cols}
    FROM ids
),
ch AS (SELECT mid, [{chans}] AS ch FROM hs),
lum AS (
    SELECT mid,
           list_transform(range(0, {_AH_PIXELS}),
               p -> ch[3*p+1] + ch[3*p+2] + ch[3*p+3]) AS lums
    FROM ch
),
tot AS (SELECT mid, lums, CAST(list_sum(lums) AS BIGINT) AS total FROM lum),
bt AS (
    SELECT mid,
           list_transform(lums, l -> CASE WHEN CAST(l AS BIGINT) * {_AH_PIXELS}
                                          > total THEN 1 ELSE 0 END) AS bits
    FROM tot
),
bd AS (
    SELECT mid,
           CAST(list_sum(list_transform(range(0, 16),
                p -> bits[p+1] * (1::BIGINT << p))) AS BIGINT) AS b0,
           CAST(list_sum(list_transform(range(16, 32),
                p -> bits[p+1] * (1::BIGINT << (p - 16)))) AS BIGINT) AS b1
    FROM bt
),
allb AS (
    SELECT mid, 0 AS band, b0 AS bk FROM bd
    UNION ALL
    SELECT mid, 1, b1 FROM bd
),
cand AS (
    SELECT DISTINCT a.mid AS id_a, b.mid AS id_b
    FROM allb a JOIN allb b
      ON a.band = b.band AND a.bk = b.bk AND a.mid < b.mid
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(ba.b0, bb.b0))
            + bit_count(xor(ba.b1, bb.b1)) AS BIGINT) AS hd
FROM cand c JOIN bd ba ON ba.mid = c.id_a JOIN bd bb ON bb.mid = c.id_b
WHERE bit_count(xor(ba.b0, bb.b0)) + bit_count(xor(ba.b1, bb.b1))
      <= {_AH_HD_MAX}
"""


@query("dedup_image_phash", oracle=_ah_oracle())
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplicate pairs with the REAL codec in
    the loop: pack 8x4 24-bit BMPs (96 md5-derived channels per image,
    + planted brightness-shifted copies of every 9th image), DECODE
    each with the stdlib BI_RGB parser inside Arrow mapInPandas,
    compute the 32-bit aHash from the decoded pixels (bit p = pixel
    luminance * 32 > luminance total — exact integers), block on two
    16-bit Hamming bands, and verify candidates with the exact popcount
    distance. Recall is 1.0 by construction twice over: aHash is
    EXACTLY invariant to the planted uniform +16 brightness shift (the
    module docstring derives it), and two bands find every pair at
    Hamming <= 1 by pigeonhole. The oracle reproduces the decoded
    channels arithmetically, so a hash match proves pack -> parse ->
    hash -> block -> verify end to end.

    Scale posture: pack + decode + hashing are scan-local; the ONE
    corpus-scale shuffle is the band-key equi-join on 16-bit integer
    keys (~uniform: bucket sizes ~N/65536, candidate volume ~linear),
    and the popcount verify joins candidate ids back at candidate
    cardinality — never all-pairs. This is dedup_image_bands' raw-
    channel plan upgraded to the representation that survives photo
    scale: 8-byte hash keys shuffle instead of channel vectors, and
    brightness/contrast jitter lands at Hamming ~0 instead of
    scattering across quantization buckets."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    # Pack + REAL decode + aHash fused in ONE Arrow pass over bare ids
    # (round 12 fused decode+hash — the interpreted HOF chain was
    # 20 <-> 280 s bimodal; round 13 pulls the PACK in too: the
    # ~400-node generated pack projection was the residual C2-deopt
    # spike, see _ah_feats). b0/b1 are the low/high 16-bit halves,
    # bit p of the hash = bit p of the old bits array, so the split is
    # two codegen-able bitwise ops.
    feats = (
        _ah_feats(ev)
        .select(
            "media_id",
            F.expr("fh & 65535").alias("b0"),
            F.expr("shiftright(fh, 16)").alias("b1"),
        )
        .localCheckpoint(eager=True)  # one decode; feeds bands + verify
    )
    bands = feats.select(
        "media_id", F.lit(0).alias("band"), F.col("b0").alias("bk")
    ).unionAll(
        feats.select("media_id", F.lit(1).alias("band"), F.col("b1"))
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .distinct()
    )
    fa = feats.select(
        F.col("media_id").alias("id_a"),
        F.col("b0").alias("_b0a"),
        F.col("b1").alias("_b1a"),
    )
    fb = feats.select(
        F.col("media_id").alias("id_b"),
        F.col("b0").alias("_b0b"),
        F.col("b1").alias("_b1b"),
    )
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST(bit_count(_b0a ^ _b0b) + bit_count(_b1a ^ _b1b)"
                " AS BIGINT)"
            ).alias("hd"),
        )
        .filter(F.col("hd") <= _AH_HD_MAX)
    )


# --- gain-invariant audio near-duplicate detection ------------------------------

# 32 PCM16 samples per clip (8 windows x 4), values in [-8000, 8000] so
# the planted x2-gain copies stay exactly representable in int16
# (|2s| <= 16000 < 32768 — the audio analog of the aHash no-clamp bound).
_AU_SAMPLES = 32
_AU_WINDOWS = 8
_AU_WIN_LEN = _AU_SAMPLES // _AU_WINDOWS
_AU_NHASH = 8  # 4 x 15-bit extracts per 60-bit hash
_AU_COPY_MOD = 13  # every 13th clip gets a planted x2-gain copy
_AU_GAIN = 2
_AU_LEVELS = 64  # envelope quantization: level_w = (e_w * 64) div E

# 44-byte RIFF/WAVE header for PCM16 mono 16 kHz with a 64-byte data
# chunk (32 samples); same layout as multimodal_audio_stats' 8-sample
# header with the riff/data sizes adjusted (riff = 4 + 24 + 72 = 100).
_AU_HEADER_HEX = (
    "52494646"  # "RIFF"
    "64000000"  # riff size = 100
    "57415645"  # "WAVE"
    "666d7420"  # "fmt "
    "10000000"  # fmt chunk size = 16
    "0100"      # audio format = 1 (PCM)
    "0100"      # channels = 1
    "803e0000"  # sample rate = 16000
    "007d0000"  # byte rate = 32000
    "0200"      # block align = 2
    "1000"      # bits per sample = 16
    "64617461"  # "data"
    "40000000"  # data chunk size = 64
)


def _au_sample_sql(i: int, gain: str, dialect: str) -> str:
    """Signed sample i in [-8000, 8000] (x gain), from 15-bit extract
    i%4 of portable hash h{i//4} — SAME arithmetic, either dialect."""
    j, k = divmod(i, 4)
    div = "div" if dialect == "spark" else "//"
    return (
        f"((((_h{j} {div} {2 ** (15 * k)}) % 32768) % 16001 - 8000)"
        f" * {gain})"
    )


def _au_media(ev: DataFrame, mid, gain: int) -> DataFrame:
    """Pack each event's 32 hash-derived PCM16 samples into a genuine
    RIFF/WAVE file. Packing projection generated as SQL text (the
    PLANS.md expression-build lesson); the 8 md5s materialize as
    columns first so each computes once."""
    hs = ev.select(
        mid.alias("media_id"),
        *[
            F.expr(
                tf.h60_spark_sql(
                    f"concat('au:{j}:', CAST(event_id AS STRING))"
                )
            ).alias(f"_h{j}")
            for j in range(_AU_NHASH)
        ],
    )
    parts = []
    for i in range(_AU_SAMPLES):
        v = f"pmod({_au_sample_sql(i, str(gain), 'spark')}, 65536)"
        parts.append(
            f"lpad(hex(pmod({v}, 256)), 2, '0')"
        )
        parts.append(
            f"lpad(hex(({v}) div 256), 2, '0')"
        )
    payload = f"unhex(concat('{_AU_HEADER_HEX}', {', '.join(parts)}))"
    return hs.select("media_id", F.expr(payload).alias("content"))


def _au_oracle() -> str:
    h_cols = ",\n           ".join(
        tf.h60_sql(f"'au:{j}:' || CAST(e AS VARCHAR)") + f" AS _h{j}"
        for j in range(_AU_NHASH)
    )
    samples = ", ".join(
        _au_sample_sql(i, "gain", "duck") for i in range(_AU_SAMPLES)
    )
    win = " + ".join(
        f"CAST(s[4*w+{t}] AS BIGINT) * s[4*w+{t}]"
        for t in range(1, _AU_WIN_LEN + 1)
    )
    return f"""
WITH ids AS (
    SELECT event_id AS mid, event_id AS e, 1 AS gain FROM events
    UNION ALL
    -- planted-copy ids in the negative keyspace (disjoint at any sf)
    SELECT -(event_id + 1), event_id, {_AU_GAIN} FROM events
    WHERE event_id % {_AU_COPY_MOD} = 0
),
hs AS (
    SELECT mid, gain,
           {h_cols}
    FROM ids
),
sm AS (SELECT mid, [{samples}] AS s FROM hs),
en AS (
    SELECT mid,
           list_transform(range(0, {_AU_WINDOWS}), w -> {win}) AS ew
    FROM sm
),
ft AS (SELECT mid, ew, CAST(list_sum(ew) AS BIGINT) AS et FROM en),
ky AS (
    SELECT mid, ew, et,
           array_to_string(list_transform(ew,
               x -> CAST((x * {_AU_LEVELS}) // et AS VARCHAR)), ',') AS k
    FROM ft
),
cand AS (
    SELECT a.mid AS id_a, a.ew AS ea, a.et AS eta,
           b.mid AS id_b, b.ew AS eb, b.et AS etb
    FROM ky a JOIN ky b ON a.k = b.k AND a.mid < b.mid
)
SELECT id_a, id_b, eta AS e_total_a, etb AS e_total_b
FROM cand
WHERE list_sum(list_transform(range(0, {_AU_WINDOWS}),
      w -> CASE WHEN CAST(ea[w+1] AS HUGEINT) * etb
                     = CAST(eb[w+1] AS HUGEINT) * eta
                THEN 1 ELSE 0 END)) = {_AU_WINDOWS}
"""


@query("dedup_audio_envelope", oracle=_au_oracle())
def dedup_audio_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain-invariant audio duplicate detection with the REAL codec in
    the loop — the missing modality in the dedup matrix (text has
    MinHash/SimHash/SSJoin, embeddings RHP-LSH/SemDeDup, images
    quantization bands + aHash; this adds audio): pack 32 hash-derived
    PCM16 samples per event into genuine RIFF/WAVE files (+ planted
    x2-gain copies of every 13th clip — the loudness-normalized
    re-upload), DECODE each with the stdlib RIFF/PCM16 parser inside
    Arrow mapInPandas, fingerprint the decoded samples with the 8-window
    energy envelope quantized RELATIVE to total energy (level_w =
    e_w * 64 div E — an exact rational, so a uniform gain g scales
    numerator and denominator by g² and cancels: planted copies collide
    on the key BY CONSTRUCTION), block on the quantized envelope, and
    verify candidates with the exact cross-multiplied envelope-ratio
    equality (e_w^a * E^b == e_w^b * E^a, all windows, 38-digit
    integers). The oracle reproduces the decoded samples arithmetically,
    so a hash match proves pack -> RIFF walk -> sign-correct decode ->
    fingerprint -> verify end to end.

    Scale posture: pack + decode + fingerprint are scan-local; the ONE
    corpus-scale shuffle is the envelope-key equi-join on an 8-byte
    hashed key (measured at sf0.1: 99,922 distinct keys over 100k
    clips, max bucket 2, 78 random candidate pairs — candidate volume
    is O(|planted|), never quadratic); the exact verify joins candidate
    ids back at candidate cardinality."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    base = _au_media(ev, F.col("event_id"), 1)
    copies = _au_media(
        ev.filter(F.col("event_id") % _AU_COPY_MOD == 0),
        -(F.col("event_id") + 1),
        _AU_GAIN,
    )
    sm = mm.wav_pcm_samples(base.unionAll(copies))
    win = " + ".join(
        f"CAST(element_at(samples, 4*w+{t}) AS BIGINT)"
        f" * element_at(samples, 4*w+{t})"
        for t in range(1, _AU_WIN_LEN + 1)
    )
    feats = (
        sm.select(
            "media_id",
            F.expr(
                f"transform(sequence(0, {_AU_WINDOWS - 1}), w -> {win})"
            ).alias("ew"),
        )
        .select(
            "media_id",
            "ew",
            F.expr("aggregate(ew, 0L, (a, x) -> a + x)").alias("et"),
        )
        .select(
            "media_id",
            "ew",
            "et",
            # 8-byte hashed key engine-side (the dedup_image_bands
            # lesson): a hash collision only ADDs a candidate, which
            # the exact envelope verify rejects; the oracle keeps its
            # readable CSV keys.
            F.expr(
                f"xxhash64(transform(ew, x -> (x * {_AU_LEVELS})"
                " div et))"
            ).alias("k"),
        )
        .localCheckpoint(eager=True)  # one decode; feeds both join sides
    )
    a = feats.select(
        F.col("media_id").alias("id_a"),
        F.col("ew").alias("_ea"),
        F.col("et").alias("_eta"),
        "k",
    )
    b = feats.select(
        F.col("media_id").alias("id_b"),
        F.col("ew").alias("_eb"),
        F.col("et").alias("_etb"),
        "k",
    )
    envelope_eq = F.expr(
        f"forall(sequence(0, {_AU_WINDOWS - 1}), w ->"
        " CAST(element_at(_ea, w+1) AS DECIMAL(38,0)) * _etb"
        " = CAST(element_at(_eb, w+1) AS DECIMAL(38,0)) * _eta)"
    )
    return (
        a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(envelope_eq)
        .select(
            "id_a",
            "id_b",
            F.col("_eta").alias("e_total_a"),
            F.col("_etb").alias("e_total_b"),
        )
    )


# --- UniMax epoch-capped budget allocation ---------------------------------------

# Token budget B = 3 corpus epochs (the multi-epoch pretraining
# setting); each LANGUAGE may repeat at most C = 4 epochs. UniMax
# (Chung et al., "UniMax: Fairer and More Effective Language Sampling
# for Large-Scale Multilingual Pretraining", ICLR 2023) water-fills:
# ascending by size, a language is CAPPED at C epochs while affordable,
# and the remaining budget splits EQUALLY among the uncapped (larger)
# languages — on this corpus the low-resource languages cap at 4 epochs
# and en equal-shares the remainder (~1.6 epochs at sf0.1), the
# classic UniMax picture.
_UNIMAX_CAP = 4
_UNIMAX_EPOCH_BUDGET = 3

# Closed form instead of the paper's sequential loop: with sources
# ascending by n, the capped set is a PREFIX, and source rn is capped
# iff C*n*(k-rn+1) + C*prefix(n) <= B (cross-multiplied — the "could we
# afford capping this source and equal-sharing its cap to everyone
# after" test). One |sources|-row window pass replaces the iteration;
# tests/test_llm23.py re-derives the result with the paper's loop.
#
# Exactness: the capped predicate cross-multiplies in 38-digit integers
# (Spark DECIMAL(38,0), DuckDB HUGEINT). The DISPLAY micro-rounding of
# the equal share runs in int64, which bounds the budget at ~4.6e12
# tokens (b*2e6 < 2^63, ~18 TB of text) — above the per-shard corpus
# this runs on per domain-group at 100 TB; the decision math has no
# such bound.


def _unimax_core_sql(dialect: str) -> str:
    div = "DIV" if dialect == "spark" else "//"
    big = (
        "CAST({} AS DECIMAL(38,0))"
        if dialect == "spark"
        else "CAST({} AS HUGEINT)"
    )
    c = _UNIMAX_CAP
    return f"""
w AS (
    SELECT lang, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n, lang) AS BIGINT) AS rn,
           CAST(COALESCE(SUM(n) OVER (ORDER BY n, lang
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS pre,
           CAST(COUNT(*) OVER () AS BIGINT) AS k,
           CAST({_UNIMAX_EPOCH_BUDGET} * SUM(n) OVER () AS BIGINT) AS b
    FROM d
),
cp AS (
    SELECT *,
           {big.format(f"{c} * n")} * (k - rn + 1)
               + {big.format(f"{c} * pre")} <= {big.format("b")} AS capped
    FROM w
),
mrow AS (
    SELECT COALESCE(MAX(CASE WHEN capped THEN rn END), 0) AS m,
           CAST(COALESCE(SUM(CASE WHEN capped THEN n END), 0)
                AS BIGINT) AS spent_n
    FROM cp
),
f AS (SELECT cp.*, mrow.m, mrow.spent_n FROM cp, mrow)
SELECT lang, n AS n_tokens, capped,
       CASE WHEN capped THEN CAST({c} * n AS DOUBLE)
            ELSE CAST(((b - {c} * spent_n) * 2000000 + (k - m))
                 {div} (2 * (k - m)) AS DOUBLE) / 1000000.0
       END AS alloc_tokens,
       CASE WHEN capped THEN CAST({c} AS DOUBLE)
            ELSE CAST(((b - {c} * spent_n) * 2000000 + (k - m) * n)
                 {div} (2 * (k - m) * n) AS DOUBLE) / 1000000.0
       END AS epochs
FROM f
"""


_UNIMAX_ORACLE = f"""
WITH d AS (
    SELECT lang,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+')))
                AS BIGINT) AS n
    FROM documents WHERE trim(text) <> ''
    GROUP BY lang
),
{_unimax_core_sql("duck")}
"""


@query("mixture_unimax_epoch_caps", oracle=_UNIMAX_ORACLE)
def mixture_unimax_epoch_caps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UniMax data-mixture budgeting: allocate a 3-epoch token budget
    across languages with a hard per-language epoch cap — low-resource
    languages are capped at C=4 epochs (repeating them further
    overfits), and the freed budget splits EQUALLY among the uncapped
    high-resource languages (the fairness objective that beats
    temperature sampling at scale; see the module constant's comment
    for the paper and the closed form). Output per language: token
    count, whether the cap binds, allocated tokens, effective epochs.

    Exactness: the cap decision is an exact cross-multiplied integer
    predicate in 38-digit integers; the two displayed quotients round
    HALF-UP in integer micro-units (int64-bounded at ~4.6e12 tokens —
    documented in the module comment).

    Scale posture: one map-side-combinable groupBy(lang) over the
    corpus, then every window/aggregate runs at |languages| cardinality
    (5 rows) — the corpus is scanned once and never shuffled beyond the
    per-language partial sums. The |languages|-row window's single
    partition is the operator's semantics, not a scale hazard."""
    docs = spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    d = docs.groupBy("lang").agg(
        F.sum(tf.token_count(F.col("text"))).cast("long").alias("n")
    )
    d.createOrReplaceTempView("unimax_langs")
    return spark.sql(
        "WITH d AS (SELECT lang, n FROM unimax_langs),\n"
        + _unimax_core_sql("spark")
    )


# --- incremental IVF index maintenance ------------------------------------------

# The delta batch: every 11th vector arrives AFTER the base index was
# built. Production passes a real arrivals table; the modulus stands in
# so the split is deterministic and oracle-derivable.
_IVFM_DELTA_MOD = 11

# Same batch-macro floor philosophy as similarity_ivf_topk: >= 75% of
# the 5 x 10 exact hits must be found by the maintained-index probe.
# Measured macro hits with base-trained centroids at nprobe=5/8 on the
# isotropic synthetic corpus: 41 / 43 / 41 at sf0.001 / 0.01 / 0.1.
_IVFM_RECALL_FLOOR_HITS = 38

_IVFM_ORACLE = _SIM_ORACLE.replace(
    "SELECT query_id, vec_id, cosine, rank FROM ranked",
    "SELECT query_id, vec_id, cosine, rank, TRUE AS recall_ok,"
    " TRUE AS parity_ok FROM ranked",
)


def ensure_ivfm_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build-once accessor for the segment-maintained IVF index:
    returns (centroids, base_index, delta_segment).

    The BASE index (codebook + bucketed assignment) is built from the
    pre-arrival corpus only. APPEND MAINTENANCE then assigns the delta
    batch to the EXISTING centroids and writes it as its own bucketed
    segment table — new files only, the base index's files are never
    rewritten (the Lucene-segment discipline: appends are cheap,
    compaction is a separate scheduled rebuild). Probes read the UNION
    of segments; both sides are bucketed by centroid_id, so bucket
    pruning holds per segment. Re-registration on a fresh process
    mirrors ensure_ivf_tables."""
    import os

    from ..sources.sinks import register_external_table, write_bucketed

    em = load(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") % _IVFM_DELTA_MOD != 0)
    delta = em.filter(F.col("vec_id") % _IVFM_DELTA_MOD == 0)
    slug = sf_slug(sf_dir)
    ctable = f"ivfm_centroids_{slug}"
    btable = f"ivfm_base_{slug}"
    dtable = f"ivfm_delta_{slug}"
    warehouse = _warehouse_dir()
    if not spark.catalog.tableExists(ctable):
        cpath = os.path.join(warehouse, ctable)
        if not register_external_table(spark, ctable, cpath):
            cents = sim.kmeans_centroids(base, n_centroids=8, iters=2)
            (
                cents.write.mode("overwrite")
                .option("path", cpath)
                .saveAsTable(ctable)
            )
    if not spark.catalog.tableExists(btable):
        bpath = os.path.join(warehouse, btable)
        if not register_external_table(
            spark, btable, bpath, bucket_cols=("centroid_id",), num_buckets=8
        ):
            sim.ivf_build_index(
                base, spark.table(ctable), btable, num_buckets=8, path=bpath
            )
    if not spark.catalog.tableExists(dtable):
        dpath = os.path.join(warehouse, dtable)
        if not register_external_table(
            spark, dtable, dpath, bucket_cols=("centroid_id",), num_buckets=8
        ):
            write_bucketed(
                sim.ivf_assign(delta, spark.table(ctable)),
                dtable,
                bucket_cols=("centroid_id",),
                num_buckets=8,
                path=dpath,
            )
    return spark.table(ctable), spark.table(btable), spark.table(dtable)


_IVFM_COMPACT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(2 AS BIGINT) AS segments_before,
       CAST(1 AS BIGINT) AS segments_after,
       TRUE AS content_parity_ok,
       TRUE AS probe_parity_ok
FROM embeddings
"""


@query("similarity_ivf_compact_segments", oracle=_IVFM_COMPACT_ORACLE)
def similarity_ivf_compact_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF segment COMPACTION — the scheduled second half of the
    maintenance loop (`similarity_ivf_append_maintain` appends delta
    segments; this merges them): rewrite the (base ∪ delta) segment
    union as ONE bucketed table so probes touch one file set per
    centroid again, and PROVE in-query that compaction lost nothing:

    * ``content_parity_ok`` — the compacted table equals the segment
      union row for row (empty symmetric difference, both directions,
      including the vectors);
    * ``probe_parity_ok`` — a probe over the compacted table returns
      exactly the rows a probe over the segment union returns.

    Both flags are measured facts the oracle asserts TRUE, alongside
    the corpus row count (every vector indexed exactly once).

    Scale posture: compaction is the one deliberate full pass (read
    segments, write bucketed — the nightly small-file job
    compact_parquet generalizes); at 100 TB it runs per centroid-bucket
    file group, embarrassingly parallel, while probes keep serving off
    the old segments until the swap. The parity audits are one-time
    equi-shuffles on vec_id/centroid_id, not probe-path costs."""
    import os

    from ..sources.sinks import register_external_table, write_bucketed

    em = load(spark, sf_dir, "embeddings")
    cents, base_idx, delta_seg = ensure_ivfm_tables(spark, sf_dir)
    maintained = base_idx.unionAll(delta_seg)
    slug = sf_slug(sf_dir)
    ktable = f"ivfm_compact_{slug}"
    if not spark.catalog.tableExists(ktable):
        kpath = os.path.join(_warehouse_dir(), ktable)
        if not register_external_table(
            spark, ktable, kpath, bucket_cols=("centroid_id",), num_buckets=8
        ):
            write_bucketed(
                maintained,
                ktable,
                bucket_cols=("centroid_id",),
                num_buckets=8,
                path=kpath,
            )
    compact = spark.table(ktable)
    content = (
        compact.exceptAll(maintained)
        .unionAll(maintained.exceptAll(compact))
        .agg(F.count(F.lit(1)).alias("_d"))
        .select((F.col("_d") == 0).alias("content_parity_ok"))
    )
    queries_df = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    p_old = sim.ivf_probe_topk(maintained, cents, queries_df, k=10, nprobe=5)
    p_new = sim.ivf_probe_topk(compact, cents, queries_df, k=10, nprobe=5)
    probe = (
        p_new.exceptAll(p_old)
        .unionAll(p_old.exceptAll(p_new))
        .agg(F.count(F.lit(1)).alias("_d"))
        .select((F.col("_d") == 0).alias("probe_parity_ok"))
    )
    # Segment counts are MEASURED, not asserted: count the distinct
    # non-empty segment tables feeding the probe before (base + delta)
    # and after (the single compacted table) — one LIMIT 1 scan per
    # segment. An empty delta or a failed compaction write would make
    # these diverge from the oracle's expected 2/1 and fail the gate.
    seg_before = (
        base_idx.select(F.lit("base").alias("seg")).limit(1)
        .unionAll(delta_seg.select(F.lit("delta").alias("seg")).limit(1))
        .agg(
            F.count_distinct("seg").cast("long").alias("segments_before")
        )
    )
    seg_after = (
        compact.select(F.lit("compact").alias("seg")).limit(1)
        .agg(F.count_distinct("seg").cast("long").alias("segments_after"))
    )
    n = em.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    return (
        n.crossJoin(F.broadcast(seg_before))
        .crossJoin(F.broadcast(seg_after))
        .crossJoin(F.broadcast(content))
        .crossJoin(F.broadcast(probe))
        .select(
            "n_vectors",
            "segments_before",
            "segments_after",
            "content_parity_ok",
            "probe_parity_ok",
        )
    )


def _ivfm_probe_only(spark, sf_dir):
    # The production path of incremental index maintenance: probe the
    # segment-maintained (base ∪ delta) index — without the exact
    # brute-force twin and the rebuild-parity gate the registry query
    # carries for the correctness check (the rebuild IS a scheduled
    # compaction, not a per-probe cost).
    em = load(spark, sf_dir, "embeddings")
    cents, base_idx, delta_seg = ensure_ivfm_tables(spark, sf_dir)
    queries_df = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim.ivf_probe_topk(
        base_idx.unionAll(delta_seg), cents, queries_df, k=10, nprobe=5
    )


@query(
    "similarity_ivf_append_maintain",
    oracle=_IVFM_ORACLE,
    production=_ivfm_probe_only,
)
def similarity_ivf_append_maintain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ANN index maintenance, recall- and parity-gated
    IN-QUERY: a delta batch of embeddings (every 11th vector) appends
    to the persisted IVF index as a new bucketed SEGMENT (assigned to
    the existing centroids — no rebuild, no rewrite of base files; see
    :func:`ensure_ivfm_tables`), then the query probes the maintained
    (base ∪ segment) index and emits the exact brute-force top-10 rows
    over the FULL corpus plus two flags the oracle asserts TRUE:

    * ``recall_ok`` — the maintained-index probe found >= 75% of the 50
      exact hits (the similarity_ivf_topk floor discipline);
    * ``parity_ok`` — the maintained-index probe returns EXACTLY the
      same rows as a probe over a rebuilt-from-scratch assignment of
      the full corpus against the same codebook (assignment is a
      deterministic argmax, so segment maintenance must lose nothing;
      checked as an empty symmetric difference, both directions).

    Scale posture: maintenance cost is O(|delta| x k) assignment + one
    bucketed segment write — the corpus is never touched; probes stay
    broadcast equi-joins on centroid_id with per-segment bucket
    pruning. The rebuild twin (one corpus-scale assignment) exists to
    PROVE parity in the gate; production runs it as the scheduled
    compaction, not per probe. The exact brute-force output rows are
    the documented spec-level recall reference, as in
    similarity_ivf_topk."""
    em = load(spark, sf_dir, "embeddings")
    queries_df = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    # Exact result materialized once: feeds the output AND the recall
    # intersect (the similarity_ivf_topk convention).
    bf = sim.cosine_topk(em, queries_df, k=10).localCheckpoint(eager=True)
    cents, base_idx, delta_seg = ensure_ivfm_tables(spark, sf_dir)
    maintained = base_idx.unionAll(delta_seg)
    m_hits = sim.ivf_probe_topk(
        maintained, cents, queries_df, k=10, nprobe=5
    ).localCheckpoint(eager=True)  # feeds recall AND parity
    rebuilt = sim.ivf_assign(em, cents)
    r_hits = sim.ivf_probe_topk(rebuilt, cents, queries_df, k=10, nprobe=5)
    recall = (
        bf.select("query_id", "vec_id")
        .intersect(m_hits.select("query_id", "vec_id"))
        .agg(F.count(F.lit(1)).alias("_hits"))
        .select(
            (F.col("_hits") >= _IVFM_RECALL_FLOOR_HITS).alias("recall_ok")
        )
    )
    parity = (
        m_hits.exceptAll(r_hits)
        .unionAll(r_hits.exceptAll(m_hits))
        .agg(F.count(F.lit(1)).alias("_diff"))
        .select((F.col("_diff") == 0).alias("parity_ok"))
    )
    return (
        bf.crossJoin(F.broadcast(recall))
        .crossJoin(F.broadcast(parity))
        .select(
            "query_id", "vec_id", "cosine", "rank", "recall_ok",
            "parity_ok",
        )
    )
