"""Round-12 wave 1 — VIDEO near-duplicate detection, completing the
dedup modality matrix (text: MinHash/SimHash/SSJoin/winnowing;
embeddings: RHP-LSH/SemDeDup; images: quantization bands + aHash;
audio: gain-invariant envelopes; video: THIS).

`dedup_video_frames`: pack genuine multi-frame RIFF/AVI clips (the
llm8 container layout generalized to 4 frames of 8x4 grayscale
24-bit DIB video), DECODE each with the stdlib container parser
(operators/multimodal.py:decode_avi — header/idx1/stride verification
included), compute a per-frame 32-bit aHash from the decoded pixels,
and detect planted TEMPORALLY-TRIMMED + BRIGHTNESS-SHIFTED copies via
position-independent frame-hash blocking with an ordered
contiguous-subsequence verify.

Recall is 1.0 by construction twice over:

* brightness invariance — the planted copies add a uniform +16 to
  every channel; channels derive mod 200 (max 199 + 16 < 256, no
  clamp), so every pixel luminance gains the same constant and the
  aHash bit predicate ``lum * n_pixels > total`` is unchanged term
  for term (the llm23 derivation, per frame). Copy frame g therefore
  hashes IDENTICALLY to base frame g+1.
* temporal-trim recall — blocking keys are bare frame hashes with no
  position component, so a copy that drops leading frames still
  shares every remaining frame's key with its base; ONE shared frame
  suffices to surface the candidate pair, and the planted copies
  share three.

The verify stage then proves the *sequence* relationship the blocker
cannot: the shorter clip's full ordered frame-hash sequence must
appear as a contiguous subsequence of the longer's (the emitted
``match_offset`` is 1 for every planted pair — the dropped frame).
A band collision between unrelated clips (two 32-bit aHashes equal)
can only add a candidate; it survives only if EVERY frame aligns,
~2^-96 for 3 frames.

Scale posture (100 TB): pack, container decode, and per-frame hashing
are scan-local (Arrow mapInPandas streaming batches); the corpus-scale
shuffles are (a) the frame-hash equi-join on 8-byte integer keys
(md5-derived luminances make non-duplicate hashes ~uniform over 2^32,
so bucket sizes stay O(1) and candidate volume O(|planted|)) and
(b) one groupBy media_id to assemble per-clip hash sequences (rows
per clip = frame count, bounded). The verify joins candidate ids back
at candidate cardinality — never all-pairs, never a cross join. At
real video scale the same plan runs with coarser keyframe sampling
feeding the identical banding/verify shape.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators import multimodal as mm
from ..operators.dedup import spread
from ..sources import load
from .registry import query

# --- per-frame aHash video dedup --------------------------------------------

_VID_W, _VID_H = 8, 4
_VID_PIXELS = _VID_W * _VID_H  # 32 pixels -> 32 aHash bits per frame
_VID_FRAMES = 4  # base clips; planted copies drop frame 0 -> 3 frames
_VID_COPY_MOD = 11  # every 11th clip gets a planted trimmed+shifted copy
_VID_BRIGHT = 16  # uniform +16 per channel; 199 + 16 < 256 -> never clamps
_VID_BYTES_PER_HASH = 7  # 60-bit h60 yields 7 full bytes
_VID_NHASH = -(-_VID_PIXELS // _VID_BYTES_PER_HASH)  # 5 hashes per frame


def _vid_headers(nf: int) -> tuple[str, str, str]:
    """(header_hex through the 'movi' fourcc, per-frame chunk header
    hex, idx1 hex) for an ``nf``-frame 8x4 24-bit BI_RGB AVI — the
    llm8 layout generalized, computed with struct so the RIFF sizes,
    frame offsets, and idx1 entries stay consistent by construction
    (decode_avi verifies all of them)."""
    w, h = _VID_W, _VID_H
    stride = (w * 3 + 3) & ~3  # 24 — already 4-byte aligned, no pad
    fsize = stride * h  # 96 bytes per frame
    avih = b"avih" + struct.pack(
        "<I14I", 56, 33333, 0, 0, 0x10, nf, 0, 1, fsize, w, h, 0, 0, 0, 0
    )
    strh = (
        b"strh" + struct.pack("<I", 56) + b"vids" + b"DIB "
        + struct.pack("<IHHI", 0, 0, 0, 0)  # flags, prio, lang, init
        + struct.pack("<II", 1, 30)  # scale 1 / rate 30 fps
        + struct.pack("<III", 0, nf, fsize)  # start, length, sugbuf
        + struct.pack("<II", 0, 0)  # quality, samplesize
        + struct.pack("<4H", 0, 0, w, h)  # rcFrame
    )
    strf = b"strf" + struct.pack(
        "<I IiiHHIIiiII".replace(" ", ""),
        40, 40, w, h, 1, 24, 0, fsize, 2835, 2835, 0, 0,
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    movi_len = 4 + nf * (8 + fsize)
    idx_entries = b"".join(
        b"00db" + struct.pack("<III", 0x10, 4 + i * (8 + fsize), fsize)
        for i in range(nf)
    )
    idx1 = b"idx1" + struct.pack("<I", nf * 16) + idx_entries
    # hdrl/idx1 already include their own 8-byte chunk headers
    riff_len = 4 + len(hdrl) + 8 + movi_len + len(idx1)
    header = (
        b"RIFF" + struct.pack("<I", riff_len) + b"AVI " + hdrl
        + b"LIST" + struct.pack("<I", movi_len) + b"movi"
    )
    chdr = b"00db" + struct.pack("<I", fsize)
    return header.hex(), chdr.hex(), idx1.hex()


def _vid_chan_sql(b: int, k: int, bump: int, hname: str, dialect: str) -> str:
    """Grayscale pixel value in 0..199 (+bump) — byte ``k`` of per-frame
    hash ``hname`` (block ``b`` is encoded in the hash's input string).
    SAME arithmetic rendered for either dialect."""
    div = "div" if dialect == "spark" else "//"
    return f"((({hname} {div} {256 ** k}) % 256) % 200 + {bump})"


def _vid_media(ev: DataFrame, mid, bump: int, f0: int, nf: int) -> DataFrame:
    """Pack each event's ``nf`` hash-derived grayscale frames into a
    genuine RIFF/AVI clip. Copy clips pass ``f0=1``: their frame g
    carries the content of BASE frame g+1 (the same h60 inputs, so the
    same bytes) plus the brightness bump — a temporally-trimmed,
    brightness-shifted near-duplicate. The ~500-node packing projection
    is generated as SQL TEXT parsed JVM-side (the PLANS.md
    expression-build lesson); the 5*nf md5s materialize as columns
    first so each computes once."""
    header_hex, chdr_hex, idx1_hex = _vid_headers(nf)
    hs = ev.select(
        mid.alias("media_id"),
        *[
            F.expr(
                tf.h60_spark_sql(
                    f"concat('vf:{b}:', CAST(event_id AS STRING),"
                    f" ':{g + f0}')"
                )
            ).alias(f"_h{g}_{b}")
            for g in range(nf)
            for b in range(_VID_NHASH)
        ],
    )
    frames = []
    for g in range(nf):
        px = []
        for y in reversed(range(_VID_H)):  # DIB rows are bottom-up
            for x in range(_VID_W):
                p = y * _VID_W + x
                b, k = divmod(p, _VID_BYTES_PER_HASH)
                v = _vid_chan_sql(b, k, bump, f"_h{g}_{b}", "spark")
                # grayscale: the pixel's B, G, R bytes are the same value
                px.append(f"repeat(lpad(hex({v}), 2, '0'), 3)")
        frames.append(f"'{chdr_hex}', " + ", ".join(px))
    payload = (
        f"unhex(concat('{header_hex}', "
        + ", ".join(frames)
        + f", '{idx1_hex}'))"
    )
    return hs.select("media_id", F.expr(payload).alias("content"))


def _vid_pack_bytes(e: int, bump: int, f0: int, nf: int) -> bytes:
    """Pack ONE event's genuine ``nf``-frame RIFF/AVI clip in plain
    Python — byte-identical to :func:`_vid_media`'s SQL-text projection
    (pinned by tests/test_r13_fused_pack.py): the same per-frame h60
    hashes (hashlib.md5 == Spark md5), the same mod-200(+bump)
    grayscale pixels, the same bottom-up DIB rows behind the same
    struct-built RIFF headers. Companion of llm23._ah_pack_bytes;
    parity pinned by tests/test_r13_fused_pack.py."""
    import hashlib

    header_hex, chdr_hex, idx1_hex = _vid_headers(nf)
    out = bytearray(bytes.fromhex(header_hex))
    chdr = bytes.fromhex(chdr_hex)
    for g in range(nf):
        hs = [
            int(
                hashlib.md5(
                    f"vf:{b}:{e}:{g + f0}".encode()
                ).hexdigest()[:15],
                16,
            )
            for b in range(_VID_NHASH)
        ]
        out += chdr
        for y in reversed(range(_VID_H)):  # DIB rows are bottom-up
            for x in range(_VID_W):
                p = y * _VID_W + x
                b, k = divmod(p, _VID_BYTES_PER_HASH)
                v = ((hs[b] >> (8 * k)) & 255) % 200 + bump
                out += bytes((v, v, v))  # grayscale BGR triple
    return bytes(out) + bytes.fromhex(idx1_hex)


def _vid_feats(ev: DataFrame) -> DataFrame:
    """Round-13 fused pack -> REAL container decode -> per-frame aHash
    in ONE Arrow pass over bare event_ids: each worker packs the
    genuine AVI bytes (:func:`_vid_pack_bytes`), decodes them with the
    SAME stdlib RIFF parser as before
    (operators/multimodal.py:decode_avi — idx1 offsets, stride and
    frame counts all verified), and emits one (media_id, frame_no, fh)
    row per frame. Planted trimmed+brightness-shifted copies of every
    11th clip are generated in the same pass, so the base/copies
    unionAll and its second scan are gone.

    Why (guide §4.2, measured round 13): the retired JVM pack was a
    ~500-node generated projection whose giant codegen class was a
    C2-deopt/recompile hot spot — the query read 3.9 s in one bench
    and 11.2 s in the next on the same inputs. See llm23._ah_feats for
    the identical image-side rationale; byte parity is pinned by
    tests/test_r13_fused_pack.py."""
    from ..operators.multimodal import _ahash32, decode_avi, decode_map

    def _rows(e: int, mid: int, bump: int, f0: int, nf: int) -> list:
        d = decode_avi(_vid_pack_bytes(e, bump, f0, nf))
        return [
            (mid, fno, _ahash32(rgb)) for fno, rgb in enumerate(d["frames"])
        ]

    def decode(e: int) -> list:
        rows = _rows(e, e, 0, 0, _VID_FRAMES)
        if e % _VID_COPY_MOD == 0:
            rows += _rows(e, -(e + 1), _VID_BRIGHT, 1, _VID_FRAMES - 1)
        return rows

    def emit(_keys, rows) -> dict:
        return dict(zip(("media_id", "frame_no", "fh"), zip(*rows)))

    return decode_map(ev, decode, emit, "media_id long, frame_no int, fh long")


def _vid_oracle() -> str:
    h_cols = ",\n           ".join(
        tf.h60_sql(
            f"'vf:{b}:' || CAST(e AS VARCHAR) || ':' || CAST(frn AS VARCHAR)"
        )
        + f" AS _h{b}"
        for b in range(_VID_NHASH)
    )
    chans = ", ".join(
        _vid_chan_sql(*divmod(p, _VID_BYTES_PER_HASH), "bump", f"_h{p // _VID_BYTES_PER_HASH}", "duck")
        for p in range(_VID_PIXELS)
    )
    return f"""
WITH ids AS (
    SELECT event_id AS mid, event_id AS e, 0 AS bump, 0 AS f0,
           {_VID_FRAMES} AS nf
    FROM events
    UNION ALL
    -- planted-copy ids in the negative keyspace (disjoint at any sf):
    -- frame 0 of the base clip dropped, +{_VID_BRIGHT} on every channel
    SELECT -(event_id + 1), event_id, {_VID_BRIGHT}, 1, {_VID_FRAMES - 1}
    FROM events WHERE event_id % {_VID_COPY_MOD} = 0
),
fr AS (
    SELECT mid, e, bump, g.pos AS pos, g.pos + f0 AS frn
    FROM ids CROSS JOIN (VALUES (0), (1), (2), (3)) g(pos)
    WHERE g.pos < nf
),
hs AS (
    SELECT mid, pos, bump,
           {h_cols}
    FROM fr
),
lm AS (SELECT mid, pos, [{chans}] AS lums FROM hs),
tt AS (
    SELECT mid, pos, lums, CAST(list_sum(lums) AS BIGINT) AS total FROM lm
),
fh AS (
    SELECT mid, pos,
           CAST(list_sum(list_transform(range(0, {_VID_PIXELS}),
                p -> CASE WHEN CAST(lums[p + 1] AS BIGINT) * {_VID_PIXELS}
                               > total
                          THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT)
               AS fh
    FROM tt
),
sq AS (
    SELECT mid, list(fh ORDER BY pos) AS seq,
           CAST(COUNT(*) AS INTEGER) AS nf
    FROM fh GROUP BY mid
),
cand AS (
    SELECT DISTINCT a.mid AS id_a, b.mid AS id_b
    FROM fh a JOIN fh b ON a.fh = b.fh AND a.mid < b.mid
),
vv AS (
    SELECT c.id_a, c.id_b, sa.nf AS nf_a, sb.nf AS nf_b,
           CASE WHEN sa.nf <= sb.nf THEN sa.seq ELSE sb.seq END AS ss,
           CASE WHEN sa.nf <= sb.nf THEN sb.seq ELSE sa.seq END AS sl
    FROM cand c
    JOIN sq sa ON sa.mid = c.id_a
    JOIN sq sb ON sb.mid = c.id_b
),
mt AS (
    SELECT id_a, id_b, nf_a, nf_b,
           list_filter(range(0, len(sl) - len(ss) + 1),
               o -> len(list_filter(range(1, len(ss) + 1),
                        i -> sl[o + i] = ss[i])) = len(ss)) AS offs
    FROM vv
)
SELECT id_a, id_b, CAST(offs[1] AS BIGINT) AS match_offset, nf_a, nf_b
FROM mt WHERE len(offs) > 0
"""


@query("dedup_video_frames", oracle=_vid_oracle())
def dedup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs with the REAL container codec in the
    loop — see the module docstring for the recall-by-construction
    derivation (brightness invariance per frame + position-independent
    frame-hash blocking for temporal trims).

    Pipeline: pack 4-frame 8x4 grayscale AVIs (+ planted every-11th
    copies that DROP frame 0 and shift brightness +16), DECODE each
    with the stdlib RIFF parser inside Arrow mapInPandas
    (operators/multimodal.py:decode_avi — idx1 offsets, stride, and
    frame counts all verified), compute each frame's 32-bit aHash from
    the decoded pixels (bit p = pixel luminance * 32 > frame total —
    exact integers), block on bare frame hashes, and verify that the
    shorter clip's ordered hash sequence is a contiguous subsequence
    of the longer's, emitting the match offset (1 = one leading frame
    trimmed). The oracle reproduces the decoded channels
    arithmetically, so a hash match proves pack -> parse -> per-frame
    hash -> block -> sequence-verify end to end."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    # Pack + REAL container decode + per-frame aHash fused in ONE
    # Arrow pass over bare ids (round 12 fused decode+hash — the
    # interpreted HOF chain was the JIT/GC-bimodal hot spot; round 13
    # pulls the PACK in too: the ~500-node generated pack projection
    # was the residual C2-deopt spike, see _vid_feats); checkpointed
    # once, feeds both the banding join and the sequence assembly.
    feats = _vid_feats(ev).localCheckpoint(eager=True)
    seqs = feats.groupBy("media_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(frame_no, fh))),"
            " x -> x.fh)"
        ).alias("seq"),
        F.count(F.lit(1)).cast("int").alias("nf"),
    )
    a, b = feats.alias("a"), feats.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.fh") == F.col("b.fh"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .distinct()
    )
    sa = seqs.select(
        F.col("media_id").alias("id_a"),
        F.col("seq").alias("_qa"),
        F.col("nf").alias("nf_a"),
    )
    sb = seqs.select(
        F.col("media_id").alias("id_b"),
        F.col("seq").alias("_qb"),
        F.col("nf").alias("nf_b"),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "nf_a",
            "nf_b",
            F.expr(
                "CASE WHEN nf_a <= nf_b THEN _qa ELSE _qb END"
            ).alias("_ss"),
            F.expr(
                "CASE WHEN nf_a <= nf_b THEN _qb ELSE _qa END"
            ).alias("_sl"),
        )
        .select(
            "id_a",
            "id_b",
            "nf_a",
            "nf_b",
            F.expr(
                "filter(sequence(0, size(_sl) - size(_ss)), o ->"
                " forall(sequence(1, size(_ss)), i ->"
                " element_at(_sl, o + i) = element_at(_ss, i)))"
            ).alias("_offs"),
        )
        .filter(F.expr("size(_offs) > 0"))
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(element_at(_offs, 1) AS BIGINT)").alias(
                "match_offset"
            ),
            "nf_a",
            "nf_b",
        )
    )
