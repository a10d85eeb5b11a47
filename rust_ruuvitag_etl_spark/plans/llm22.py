"""Round-10 wave 8 — multimodal (image) near-duplicate detection.

The missing modality in the dedup story: text has MinHash/SimHash/
SSJoin, embeddings have RHP-LSH and SemDeDup — this family dedups
IMAGES with the real codec in the loop. Corpus: genuine 3x2 24-bit
BI_RGB BMPs (the multimodal_image_stats packer, shared via
bmp_payload_hex_from_channels) whose 18 channel values mix the image
id through the portable md5 hash — so every image is globally unique,
unlike the stats corpus whose (id x prime) mod 256 channels collapse
into 256 exact-duplicate classes (measured: that corpus yields a
quadratic N^2/256 pair set — correct, but a different, degenerate
workload). A planted near-duplicate joins every 7th image (pixel 0's
red channel +1 — an off-by-one requantization artifact).

The engine path DECODES every blob with the stdlib BMP parser inside
Arrow mapInPandas, blocks on TWO offset quantization bands, and
verifies candidates with an exact integer L1 distance; the oracle
reproduces the decoded channels arithmetically (h60 twin), so a hash
match proves pack → parse → un-flip → block → verify end to end.

Why two bands at offsets 0 and 2 (channel // 4 and (channel+2) // 4):
a +1 perturbation crosses an offset-0 bucket boundary only when the
channel ≡ 3 (mod 4) and an offset-2 boundary only when ≡ 1 (mod 4) —
never both — so every planted pair collides in AT LEAST one band:
recall is 1.0 BY CONSTRUCTION, not by tuning (the wrap case 255→0 is
rejected by the L1 verifier identically on both engines). md5-mixed
channels quantize to ~unique 18-value keys, so non-planted collisions
are negligible and the candidate space is O(|planted|), never
quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators.dedup import spread
from ..sources import load
from .analytics import bmp_payload_hex_from_channels
from .registry import query

_IMG_COPY_MOD = 7
_IMG_L1_MAX = 3  # planted diff is exactly 1; wrap pairs (255) rejected


def _chan_sql(i: int, bump: bool) -> str:
    h = tf.h60_sql(f"'img:{i}:' || CAST(e AS VARCHAR)")
    base = f"({h}) % 256"
    return f"(({base}) + bump) % 256" if bump else base


_IMG_DEDUP_ORACLE = f"""
WITH ids AS (
    SELECT event_id AS mid, event_id AS e, 0 AS bump FROM events
    UNION ALL
    -- planted-copy ids live in the NEGATIVE keyspace: disjoint from
    -- base event_ids (>= 0) at EVERY scale factor, unlike an additive
    -- offset which collides once event_id reaches it
    SELECT -(event_id + 1), event_id, 1 FROM events
    WHERE event_id % {_IMG_COPY_MOD} = 0
),
ch AS (
    SELECT mid,
           [{", ".join(_chan_sql(i, bump=(i == 0)) for i in range(18))}]
               AS ch
    FROM ids
),
bands AS (
    SELECT mid, 0 AS band,
           array_to_string(list_transform(ch, c -> CAST(c // 4 AS VARCHAR)),
                           ',') AS bk
    FROM ch
    UNION ALL
    SELECT mid, 1,
           array_to_string(list_transform(ch,
                           c -> CAST((c + 2) // 4 AS VARCHAR)), ',')
    FROM ch
),
cand AS (
    SELECT DISTINCT a.mid AS id_a, b.mid AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bk = b.bk AND a.mid < b.mid
),
verified AS (
    SELECT c.id_a, c.id_b,
           CAST(list_sum(list_transform(range(1, 19),
                i -> abs(ca.ch[i] - cb.ch[i]))) AS BIGINT) AS l1
    FROM cand c
    JOIN ch ca ON ca.mid = c.id_a
    JOIN ch cb ON cb.mid = c.id_b
)
SELECT id_a, id_b, l1 FROM verified WHERE l1 <= {_IMG_L1_MAX}
"""


def _channels(e, bump: bool) -> list:
    out = []
    for i in range(18):
        c = F.pmod(
            tf.h60(F.concat(F.lit(f"img:{i}:"), e.cast("string"))),
            F.lit(256),
        )
        if i == 0 and bump:
            c = F.pmod(c + 1, F.lit(256))
        out.append(c)
    return out


def _img_pack_bytes(e: int, bump: bool) -> bytes:
    """Pack ONE event's genuine 3x2 24-bit BMP in plain Python —
    byte-identical to :func:`_media`'s Column-expression packer (pinned
    by tests/test_r13_fused_pack.py): the same 18 h60-mod-256 channels
    (hashlib.md5 == Spark md5), the same BGR bottom-up rows with 3
    stride-pad bytes, behind the same shared 54-byte header. Companion
    of llm23._ah_pack_bytes."""
    import hashlib

    from .analytics import _BMP_HEADER_HEX

    ch = [
        int(hashlib.md5(f"img:{i}:{e}".encode()).hexdigest()[:15], 16)
        % 256
        for i in range(18)
    ]
    if bump:
        ch[0] = (ch[0] + 1) % 256
    px = bytearray()
    for p in (3, 4, 5):  # file row 0 = image bottom row (y=1)
        px += bytes((ch[3 * p + 2], ch[3 * p + 1], ch[3 * p + 0]))
    px += b"\x00\x00\x00"  # stride pad
    for p in (0, 1, 2):  # file row 1 = image top row (y=0)
        px += bytes((ch[3 * p + 2], ch[3 * p + 1], ch[3 * p + 0]))
    px += b"\x00\x00\x00"
    return bytes.fromhex(_BMP_HEADER_HEX) + bytes(px)


def _img_feats(ev: DataFrame) -> DataFrame:
    """Round-13 fused pack -> REAL decode -> channels + band keys in
    ONE Arrow pass over bare event_ids: each worker packs the genuine
    BMP bytes (:func:`_img_pack_bytes`), decodes them with the SAME
    stdlib BI_RGB parser as before
    (operators/multimodal.py:decode_bmp_array), and emits the decoded
    18-channel vector PLUS the two quantization band keys, computed as
    md5 of the quantized vector's CSV rendering (deterministic across
    workers — a salted Python ``hash()`` would silently drop
    candidates). Key function choice is correctness-neutral: equal
    quantized vectors map to equal keys under ANY deterministic hash,
    and the registered query re-checks TRUE quantized equality on
    candidates, so a 64-bit collision can only add a pre-verify pair.
    Planted every-7th copies are generated in the same pass.

    Why (guide §4.2, measured round 13): the retired JVM path packed
    blobs through an 18-md5 hex/concat projection, shipped them to the
    decode worker, then computed band keys as interpreted
    ``transform``+xxhash64 higher-order calls over the full corpus —
    the HOF/codegen mix behind this query's 3.0 <-> 5.1 s bench swing.
    One Arrow pass ships 8 bytes of id in and (channels, 2 longs) out,
    with no interpreted JVM lambda anywhere on the corpus path."""
    from ..operators.multimodal import decode_bmp_array, decode_map

    def _key(qs) -> int:
        import hashlib

        d = hashlib.md5(",".join(map(str, qs)).encode()).digest()
        return int.from_bytes(d[:8], "big", signed=True)

    def _row(e: int, mid: int, bump: bool):
        rgb = decode_bmp_array(_img_pack_bytes(e, bump))["rgb"]
        ch = [int(v) for v in rgb.reshape(-1)]
        return (
            mid,
            ch,
            _key([c // 4 for c in ch]),
            _key([(c + 2) // 4 for c in ch]),
        )

    def decode(e: int) -> list:
        rows = [_row(e, e, False)]
        if e % _IMG_COPY_MOD == 0:
            rows.append(_row(e, -(e + 1), True))
        return rows

    def emit(_keys, rows) -> dict:
        return dict(zip(("media_id", "channels", "bk0", "bk1"), zip(*rows)))

    return decode_map(
        ev,
        decode,
        emit,
        "media_id long, channels array<int>, bk0 long, bk1 long",
    )


def _media(ev: DataFrame, mid, bump: bool) -> DataFrame:
    ch = _channels(F.col("event_id"), bump)
    pixels = [tuple(ch[3 * p + k] for k in range(3)) for p in range(6)]
    return ev.select(
        mid.alias("media_id"),
        F.unhex(bmp_payload_hex_from_channels(pixels)).alias("content"),
    )


def band_candidates(feats: DataFrame, key0: str, key1: str) -> DataFrame:
    """Distinct (id_a < id_b) media pairs sharing the band-0 key
    ``key0`` or the band-1 key ``key1``: one band-key equi-join."""
    bands = feats.select(
        "media_id", F.lit(0).alias("band"), F.col(key0).alias("bk")
    ).unionAll(
        feats.select("media_id", F.lit(1).alias("band"), F.col(key1))
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
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


@query("dedup_image_bands", oracle=_IMG_DEDUP_ORACLE)
def dedup_image_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs over REAL decoded BMPs: pack the
    md5-channel corpus (+ planted every-7th near-copies, red channel
    +1) into genuine bitmaps, DECODE each with the stdlib BI_RGB
    parser inside Arrow mapInPandas, block on two offset quantization
    bands (recall 1.0 on ±1 perturbations by construction — module
    docstring), and verify candidates with an exact integer L1
    distance. The oracle reproduces the decoded channels
    arithmetically, so a hash match proves the full pack → parse →
    block → verify chain.

    Scale posture: pack + decode + banding are scan-local; the ONE
    corpus-scale shuffle is the band-key equi-join (md5-mixed channels
    make keys ~unique for non-duplicates, so bucket sizes stay O(1)
    and the candidate space is O(|planted|)); the L1 verify joins the
    candidate ids back to the channel table by id — uniform
    equi-joins, never a cross join. At photo scale the same plan runs
    over perceptual-hash bands (aHash/pHash bits) instead of
    raw-channel quantization — identical shape."""
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    # Pack + REAL decode + band keys fused in ONE Arrow pass over bare
    # ids (round 13, see _img_feats: the JVM pack projection + the
    # interpreted transform/xxhash64 band-key lambdas were this query's
    # bench-swing hot spot); |corpus + planted| rows of
    # (media_id, 18-channel vector, bk0, bk1), reused by banding AND
    # verify. Band keys stay 8-byte longs — the round-10 lesson that
    # the self-join must shuffle hashes, not ~70-byte CSV strings
    # (measured 12.5 MB -> ~1 MB shuffle write at sf0.1) — and the
    # verify still re-checks TRUE quantized equality, so key collisions
    # can only add pre-verify candidates, never change the output.
    ch = _img_feats(ev).localCheckpoint(eager=True)

    cand = band_candidates(ch, "bk0", "bk1")
    ca = ch.select(
        F.col("media_id").alias("id_a"), F.col("channels").alias("_ca")
    )
    cb = ch.select(
        F.col("media_id").alias("id_b"), F.col("channels").alias("_cb")
    )
    l1 = F.aggregate(
        F.zip_with("_ca", "_cb", lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )

    # Exact-equivalence guard for the hashed band key: re-check TRUE
    # quantized band-vector equality on the candidate pairs (O(|cand|)
    # array compares, no extra shuffle), so an xxhash64 cross-key
    # collision on a pair at L1 <= _IMG_L1_MAX can never emit a row
    # the CSV-keyed oracle lacks.
    def _qeq(offset: int):
        q = lambda col: F.transform(  # noqa: E731
            col, lambda c: ((c + F.lit(offset)) / 4).cast("int")
        )
        return q("_ca") == q("_cb")

    return (
        cand.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(_qeq(0) | _qeq(2))
        .select("id_a", "id_b", l1.alias("l1"))
        .filter(F.col("l1") <= _IMG_L1_MAX)
    )
