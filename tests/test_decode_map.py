"""The one Arrow decode loop (operators/multimodal.py:decode_map):
items fan out 0..n per input row across record-batch boundaries, and a
malformed payload still fails the job loudly with the codec's error."""

import struct
import zlib

import pytest

from rust_ruuvitag_etl_spark.operators import multimodal as mm

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _png(chunks):
    out = b"\x89PNG\r\n\x1a\n"
    for ctype, body in chunks:
        out += (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )
    return out


def _good_png(r, g, b):
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes([0, r, g, b]))
    return _png([(b"IHDR", ihdr), (b"IDAT", idat), (b"IEND", b"")])


@pytest.fixture
def small_batches(spark):
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "2")
    yield spark
    spark.conf.set(BATCH_CONF, old)


def test_items_fan_out_across_batches(small_batches):
    spark = small_batches
    # payload byte 0 = how many items the row decodes to; batches of 2
    # rows are [1, 3], [0, 0] (emits nothing) and [3]
    counts = [1, 3, 0, 0, 3]
    df = spark.createDataFrame(
        [(k, bytearray([n, 10 * k])) for k, n in enumerate(counts)],
        "media_id long, content binary",
    ).coalesce(1)

    def decode(b):
        return [(b[1], i) for i in range(b[0])]

    def emit(keys, items):
        assert keys and len(set(keys)) <= 2
        return {
            "media_id": keys,
            "tag": [t for t, _ in items],
            "item_no": [i for _, i in items],
        }

    rows = mm.decode_map(
        df, decode, emit, "media_id long, tag int, item_no int"
    ).collect()
    got = sorted((r["media_id"], r["tag"], r["item_no"]) for r in rows)
    want = sorted(
        (k, 10 * k, i) for k, n in enumerate(counts) for i in range(n)
    )
    assert got == want and len(got) == 7


def test_malformed_payload_fails_the_job(small_batches):
    spark = small_batches
    # IHDR body of 5 bytes (13 required) with a valid CRC: the parser
    # reaches struct.unpack, which the totality guard turns into the
    # codec's ValueError("malformed payload: ...")
    bad = _png([(b"IHDR", b"\x00" * 5), (b"IEND", b"")])
    with pytest.raises(ValueError, match="malformed payload"):
        mm.decode_png_array(bad)
    blobs = [_good_png(1, 2, 3), _good_png(4, 5, 6), bad, _good_png(7, 8, 9)]
    df = spark.createDataFrame(
        [(k, bytearray(b)) for k, b in enumerate(blobs)],
        "media_id long, content binary",
    ).coalesce(1)
    good = mm.image_stats(df.filter("media_id != 2"), mm.decode_png_array)
    assert sorted(r["sum_r"] for r in good.collect()) == [1, 4, 7]
    with pytest.raises(Exception, match="ValueError: malformed payload"):
        mm.image_stats(df, mm.decode_png_array).collect()
