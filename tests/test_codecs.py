"""Codec round-trip properties (bit-exact floats, exact timestamps,
byte-identical text through the block path)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mintpy_spark.codecs.gorilla import (
    decode_floats,
    decode_timestamps,
    encode_floats,
    encode_timestamps,
)


@given(
    st.lists(
        st.floats(width=32, allow_nan=True, allow_infinity=True), max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_float32_roundtrip_bitexact(vals):
    arr = np.array(vals, dtype=np.float32)
    out = decode_floats(encode_floats(arr))
    assert out.dtype == np.float32
    assert np.array_equal(arr.view(np.uint32), out.view(np.uint32))


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True), max_size=200))
@settings(max_examples=100, deadline=None)
def test_float64_roundtrip_bitexact(vals):
    arr = np.array(vals, dtype=np.float64)
    out = decode_floats(encode_floats(arr))
    assert np.array_equal(arr.view(np.uint64), out.view(np.uint64))


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**52), min_size=0, max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_timestamp_roundtrip_exact(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    out = decode_timestamps(encode_timestamps(arr))
    assert np.array_equal(arr, out)


def test_regular_grid_compresses_hard():
    ts = np.arange(0, 10**10, 3600 * 10**6, dtype=np.int64)  # hourly grid
    blob = encode_timestamps(ts)
    assert len(blob) < ts.size * 1.5 + 32  # ~1 byte/point + header
    vals = np.full(1000, np.float32(3.14159))
    fblob = encode_floats(vals)
    assert len(fblob) < 1100 + 16  # 1 ctrl byte/point after first


def test_compression_ratio_on_slow_series():
    rng = np.random.default_rng(0)
    vals = (1000 + np.cumsum(rng.normal(0, 0.5, 5000))).astype(np.float32)
    ratio = (vals.size * 4) / len(encode_floats(vals))
    assert ratio > 1.2  # beats raw float32


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_empty_and_single(dtype):
    for n in (0, 1, 2):
        arr = np.arange(n, dtype=dtype)
        assert np.array_equal(decode_floats(encode_floats(arr)), arr)
        ts = np.arange(n, dtype=np.int64)
        assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_block_pack_unpack_byte_identical_text(spark, pages):
    """The input_hint invariant: text survives the full compress/store/
    decompress path byte-identically per (url, warc_ts)."""
    from pyspark.sql import functions as F

    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    obs = pages.select(
        "url", "warc_ts", F.octet_length("text").alias("text_length"),
        F.encode("text", "UTF-8").alias("text_bytes"),
    )
    blocks = pack_blocks(obs, "text_length", text_col="text_bytes")
    back = unpack_blocks(blocks, with_text=True)
    orig = obs.select(
        "url", "warc_ts",
        F.sha1("text_bytes").alias("sha_orig"),
        F.col("text_length").cast("double").alias("v_orig"),
    )
    got = back.select(
        F.col("key").alias("url"), "warc_ts",
        F.sha1("text").alias("sha_got"), F.col("value").alias("v_got"),
    )
    j = orig.join(got, ["url", "warc_ts"], "full")
    assert j.where(
        F.col("sha_orig").isNull()
        | F.col("sha_got").isNull()
        | (F.col("sha_orig") != F.col("sha_got"))
        | (F.col("v_orig") != F.col("v_got"))
    ).count() == 0
    # block table is much smaller than the obs table
    assert blocks.count() < obs.count() / 3


def test_retention_split_and_restore_lossless(spark, obs):
    """apply_retention splits hot/cold; restore() reproduces the original
    series exactly (float64 block dtype -> bit-identical values)."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.retention import apply_retention, restore

    src = obs.select(
        F.col("url").cast("string").alias("url"),
        "warc_ts",
        F.col("text_length").cast("double").alias("text_length"),
    )
    split = apply_retention(src, "text_length", raw_days=60)
    n_raw = split["raw"].count()
    n_cold_pts = split["cold"].agg(F.sum("n")).first()[0]
    assert n_raw > 0 and n_cold_pts > 0
    assert n_raw + n_cold_pts == src.count()
    # cold tier genuinely compresses vs the long rows it encodes
    back = restore(split, "text_length")
    assert back.count() == src.count()
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_retention_null_rows_stay_raw(spark):
    """NULL ts / NULL value rows must surface in the raw tier, not vanish
    (the cold codec can represent neither)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mintpy_spark.operators.retention import apply_retention, restore

    pdf = pd.DataFrame(
        {
            "url": ["a", "a", "a", "a"],
            "warc_ts": [
                pd.Timestamp("2023-01-01"),
                pd.Timestamp("2023-06-01"),
                pd.NaT,
                pd.Timestamp("2023-01-02"),
            ],
            "text_length": [1.0, 2.0, 3.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    split = apply_retention(df, "text_length", horizon="2023-05-01")
    raw_rows = split["raw"].collect()
    assert len(raw_rows) == 3  # recent + null-ts + null-value
    assert split["cold"].agg(F.sum("n")).first()[0] == 1
    assert restore(split, "text_length").count() == 4


def test_block_timestamps_roundtrip_exact_microseconds(spark):
    """Adversarial microsecond components (incl. values near the double
    truncation boundary) must round-trip bit-exactly."""
    import pandas as pd

    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    ts = [
        pd.Timestamp("2023-01-01 00:00:00.000001"),
        pd.Timestamp("2023-01-01 00:00:00.999999"),
        pd.Timestamp("2026-02-28 23:59:59.777777"),
        pd.Timestamp("2033-05-18 03:33:20.000001"),  # epoch 2e9 + 1us
    ]
    pdf = pd.DataFrame({"url": "u", "warc_ts": ts, "v": [1.0, 2.0, 3.0, 4.0]})
    blocks = pack_blocks(spark.createDataFrame(pdf), "v", value_dtype="float64")
    back = unpack_blocks(blocks).orderBy("warc_ts").collect()
    assert [r.warc_ts for r in back] == sorted(ts)


def _blocks_by_key(blocks):
    rows = blocks.collect()
    out = {
        (r.key, r.window_start): tuple(
            None if b is None else bytes(b)
            for b in (r.ts_blob, r.val_blob, r.txt_blob, r.txt_lens)
        ) + (r.n,)
        for r in rows
    }
    assert len(out) == len(rows)  # one block per (key, window)
    return out


def test_pack_blocks_carry_path_matches_direct_encoding(spark):
    """With 7-row Arrow batches most (key, window) groups span batches,
    so the seam's carry buffer assembles them; every block must still
    equal the codecs applied to that group's rows in (ts, value) order."""
    import datetime as dt
    import zlib

    from pyspark.sql import functions as F

    from mintpy_spark.codecs.blocks import pack_blocks
    from mintpy_spark.functions.timefn import bucket_start

    rng = np.random.default_rng(3)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in range(6):
        n = int(rng.integers(1, 60))
        hours = np.sort(rng.choice(24 * 120, size=n, replace=False))
        for h in hours:
            v = float(rng.normal(100, 10))
            roll = rng.random()
            v = None if roll < 0.05 else (float("nan") if roll < 0.1 else v)
            text = None if rng.random() < 0.1 else f"doc-{k}-{h}".encode()
            rows.append((f"u{k}", t0 + dt.timedelta(hours=int(h)), v, text))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, v double, text binary"
    ).repartition(3)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = _blocks_by_key(
            pack_blocks(df, "v", text_col="text", value_dtype="float64")
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    src = df.select(
        "url", "v", "text",
        F.unix_micros("warc_ts").alias("ts_us"),
        bucket_start(F.col("warc_ts"), "30d").alias("win"),
    ).toPandas()
    expected = {}
    for (url, win), g in src.groupby(["url", "win"]):
        g = g.sort_values("ts_us")
        texts = g["text"].tolist()
        lens = np.array([-1 if t is None else len(t) for t in texts], np.int64)
        expected[(url, win.to_pydatetime())] = (
            encode_timestamps(g["ts_us"].to_numpy(np.int64)),
            encode_floats(g["v"].to_numpy(np.float64)),
            zlib.compress(b"".join(t for t in texts if t is not None), 6),
            lens.tobytes(),
            len(g),
        )
    assert max(e[-1] for e in expected.values()) > 7  # groups span batches
    assert got == expected


def test_pack_blocks_null_key_raises(spark):
    """A NULL key fails loudly instead of writing NULL into the
    non-nullable block key."""
    import datetime as dt

    from pyspark.errors import PythonException

    from mintpy_spark.codecs.blocks import pack_blocks

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("u", t0, 1.0), (None, t0, 2.0)], "url string, warc_ts timestamp, v double"
    )
    with pytest.raises(PythonException, match="ValueError: map_sorted_groups: NULL key"):
        pack_blocks(df, "v").collect()


def test_pack_blocks_deterministic_under_duplicate_timestamps(spark):
    """Rows sharing a timestamp within a block are ordered by value, then
    text, so the blob bytes depend on the rows alone: two input orders
    and partition counts give byte-identical blocks."""
    import datetime as dt

    from mintpy_spark.codecs.blocks import pack_blocks

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (f"u{k}", t0 + dt.timedelta(hours=h % 5), float(v), f"t{k}{h}{v}".encode())
        for k in range(4)
        for h in range(20)
        for v in (3, 1, 2, 1)
    ]
    schema = "url string, warc_ts timestamp, v double, text binary"
    a = spark.createDataFrame(rows, schema).coalesce(1)
    b = spark.createDataFrame(rows[::-1], schema).repartition(5)
    got_a = _blocks_by_key(pack_blocks(a, "v", text_col="text"))
    got_b = _blocks_by_key(pack_blocks(b, "v", text_col="text"))
    assert len(got_a) == 4
    assert got_a == got_b
