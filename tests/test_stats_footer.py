"""Footer stats: what ``collect_file_stats_footer`` reads from the
parquet footers of Spark- and pyarrow-written files, per column type,
and the ``stats_json`` documents built from it.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import struct
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from delta_kernel_rs_spark.functions import stats as S

SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("s", T.StringType()),
        T.StructField("u", T.StringType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("nul", T.LongType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("i", pa.int32()),
        ("l", pa.int64()),
        ("d", pa.float64()),
        ("dec", pa.decimal128(12, 3)),
        ("s", pa.string()),
        ("u", pa.string()),
        ("dt", pa.date32()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("ntz", pa.timestamp("us")),
        ("nul", pa.int64()),
    ]
)


def _rows(n: int, seed: int) -> dict:
    base = dt.datetime(2024, 2, 29, 23, 59, 59, 999_999)
    specials = [float("nan"), float("inf"), float("-inf")]
    return {
        "i": [(seed * 7 + k * 13) % 101 - 50 for k in range(n)],
        "l": [(seed << 40) - k * 3_000_000_007 for k in range(n)],
        "d": [specials[k % 3] if k % 4 == 0 else k / 7 - seed for k in range(n)],
        "dec": [Decimal(f"{seed - k}.{k % 1000:03d}") for k in range(n)],
        "s": [f"{'x' * 31}{chr(0x7A - k % 3)}{'y' * (k % 5)}-{seed}" for k in range(n)],
        "u": ["\U0001F600" * (30 + k % 4) + "\U0010FFFF" * 3 for k in range(n)],
        "dt": [dt.date(1969, 12, 31) + dt.timedelta(days=k * 40 - seed) for k in range(n)],
        "ts": [
            (base + dt.timedelta(microseconds=k * 1_234_567 - seed)).replace(tzinfo=dt.timezone.utc)
            for k in range(n)
        ],
        "ntz": [
            dt.datetime(1900, 1, 1, 0, 0, 0, 1) + dt.timedelta(hours=k * 5 + seed) for k in range(n)
        ],
        "nul": [None] * n,
    }


def _spark_files(spark, root: str) -> list[str]:
    """Two files from Spark's own parquet writer."""
    out = f"{root}/spark"
    frame = spark.createDataFrame(pa.table(_rows(24, 3), schema=_ARROW_SCHEMA))
    frame.repartition(2).write.parquet(out)
    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert len(files) == 2
    return files


def _corrupt_footer(path: str) -> None:
    """Overwrite the footer's thrift bytes, keeping the length and magic:
    pyarrow then fails to deserialize it, as it does on a logical type
    it does not know."""
    data = bytearray(open(path, "rb").read())
    (n,) = struct.unpack("<i", data[-8:-4])
    data[-8 - n : -8] = b"\xff" * n
    with open(path, "wb") as fh:
        fh.write(data)


@pytest.fixture()
def footer_files(spark, tmp_path):
    root = str(tmp_path)
    paths = _spark_files(spark, root)
    multi = f"{root}/row_groups.parquet"
    pq.write_table(pa.table(_rows(40, 5), schema=_ARROW_SCHEMA), multi, row_group_size=7)
    assert pq.read_metadata(multi).num_row_groups == 6
    empty = f"{root}/empty.parquet"
    pq.write_table(_ARROW_SCHEMA.empty_table(), empty)
    bad = f"{root}/bad footer.parquet"
    pq.write_table(pa.table(_rows(3, 1), schema=_ARROW_SCHEMA), bad)
    _corrupt_footer(bad)
    return paths + [multi, empty, bad]


def _bounds(values: list) -> tuple:
    """(min, max) of the non-null, non-NaN values, as a parquet writer
    records them."""
    kept = [v for v in values if v is not None and not (isinstance(v, float) and math.isnan(v))]
    return min(kept), max(kept)


def test_footer_stats_per_type(spark, footer_files):
    """Per file: the row count, each eligible column's bounds and null
    count folded over the row groups, ``None`` for a footer pyarrow cannot
    parse, and a ``stats_json`` document that keeps the reader contract
    (truncated strings, millisecond timestamps, no non-finite floats)."""
    *written, multi, empty, bad = footer_files
    got = S.collect_file_stats_footer(spark, footer_files, SCHEMA, num_indexed=-1)
    assert list(got) == footer_files
    assert got[bad] is None
    assert got[empty] == {"numRecords": 0, "min": {}, "max": {}, "nullCount": {}}

    # six row groups of pyarrow's writer: bounds fold to the file's own
    rows = _rows(40, 5)
    raw = got[multi]
    assert raw["numRecords"] == 40
    assert raw["nullCount"] == {name: 40 if name == "nul" else 0 for name in SCHEMA.fieldNames()}
    assert set(raw["min"]) == set(raw["max"]) == set(SCHEMA.fieldNames()) - {"nul"}
    for name in raw["min"]:
        assert (raw["min"][name], raw["max"][name]) == _bounds(rows[name]), name
    assert raw["min"]["d"] == -math.inf and raw["max"]["d"] == math.inf
    doc = json.loads(S.stats_json(raw, SCHEMA))
    lo, hi = doc["minValues"], doc["maxValues"]
    assert "d" not in lo and "d" not in hi and "nul" not in lo
    for name in ("s", "u"):
        small, big = _bounds(rows[name])
        assert len(small) > 32 and len(big) > 32
        assert lo[name] == small[:32] and hi[name] == S.truncate_max_string(big)
    assert hi["u"][-1] == "\U0001F601"
    assert (lo["i"], hi["i"], lo["l"], hi["l"]) == (-48, 50, 5380558138607, 5497558138880)
    assert (lo["dec"], hi["dec"]) == ("-34.039", 5.0)
    assert (lo["dt"], hi["dt"]) == ("1969-12-26", "1974-04-04")
    assert (lo["ts"], hi["ts"]) == ("2024-02-29T23:59:59.999Z", "2024-03-01T00:00:48.148Z")
    assert (lo["ntz"], hi["ntz"]) == ("1900-01-01T05:00:00.000Z", "1900-01-09T08:00:00.000Z")

    # Spark's writer: two files that together hold _rows(24, 3)
    rows = _rows(24, 3)
    assert sum(got[p]["numRecords"] for p in written) == 24
    for name in ("i", "l", "s", "u", "dt"):
        assert (
            min(got[p]["min"][name] for p in written),
            max(got[p]["max"][name] for p in written),
        ) == _bounds(rows[name]), name
    for path in written:
        raw = got[path]
        assert raw["nullCount"]["nul"] == raw["numRecords"]
        # Spark writes a decimal of precision <= 18 as INT64, whose
        # statistics pyarrow cannot convert: its bounds are unknown
        assert "dec" not in raw["min"] and "dec" not in raw["max"]
        text = S.stats_json(raw, SCHEMA)
        assert "Infinity" not in text and "NaN" not in text
        assert json.loads(text)["nullCount"]["nul"] == raw["numRecords"]
