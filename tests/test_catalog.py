"""Schema-adaptive events ingestion (sources/catalog.py).

The driver has regenerated ``events.parquet`` with different physical
encodings of ``ts`` across rounds: INT64 TIMESTAMP(NANOS) in rounds 1-3,
plain ``timestamp[us]`` (TIMESTAMP_NTZ to Spark) from round 4.  These
tests write one tiny events file per encoding and assert that
``load_table`` yields identical microsecond values from all of them, so
the next data regeneration is a non-event.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mini_hadoop_spark.sources import catalog

# Microsecond-precision wall-clock instants (naive; the session pins UTC).
_TS_US = [
    dt.datetime(2024, 1, 1, 0, 9, 58, 778549),
    dt.datetime(2024, 3, 15, 12, 0, 0, 1),
    dt.datetime(2024, 12, 31, 23, 59, 59, 999999),
]
_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _base_cols(n):
    return {
        "user_id": pa.array(range(n), pa.int64()),
        "event_type": pa.array(["click"] * n, pa.string()),
        "value": pa.array([1.5] * n, pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    }


def _write_events(sf_dir, ts_array):
    cols = {"ts": ts_array, **_base_cols(len(ts_array))}
    pq.write_table(pa.table(cols), str(sf_dir / "events.parquet"))


def _load_ts_micros(spark, sf_dir):
    df = catalog.load_table(spark, str(sf_dir), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    rows = df.select("ts").orderBy("ts").collect()
    return [_micros(r.ts) for r in rows]


@pytest.mark.parametrize(
    "encoding",
    ["nanos_int64", "micros_ntz", "micros_utc"],
)
def test_events_ts_encoding_adaptive(spark, tmp_path, encoding):
    d = tmp_path / encoding
    d.mkdir()
    if encoding == "nanos_int64":
        arr = pa.array([_micros(t) * 1000 for t in _TS_US], pa.timestamp("ns"))
    elif encoding == "micros_ntz":
        arr = pa.array(_TS_US, pa.timestamp("us"))
    else:  # isAdjustedToUTC=true -> Spark TimestampType
        arr = pa.array(_TS_US, pa.timestamp("us", tz="UTC"))
    _write_events(d, arr)
    assert _load_ts_micros(spark, d) == [_micros(t) for t in _TS_US]


def test_events_nanos_truncates_like_duckdb(spark, tmp_path):
    """Sub-microsecond nanos truncate toward zero (integer DIV), exactly
    as DuckDB reads the same file."""
    d = tmp_path / "nanos_frac"
    d.mkdir()
    base = _micros(_TS_US[0])
    arr = pa.array([base * 1000 + 999], pa.timestamp("ns"))
    _write_events(d, arr)
    assert _load_ts_micros(spark, d) == [base]


def test_adaptive_loader_handles_mixed_encodings_any_table(spark, tmp_path):
    """The adaptive path is not events-specific: a table with nanos, NTZ
    and UTC-adjusted timestamp columns side by side loads every one as
    microsecond TimestampType with identical wall-clock values."""
    t = _TS_US[0]
    us = _micros(t)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1], pa.int64()),
                "c_nanos": pa.array([us * 1000], pa.timestamp("ns")),
                "c_ntz": pa.array([t], pa.timestamp("us")),
                "c_utc": pa.array([t], pa.timestamp("us", tz="UTC")),
            }
        ),
        str(tmp_path / "mixed.parquet"),
    )
    from mini_hadoop_spark.sources.catalog import _load_adaptive

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _load_adaptive(spark, str(tmp_path / "mixed.parquet"))
    for c in ("c_nanos", "c_ntz", "c_utc"):
        assert df.schema[c].dataType.typeName() == "timestamp", c
    row = df.collect()[0]
    assert _micros(row.c_nanos) == _micros(row.c_ntz) == _micros(row.c_utc) == us


def test_driver_events_loads(spark):
    """Whatever encoding the driver's current testdata uses, it loads."""
    df = catalog.load_table(spark, "/root/testdata/sf0.001", "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.count() > 0


def test_events_int96_legacy_encoding(spark, tmp_path):
    """Legacy INT96 timestamps: pyarrow's ARROW schema reports them as
    timestamp[ns] — indistinguishable from INT64 TIMESTAMP(NANOS) — but
    Spark reads INT96 natively as TimestampType, so the probe must
    classify by PHYSICAL type or the nanos normalization fails analysis
    (the round-4 failure class, next encoding over)."""
    d = tmp_path / "int96"
    d.mkdir()
    cols = {"ts": pa.array(_TS_US, pa.timestamp("ns")), **_base_cols(len(_TS_US))}
    pq.write_table(
        pa.table(cols),
        str(d / "events.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    assert _load_ts_micros(spark, d) == [_micros(t) for t in _TS_US]


def test_documents_schema_drift_tolerance(spark, tmp_path):
    """The next driver regeneration may reorder columns or add new ones;
    loaders select by NAME, so both must be non-events.  Assert a
    representative text query runs unchanged on a reordered-plus-extended
    documents file."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators.text_analysis import doc_fingerprint

    d = tmp_path / "drift"
    d.mkdir()
    cols = {
        "extra_col": pa.array([1, 2], pa.int64()),          # new column
        "source": pa.array(["web", "web"], pa.string()),    # reordered
        "text": pa.array(["hello world", "HELLO  world"], pa.string()),
        "lang": pa.array(["en", "en"], pa.string()),
        "n_chars": pa.array([11, 12], pa.int64()),
        "doc_id": pa.array([1, 2], pa.int64()),
    }
    pq.write_table(pa.table(cols), str(d / "documents.parquet"))
    rows = doc_fingerprint(spark, str(d)).orderBy("doc_id").collect()
    assert [r.doc_id for r in rows] == [1, 2]
    # the two texts normalize identically -> identical fingerprints
    assert rows[0].fingerprint == rows[1].fingerprint


def test_load_table_starts_no_spark_job(spark):
    """The footer is read once with pyarrow and its schema handed to the
    reader, so building a table's DataFrame runs no Spark job (no
    schema-inference job per table per session)."""
    from mini_hadoop_spark import artifacts
    from tests.conftest import SF_DIR, jobs_started

    artifacts.clear()
    for name in catalog.TABLES:
        assert jobs_started(spark, lambda: catalog.load_table(spark, SF_DIR, name)) == [], name


def _write_fixture(d, kind):
    """One parquet file per timestamp encoding the loader adapts to,
    plus the drifted documents table; returns its path."""
    d.mkdir()
    if kind == "drift":
        path = d / "documents.parquet"
        cols = {
            "extra_col": pa.array([1, 2], pa.int64()),
            "source": pa.array(["web", "web"], pa.string()),
            "text": pa.array(["hello world", "HELLO  world"], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "n_chars": pa.array([11, 12], pa.int64()),
            "doc_id": pa.array([1, 2], pa.int64()),
        }
        pq.write_table(pa.table(cols), str(path))
        return str(path)
    path = d / "events.parquet"
    us = [_micros(t) for t in _TS_US]
    ts = {
        "nanos": pa.array([u * 1000 for u in us], pa.timestamp("ns")),
        "ntz": pa.array(_TS_US, pa.timestamp("us")),
        "utc": pa.array(_TS_US, pa.timestamp("us", tz="UTC")),
        "int96": pa.array(_TS_US, pa.timestamp("ns")),
    }
    if kind == "mixed":
        cols = {f"c_{k}": v for k, v in ts.items() if k != "int96"}
        cols["id"] = pa.array(range(len(us)), pa.int64())
    else:
        cols = {"ts": ts[kind], **_base_cols(len(us))}
    pq.write_table(pa.table(cols), str(path), use_deprecated_int96_timestamps=kind == "int96")
    return str(path)


def _testdata_tables() -> list[str]:
    """Every table of every scale factor next to the test scale factor."""
    import glob
    import os

    from tests.conftest import SF_DIR

    return sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet")))


@pytest.mark.parametrize(
    "source", _testdata_tables() + ["nanos", "ntz", "utc", "int96", "mixed", "drift"]
)
def test_footer_schema_equals_inferred(spark, tmp_path, source):
    """The schema derived from the footer is the one Spark infers for the
    same file, and the footer path is the one taken (no fallback)."""
    path = source if source.endswith(".parquet") else _write_fixture(tmp_path / source, source)
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    # Spark can only infer a nanos column with nanosAsLong, which the
    # loader sets for such files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        encodings, arrow_schema = catalog._probe(spark, path)
        derived = catalog._spark_schema(spark, arrow_schema, encodings)
        assert derived is not None
        assert spark.read.schema(derived).parquet(path).schema == spark.read.parquet(path).schema
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)


@pytest.mark.parametrize(
    "arrow_type, values",
    [(pa.uint32(), [0, 2**32 - 1]), (pa.duration("s"), [5, 7])],
    ids=["uint32", "duration"],
)
def test_unmapped_type_loads_through_inference(spark, tmp_path, arrow_type, values):
    """A column whose arrow mapping is not what Spark infers (uint32 has
    none; a duration maps to an interval, while Spark reads its INT64 as
    a long) loads through Spark's own inference with unchanged values."""
    d = tmp_path / "unmapped"
    d.mkdir()
    path = str(d / "region.parquet")
    pq.write_table(pa.table({"id": pa.array(values, arrow_type), "name": ["a", "b"]}), path)
    encodings, arrow_schema = catalog._probe(spark, path)
    assert catalog._spark_schema(spark, arrow_schema, encodings) is None
    df = catalog.load_table(spark, str(d), "region")
    assert df.schema["id"].dataType.typeName() == "long"
    assert sorted(r.id for r in df.collect()) == values
