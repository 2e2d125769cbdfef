"""Readers in ``io``: session-zone pinning and the raw-schema memo shared
by the batch and streaming readers."""

from __future__ import annotations

from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.io import load_table
from flinkecuserbehavioranalysis_spark.streaming.jobs import read_events_stream

from conftest import SF_DIR

TZ = "spark.sql.session.timeZone"


def _day_buckets(df):
    return sorted(tuple(r) for r in df.groupBy(F.to_date("ts").alias("d")).count().collect())


def test_load_table_repins_utc_after_zone_drift(spark):
    conf = spark.conf
    before = conf.get(TZ)
    try:
        events = load_table(spark, SF_DIR, "events")
        first = _day_buckets(events)
        conf.set(TZ, "Asia/Shanghai")
        # the drift is real: an unpinned query buckets by the new zone
        assert _day_buckets(events) != first
        again = _day_buckets(load_table(spark, SF_DIR, "events"))
        assert conf.get(TZ) == "UTC"
    finally:
        conf.set(TZ, before)
    assert again == first


def test_stream_reuses_batch_schema_and_normalization(spark, monkeypatch):
    batch = load_table(spark, SF_DIR, "events")
    scans = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **options):
        scans.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    stream = read_events_stream(spark, SF_DIR)
    assert scans == []  # no schema-inference read once the table was loaded
    assert stream.isStreaming
    assert stream.dtypes == batch.dtypes
