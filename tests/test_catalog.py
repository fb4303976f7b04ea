"""Catalog loading leaves no session state behind."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from recommendersystems_bigdata_spark.catalog import NANOS_AS_LONG, load_table


def test_load_events_leaves_session_conf_unchanged(spark, sf_dir):
    before = spark.conf.get(NANOS_AS_LONG, None)
    ev = load_table(spark, sf_dir, "events")
    assert spark.conf.get(NANOS_AS_LONG, None) == before
    assert ev.count() > 0


def test_nanos_events_read_after_conf_restored(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file (the layout the nanosAsLong read
    exists for) still truncates to µs when the plan executes after the
    flag is restored, and an explicit session value survives the load."""
    ns = [1_704_067_200_123_456_789, 1_704_153_600_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    before = spark.conf.get(NANOS_AS_LONG, None)
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        ev = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_AS_LONG) == "false"
        got = sorted(r["ts"] for r in ev.collect())
    finally:
        if before is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, before)
    epoch = dt.datetime(1970, 1, 1)
    assert got == [epoch + dt.timedelta(microseconds=n // 1000) for n in ns]
