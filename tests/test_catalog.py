"""catalog.load's parquet schema memo: a memoised load reads exactly what an
uncached `spark.read.parquet` reads, runs no Spark job once the schema is
known, and re-infers a rewritten file."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from recommendation_system_big_data_spark import catalog
from recommendation_system_big_data_spark.catalog import TABLES, load


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs."""
    sc = spark.sparkContext
    group = "catalog-schema-memo-test"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_memoised_load_matches_uncached_read(spark, sf_dir, name):
    uncached = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    want = list(uncached.dtypes)
    if name == "events" and dict(want)["ts"] == "bigint":
        want = [(c, "timestamp" if c == "ts" else t) for c, t in want]
    load(spark, sf_dir, name)  # fills the memo if this session had not yet
    df = load(spark, sf_dir, name)
    assert df.dtypes == want
    assert df.count() == uncached.count()
    if name == "events":
        assert df.select(F.min("ts"), F.max("ts")).collect() == uncached.select(
            F.min("ts"), F.max("ts")
        ).collect()
    assert _jobs_run_by(spark, lambda: load(spark, sf_dir, name)) == 0


def test_nanos_events_keep_micros_conversion(spark, tmp_path):
    """TIMESTAMP(NANOS) events read through the memo still convert to
    microsecond timestamps by integer division, as an uncached read does."""
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
        version="2.6",
    )
    load(spark, str(tmp_path), "events")
    df = load(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r[0] for r in df.select(catalog.epoch_us("ts")).collect())
    assert got == [v // 1000 for v in ns]


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert load(spark, str(tmp_path), "region").columns == ["a"]
    before = catalog.table_fingerprint(str(tmp_path), "region")
    pq.write_table(
        pa.table({"a": pa.array([1, 2, 3], pa.int32()), "b": ["x", "y", "z"]}),
        path,
    )
    assert catalog.table_fingerprint(str(tmp_path), "region") != before
    df = load(spark, str(tmp_path), "region")
    assert df.dtypes == [("a", "int"), ("b", "string")]
    assert df.count() == 3


def test_unstatable_path_reads_uncached(spark, tmp_path):
    """A table the local filesystem cannot stat fails as a plain read does."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        load(spark, str(tmp_path), "orders")
