"""The declared table schemas: their contract with the test data, the
zero-job frame construction they buy, and the loud failure on a file
that does not match them."""

from __future__ import annotations

import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from p4_mapreduce_spark.registry import load_all
from p4_mapreduce_spark.sources.tables import DEFAULT_SF_DIR, SCHEMAS, TABLES, load

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every scale of the test data, plus the benchmark's vendored copy.
_SF_DIRS = sorted(
    glob.glob(os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf*"))
    + glob.glob(os.path.join(_REPO, "perfbench", "data", "sf*"))
)

# The JVM-only queries of the benchmark's sql_scan workload.
_SCAN_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "window_topk_per_group",
    "asof_join_clicks_purchases",
    "date_functions",
)


def _fresh_sf_dir(sf_dir, out, replace=None) -> str:
    """A new directory whose tables symlink ``sf_dir``'s, except the
    ones ``replace`` maps to pyarrow tables, which are written there."""
    replace = replace or {}
    os.makedirs(out)
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if t in replace:
            pq.write_table(replace[t], dst)
        else:
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)
    return str(out)


def _jobs_run_by(spark, build) -> int:
    """The number of Spark jobs ``build()`` starts, counted under a job
    group of its own once the listener bus has caught up."""
    sc = spark.sparkContext
    group = f"construct-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construction guard")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_schemas_declare_every_table():
    assert set(SCHEMAS) == set(TABLES)


@pytest.mark.parametrize(
    "sf", _SF_DIRS or [pytest.param(None, marks=pytest.mark.skip("no test data"))]
)
def test_declared_schemas_match_inferred(spark, sf):
    """The declarations are what Spark infers from the files, at every
    scale: a regenerated file with a new type fails here, not in a
    query."""
    for t in TABLES:
        inferred = spark.read.parquet(os.path.join(sf, f"{t}.parquet")).schema
        assert StructType.fromDDL(SCHEMAS[t]) == inferred, (sf, t)


def test_load_runs_no_job(spark, sf_dir, tmp_path):
    path = _fresh_sf_dir(sf_dir, tmp_path / "fresh")
    for t in TABLES:
        assert _jobs_run_by(spark, lambda: load(spark, path, t)) == 0, t


@pytest.mark.parametrize("name", _SCAN_QUERIES)
def test_scan_query_construction_runs_no_job(spark, sf_dir, tmp_path, name):
    path = _fresh_sf_dir(sf_dir, tmp_path / "fresh")
    fn = load_all()[name].fn
    assert _jobs_run_by(spark, lambda: fn(spark, path)) == 0


def test_mismatched_file_fails_loudly(spark, sf_dir, tmp_path):
    """An events file storing ``ts`` as nanos does not match the declared
    ``timestamp_ntz``: the scan must raise, not decode wrong instants."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = events.schema.get_field_index("ts")
    nanos = events.set_column(i, "ts", events.column("ts").cast(pa.timestamp("ns")))
    path = _fresh_sf_dir(sf_dir, tmp_path / "nanos", {"events": nanos})
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load(spark, path, "events").collect()
