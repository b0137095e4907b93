"""Sources/sinks/catalog tests (SURVEY.md §2.1 S1-S15)."""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.schema import REDSET_SCHEMA
from data_engineering_project_utn_spark.sources import io as sio
from data_engineering_project_utn_spark.tables import load_table
from tests.fixtures import redset_raw_rows


def test_topic_projections_cover_reference_lists(spark):
    pdf = redset_raw_rows(20)
    df = spark.createDataFrame(pdf)
    for topic, cols in sio.TOPIC_PROJECTIONS.items():
        view = sio.topic_view(df, topic)
        assert view.columns == cols, topic


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(redset_raw_rows(30))
    sio.write_parquet(df, str(tmp_path / "p"))
    back = sio.read_parquet(spark, str(tmp_path / "p"))
    assert back.count() == 30
    assert set(back.columns) == set(df.columns)


def test_parquet_partitioned_prunes(spark, tmp_path):
    df = spark.createDataFrame(redset_raw_rows(50))
    sio.write_parquet(df, str(tmp_path / "pp"), partition_by=["query_type"])
    back = sio.read_parquet(spark, str(tmp_path / "pp")).filter(
        F.col("query_type") == "select"
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (partition pruning, not a row filter)
    assert "PartitionFilters" in plan and "query_type" in plan


def test_csv_roundtrip_schema_first(spark, tmp_path):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = spark.createDataFrame(pdf)
    sio.append_csv(df, str(tmp_path / "c"))
    back = sio.read_csv(spark, str(tmp_path / "c"), schema=df.schema)
    assert back.count() == 3
    assert back.schema == df.schema


def test_jsonl_redset_cleans_to_canonical_schema(spark, tmp_path):
    pdf = redset_raw_rows(25)
    path = tmp_path / "rows.jsonl"
    with open(path, "w") as f:
        for rec in pdf.to_dict("records"):
            f.write(json.dumps(rec) + "\n")
    df = sio.read_jsonl_redset(spark, str(path))
    got = [(f.name, f.dataType) for f in df.schema.fields]
    want = [(f.name, f.dataType) for f in REDSET_SCHEMA.fields]
    assert got == want
    assert df.count() == 25


def test_to_json_rows_payload_shape(spark):
    df = spark.createDataFrame(redset_raw_rows(5))
    out = sio.to_json_rows(df, columns=sio.TOPIC_PROJECTIONS["leaderboard"]).collect()
    assert len(out) == 5
    payload = json.loads(out[0]["value"])
    assert set(payload) <= set(sio.TOPIC_PROJECTIONS["leaderboard"])


def test_view_catalog_ops(spark):
    df = spark.createDataFrame(redset_raw_rows(10))
    sio.register_view(df, "src_test_view")
    assert sio.table_exists(spark, "src_test_view")
    info = sio.table_summary(spark, "src_test_view")
    assert info["rows"] == 10
    sio.insert_into_view(spark, df, "src_test_view")
    assert spark.table("src_test_view").count() == 20
    assert sio.table_summary(spark, "no_such_view")["exists"] is False


def test_bucketed_append_then_compact_roundtrip(spark):
    """append_bucketed_table grows one file per touched bucket per call;
    compact_bucketed_table folds them back to one file per bucket with
    identical rows and a still-bucketed (keyed-read) layout."""
    import glob
    import os

    import pandas as pd

    from data_engineering_project_utn_spark.sources.io import (
        append_bucketed_table,
        compact_bucketed_table,
        write_bucketed_table,
    )

    name = "compaction_t"
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    mk = lambda lo, hi: spark.createDataFrame(
        pd.DataFrame({"doc_id": range(lo, hi), "text": [f"d{i}" for i in range(lo, hi)]})
    )
    write_bucketed_table(spark, mk(0, 20), name, 4, "doc_id")
    append_bucketed_table(spark, mk(20, 30), name, 4, "doc_id")
    append_bucketed_table(spark, mk(30, 40), name, 4, "doc_id")

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    files = lambda: [
        f for f in glob.glob(os.path.join(wh, name, "*"))
        if not os.path.basename(f).startswith("_")
    ]
    assert len(files()) > 4  # delta files accumulated
    before = {r["doc_id"] for r in spark.table(name).collect()}

    compact_bucketed_table(spark, name, 4, "doc_id")
    assert len(files()) == 4  # one file per bucket again
    assert {r["doc_id"] for r in spark.table(name).collect()} == before == set(range(40))
    plan = (
        spark.table(name).groupBy("doc_id").count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Bucketed: true" in plan
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_compaction_recovers_from_crash_between_renames(spark):
    """ADVICE r13 swap safety: the only instant with no table at `name`
    is between the two renames; a crash there leaves the data under
    `name__precompact`, and the next compaction auto-recovers it before
    proceeding (rename back → compact normally)."""
    import pandas as pd

    from data_engineering_project_utn_spark.sources.io import (
        append_bucketed_table,
        compact_bucketed_table,
        write_bucketed_table,
    )

    name = "compaction_crash_t"
    for t in (name, f"{name}__precompact", f"{name}__compacting"):
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")
    mk = lambda lo, hi: spark.createDataFrame(
        pd.DataFrame({"doc_id": range(lo, hi), "text": [f"d{i}" for i in range(lo, hi)]})
    )
    write_bucketed_table(spark, mk(0, 20), name, 4, "doc_id")
    append_bucketed_table(spark, mk(20, 30), name, 4, "doc_id")
    # simulate the crash window: the table was renamed aside and the
    # process died before the compacted temp moved into place
    spark.sql(f"ALTER TABLE `{name}` RENAME TO `{name}__precompact`")
    assert not spark.catalog.tableExists(name)

    compact_bucketed_table(spark, name, 4, "doc_id")
    assert {r["doc_id"] for r in spark.table(name).collect()} == set(range(30))
    assert not spark.catalog.tableExists(f"{name}__precompact")
    for t in (name, f"{name}__compacting"):
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")


def test_table_location_matches_describe(spark):
    """table_location's catalog-metadata path must agree with the
    DESCRIBE-parse fallback it replaced."""
    import pandas as pd

    from data_engineering_project_utn_spark.sources.io import (
        table_location,
        write_bucketed_table,
    )

    name = "loc_probe_t"
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    write_bucketed_table(
        spark,
        spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]})),
        name, 2, "doc_id",
    )
    via_describe = (
        spark.sql(f"DESCRIBE EXTENDED `{name}`")
        .filter("col_name = 'Location'")
        .first()["data_type"]
    )
    assert table_location(spark, name) == via_describe
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")


# ---------------------------------------------------------------------------
# The inferred-schema memo behind read_parquet / tables.load_table
# ---------------------------------------------------------------------------


def _jobs(spark, fn, group):
    """(fn's result, Spark jobs fn launched); the memo's hit is a read that
    runs no footer-inference job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_follows_a_rewritten_file(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").collect() == [(0,), (1,)]
    _, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"), "memo-rewrite-hit")
    assert jobs == 0  # unchanged file: the memo hits

    pq.write_table(pa.table({"r_name": ["AFRICA", "ASIA", "EUROPE"], "r_w": [0.5, 1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_name", "string"), ("r_w", "double")]
    assert sorted(df.collect()) == [("AFRICA", 0.5), ("ASIA", 1.5), ("EUROPE", 2.5)]


def test_memo_hit_keeps_the_events_timestamp_fixups(spark, tmp_path):
    """ns ``ts`` (a bigint under nanosAsLong) becomes µs TIMESTAMP, and a µs
    non-UTC column (TIMESTAMP_NTZ) becomes TIMESTAMP, on a hit as on a miss."""
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_999], pa.timestamp("ns")),
            "seen": pa.array([dt.datetime(2024, 1, 2, 3, 4, 5, 6), None], pa.timestamp("us")),
        }),
        tmp_path / "events.parquet",
    )
    cold = load_table(spark, str(tmp_path), "events")
    warm, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"), "memo-fixups-hit")
    assert jobs == 0
    assert warm.dtypes == cold.dtypes == [("event_id", "bigint"), ("ts", "timestamp"), ("seen", "timestamp")]
    rows = warm.selectExpr("event_id", "unix_micros(ts)", "unix_micros(seen)").collect()
    assert rows == [(1, 1_700_000_000_123_456, 1_704_164_645_000_006), (2, 1_700_000_001_000_000, None)]
    assert rows == cold.selectExpr("event_id", "unix_micros(ts)", "unix_micros(seen)").collect()


def test_partitioned_directory_falls_back_to_inference(spark, tmp_path):
    df = spark.createDataFrame(redset_raw_rows(40))
    sio.write_parquet(df, str(tmp_path / "pp"), partition_by=["query_type"])
    assert sio.file_status(str(tmp_path / "pp")) is None
    for _ in range(2):
        back = sio.read_parquet(spark, str(tmp_path / "pp"))
        assert set(back.columns) == set(df.columns)
        got = sorted(map(tuple, back.select(*df.columns).collect()))
        assert got == sorted(map(tuple, df.collect()))


def test_changing_an_inference_conf_misses_the_memo(spark, tmp_path):
    path = str(tmp_path / "ntz.parquet")
    pq.write_table(pa.table({"t": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us"))}), path)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert sio.read_parquet(spark, path).dtypes == [("t", "timestamp_ntz")]
        spark.conf.set(key, "false")
        df, jobs = _jobs(spark, lambda: sio.read_parquet(spark, path), "memo-conf-miss")
        assert jobs >= 1 and df.dtypes == [("t", "timestamp")]
        spark.conf.set(key, "true")
        df, jobs = _jobs(spark, lambda: sio.read_parquet(spark, path), "memo-conf-back")
        assert jobs == 0 and df.dtypes == [("t", "timestamp_ntz")]
    finally:
        spark.conf.set(key, prev)
