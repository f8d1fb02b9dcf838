"""The driver writer of raw and core tables (io.py): S4 appends, S6
insert-if-absent and S7 delete+insert as pyarrow read-modify-writes.

Oracle: the Spark operators the writer replaced
(``operators.merge.merge_insert_missing`` / ``delete_insert``) run over
the same multi-batch histories. Each batch is handed to the oracle with
its duplicate keys already collapsed to the first row, so Spark's
``dropDuplicates`` has nothing to choose; the driver writer gets the
batch as it is and must keep the same first rows."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from bgg_data_warehouse_spark import io, schemas
from bgg_data_warehouse_spark.operators.merge import delete_insert, merge_insert_missing
from bgg_data_warehouse_spark.sources import bgg_xml

from tests.bgg_fixtures import payload_rows

T0 = datetime(2026, 3, 1, 23, 30, 0)

DIM_BATCHES = [
    [(1, "a"), (2, "b"), (1, "a2")],  # first write, in-batch duplicate key
    [(2, "B"), (3, "c")],  # 2 re-sent (ignored), 3 new
    [],  # empty batch
    [(3, "C"), (4, "d"), (4, "d2"), (5, "e")],
]
BRIDGE_BATCHES = [
    [(1, 10), (1, 11), (2, 10)],  # first write
    [(1, 12)],  # game 1 refetched with fewer links
    [],  # empty batch
    [(2, 20), (3, 30), (3, 31)],  # 2 replaced, 3 new
]


def _first_per_key(rows, width):
    seen, out = set(), []
    for r in rows:
        if r[:width] not in seen:
            seen.add(r[:width])
            out.append(r)
    return out


def _contents(df):
    return sorted(tuple(r) for r in df.collect())


def _replay(spark, root, name, batches, strategy, seed_with_spark=False):
    """Run ``batches`` through the driver writer and through the Spark
    oracle; returns (driver contents, oracle contents)."""
    schema = schemas.CORE_TABLES[name]
    keys = [schema.fields[0].name]
    if seed_with_spark:  # the table as the Spark writer left it
        first = spark.createDataFrame(_first_per_key(batches[0], 1), schema)
        first.write.parquet(os.path.join(root, name))
        state, batches = first, batches[1:]
    else:
        state = None
    for batch in batches:
        incoming = pa.Table.from_pylist(
            [dict(zip(schema.fieldNames(), r)) for r in batch],
            schema=schemas.arrow_schema(schema),
        )
        if strategy == "s6":
            io.merge_insert_missing_table(spark, incoming, root, name, keys)
        else:
            io.delete_insert_table(spark, incoming, root, name, keys)
        oracle_in = spark.createDataFrame(
            _first_per_key(batch, 1) if strategy == "s6" else batch, schema
        )
        if state is None:
            state = oracle_in
        elif strategy == "s6":
            state = merge_insert_missing(state, oracle_in, keys)
        else:
            state = delete_insert(state, oracle_in, keys)
        state = spark.createDataFrame(state.collect(), schema)
    return _contents(io.read_table(spark, root, name)), _contents(state)


@pytest.mark.parametrize("seed_with_spark", [False, True])
def test_s6_matches_spark_merge_insert_missing(spark, tmp_path, seed_with_spark):
    got, want = _replay(spark, str(tmp_path), "categories", DIM_BATCHES, "s6", seed_with_spark)
    assert got == want
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]


@pytest.mark.parametrize("seed_with_spark", [False, True])
def test_s7_matches_spark_delete_insert(spark, tmp_path, seed_with_spark):
    got, want = _replay(spark, str(tmp_path), "game_categories", BRIDGE_BATCHES, "s7", seed_with_spark)
    assert got == want
    assert got == [(1, 12), (2, 20), (3, 30), (3, 31)]


def test_no_change_batches_write_nothing(spark, tmp_path):
    """An S6 batch with no new key and an empty S7 batch leave the
    table's files untouched."""
    root = str(tmp_path)
    _replay(spark, root, "categories", DIM_BATCHES[:1], "s6")
    _replay(spark, root, "game_categories", BRIDGE_BATCHES[:1], "s7")
    before = {n: io._data_files(os.path.join(root, n)) for n in ("categories", "game_categories")}
    dims = pa.Table.from_pylist(
        [{"category_id": 1, "name": "x"}], schema=schemas.arrow_schema(schemas.DIMENSIONS["categories"])
    )
    io.merge_insert_missing_table(spark, dims, root, "categories", ["category_id"])
    empty = schemas.arrow_schema(schemas.BRIDGES["game_categories"]).empty_table()
    io.delete_insert_table(spark, empty, root, "game_categories", ["game_id"])
    after = {n: io._data_files(os.path.join(root, n)) for n in before}
    assert after == before


def test_s7_over_a_spark_table_with_int96_timestamps(spark, tmp_path):
    """A table the driver does not declare, first written by Spark
    (INT96 timestamps, read on the driver as timestamp[ns]): the driver
    S7 step keeps its schema and its stored instants."""
    root = str(tmp_path)
    schema = "k long, item long, ts timestamp"
    rows = [(1, 100, T0), (1, 101, T0), (2, 200, T0 + timedelta(hours=1))]
    spark.createDataFrame(rows, schema).write.parquet(os.path.join(root, "brg"))
    batch = [(1, 102, T0 + timedelta(days=1))]
    io.delete_insert_table(spark, spark.createDataFrame(batch, schema), root, "brg", ["k"])
    got = io.read_table(spark, root, "brg")
    assert got.dtypes == [("k", "bigint"), ("item", "bigint"), ("ts", "timestamp")]
    want = delete_insert(spark.createDataFrame(rows, schema), spark.createDataFrame(batch, schema), ["k"])
    assert _contents(got) == _contents(want)


def _parsed():
    return [g for r in payload_rows() for g in bgg_xml.parse_payload(r[1])]


def _games(spark, ts):
    return bgg_xml.fan_out(_parsed(), ts)["games"]


def test_s4_dated_appends_next_to_spark_files(spark, tmp_path):
    """S4 appends to a time-series table Spark wrote first: one file per
    UTC day under ``load_date=``, exactly as Spark's ``to_date`` derives
    it, and both writers' timestamps read back alike on either side."""
    root = str(tmp_path)
    first = spark.createDataFrame(_games(spark, T0 - timedelta(days=1)))
    io._apply_layout(first, io.LAYOUTS["games"]).write.partitionBy("load_date").parquet(
        os.path.join(root, "games")
    )
    for ts in (T0, T0 + timedelta(hours=1)):  # 23:30 and 00:30 UTC: two days
        io.append_table(_games(spark, ts), root, "games")
    days = sorted(d for d in os.listdir(os.path.join(root, "games")) if d.startswith("load_date="))
    assert days == ["load_date=2026-02-28", "load_date=2026-03-01", "load_date=2026-03-02"]
    games = io.read_table(spark, root, "games")
    assert games.where(F.col("load_date") != F.to_date("load_timestamp")).count() == 0
    per_ts = {r[0]: r[1] for r in games.groupBy("load_timestamp").count().collect()}
    n = _games(spark, T0).num_rows
    assert per_ts == {T0 - timedelta(days=1): n, T0: n, T0 + timedelta(hours=1): n}
    driver = io.read_arrow(root, "games")
    assert driver.schema == schemas.arrow_schema(schemas.GAMES)
    assert set(driver["load_timestamp"].to_pylist()) == {t.replace(tzinfo=timezone.utc) for t in per_ts}


def test_spark_reads_driver_tables_as_it_read_spark_ones(spark, tmp_path):
    """Every core table the driver writes reads back in Spark with the
    names, types and column order a Spark-written copy has, with schema
    inference and with the declared-schema read alike."""
    for name, table in bgg_xml.fan_out(_parsed(), T0).items():
        driver_root, spark_root = str(tmp_path / "driver"), str(tmp_path / "spark")
        io.write_table(table, driver_root, name)
        layout = io.LAYOUTS.get(name, io.Layout())
        writer = io._apply_layout(spark.createDataFrame(table), layout).write
        if layout.partition_cols:
            writer = writer.partitionBy(*layout.partition_cols)
        writer.parquet(os.path.join(spark_root, name))
        want = spark.read.parquet(os.path.join(spark_root, name)).dtypes
        assert spark.read.parquet(os.path.join(driver_root, name)).dtypes == want, name
        assert io.read_table(spark, driver_root, name).dtypes == want, name
        assert _contents(io.read_table(spark, driver_root, name)) == _contents(
            spark.read.parquet(os.path.join(spark_root, name))
        ), name


def test_append_heals_a_crashed_swap_first(spark, tmp_path):
    """A crash between the swap's two renames leaves only a backup: the
    next S4 append restores it instead of starting the table over."""
    root = str(tmp_path)
    io.append_table(_games(spark, T0), root, "games")
    final = os.path.join(root, "games")
    os.rename(final, final + "__old_00000000000000001000_xy")
    io.append_table(_games(spark, T0 + timedelta(days=1)), root, "games")
    assert io.read_table(spark, root, "games").select("load_timestamp").distinct().count() == 2
    assert not any("__old_" in d for d in os.listdir(root))
