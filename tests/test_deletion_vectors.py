"""Merge-on-read deletion vectors: delete cost ∝ deleted keys (no data
file rewritten), scans subtract tombstones, rewrites materialize them,
time travel and CDC stay exact. operators/deletion_vectors.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark.operators.cdc import snapshot_diff
from parquet_rewriter_spark.operators.compact import compact, compact_incremental
from parquet_rewriter_spark.operators.deletion_vectors import (
    delete_keys_mor,
    delete_where_mor,
    materialize_deletes,
)
from parquet_rewriter_spark.operators.merge import (
    OP_COLUMN,
    OP_UPSERT,
    merge_into_table,
)
from parquet_rewriter_spark.sources.readers import load_table
from parquet_rewriter_spark.table import SortedTable

KEY = "o_orderkey"


@pytest.fixture()
def table(spark, tmp_path, sf_dir):
    orders = load_table(spark, sf_dir, "orders").limit(1000)
    return SortedTable.create(
        spark, str(tmp_path / "mor"), orders, key=KEY, max_records_per_file=200
    )


def _keys_df(spark, table, keys):
    return table.read().select(KEY).filter(F.col(KEY).isin(keys))


def _file_mtimes(table):
    m = table.manifest()
    return {e.name: os.path.getmtime(os.path.join(table.path, e.name)) for e in m.files}


def test_mor_delete_touches_no_data_file(spark, table):
    n0 = table.read().count()
    victims = [r[KEY] for r in table.read().select(KEY).limit(10).collect()]
    before = _file_mtimes(table)

    res = delete_keys_mor(table, _keys_df(spark, table, victims))

    assert res["data_files_rewritten"] == 0
    assert res["dv_rows_added"] == 10
    assert table.read().count() == n0 - 10
    assert table.read().filter(F.col(KEY).isin(victims)).count() == 0
    # same file set, same bytes — only the manifest + sidecar changed
    after = _file_mtimes(table)
    assert after == before
    st = table.stats()
    assert st["dv_rows"] == 10 and st["rows"] == n0 - 10


def test_mor_delete_absent_and_repeated_keys_are_noops(spark, table):
    n0 = table.read().count()
    victims = [r[KEY] for r in table.read().select(KEY).limit(5).collect()]
    v1 = delete_keys_mor(table, _keys_df(spark, table, victims))["version"]

    # repeat the same delete: nothing new to tombstone → no new version
    again = delete_keys_mor(
        table, spark.createDataFrame([(k,) for k in victims], f"{KEY} long")
    )
    assert again["dv_rows_added"] == 0
    assert again["version"] == v1

    # absent keys: silent no-op (the reference's contract)
    absent = spark.createDataFrame([(10**9 + i,) for i in range(3)], f"{KEY} long")
    res = delete_keys_mor(table, absent)
    assert res["dv_rows_added"] == 0
    assert table.read().count() == n0 - 5


def test_time_travel_sees_pre_delete_rows(spark, table):
    n0 = table.read().count()
    victims = [r[KEY] for r in table.read().select(KEY).limit(7).collect()]
    delete_keys_mor(table, _keys_df(spark, table, victims))

    assert table.read().count() == n0 - 7
    assert table.read(version=0).count() == n0
    assert table.read(version=0).filter(F.col(KEY).isin(victims)).count() == 7


def test_read_range_and_where_apply_tombstones(spark, table):
    lo_keys = [r[KEY] for r in table.read().orderBy(KEY).limit(5).collect()]
    delete_keys_mor(table, _keys_df(spark, table, lo_keys))
    got = table.read_range(lower=min(lo_keys), upper=max(lo_keys))
    assert got.filter(F.col(KEY).isin(lo_keys)).count() == 0


def test_upsert_resurrects_tombstoned_key(spark, table):
    victim = table.read().select(KEY).first()[0]
    delete_keys_mor(table, _keys_df(spark, table, [victim]))
    assert table.read().filter(F.col(KEY) == victim).count() == 0

    row = table.read(version=0).filter(F.col(KEY) == victim)
    res = merge_into_table(
        table, row.withColumn(OP_COLUMN, F.lit(OP_UPSERT)), allow_splice=False
    )
    assert res["version"] == 2
    got = table.read().filter(F.col(KEY) == victim)
    assert got.count() == 1
    # the rewritten file's tombstones were retired with it
    assert table.stats()["dv_rows"] == 0


def test_merge_preserves_tombstones_of_clean_files(spark, table):
    m = table.manifest()
    # tombstone one key in the FIRST file, then merge an upsert into the LAST
    first, last = m.files[0], m.files[-1]
    delete_keys_mor(
        table, spark.createDataFrame([(first.key_min,)], f"{KEY} long")
    )
    row = table.read().filter(F.col(KEY) == last.key_max)
    merge_into_table(table, row.withColumn(OP_COLUMN, F.lit(OP_UPSERT)), allow_splice=False)

    # first file untouched → its tombstone must still apply
    assert table.read().filter(F.col(KEY) == first.key_min).count() == 0
    assert table.stats()["dv_rows"] == 1


def test_materialize_rewrites_only_tombstoned_files(spark, table):
    n_before = table.read().count()
    m = table.manifest()
    victims = [m.files[0].key_min, m.files[0].key_max]
    delete_keys_mor(table, spark.createDataFrame([(k,) for k in victims], f"{KEY} long"))

    res = materialize_deletes(table)
    assert res["files_rewritten"] == 1
    assert res["files_passthrough"] == len(m.files) - 1
    assert res["rows_dropped"] == 2
    st = table.stats()
    assert st["dv_rows"] == 0 and st["dv_files"] == 0
    assert table.read().count() == n_before - 2
    assert table.read().filter(F.col(KEY).isin(victims)).count() == 0


def test_compact_materializes_tombstones(spark, table):
    n0 = table.read().count()
    victims = [r[KEY] for r in table.read().select(KEY).limit(10).collect()]
    delete_keys_mor(table, _keys_df(spark, table, victims))
    compact(table, max_records_per_file=1000)
    st = table.stats()
    assert st["dv_rows"] == 0 and st["dv_files"] == 0
    assert table.read().count() == n0 - 10


def test_compact_incremental_keeps_passthrough_tombstones(spark, tmp_path, sf_dir):
    spark_df = load_table(spark, sf_dir, "orders").limit(1000)
    t = SortedTable.create(
        spark, str(tmp_path / "mori"), spark_df, key=KEY, max_records_per_file=100
    )
    m = t.manifest()
    small_victim = m.files[0].key_min  # lives in an undersized file
    delete_keys_mor(t, spark.createDataFrame([(small_victim,)], f"{KEY} long"))

    res = compact_incremental(t, target_records_per_file=400)
    assert res["files_compacted"] >= 2
    # the tombstone's file was rewritten → physical now, DV gone
    assert t.stats()["dv_rows"] == 0
    assert t.read().filter(F.col(KEY) == small_victim).count() == 0


def test_delete_where_mor(spark, table):
    n0 = table.read().count()
    n_victims = table.read().filter("o_orderstatus = 'F'").count()
    res = delete_where_mor(table, "o_orderstatus = 'F'")
    assert res["dv_rows_added"] == n_victims
    assert res["data_files_rewritten"] == 0
    assert table.read().count() == n0 - n_victims
    assert table.read().filter("o_orderstatus = 'F'").count() == 0


def test_cdc_emits_dv_deletes(spark, table):
    victims = [r[KEY] for r in table.read().select(KEY).limit(6).collect()]
    v0 = table.manifest().version
    delete_keys_mor(table, _keys_df(spark, table, victims))

    feed = snapshot_diff(table, v0)
    rows = feed.collect()
    assert len(rows) == 6
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert {r[KEY] for r in rows} == set(victims)

    # diff across (delete → materialize) collapses to the same 6 deletes
    materialize_deletes(table)
    feed2 = snapshot_diff(table, v0)
    assert {(r[KEY], r["_change_type"]) for r in feed2.collect()} == {
        (k, "delete") for k in victims
    }


def test_vacuum_gcs_unreferenced_dv_sidecars(spark, table):
    victims = [r[KEY] for r in table.read().select(KEY).limit(4).collect()]
    delete_keys_mor(table, _keys_df(spark, table, victims))
    materialize_deletes(table)  # current snapshot no longer lists the DV

    dv_root = os.path.join(table.path, "_dv")
    assert os.listdir(dv_root)  # sidecar still on disk (history)
    removed = table.vacuum(retain_versions=1)
    assert any(r.startswith("_dv/") for r in removed)
    assert not os.listdir(dv_root)


def test_clone_carries_tombstones(spark, table, tmp_path):
    victims = [r[KEY] for r in table.read().select(KEY).limit(3).collect()]
    delete_keys_mor(table, _keys_df(spark, table, victims))
    c = table.clone(str(tmp_path / "mor_clone"))
    assert c.read().count() == table.read().count()
    assert c.read().filter(F.col(KEY).isin(victims)).count() == 0


def test_key_tombstoned_twice_drops_exactly_one_row(spark, table):
    """Tombstones are anti-joined without a dedup. A key repeated in a
    delete batch, and a key listed by two DV sidecars (as two racing
    deletes planned against the same snapshot would write), must each
    still remove exactly the one row it names — on every read path and
    through materialization."""
    from parquet_rewriter_spark.table import Manifest

    n0 = table.read().count()
    victim = table.read().select(KEY).orderBy(KEY).first()[0]
    res = delete_keys_mor(
        table, spark.createDataFrame([(victim,), (victim,)], f"{KEY} long")
    )
    assert res["dv_rows_added"] == 1

    m = table.manifest()
    rel = "_dv/dv-again"
    table.read_dv(m, m.dv_files).write.parquet(os.path.join(table.path, rel))
    table._commit_manifest(Manifest(
        version=m.version + 1, key=m.key, files=m.files,
        schema_json=m.schema_json, stats_cols=m.stats_cols,
        bloom_cols=m.bloom_cols, dv_files=m.dv_files + [rel],
        operation="delete (merge-on-read)",
    ))
    assert table.dv_keys().filter(F.col(KEY) == victim).count() == 2

    assert table.read().count() == n0 - 1
    assert table.read().filter(F.col(KEY) == victim).count() == 0
    assert table.read_range(lower=victim, upper=victim).count() == 0
    first = table.manifest().files[0]
    assert (
        table.read_range(lower=first.key_min, upper=first.key_max).count()
        == first.rows - 1
    )
    assert materialize_deletes(table)["rows_dropped"] == 1
    assert table.read().count() == n0 - 1
