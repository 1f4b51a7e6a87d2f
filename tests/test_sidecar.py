"""Shared sidecar plumbing (operators/sidecar.py): the broadcast
semi-join file filter that replaces O(live-file-count) IN-list
literals, and the registration list the generic vacuum sweep walks.
Also the sidecar builds on the commit path: the schemas their reads
are pinned to, and the fixed Spark jobs of a commit and of the
merge-on-read ops around it."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from parquet_rewriter_spark.operators.sidecar import (
    SIDECAR_DIRS,
    have_files,
    semi_join_files,
)
from parquet_rewriter_spark.plans import plan_of
from parquet_rewriter_spark.table import SortedTable


def test_semi_join_files_is_broadcast_join_not_in_list(spark):
    """At 1k (or 10^6) live files the keep-filter must be a broadcast
    LEFT-SEMI JOIN — the names travel as broadcast DATA, the plan stays
    O(1) — never an In(file, [name0, ..., nameN]) literal whose
    analysis/codegen cost grows with the manifest."""
    df = spark.createDataFrame(
        [Row(file=f"part-{i:05d}.parquet", n=i) for i in range(50)]
    )
    names = [f"part-{i:05d}.parquet" for i in range(0, 2000, 2)]
    out = semi_join_files(df, names)
    p = plan_of(out)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    # no giant literal membership predicate anywhere in the plan
    assert "part-00002.parquet, part-00004" not in p, p
    assert out.count() == 25  # files 0,2,...,48 present in df


def test_semi_join_files_filters_correctly(spark):
    df = spark.createDataFrame(
        [Row(file="a", v=1), Row(file="b", v=2), Row(file="c", v=3)]
    )
    kept = semi_join_files(df, {"b", "c", "zz"})
    assert {r["file"] for r in kept.collect()} == {"b", "c"}


def test_semi_join_files_small_sets_stay_in_list(spark):
    """Below IN_LIST_MAX the filter must stay a plain isin (InSet) —
    the cheapest plan at toy manifests; the broadcast join is the
    LARGE-manifest escape, not a tax on every 9-file table."""
    df = spark.createDataFrame([Row(file=f"f{i}", v=i) for i in range(20)])
    out = semi_join_files(df, [f"f{i}" for i in range(10)])
    p = plan_of(out)
    assert "Join" not in p, p
    assert out.count() == 10


def test_all_four_sidecars_registered():
    """Importing the sidecar modules must register their directories —
    the generic vacuum sweep covers exactly this list, so a missing
    registration means dead rows accrete forever."""
    import parquet_rewriter_spark.operators.bloom  # noqa: F401
    import parquet_rewriter_spark.operators.covstats  # noqa: F401
    import parquet_rewriter_spark.operators.distinct_sketch  # noqa: F401
    import parquet_rewriter_spark.operators.driftstats  # noqa: F401

    assert {"_blooms", "_distinct", "_covstats", "_driftstats"} <= set(
        SIDECAR_DIRS
    )


def test_have_files_single_and_multi_column(spark, tmp_path):
    import os

    class T:
        path = str(tmp_path)

    T.spark = spark
    side = os.path.join(str(tmp_path), "_x")
    spark.createDataFrame(
        [Row(file="f1", col="a"), Row(file="f1", col="a"),
         Row(file="f2", col="b")]
    ).write.parquet(side)
    assert have_files(T, "_x") == {"f1", "f2"}
    assert have_files(T, "_x", where=F.col("col") == "a") == {"f1"}
    assert have_files(T, "_x", cols=("file", "col")) == {
        ("f1", "a"), ("f2", "b")
    }
    assert have_files(T, "_nope") == set()


# ---- sidecar builds on the commit path: pinned reads, fixed jobs ----

EDGES = [10, 20, 30]


def _sidecar_table(spark, path):
    """600 rows in 6 files with a bloom on ``p``, a distinct sketch on
    ``p`` and a drift monitor on ``v`` by ``g`` — every sidecar a
    commit refreshes."""
    from parquet_rewriter_spark.operators.distinct_sketch import (
        enable_distinct_sketches,
    )
    from parquet_rewriter_spark.operators.driftstats import enable_drift_monitor

    rows = [Row(k=2 * i, g="abc"[i % 3], v=i % 40, p=(i * 7919) % 1000)
            for i in range(600)]
    t = SortedTable.create(
        spark, path, spark.createDataFrame(rows, "k long, g string, v int, p long"),
        key="k", max_records_per_file=100, bloom_cols=["p"],
    )
    enable_distinct_sketches(t, ["p"])
    enable_drift_monitor(t, "v", "g", EDGES)
    return t


def _jobs(spark, fn):
    """Run ``fn``; return its result and the number of Spark jobs it
    started, counted off the DAG scheduler's job-id counter."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    out = fn()
    return out, int(dag.nextJobId()) - j0


def _assert_sidecars_current(spark, t):
    """Every live file has bloom and sketch rows, and its drift count
    matrix sums to the file's row count — the builders read each new
    file whole, under the schema it was written with."""
    m = t.manifest()
    live = {e.name for e in m.files}
    assert live <= have_files(t, "_blooms")
    assert live <= have_files(t, "_distinct")
    drift = (
        spark.read.parquet(f"{t.path}/_driftstats")
        .dropDuplicates(["spec", "file", "grp", "bin"])
        .groupBy("file").agg(F.sum("n").alias("n")).collect()
    )
    counted = {r["file"]: r["n"] for r in drift}
    assert {e.name: counted.get(e.name) for e in m.files} == {
        e.name: e.rows for e in m.files
    }


def test_commit_and_mor_job_counts(spark, tmp_path):
    """Fixed Spark jobs per op on the commit and merge-on-read paths.
    The engine reads its own files — new data files in the sidecar
    builders, the covered files of a delete, DV sidecars — under pinned
    schemas, so none pays a one-task footer-inference job; and no semi
    or anti join dedups its build side, so none pays a shuffle job for
    a distinct. Each job is a fixed latency on every commit or read."""
    from parquet_rewriter_spark.operators.deletion_vectors import (
        delete_keys_mor,
        materialize_deletes,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table

    t = _sidecar_table(spark, str(tmp_path / "t"))
    up = spark.createDataFrame(
        [Row(k=10, g="a", v=5, p=1), Row(k=11, g="b", v=25, p=2)],
        "k long, g string, v int, p long",
    )
    # planning probe + splice batch fetch, then bloom, sketch and drift
    # builds at two jobs each (shuffle map + sidecar write)
    res, n = _jobs(spark, lambda: merge_into_table(t, up))
    assert res["path"] == "rowgroup_splice"
    assert n == 8

    keys = spark.createDataFrame([(20,), (22,), (10**9,)], "k long")
    # planning probe, tombstone write, per-file count read-back
    res, n = _jobs(spark, lambda: delete_keys_mor(t, keys))
    assert res["dv_rows_added"] == 2
    assert n == 7

    # DV broadcast + scan
    rows, n = _jobs(spark, lambda: t.read().collect())
    assert len(rows) == 600 + 1 - 2
    assert n == 2

    # DV broadcast + rewrite of the tombstoned file + its bloom build
    res, n = _jobs(spark, lambda: materialize_deletes(t))
    assert res["rows_dropped"] == 2
    assert n == 6
    assert t.read().count() == 600 + 1 - 2


def test_pinned_reads_across_rename(spark, tmp_path):
    """Sidecar builds and merge-on-read scans read PHYSICAL names under
    the manifest's physical schema, so a metadata-only rename of the
    bloom, sketch and drift columns changes nothing they read."""
    from parquet_rewriter_spark.operators.bloom import read_point
    from parquet_rewriter_spark.operators.deletion_vectors import (
        delete_keys_mor,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table

    t = _sidecar_table(spark, str(tmp_path / "t"))
    t.rename_column("p", "part")
    t.rename_column("g", "grp")
    up = spark.createDataFrame(
        [Row(k=30, grp="c", v=35, part=5001), Row(k=31, grp="a", v=1, part=5002)],
        "k long, grp string, v int, part long",
    )
    assert merge_into_table(t, up)["path"] == "rowgroup_splice"
    _assert_sidecars_current(spark, t)
    got = read_point(t, "part", [5001, 5002]).collect()
    assert sorted((r["k"], r["grp"]) for r in got) == [(30, "c"), (31, "a")]

    delete_keys_mor(t, spark.createDataFrame([(30,), (40,)], "k long"))
    df = t.read()
    assert "part" in df.columns and "p" not in df.columns
    assert df.count() == 600 + 1 - 2  # k=30 was an update, 31 an insert
    assert df.filter(F.col("k").isin(30, 40)).count() == 0
    assert read_point(t, "part", [5001, 5002]).count() == 1


def test_pinned_reads_after_schema_evolution_and_merge(spark, tmp_path):
    """An evolving merge widens ``v`` (int → long) and adds ``w``; its
    new files carry the new schema while untouched files keep the old
    one. The sidecar builds read the new files under the schema they
    were written with, not the pre-merge one, and every later read
    null-fills ``w`` for the old files. A following splice into a
    rewritten file and a merge-on-read delete read the mixed files the
    same way."""
    from parquet_rewriter_spark.operators.bloom import read_point
    from parquet_rewriter_spark.operators.deletion_vectors import (
        delete_keys_mor,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table

    t = _sidecar_table(spark, str(tmp_path / "t"))
    evolve = spark.createDataFrame(
        [Row(k=100, g="a", v=7, p=7001, w="x"), Row(k=101, g="b", v=33, p=7002, w="y")],
        "k long, g string, v long, p long, w string",
    )
    assert merge_into_table(t, evolve)["path"] == "distributed"
    schema = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
    assert schema["v"] == "bigint" and schema["w"] == "string"
    _assert_sidecars_current(spark, t)

    up = spark.createDataFrame(
        [Row(k=50, g="c", v=12, p=7003, w="z"), Row(k=51, g="a", v=39, p=7004, w=None)],
        "k long, g string, v long, p long, w string",
    )
    assert merge_into_table(t, up)["path"] == "rowgroup_splice"
    _assert_sidecars_current(spark, t)

    delete_keys_mor(t, spark.createDataFrame([(100,), (0,)], "k long"))
    df = t.read()
    assert df.count() == 600 + 2 - 2  # 101 and 51 are inserts
    assert df.filter(F.col("w").isNotNull()).count() == 2  # 101 and 50
    got = read_point(t, "p", [7001, 7002, 7003, 7004]).collect()
    assert sorted((r["k"], r["w"]) for r in got) == [
        (50, "z"), (51, None), (101, "y")
    ]
