"""Per-file HLL sketches — incrementally-maintained distinct counts.

``count(DISTINCT col)`` over a mutating 100 TB table re-scans the world
on every refresh. HyperLogLog sketches are MERGEABLE: keep one small
sketch per data file, union the live files' sketches at query time, and
a distinct-count estimate costs a scan of the SIDECAR (rows ∝ files,
bytes ∝ files × ~KB), never the table. Maintenance is churn-
proportional: a commit only sketches the files it ADDED — the same
economics the reference's zone maps get for key pruning
(ParquetRewriter.java:253-301), applied to cardinality tracking.

Built entirely on Spark's DataSketches-backed builtins
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``):
the sketch bytes are produced and merged JVM-side, one hash-shuffle
keyed by file name, no UDF.

Caveats, by construction:
- estimates, not exact counts (±~1.6%/√(2^lgK) standard error; tests
  pin a 5% band at lgK=12) — pair with an exact pass when a gate needs
  truth; the sidecar answers the monitoring/planning tier;
- deletes don't subtract (HLL is insert-only): the estimate reflects
  values ever written to LIVE files. Compaction/merge REPLACE files, so
  their sidecar rows age out with the files and accuracy self-heals at
  exactly the cadence the table rewrites — the union over live files is
  always an upper-bound estimate of the live relation.

Sidecar layout mirrors ``_blooms/`` (operators/bloom.py): append-only
parquet log ``_distinct/`` with (file, col, sketch); stale rows (of
vacuumed/compacted-away files) are ignored by the live-file filter and
cost only sidecar bytes.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

if TYPE_CHECKING:
    from parquet_rewriter_spark.table import SortedTable

DISTINCT_DIR = "_distinct"
LG_CONFIG_K = 12  # 2^12 registers ≈ 2.5% RSE, ~2-4 KB per sketch


def _sidecar_path(table: "SortedTable") -> str:
    return os.path.join(table.path, DISTINCT_DIR)


def _sidecar(table: "SortedTable") -> DataFrame | None:
    p = _sidecar_path(table)
    if not os.path.isdir(p):
        return None
    return table.spark.read.schema("file string, col string, sketch binary").parquet(p)


def sketched_files(table: "SortedTable", col: str) -> set[str]:
    """File names that already have a sketch row for ``col``."""
    side = _sidecar(table)
    if side is None:
        return set()
    return {
        r["file"]
        for r in side.filter(F.col("col") == col).select("file").distinct().collect()
    }  # bounded: one row per file


def refresh_distinct_index(table: "SortedTable", cols: list[str]) -> int:
    """Sketch every LIVE file that lacks a sketch row; append to the
    sidecar. Returns the number of (file, col) rows added.

    One narrow job per refresh over ONLY the missing files: project
    (file, col values), one hash aggregation keyed by file name. After
    a merge, the missing set is exactly the files the commit wrote —
    churn-proportional by construction.
    """
    m = table.manifest()
    live = {e.name for e in m.files}
    added = 0
    parts = []
    for col in cols:
        missing = sorted(live - sketched_files(table, col))
        if not missing:
            continue
        sk = (
            table.read_files(missing, m.schema_json)
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
                F.col(col).alias("v"),
            )
            .groupBy("file")
            .agg(F.hll_sketch_agg("v", F.lit(LG_CONFIG_K)).alias("sketch"))
            .select("file", F.lit(col).alias("col"), "sketch")
        )
        parts.append(sk)
        added += len(missing)
    if parts:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("append").parquet(_sidecar_path(table))
    return added


def estimate_distinct(table: "SortedTable", col: str) -> int | None:
    """Union the live files' sketches → distinct estimate. None when
    the index is missing or doesn't cover every live file (a partial
    union would silently under-count — callers must refresh first)."""
    side = _sidecar(table)
    if side is None:
        return None
    live = {e.name for e in table.manifest().files}
    covered = sketched_files(table, col)
    if live - covered:
        return None
    from parquet_rewriter_spark.operators.util import local_df

    live_df = local_df(
        table.spark, [(n,) for n in sorted(live)], "file string"
    )  # join, not isin: a million-file manifest won't fit a literal IN list
    rows = (
        side.filter(F.col("col") == col)
        .join(F.broadcast(live_df), "file", "semi")
        .dropDuplicates(["file"])  # append-only log: identical re-adds collapse
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch", F.lit(False))
            ).alias("est")
        )
        .collect()
    )
    return int(rows[0]["est"]) if rows and rows[0]["est"] is not None else 0
