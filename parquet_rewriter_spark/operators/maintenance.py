"""One-call table maintenance — the OPTIMIZE/VACUUM cron job as a
single idempotent entry point over the table's own maintenance
primitives, each of which is individually incremental:

1. ``fsck(repair=True)``      — clear stale crashed-writer debris;
2. ``compact_incremental``    — heal undersized files only (manifest
                                arithmetic picks them; clean files pass
                                through untouched);
3. bloom / distinct-sketch refresh — sidecar rows ONLY for live files
                                missing them (file immutability makes
                                both incremental for free);
4. ``vacuum``                 — drop snapshots/files beyond retention.

Order matters: compaction first (it retires files), then sidecar
refresh (so the new files get rows), then vacuum (so retired files'
history is collected under the caller's retention policy). Every step
reports; a no-op maintenance run costs manifest reads plus two empty
sidecar scans and touches no data.
"""

from __future__ import annotations

from typing import Any

from parquet_rewriter_spark.table import SortedTable
from parquet_rewriter_spark.operators.compact import compact, compact_incremental
from parquet_rewriter_spark.operators.layout import table_layout_report


def maintain(
    table: SortedTable,
    target_records_per_file: int | None = None,
    min_fill: float = 0.5,
    retain_versions: int = 3,
    fsck_min_age_s: float = 3600.0,
    refresh_sketch_cols: list[str] | None = None,
) -> dict[str, Any]:
    """Run the full maintenance pass; returns a step-by-step report.

    ``target_records_per_file`` defaults to the current largest file's
    row count (maintains the existing sizing). ``refresh_sketch_cols``
    opts distinct-count sketches in (None = only refresh columns that
    already have a sidecar)."""
    from parquet_rewriter_spark.operators.bloom import build_blooms
    from parquet_rewriter_spark.operators.compact import compact_incremental
    from parquet_rewriter_spark.operators.distinct_sketch import (
        SKETCH_DIR,
        SKETCH_SCHEMA,
        build_distinct_sketches,
    )
    import os

    report: dict[str, Any] = {}
    report["fsck"] = table.fsck(repair=True, min_age_s=fsck_min_age_s)

    m = table.manifest()
    tgt = target_records_per_file or max((e.rows for e in m.files), default=1)
    report["compact"] = compact_incremental(table, tgt, min_fill=min_fill)

    m = table.manifest()
    if m.bloom_cols:
        from parquet_rewriter_spark.operators.bloom import BLOOM_DIR, BLOOM_SCHEMA

        side = os.path.join(table.path, BLOOM_DIR)
        have: set[tuple[str, str]] = set()
        if os.path.isdir(side):
            have = {
                (r["file"], r["col"])
                for r in table.spark.read.schema(BLOOM_SCHEMA).parquet(side)
                .select("file", "col").collect()
            }
        todo = [
            e for e in m.files
            if any((e.name, c) not in have for c in m.bloom_cols)
        ]
        built = (
            build_blooms(table, todo, list(m.bloom_cols), schema=m.schema_json)
            if todo else 0
        )
        report["blooms"] = {"files_built": len(todo), "rows_appended": built}
    else:
        report["blooms"] = {"files_built": 0}

    sketch_cols = refresh_sketch_cols
    if sketch_cols is None:
        # manifest registration first (enable_distinct_sketches), then
        # whatever the sidecar already holds (pre-registration tables)
        sketch_cols = list(m.sketch_cols or [])
        side = os.path.join(table.path, SKETCH_DIR)
        if os.path.isdir(side):
            sketch_cols += [
                r["col"]
                for r in table.spark.read.schema(SKETCH_SCHEMA).parquet(side)
                .select("col").distinct().collect()
                if r["col"] not in sketch_cols
            ]
    if sketch_cols:
        report["sketches"] = {
            "files_sketched": build_distinct_sketches(table, sketch_cols)
        }
    else:
        report["sketches"] = {"files_sketched": 0}

    if m.drift_specs:
        # registered drift monitors (enable_drift_monitor): heal count
        # matrices for files written by paths without the merge hook
        # (compact, DV rewrite) so from-stats statistics stay scan-free
        from parquet_rewriter_spark.operators.driftstats import (
            _build_for,
            _have_files,
            _spec_id,
        )

        built = 0
        live_names = [e.name for e in m.files]
        for spec in m.drift_specs:
            pv, pg, edges = spec["value"], spec["group"], spec["edges"]
            sid = _spec_id(pv, pg, edges)
            have = _have_files(table, sid)
            todo = [n for n in live_names if n not in have]
            built += _build_for(table, todo, pv, pg, edges, sid, m.schema_json)
        report["drift"] = {"files_counted": built}
    else:
        report["drift"] = {"files_counted": 0}

    # token-count zone maps: the sidecar is self-describing (every row
    # carries its spec), so heal covers all registered accountings —
    # compaction outputs included — without a manifest field
    from parquet_rewriter_spark.operators.tokenstats import (
        heal_token_stats,
    )

    report["token_stats"] = {"files_built": heal_token_stats(table)}

    report["vacuum"] = {
        "removed": table.vacuum(retain_versions=retain_versions)
    }
    report["version"] = table.manifest().version
    return report


def auto_optimize(
    table: SortedTable,
    target_rows: int,
    max_small_files: int = 4,
    max_overlap_depth: int = 4,
) -> dict:
    """Heal the table if — and only if — the layout report says so.

    Returns {action, before, after} where action ∈
    {"none", "compact_incremental", "compact_full"}.
    """
    before = table_layout_report(table, target_rows=target_rows).first().asDict()
    if before["max_key_overlap_depth"] > max_overlap_depth:
        # fragmentation: small-file healing can't fix overlap — full
        # re-chunk restores the one-file-per-key-range invariant
        compact(table, max_records_per_file=target_rows)
        action = "compact_full"
    elif before["n_small_files"] > max_small_files:
        compact_incremental(table, target_records_per_file=target_rows)
        action = "compact_incremental"
    else:
        return {"action": "none", "before": before, "after": before}
    after = table_layout_report(table, target_rows=target_rows).first().asDict()
    return {"action": action, "before": before, "after": after}
