"""Metric definitions: the end-to-end set (untraced runs) and the
per-layer set (traced runs). ``README.md`` in this directory lists what
each one means."""

from __future__ import annotations

import math
import statistics

from tracing import covered_s, self_time
from workloads import ALL_CATALOG_QUERIES

# The JSON end-to-end metrics: costs the shared host's speed cannot move,
# plus the set-up time. Latencies are printed lines (``workload_lines``):
# their spread over ten seeds drifts with the host (README, "Run-to-run
# spread").
END_TO_END_UNITS = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.parallel_frac": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_only_s": "s",
    "spark.gc_s": "s",
    "table.manifest_load_s": "s",
    "table.commit_s": "s",
    "table.versions": "count",
    "table.live_files": "count",
    "table.manifest_bytes": "bytes",
    "table.read_range_s": "s",
    "table.read_where_s": "s",
    "table.files_scanned_per_read": "ratio",
    "table.write_amp": "ratio",
    "table.space_amp": "ratio",
    "stats.footer_s": "s",
    "stats.files_footered": "count",
    "merge.plan_s": "s",
    "merge.write_s": "s",
    "merge.files_dirty": "count",
    "merge.passthrough_ratio": "ratio",
    "merge.rows_read_per_mutation_row": "ratio",
    "merge.bytes_read": "bytes",
    "merge.bytes_written": "bytes",
    "merge.distributed_count": "count",
    "splice.taken_ratio": "ratio",
    "splice.rgs_rewritten": "count",
    "splice.rg_copy_ratio": "ratio",
    "bloom.candidate_files_s": "s",
    "bloom.prune_ratio": "ratio",
    "bloom.build_s": "s",
    "distinct_sketch.build_s": "s",
    "driftstats.build_s": "s",
    "sidecar.builds_per_commit": "count",
    "sidecar.jobs_per_commit": "count",
    "dv.delete_s": "s",
    "dv.rows_outstanding": "count",
    "dv.materialize_s": "s",
    "compact.files_compacted": "count",
    "compact.bytes_rewritten": "bytes",
    **{f"catalog.{q}.s": "s" for q in ALL_CATALOG_QUERIES},
    **{f"catalog.{q}.jobs": "count" for q in ALL_CATALOG_QUERIES},
    "trace.self_s": "s",
}

# splice-path caps, mirrored from operators/splice.py for the
# taken-ratio denominator
MAX_SPLICE_MUTATIONS = 10_000
MAX_SPLICE_FILES = 8
SIDECAR_BUILDS = ("bloom.build", "distinct_sketch.build", "driftstats.build")


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples above it. Below 11 samples no percentile qualifies and the
    median stands in."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return statistics.median(xs), 50.0
    return xs[n - 11], 100.0 * (n - 10) / n


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _kind_medians(ops) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.kind, []).append(o.latency_s)
    return {k: statistics.median(v) for k, v in by.items()}


def end_to_end(ops, setup_times: list[float], rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setup_times),
        "jobs_per_op": sum(o.jobs for o in ops) / max(len(ops), 1),
        "peak_rss_mb": rss_mb,
    }


def workload_lines(ops, summary: dict) -> list[str]:
    """The latency metrics and the metrics that apply to one workload
    only, printed by name and unit; none is in the JSON result."""
    if not ops:
        return []
    lat = [o.latency_s for o in ops]
    med = list(_kind_medians(ops).values())
    t, pct = tail(lat)
    lines = [
        f"op_p50_s = {statistics.median(lat):.4f} s (n={len(lat)})",
        f"op_tail_s = {t:.4f} s (p{pct:.0f}, n={len(lat)})",
        f"ops_per_s = {len(lat) / sum(lat):.4f} ops/s",
        f"mix_total_s = {sum(med):.4f} s (n={len(med)} kinds)",
        f"mix_geomean_s = {math.exp(sum(math.log(v) for v in med) / len(med)):.4f} s",
    ]
    for kind, v in sorted(_kind_medians(ops).items()):
        n = sum(1 for o in ops if o.kind == kind)
        lines.append(f"{kind}_p50_s = {v:.4f} s (n={n})")
    if "merge_s" in summary:
        ms = summary["merge_s"]
        t, pct = tail(ms)
        lines += [
            f"merge_p50_s = {statistics.median(ms):.4f} s (n={len(ms)})",
            f"merge_tail_s = {t:.4f} s (p{pct:.0f}, n={len(ms)})",
            f"mutation_rows_per_s = {summary['mutation_rows_per_s']:.1f} rows/s",
            f"write_amp = {summary['write_amp']:.4f} ratio",
            f"space_amp = {summary['space_amp']:.4f} ratio",
        ]
    reads = [o.latency_s for o in ops if o.kind.startswith("read_")]
    if reads:
        t, pct = tail(reads)
        lines += [f"read_p50_s = {statistics.median(reads):.4f} s (n={len(reads)})",
                  f"read_tail_s = {t:.4f} s (p{pct:.0f}, n={len(reads)})"]
    maint = [o.latency_s for o in ops if o.kind == "maintenance"]
    if maint:
        lines.append(f"maintenance_s = {statistics.median(maint):.4f} s (n={len(maint)})")
    if not summary:  # catalog_mix
        lines += [
            f"query_total_s = {sum(med):.4f} s (n={len(med)} queries)",
            f"query_geomean_s = "
            f"{math.exp(sum(math.log(v) for v in med) / len(med)):.4f} s",
        ]
    return lines


def per_layer(tracer, wl, cores: int) -> dict[str, float]:
    ops, spans = tracer.ops, tracer.spans
    n = max(len(ops), 1)
    op_spans = tracer.op_spans()
    jobs = [j for sp in op_spans for j in tracer.jobs_in(sp)]
    wall = sum(o.latency_s for o in ops)

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.end - s.start for s in named(name))

    m: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
    exec_s = sum(j.executor_run_s for j in jobs)
    m.update({
        "spark.executor_run_s": exec_s / n,
        "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs) / n,
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs) / n,
        "spark.input_bytes": sum(j.input_bytes for j in jobs) / n,
        "spark.output_bytes": sum(j.output_bytes for j in jobs) / n,
        "spark.parallel_frac": exec_s / max(wall * cores, 1e-9),
        "spark.jobs_per_op": sum(o.jobs for o in ops) / n,
        "spark.stages_per_op": sum(j.stages for j in jobs) / n,
        "spark.tasks_per_op": sum(j.tasks for j in jobs) / n,
        "spark.driver_only_s": _mean(
            (sp.end - sp.start)
            - covered_s([(j.submit_s, j.end_s) for j in tracer.jobs_in(sp)], sp.start, sp.end)
            for sp in op_spans
        ),
        "spark.gc_s": sum(j.gc_s for j in jobs) / n,
        "table.manifest_load_s": total("table.manifest") / n,
        "table.commit_s": total("table.commit") / max(len(named("table.commit")), 1),
        "table.versions": len(named("table.commit")),
        "stats.footer_s": total("stats.footer") / n,
        "stats.files_footered": sum(s.attrs.get("files", 0) for s in named("stats.footer")) / n,
        "bloom.candidate_files_s": total("bloom.candidate_files") / n,
        "bloom.build_s": total("bloom.build") / n,
        "distinct_sketch.build_s": total("distinct_sketch.build") / n,
        "driftstats.build_s": total("driftstats.build") / n,
        "dv.materialize_s": _mean(s.end - s.start for s in named("dv.materialize")),
        "trace.self_s": tracer.self_s / n,
    })
    m.update(wl.common_layers())

    def lat(kind):
        return _mean(o.latency_s for o in ops if o.kind == kind)

    m["table.read_range_s"] = lat("read_range")
    m["table.read_where_s"] = lat("read_where")
    m["dv.delete_s"] = lat("delete")

    # reads: files kept by pruning ÷ live files
    kept = []
    for sp, o in zip(op_spans, ops):
        if o.kind == "read_point":
            cand = [s.attrs["candidates"] for s in spans
                    if s.name == "bloom.candidate_files" and s.op_id == sp.op_id]
            if cand and cand[0] >= 0:
                o.attrs["files_kept"] = cand[0]
        if "files_kept" in o.attrs:
            kept.append((o.kind, o.attrs["files_kept"] / max(o.attrs["live_files"], 1)))
    m["table.files_scanned_per_read"] = _mean(r for _k, r in kept)
    m["bloom.prune_ratio"] = _mean(1.0 - r for k, r in kept if k == "read_point")

    merges = [o.attrs for o in ops if "files_dirty" in o.attrs]
    if merges:
        m.update({
            "merge.plan_s": _mean(a["t_plan_s"] for a in merges),
            "merge.write_s": _mean(a["t_write_s"] for a in merges),
            "merge.files_dirty": _mean(a["files_dirty"] for a in merges),
            "merge.passthrough_ratio": sum(a["files_clean_passthrough"] for a in merges)
            / max(sum(a["files_total"] for a in merges), 1),
            "merge.rows_read_per_mutation_row": sum(a["rows_read"] for a in merges)
            / max(sum(a["mutation_rows"] for a in merges), 1),
            "merge.bytes_read": _mean(a["bytes_read"] for a in merges),
            "merge.bytes_written": _mean(a["bytes_written"] for a in merges),
            "merge.distributed_count": sum(a["path"] == "distributed" for a in merges),
        })
        within = [a for a in merges if a["mutation_rows"] <= MAX_SPLICE_MUTATIONS
                  and 0 < a["files_dirty"] <= MAX_SPLICE_FILES]
        spliced = [a for a in merges if a["path"] == "rowgroup_splice"]
        m["splice.taken_ratio"] = len(spliced) / len(within) if within else 0.0
    sp_spans = named("splice.merge")
    rw = sum(s.attrs.get("rgs_rewritten", 0) for s in sp_spans)
    cp = sum(s.attrs.get("rgs_copied", 0) for s in sp_spans)
    m["splice.rgs_rewritten"] = rw / max(len(sp_spans), 1)
    m["splice.rg_copy_ratio"] = cp / max(rw + cp, 1)

    commits = max(len(named("table.commit")), 1)
    builders = [s for s in spans if s.name in SIDECAR_BUILDS
                and (s.parent < 0 or spans[s.parent].name not in SIDECAR_BUILDS)]
    m["sidecar.builds_per_commit"] = len(builders) / commits
    m["sidecar.jobs_per_commit"] = sum(s.job_hi - s.job_lo for s in builders) / commits

    maint = [o.attrs for o in ops if "compact" in o.attrs]
    m["compact.files_compacted"] = sum(a["compact"]["files_compacted"] for a in maint)
    m["compact.bytes_rewritten"] = sum(a["compact_bytes"] for a in maint)

    for q in ALL_CATALOG_QUERIES:
        qs = [o for o in ops if o.kind == q]
        if qs:
            m[f"catalog.{q}.s"] = statistics.median(o.latency_s for o in qs)
            m[f"catalog.{q}.jobs"] = statistics.median(o.jobs for o in qs)
    return m


def layer_self_times(tracer) -> dict[str, float]:
    """Self time per span name, summed over the traced run."""
    return {k: round(v, 4) for k, v in sorted(self_time(tracer.spans).items())}
