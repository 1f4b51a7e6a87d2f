"""The three workloads: set-up, warm-up, the closed op loop, checks.

Each workload issues ops one at a time from a single client and waits
for each to finish (a closed loop). Ops run in seeded cycles: a cycle
holds every op kind of the workload, and a run executes a fixed number
of whole cycles, so every run samples the same mix, a traced run
executes exactly the ops of an untraced one, and counters repeat
exactly for a seed.
"""

from __future__ import annotations

import contextlib
import datetime
import gc
import os

import numpy as np

from checks import Replay, oracle_connection, oracle_mismatch
from gen import GAP, LineitemState, write_fixtures, write_parquet

# Sizes are set by the per-run budget on a 4-core box: start-up, three
# set-ups, warm-up, the measured ops and the checks must fit in about
# three quarters of a minute. ``cycle_s`` is the nominal length of one
# cycle there: a run executes round(seconds / cycle_s) timed cycles (at
# least one) after one untimed warm-up cycle, so the op count depends on
# --seconds only, never on the speed of the program, and two versions of
# the program are measured on the same ops. A catalog_mix cycle runs
# every query (see CATALOG_QUERIES).
SCALES = {
    "full": {
        "bulk_merge": dict(base_rows=131_072, rows_per_file=8_192,
                           batch_rows=10_240, cycle_s=5.0),
        "trickle_upserts": dict(base_rows=60_000, rows_per_file=2_048,
                                cycle_s=7.5),
        "catalog_mix": dict(sf=0.01, warm_sf=0.001, cycle_s=5.0),
    },
    "tiny": {
        "bulk_merge": dict(base_rows=65_536, rows_per_file=8_192,
                           batch_rows=10_240, cycle_s=60.0),
        "trickle_upserts": dict(base_rows=20_000, rows_per_file=2_048,
                                cycle_s=60.0),
        "catalog_mix": dict(sf=0.001, warm_sf=0.001, cycle_s=60.0),
    },
}

# catalog queries timed by catalog_mix, in run order, with their timed
# runs per cycle: the light queries run twice, so that op_p50_s, the
# median of a run's query latencies, sits among a dozen light runs
# rather than on one sample
CATALOG_QUERIES = {
    "full": {
        "pricing_summary": 2,
        "cosine_topk_bruteforce": 2,
        "incremental_bm25_search": 1,
    },
    "tiny": {"pricing_summary": 1, "cosine_topk_bruteforce": 1},
}
ALL_CATALOG_QUERIES = list(CATALOG_QUERIES["full"])
# the fixture tables those queries read
CATALOG_TABLES = ("lineitem", "embeddings", "documents")

# key-count ranges of the two upserts in a trickle_upserts cycle
UPSERT_SIZES = ((1, 32), (32, 1001))
# bulk_merge batch kinds: clustered on 1, 2, 4 and 8 of the 16 base
# files (6% to 50%), or scattered over all of them. Five kinds, so the
# median of a run's merges is one kind's middle sample, not the gap
# between two kinds.
BULK_FILES = {"files1": 1, "files2": 2, "files4": 4, "files8": 8}
BULK_KINDS = (*BULK_FILES, "scatter")


def _data_files(path: str, skip=("_manifest",)) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(skip):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, seconds: float, scale: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.seconds = seconds
        self.scale = scale
        self.cfg = SCALES[scale][self.name]
        self.failures: list[str] = []
        self.checks = 0

    def n_cycles(self) -> int:
        return max(1, round(self.seconds / self.cfg["cycle_s"]))

    def run(self) -> None:
        for c in range(self.n_cycles()):
            if not self.cycle(c):
                break


# ------------------------------------------------------------ merge tables

class _MergeTable(Workload):
    """Shared by the two merge workloads: a lineitem-shaped SortedTable,
    its DuckDB replay and the byte accounting."""

    def _create(self, d: str, base_path: str, **kw):
        from parquet_rewriter_spark.table import SortedTable

        rpf = self.cfg["rows_per_file"]
        return SortedTable.create(
            self.spark, os.path.join(d, "table"), self.spark.read.parquet(base_path),
            key="l_key", max_records_per_file=int(rpf * 1.25),
            num_files=self.cfg["base_rows"] // rpf, **kw,
        )

    def _space(self) -> float:
        """Live data and sidecar bytes per live row."""
        m = self.table.manifest()
        rows = sum(e.rows for e in m.files) - sum(e.dv_rows for e in m.files)
        data = sum(e.bytes for e in m.files)
        side = sum(
            sum(_data_files(os.path.join(self.table.path, s)).values())
            for s in os.listdir(self.table.path)
            if s.startswith("_") and os.path.isdir(os.path.join(self.table.path, s))
            and not s.startswith(("_staging", "_temporary"))
        )
        return (data + side) / max(rows, 1)

    def begin_window(self) -> None:
        self.files0 = _data_files(self.table.path)
        self.space0 = self._space()
        self.batch_bytes = 0

    def end_window(self) -> None:
        files1 = _data_files(self.table.path)
        self.written = sum(s for p, s in files1.items() if p not in self.files0)
        self.space1 = self._space()

    def check_final(self) -> None:
        self.checks += 1
        got = self.replay.checksum(self.table.read().toArrow())
        want = self.replay.expected()
        if got != want:
            self.failures.append(f"final snapshot: (rows, checksum) {got} != replay {want}")

    def common_layers(self) -> dict:
        m = self.table.manifest()
        return {
            "table.live_files": len(m.files),
            "table.manifest_bytes": os.path.getsize(
                os.path.join(self.table.path, "_manifest.json")),
            "table.write_amp": self.written / max(self.batch_bytes, 1),
            "table.space_amp": self.space1 / self.space0,
            "dv.rows_outstanding": sum(e.dv_rows for e in m.files),
        }

    def summary(self) -> dict:
        merges = [o for o in self.tracer.ops if "files_dirty" in o.attrs]
        return {
            "merge_s": [o.latency_s for o in merges],
            "mutation_rows_per_s": sum(o.attrs["mutation_rows"] for o in merges)
            / max(sum(o.latency_s for o in merges), 1e-9),
            "write_amp": self.written / max(self.batch_bytes, 1),
            "space_amp": self.space1 / self.space0,
        }


class BulkMerge(_MergeTable):
    name = "bulk_merge"

    def setup(self, d: str) -> None:
        cfg = self.cfg
        rng = np.random.default_rng(self.seed)
        st = LineitemState(rng, cfg["base_rows"], cfg["rows_per_file"])
        self.base_path = os.path.join(d, "base.parquet")
        write_parquet(st.base_table(), self.base_path)
        os.makedirs(os.path.join(d, "batches"))
        n_files = cfg["base_rows"] // cfg["rows_per_file"]
        n = cfg["batch_rows"]
        self.batches = []
        for c in range(self.n_cycles() + 1):
            # cycle 0 is the warm-up: it compiles every plan shape, and
            # its merges let the JIT settle before the timed cycles
            for kind in rng.permutation(BULK_KINDS):
                if kind == "scatter":
                    lo, hi = 0, st.n_slots
                else:
                    k = BULK_FILES[kind]
                    r0 = int(rng.integers(0, n_files - k + 1))
                    pad = st.region_slots // 20  # stay clear of file edges
                    lo, hi = r0 * st.region_slots + pad, (r0 + k) * st.region_slots - pad
                tb = st.batch(lo, hi, n // 4, n * 3 // 8, n * 3 // 8)
                if tb.num_rows != n:  # a smaller batch could take the splice path
                    raise RuntimeError(f"{kind} batch has {tb.num_rows} keys, not {n}")
                path = os.path.join(d, "batches", f"b{len(self.batches):04d}.parquet")
                self.batches.append((f"merge.{kind}", path, tb.num_rows,
                                     write_parquet(tb, path)))
        self.table = self._create(d, self.base_path)

    def warmup(self) -> None:
        from parquet_rewriter_spark.operators.merge import merge_into_table

        self.replay = Replay(self.base_path)
        for _kind, path, _rows, _nbytes in self.batches[:len(BULK_KINDS)]:
            merge_into_table(self.table, self.spark.read.parquet(path))
            self.replay.apply_batch(path)
        self.begin_window()

    def merge(self, kind: str, path: str, rows: int, nbytes: int) -> bool:
        from parquet_rewriter_spark.operators.merge import merge_into_table

        try:
            with self.tracer.op(kind) as a:
                res = merge_into_table(self.table, self.spark.read.parquet(path))
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failures.append(f"{kind}: {type(e).__name__}: {e}")
            return False
        a.update(res, mutation_rows=rows, batch_bytes=nbytes)
        self.batch_bytes += nbytes
        self.replay.apply_batch(path)
        return True

    def cycle(self, c: int) -> bool:
        k = len(BULK_KINDS)
        for kind, path, rows, nbytes in self.batches[(c + 1) * k:(c + 2) * k]:
            if not self.merge(kind, path, rows, nbytes):
                return False
        return True

    def check(self) -> None:
        self.end_window()
        self.check_final()
        self.replay.close()


class TrickleUpserts(_MergeTable):
    name = "trickle_upserts"

    def setup(self, d: str) -> None:
        from parquet_rewriter_spark.operators.distinct_sketch import (
            enable_distinct_sketches,
        )
        from parquet_rewriter_spark.operators.driftstats import enable_drift_monitor

        cfg = self.cfg
        rng = np.random.default_rng(self.seed)
        st = LineitemState(rng, cfg["base_rows"], cfg["rows_per_file"])
        self.base_path = os.path.join(d, "base.parquet")
        write_parquet(st.base_table(), self.base_path)
        os.makedirs(os.path.join(d, "batches"))
        self.plan = []  # per cycle: list of ops
        for c in range(self.n_cycles() + 1):
            ops = []
            # A cycle: a small and a large upsert, then a delete, each
            # followed by reads: two point reads, a range and a where.
            # Cycle 0, the warm-up, has one upsert. The delete comes
            # last, so maintenance always has tombstones to apply. Of a
            # cycle's 16 ops, 6 are faster than the point reads and 4
            # slower, so op_p50_s is a point read's latency, not the gap
            # between two kinds.
            sizes = UPSERT_SIZES[:1] if c == 0 else UPSERT_SIZES
            for kind, size in [("upsert", sz) for sz in sizes] + [("delete", None)]:
                path = os.path.join(d, "batches", f"b{c:03d}_{len(ops):02d}.parquet")
                if kind == "upsert":
                    # log-uniform key count; clustered within ~2 files,
                    # so within the splice caps; 30% inserts into gaps
                    n = int(np.exp(rng.uniform(np.log(size[0]), np.log(size[1]))))
                    w = max(256, n * GAP * 2)
                    lo = int(rng.integers(0, st.n_slots - w))
                    tb = st.batch(lo, lo + w, n - n * 3 // 10, n * 3 // 10, 0)
                else:
                    n = int(rng.integers(1, 101))
                    w = max(256, n * GAP * 4)
                    lo = int(rng.integers(0, st.n_slots - w))
                    tb = st.delete_keys(lo, lo + w, n)
                ops.append((kind, path, tb.num_rows, write_parquet(tb, path)))
                w = 2048
                lo = int(rng.integers(0, st.n_slots - w))
                day = int(rng.integers(0, 2500))
                ops.append(("read_point", st.live_partkeys(3)))
                ops.append(("read_point", st.live_partkeys(3)))
                ops.append(("read_range", (lo, lo + w - 1)))
                ops.append(("read_where", day))
            ops.append(("maintenance", None))
            self.plan.append(ops)
        self.table = self._create(d, self.base_path, stats_cols=["l_shipdate"],
                                  bloom_cols=["l_partkey"])
        enable_distinct_sketches(self.table, ["l_suppkey"])
        enable_drift_monitor(self.table, "l_quantity", "l_returnflag",
                             [0, 10, 20, 30, 40, 51])

    def warmup(self) -> None:
        self.replay = Replay(self.base_path)
        for op in self.plan[0]:
            self.do(op, timed=False)
        self.begin_window()

    def cycle(self, c: int) -> bool:
        return all(self.do(op, timed=True) for op in self.plan[c + 1])

    def do(self, op, timed: bool) -> bool:
        """Run one planned op; untimed ops still update and check the
        replay, so every op's result is checked."""
        kind, arg = op[0], op[1]
        ctx = self.tracer.op(kind) if timed else contextlib.nullcontext({})
        try:
            with ctx as a:
                out = self._issue(kind, arg)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failures.append(f"{kind}: {type(e).__name__}: {e}")
            return False
        if kind in ("upsert", "delete"):
            a.update(out, mutation_rows=op[2], batch_bytes=op[3])
            if timed:
                self.batch_bytes += op[3]
            (self.replay.apply_batch if kind == "upsert" else self.replay.apply_deletes)(arg)
        elif kind == "maintenance":
            a.update(out, compact_bytes=self._new_bytes(
                out["materialize"]["version"], out["compact"]["version"]))
        else:
            a.update(self._check_read(kind, arg, out))
        return True

    def _issue(self, kind: str, arg):
        from parquet_rewriter_spark.operators.bloom import read_point
        from parquet_rewriter_spark.operators.compact import compact_incremental
        from parquet_rewriter_spark.operators.deletion_vectors import (
            delete_keys_mor,
            materialize_deletes,
        )
        from parquet_rewriter_spark.operators.merge import merge_into_table

        t, spark = self.table, self.spark
        if kind == "upsert":
            return merge_into_table(t, spark.read.parquet(arg))
        if kind == "delete":
            return delete_keys_mor(t, spark.read.parquet(arg))
        if kind == "read_point":
            return read_point(t, "l_partkey", arg).toArrow()
        if kind == "read_range":
            return t.read_range(arg[0], arg[1]).toArrow()
        if kind == "read_where":
            lo, hi = _day_bounds(arg)
            return t.read_where({"l_shipdate": (lo, hi)}).toArrow()
        with self.tracer.span("dv.materialize"):
            mat = materialize_deletes(t)
        with self.tracer.span("compact.incremental"):
            comp = compact_incremental(t, self.cfg["rows_per_file"], min_fill=0.5)
        return {"materialize": mat, "compact": comp}

    def _check_read(self, kind: str, arg, arrow_table) -> dict:
        """Compare a read's rows with DuckDB over the same snapshot;
        outside the op's timed window."""
        if kind == "read_point":
            where = f"l_partkey IN ({', '.join(str(v) for v in arg)})"
        elif kind == "read_range":
            where = f"l_key BETWEEN {arg[0]} AND {arg[1]}"
        else:
            lo, hi = _day_bounds(arg)
            where = (f"l_shipdate BETWEEN TIMESTAMPTZ '{lo.isoformat()}+00' "
                     f"AND TIMESTAMPTZ '{hi.isoformat()}+00'")
        self.checks += 1
        got, want = self.replay.checksum(arrow_table), self.replay.expected(where)
        if got != want:
            self.failures.append(f"{kind} {arg}: (rows, checksum) {got} != replay {want}")
        info = {"rows": arrow_table.num_rows}
        if self.tracer.enabled:
            m = self.table.manifest()
            info["live_files"] = len(m.files)
            if kind != "read_point":
                preds = ({"l_key": arg} if kind == "read_range"
                         else {"l_shipdate": _day_bounds(arg)})
                info["files_kept"] = sum(self.table.zone_keep(m, e, preds) for e in m.files)
        return info

    def _new_bytes(self, v0: int, v1: int) -> int:
        """Bytes of the data files version ``v1`` added over ``v0``."""
        before = {e.name for e in self.table.manifest(v0).files}
        return sum(e.bytes for e in self.table.manifest(v1).files if e.name not in before)

    def check(self) -> None:
        self.end_window()
        self.check_final()
        self.replay.close()


def _day_bounds(day: int) -> tuple[datetime.datetime, datetime.datetime]:
    lo = datetime.datetime(1995, 1, 1) + datetime.timedelta(days=day)
    return lo, lo + datetime.timedelta(days=1)


# ----------------------------------------------------------------- catalog

class CatalogMix(Workload):
    name = "catalog_mix"

    def setup(self, d: str) -> None:
        """Generate both fixture sets, then load and count the tables the
        timed queries read, once, with the engine's reader."""
        from parquet_rewriter_spark.sources.readers import load_table

        self.main_dir = os.path.join(d, "main")
        self.warm_dir = os.path.join(d, "warm")
        write_fixtures(np.random.default_rng(self.seed), self.main_dir, self.cfg["sf"])
        write_fixtures(np.random.default_rng([self.seed, 1]), self.warm_dir,
                       self.cfg["warm_sf"])
        for t in CATALOG_TABLES:
            load_table(self.spark, self.main_dir, t).count()
        self.queries = CATALOG_QUERIES[self.scale]
        self.results: dict = {}

    def _query(self, q: str, data_dir: str, timed: bool) -> bool:
        """Run one query to a pandas frame, then drop what it cached, so
        the next is not timed under its litter (unpersisted blocks go
        when the driver JVM collects)."""
        from parquet_rewriter_spark import catalog

        ctx = self.tracer.op(q) if timed else contextlib.nullcontext({})
        try:
            with ctx as a:
                pdf = catalog.REGISTRY[q].fn(self.spark, data_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failures.append(f"{q}: {type(e).__name__}: {e}")
            return False
        if timed:
            a["rows"] = len(pdf)
            self.results[q] = pdf
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        return True

    def warmup(self) -> None:
        """Each query runs once on the small fixtures, so the timed runs
        find its plans compiled. The three queries' plans fit in Spark's
        generated-code cache together."""
        for q in self.queries:
            self._query(q, self.warm_dir, timed=False)

    def cycle(self, c: int) -> bool:
        """Every query in turn, so each is sampled across the whole run."""
        return all(self._query(q, self.main_dir, timed=True)
                   for q, reps in self.queries.items() for _ in range(reps))

    def check(self) -> None:
        from parquet_rewriter_spark import catalog

        con = oracle_connection(self.main_dir)
        try:
            for q, pdf in self.results.items():
                self.checks += 1
                why = oracle_mismatch(con, catalog.REGISTRY[q].oracle, pdf)
                if why:
                    self.failures.append(f"{q}: {why}")
        finally:
            con.close()

    def summary(self) -> dict:
        return {}

    def common_layers(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (BulkMerge, TrickleUpserts, CatalogMix)}

