"""Op timing, spans and Spark counters, measured from outside the engine.

``Tracer`` times every op the benchmark issues and counts the Spark jobs
each one ran (the DAG scheduler's job-id counter, read through py4j: no
Spark job). With tracing on it also:

- keeps a span (name, start, end, parent, op id, job-id range) per op and
  per wrapped layer call, in memory, written out once at the end;
- labels each span's jobs with a Spark job group;
- after each op, outside its timed window, reads the op's jobs and
  stages from Spark's status store (``AppStatusStore``, populated even
  with the UI off) for executor time, GC, bytes and task counts;
- wraps the public entry points of the layers the benchmark does not
  call directly (``install_layer_wrappers``), so nested layer time shows.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op_id: int
    parent: int  # index into Tracer.spans, -1 for an op
    start: float  # epoch seconds
    end: float = 0.0
    job_lo: int = 0  # job ids [job_lo, job_hi) ran inside the span
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)


@dataclass
class Op:
    kind: str
    latency_s: float
    jobs: int
    attrs: dict = field(default_factory=dict)


@dataclass
class JobCounters:
    submit_s: float
    end_s: float
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self.jobs: dict[int, JobCounters] = {}
        self.self_s = 0.0  # time spent in tracing bookkeeping
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        """A nested layer span (no-op with tracing off). Yields the
        span's attribute dict, or a throwaway one."""
        if not self.enabled or not self._stack:
            yield {}
            return
        t0 = time.perf_counter()
        sp = Span(name, len(self.ops), self._stack[-1], time.time(),
                  job_lo=self.next_job_id())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._sc.setJobGroup(f"op{sp.op_id}:{name}", name)
        self.self_s += time.perf_counter() - t0
        try:
            yield sp.attrs
        finally:
            t1 = time.perf_counter()
            sp.end, sp.job_hi = time.time(), self.next_job_id()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]
            self._sc.setJobGroup(f"op{parent.op_id}:{parent.name}", parent.name)
            self.self_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one benchmark op. Yields a dict the caller fills with
        op attributes (mutation rows, merge result, ...)."""
        attrs: dict = {}
        sp = None
        if self.enabled:
            sp = Span(kind, len(self.ops), -1, 0.0)
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
            self._sc.setJobGroup(f"op{sp.op_id}:{kind}", kind)
        j0 = self.next_job_id()
        wall0, t0 = time.time(), time.perf_counter()
        try:
            yield attrs
        finally:
            latency = time.perf_counter() - t0
            wall1, j1 = time.time(), self.next_job_id()
            self.ops.append(Op(kind, latency, j1 - j0, attrs))
            # traced or not, the next op starts once Spark's listeners
            # have processed this op's events
            self._jsc.listenerBus().waitUntilEmpty()
            if sp is not None:
                sp.start, sp.end, sp.job_lo, sp.job_hi = wall0, wall1, j0, j1
                self._stack.pop()
                self._sc._jsc.clearJobGroup()
                self._read_jobs(j0, j1)

    # ---------------------------------------------------- status store
    def _read_jobs(self, lo: int, hi: int) -> None:
        t0 = time.perf_counter()
        store = self._jsc.statusStore()
        for jid in range(lo, hi):
            jd = store.job(jid)
            jc = JobCounters(
                submit_s=_epoch_s(jd.submissionTime()),
                end_s=_epoch_s(jd.completionTime()),
            )
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                self._seen_stages.add(sid)
                jc.stages += 1
                jc.tasks += st.numCompleteTasks()
                jc.executor_run_s += st.executorRunTime() / 1000.0
                jc.gc_s += st.jvmGcTime() / 1000.0
                jc.input_bytes += st.inputBytes()
                jc.output_bytes += st.outputBytes()
                jc.shuffle_read_bytes += st.shuffleReadBytes()
                jc.shuffle_write_bytes += st.shuffleWriteBytes()
            self.jobs[jid] = jc
        self.self_s += time.perf_counter() - t0

    def jobs_in(self, sp: Span) -> list[JobCounters]:
        return [self.jobs[j] for j in range(sp.job_lo, sp.job_hi) if j in self.jobs]

    def op_spans(self) -> list[Span]:
        return [s for s in self.spans if s.parent == -1]

    def write(self, path: str, meta: dict) -> None:
        """Write every span and job counter once, at the end."""
        with open(path, "w") as fh:
            json.dump({
                "meta": meta,
                "spans": [asdict(s) for s in self.spans],
                "jobs": {str(k): asdict(v) for k, v in self.jobs.items()},
            }, fh, default=str)


def _epoch_s(opt_date) -> float:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else 0.0


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part its direct children
    cover (a layer's self time)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        kids = [(c.start, c.end) for c in children.get(i, [])]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered_s(kids, s.start, s.end)
    return out


# Layer entry points the benchmark does not call itself: (module, attribute,
# span name, attribute extractor over (args, result)).
def _n_files(args, res):
    return {"files": len(res)}


def _n_built(args, res):
    return {"files": len(args[1]) if len(args) > 1 else 0}


def _candidates(args, res):
    return {"candidates": -1 if res is None else len(res)}


def _splice(args, res):
    _, stats = res
    return {"rgs_rewritten": stats.get("rgs_rewritten", 0),
            "rgs_copied": stats.get("rgs_copied", 0)}


_PKG = "parquet_rewriter_spark"
LAYER_ENTRY_POINTS = [
    (f"{_PKG}.table", "SortedTable.manifest", "table.manifest", None),
    (f"{_PKG}.table", "SortedTable._commit_manifest", "table.commit", None),
    # table.py imports the footer scan by name: patch the name it calls
    (f"{_PKG}.table", "collect_file_stats", "stats.footer", _n_files),
    (f"{_PKG}.operators.bloom", "build_blooms", "bloom.build", _n_built),
    (f"{_PKG}.operators.bloom", "candidate_files", "bloom.candidate_files", _candidates),
    (f"{_PKG}.operators.distinct_sketch", "build_sketches_for", "distinct_sketch.build", _n_built),
    (f"{_PKG}.operators.distinct_sketch", "build_distinct_sketches", "distinct_sketch.build", None),
    (f"{_PKG}.operators.driftstats", "build_drift_for", "driftstats.build", _n_built),
    (f"{_PKG}.operators.driftstats", "build_drift_stats", "driftstats.build", None),
    (f"{_PKG}.operators.splice", "splice_merge", "splice.merge", _splice),
]


def install_layer_wrappers(tracer: Tracer):
    """Patch each entry point to run inside a span; returns an undo."""
    undo = []
    for mod_name, attr, span_name, extract in LAYER_ENTRY_POINTS:
        owner = importlib.import_module(mod_name)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        orig = getattr(owner, leaf)
        setattr(owner, leaf, _wrap(tracer, orig, span_name, extract))
        undo.append((owner, leaf, orig))

    def restore():
        for owner, leaf, orig in reversed(undo):
            setattr(owner, leaf, orig)

    return restore


def _wrap(tracer: Tracer, fn, span_name: str, extract):
    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as attrs:
            res = fn(*args, **kwargs)
            if extract is not None and tracer.enabled:
                attrs.update(extract(args, res))
            return res

    wrapper.__wrapped__ = fn
    wrapper.__name__ = getattr(fn, "__name__", span_name)
    return wrapper
