"""Operation boundaries, spans and per-operation Spark counters.

An *operation* is one call the client makes into the program: a
``QUERIES[key](...)`` call and the action that consumes its plan, or a
``pipeline`` call. Operation boundaries are always recorded (they give
per-operation latency). With tracing on, the recorder also

* keeps spans (name, start, end, parent span, pass id) around the
  benchmark's calls into each module: ``plans`` (QUERIES builds),
  ``catalog`` (``load_table``), ``sources`` (writers), ``pipeline``;
* runs every operation in its own Spark job group and, after each pass,
  reads the jobs and stages of each group from Spark's status store.

Nothing inside the program is edited: the recorder swaps the module
attributes the program looks up at call time, and restores them in
``close``.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError


@dataclass
class Op:
    name: str
    pass_id: str
    group: str
    start: float  # time.time(), to line up with Spark's stage clocks
    end: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: str


class Recorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.traced = False
        self.pass_id = "setup"
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._open: Op | None = None
        self._undo: list[tuple[object, str, object]] = []
        self._queries: tuple[dict, dict] | None = None

    # -- operations ---------------------------------------------------

    def begin_op(self, name: str) -> None:
        self.end_op()
        group = f"{self.pass_id}/{len(self.ops)}/{name}"
        if self.traced:
            self.sc.setJobGroup(group, name)
        self._open = Op(name, self.pass_id, group, time.time())

    def end_op(self) -> None:
        if self._open is None:
            return
        self._open.end = time.time()
        if self.traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(self._open)
        self._open = None

    def pass_ops(self, pass_id: str) -> list[Op]:
        return [op for op in self.ops if op.pass_id == pass_id]

    # -- spans --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.pass_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def layer_time(self, prefix: str, pass_id: str) -> float:
        """Wall time in spans named ``prefix*`` of one pass, counting a
        span only when no enclosing span has the same prefix."""
        total = 0.0
        for s in self.spans:
            if s.pass_id != pass_id or not s.name.startswith(prefix):
                continue
            p = s.parent
            if p is not None and self.spans[p].name.startswith(prefix):
                continue
            total += s.end - s.start
        return total

    def span_count(self, prefix: str, pass_id: str) -> int:
        return sum(
            1 for s in self.spans if s.pass_id == pass_id and s.name.startswith(prefix)
        )

    # -- shims --------------------------------------------------------

    def _swap(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap_span(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def install(self, spans: bool) -> None:
        """Mark an operation at every ``QUERIES[key]`` call; with
        ``spans``, also span the catalog and the writers (they record
        only while ``traced`` is set)."""
        from pyprima_spark.plans.queries import QUERIES

        self._queries = (QUERIES, dict(QUERIES))
        for key, fn in self._queries[1].items():
            QUERIES[key] = self._query_shim(key, fn)
        if not spans:
            return

        import pyprima_spark.catalog as catalog
        import pyprima_spark.sources.readers as readers
        import pyprima_spark.sources.tfrecord as tfrecord
        from pyspark.sql.readwriter import DataFrameWriter

        # load_table is bound by name in each plans module: swap every
        # binding of the original function.
        orig = catalog.load_table
        shim = self._wrap_span("catalog.load_table", orig)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("pyprima_spark") and getattr(mod, "load_table", None) is orig:
                self._swap(mod, "load_table", shim)
        self._swap(
            readers,
            "write_european_csv",
            self._wrap_span("sources.write_european_csv", readers.write_european_csv),
        )
        self._swap(
            tfrecord,
            "write_tfrecord_shards",
            self._wrap_span("sources.write_tfrecord_shards", tfrecord.write_tfrecord_shards),
        )
        for meth in ("parquet", "csv"):
            self._swap(
                DataFrameWriter,
                meth,
                self._wrap_span(f"sources.write_{meth}", getattr(DataFrameWriter, meth)),
            )

    def _query_shim(self, key: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            self.begin_op(key)
            with self.span(f"plans.{key}"):
                return fn(*args, **kwargs)

        return wrapped

    def close(self) -> None:
        self.end_op()
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()
        if self._queries is not None:
            queries, originals = self._queries
            queries.update(originals)
            self._queries = None

    # -- Spark counters -----------------------------------------------

    def collect_spark(self, pass_id: str) -> None:
        """Attach job/stage counters to each operation of ``pass_id``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for op in self.pass_ops(pass_id):
            jobs = tracker.getJobIdsForGroup(op.group)
            stage_ids = set()
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = dict.fromkeys(
                (
                    "stages task_ms cpu_ns gc_ms tasks failed_tasks shuffle_write"
                    " shuffle_read spill input"
                ).split(),
                0,
            )
            c["jobs"] = len(jobs)
            intervals = []
            for sid in stage_ids:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:
                    continue  # evicted from the store
                sub, done = sd.submissionTime(), sd.completionTime()
                if not sub.isDefined():
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["task_ms"] += sd.executorRunTime()
                c["cpu_ns"] += sd.executorCpuTime()
                c["gc_ms"] += sd.jvmGcTime()
                c["tasks"] += sd.numCompleteTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["shuffle_write"] += sd.shuffleWriteBytes()
                c["shuffle_read"] += sd.shuffleReadBytes()
                c["spill"] += sd.diskBytesSpilled()
                c["input"] += sd.inputBytes()
                end = done.get().getTime() if done.isDefined() else op.end * 1000
                intervals.append((sub.get().getTime() / 1000, end / 1000))
            c["covered_s"] = covered(intervals, op.start, op.end)
            c["intervals"] = intervals
            op.spark = c

    def checkpoint_mb(self) -> float:
        """RDD and localCheckpoint blocks still held by the block manager."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def dump(self) -> dict:
        return {
            "spans": [s.__dict__ for s in self.spans],
            "ops": [op.__dict__ | {"wall": op.wall} for op in self.ops],
        }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
