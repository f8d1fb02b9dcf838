"""Span tracer for the benchmark's traced run.

:func:`install` replaces module attributes of the engine with wrappers
that record a span per call: name, start, end, parent, the cycle or
request id current on the thread, and attributes such as the table a
write targets. Spans stay in memory; :meth:`Tracer.dump` writes them out
when the run ends. Spark is lazy, so the wrapped calls are the ones that
trigger actions (writes, collects); each top-level call also runs under
its own Spark job group so the status tracker can count the jobs it
started.

Everything here is installed from the benchmark's own files; the engine
carries no tracing code.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    ctx: str | None = None  # cycle / request id
    attrs: dict = field(default_factory=dict)
    jobs: int = 0  # Spark jobs started while this span was innermost

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = spark.sparkContext
        self.bookkeeping_s = 0.0  # time spent in the tracer itself
        self._restore: list[tuple[object, str, object]] = []

    @property
    def installed(self) -> bool:
        return bool(self._restore)

    # -- context -------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_ctx(self, ctx: str | None) -> None:
        self._local.ctx = ctx

    def _job_group(self, group: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)

    def _jobs_in(self, group: str) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(group))

    def _open(self, name: str, attrs: dict) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        sp = Span(
            span_id=next(self._ids),
            name=name,
            start=0.0,
            parent=stack[-1].span_id if stack else None,
            ctx=getattr(self._local, "ctx", None),
            attrs=attrs,
        )
        stack.append(sp)
        self._job_group(f"perfbench-{sp.span_id}")
        with self._lock:
            self.spans.append(sp)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        sp.jobs = self._jobs_in(f"perfbench-{sp.span_id}")
        self._job_group(f"perfbench-{stack[-1].span_id}" if stack else None)
        self.bookkeeping_s += time.perf_counter() - sp.end

    # -- patching ------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, attrs_of=None, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``attrs_of(*args, **kwargs)`` gives span attributes; ``after(span,
        result, args, kwargs)`` may add more once the call returned."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            tracer.bookkeeping_s += time.perf_counter() - t0
            sp = tracer._open(name, attrs)
            try:
                result = original(*args, **kwargs)
            finally:
                tracer._close(sp)
            if after is not None:
                # measurement work (directory sizes, a key count) runs in
                # its own job group so no span is charged for its jobs
                t0 = time.perf_counter()
                tracer._job_group("perfbench-bookkeeping")
                after(sp, result, args, kwargs)
                stack = tracer._stack()
                tracer._job_group(f"perfbench-{stack[-1].span_id}" if stack else None)
                tracer.bookkeeping_s += time.perf_counter() - t0
            return result

        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    # -- analysis ------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, last = 0.0, sp.start
        for c in sorted(kids.get(sp.span_id, []), key=lambda s: s.start):
            lo, hi = max(c.start, last), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return sp.dur - covered

    def inclusive_jobs(self, sp: Span, kids: dict[int, list[Span]]) -> int:
        return sp.jobs + sum(self.inclusive_jobs(c, kids) for c in kids.get(sp.span_id, []))

    def ancestors(self, sp: Span, by_id: dict[int, Span]):
        p = sp.parent
        while p is not None:
            yield by_id[p]
            p = by_id[p].parent

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON line."""
        kids = self.children()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp) | {"self_s": self.self_time(sp, kids)}, default=str) + "\n")


def dir_bytes(path: str) -> int:
    """Bytes of all files under ``path`` (0 if it does not exist)."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points (module attributes)."""
    from bgg_data_warehouse_spark import io, pipeline, readers, service_http
    from bgg_data_warehouse_spark.plans import dag
    from bgg_data_warehouse_spark.sources import api_client
    from bgg_data_warehouse_spark.streaming import incremental

    def table_attrs(pos: int):
        def attrs_of(*args, **kwargs):
            root, name = args[pos], args[pos + 1]
            before = dir_bytes(os.path.join(root, name))
            return {"table": name, "root": root, "bytes_before": before}

        return attrs_of

    def written(append: bool):
        def after(sp, result, args, kwargs):
            after_bytes = dir_bytes(os.path.join(sp.attrs["root"], sp.attrs["table"]))
            sp.attrs["bytes"] = after_bytes - (sp.attrs["bytes_before"] if append else 0)
            del sp.attrs["root"]

        return after

    # io write strategies; inner calls (append -> write_table) nest as
    # child spans, so byte counts are taken from the outermost io span
    tracer.wrap(io, "append_table", "io.append", table_attrs(1), written(True))
    tracer.wrap(io, "write_table", "io.write_table", table_attrs(1), written(False))
    tracer.wrap(io, "rewrite_table", "io.rewrite_table", table_attrs(1), written(False))
    tracer.wrap(io, "merge_insert_missing_table", "io.merge_insert", table_attrs(2), written(False))
    tracer.wrap(io, "delete_insert_table", "io.delete_insert", table_attrs(2), written(False))

    # the log-structured loader twins (log_store)
    tracer.wrap(io, "merge_insert_missing_logged", "log_store.merge_insert", table_attrs(2), written(True))
    tracer.wrap(io, "delete_insert_logged", "log_store.delete_insert", table_attrs(2), written(True))

    # pipeline stages and the source client
    tracer.wrap(pipeline, "fetch_stage", "pipeline.fetch_stage")
    tracer.wrap(pipeline, "process_stage", "pipeline.process_stage")
    tracer.wrap(pipeline, "_fetch_id_batch", "pipeline.fetch_batch")

    def thing_after(sp, result, args, kwargs):
        sp.attrs["payloads"] = len(result)  # ids present in the response

    tracer.wrap(api_client.BGGApiClient, "get_thing", "sources.get_thing", after=thing_after)

    # model DAG and the incremental machinery
    tracer.wrap(dag.ModelDag, "run_persisted", "plans.run_persisted")
    tracer.wrap(incremental, "incremental_dag_cycle", "incremental.cycle")
    tracer.wrap(incremental, "high_watermark", "incremental.high_watermark")

    def changed_after(sp, result, args, kwargs):
        sp.attrs["keys"] = result.count()

    tracer.wrap(incremental, "changed_key_set", "incremental.changed_key_set", after=changed_after)

    # readers and the HTTP shell's routing call
    for meth in (
        "get_game", "get_features", "get_player_counts", "get_predictions",
        "get_embedding", "get_provenance", "get_similar", "_similar_live",
    ):
        tracer.wrap(readers.GameReader, meth, f"readers.{meth.lstrip('_')}")

    def handle_attrs(reader, method, path, params=None):
        rid = (params or {}).get("rid")
        tracer.set_ctx(f"req-{rid}" if rid is not None else None)
        return {"rid": rid, "path": path}

    tracer.wrap(service_http, "handle", "service.handle", handle_attrs)
