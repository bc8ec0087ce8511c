"""Spans around calls into the program's layers, recorded from
benchmark-owned wrappers.

The traced run replays the corpus in-process through the workload's
real ``mapInArrow`` kernel: ``capture_kernel`` grabs the function the
operator hands to ``DataFrame.mapInArrow`` and the replay feeds it the
corpus's Arrow batches.  While the replay runs, ``patched`` swaps each
layer's public function for a ``Tracer.wrap`` wrapper, so the operator
code itself calls the wrappers in its own call order.  Nothing inside
``swiftsoup_spark/`` is changed.
"""

from __future__ import annotations

import contextlib
import time
from array import array
from collections import Counter

import numpy as np

_MISSING = object()


class Tracer:
    """Single-threaded in-memory span recorder.

    A span is (name, start ns, end ns, parent span index, trace id); the
    trace id is the replayed Arrow batch.  ``counts`` holds the per-layer
    work counters that the wrappers' ``on_result`` hooks add up.
    """

    def __init__(self) -> None:
        self.names: list[str] = []
        self._ids: dict[str, int] = {}
        self.name = array("i")
        self.start = array("q")
        self.end = array("q")
        self.parent = array("i")
        self.trace = array("i")
        self.stack: list[int] = []
        self.trace_id = -1
        self.counts: Counter = Counter()

    def intern(self, name: str) -> int:
        if name not in self._ids:
            self._ids[name] = len(self.names)
            self.names.append(name)
        return self._ids[name]

    def begin(self, nid: int) -> int:
        idx = len(self.start)
        self.name.append(nid)
        self.parent.append(self.stack[-1] if self.stack else -1)
        self.trace.append(self.trace_id)
        self.end.append(0)
        self.stack.append(idx)
        self.start.append(time.perf_counter_ns())
        return idx

    def finish(self, idx: int) -> None:
        self.end[idx] = time.perf_counter_ns()
        self.stack.pop()

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` timed as span ``name``; ``on_result(counts, args, result)``
        runs after the span closes."""
        nid = self.intern(name)
        begin, finish, counts = self.begin, self.finish, self.counts

        def traced(*args, **kwargs):
            i = begin(nid)
            try:
                r = fn(*args, **kwargs)
            finally:
                finish(i)
            if on_result is not None:
                on_result(counts, args, r)
            return r
        return traced

    def durations(self, name: str) -> list[float]:
        """Seconds of each ``name`` span, in start order."""
        nid = self._ids.get(name)
        return [(self.end[i] - self.start[i]) / 1e9
                for i in range(len(self.start)) if self.name[i] == nid]

    def summary(self) -> dict[str, dict[str, float]]:
        """name -> calls, busy_s (span time) and self_s (span time minus
        the time its child spans cover)."""
        start = np.frombuffer(self.start, dtype=np.int64)
        end = np.frombuffer(self.end, dtype=np.int64)
        name = np.frombuffer(self.name, dtype=np.int32)
        parent = np.frombuffer(self.parent, dtype=np.int32)
        dur = (end - start).astype(np.float64)
        child = np.zeros_like(dur)
        has = parent >= 0
        np.add.at(child, parent[has], dur[has])
        own = dur - child
        out = {}
        for nid, nm in enumerate(self.names):
            sel = name == nid
            out[nm] = {"calls": int(sel.sum()), "busy_s": dur[sel].sum() / 1e9,
                       "self_s": own[sel].sum() / 1e9}
        return out

    def write(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        names = pa.array(self.names, pa.string())
        pq.write_table(pa.table({
            "name": pa.DictionaryArray.from_arrays(
                pa.array(np.frombuffer(self.name, dtype=np.int32)), names),
            "start_ns": pa.array(np.frombuffer(self.start, dtype=np.int64)),
            "end_ns": pa.array(np.frombuffer(self.end, dtype=np.int64)),
            "parent": pa.array(np.frombuffer(self.parent, dtype=np.int32)),
            "trace_id": pa.array(np.frombuffer(self.trace, dtype=np.int32)),
        }), path)


@contextlib.contextmanager
def patched(targets):
    """Temporarily set ``owner.attr = value`` for each (owner, attr, value)."""
    saved = [(o, a, o.__dict__.get(a, _MISSING) if isinstance(o, type)
              else getattr(o, a)) for o, a, _ in targets]
    try:
        for o, a, v in targets:
            setattr(o, a, v)
        yield
    finally:
        for o, a, v in reversed(saved):
            if v is _MISSING:
                delattr(o, a)
            else:
                setattr(o, a, v)


def capture_kernel(build):
    """The function that ``build()`` passes to ``DataFrame.mapInArrow``
    (the operator's Arrow-batch kernel), captured without running a job."""
    from pyspark.sql.classic.dataframe import DataFrame
    got = []
    orig = DataFrame.mapInArrow

    def spy(self, func, schema, *args, **kwargs):
        got.append(func)
        return orig(self, func, schema, *args, **kwargs)

    with patched([(DataFrame, "mapInArrow", spy)]):
        build()
    if not got:
        raise RuntimeError("operator issued no mapInArrow stage")
    return got[-1]


def layer_wrappers(tracer: Tracer):
    """(owner, attr, wrapper) for every layer boundary the traced run
    records.  Counter names match the per-layer metrics they feed."""
    from swiftsoup_spark import api
    from swiftsoup_spark.kernel import fastpath
    from swiftsoup_spark.kernel.arena import Arena
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.ops import maincontent
    from swiftsoup_spark.select import engine

    cand_tags = {t.strip() for t in maincontent.CANDIDATE_CSS.split(",")}
    c = fastpath.get_module()

    def on_batch(counts, args, r):
        n = len(args[0])
        counts["tier1.calls"] += n
        if r is not None:
            counts["tier1.ok"] += n - len(r[2])
            counts["stream.docs"] += n - len(r[2])

    def on_ok(key):
        def hook(counts, args, r):
            counts[key + ".calls"] += 1
            if r is not None:
                counts[key + ".ok"] += 1
        return hook

    def on_stream(counts, args, r):
        if r is not None:
            counts["stream.docs"] += 1

    def on_build(counts, args, r):
        counts["build.calls"] += 1
        if r is not None:
            counts["build.ok"] += 1
            counts["build.nodes"] += len(r.parent) - 1

    def on_parse(counts, args, r):
        counts["tb.nodes"] += len(r.parent) - 1
        counts["tb.errors"] += r.errors

    def on_select(counts, args, r):
        counts["select.matches"] += len(r)
        if len(args) > 2 and args[2] == maincontent.CANDIDATE_CSS:
            counts["mc.candidates"] += len(r)

    def on_node_text(counts, args, r):
        counts["node_text.chars"] += len(r)

    def on_main(counts, args, r):
        if r == 0 or args[0].tag_name(r) not in cand_tags:
            counts["mc.fallback"] += 1

    w = tracer.wrap
    targets = [
        (api, "decode_html", w("api.decode_html", api.decode_html)),
        (fastpath, "batch_doc_text",
         w("fastpath.batch_doc_text", fastpath.batch_doc_text, on_batch)),
        (fastpath, "doc_text",
         w("fastpath.doc_text", fastpath.doc_text, on_stream)),
        (fastpath, "arena_doc_text",
         w("fastpath.arena_doc_text", fastpath.arena_doc_text, on_stream)),
        (fastpath, "build_arena",
         w("fastpath.build_arena", fastpath.build_arena, on_build)),
        (HtmlTreeBuilder, "parse",
         w("treebuilder.parse", HtmlTreeBuilder.parse, on_parse)),
        (engine, "select", w("select.select", engine.select, on_select)),
        (Arena, "node_text",
         w("arena.node_text", Arena.node_text, on_node_text)),
        (maincontent, "main_content_node",
         w("maincontent.main_content_node", maincontent.main_content_node,
           on_main)),
    ]
    if c is not None:
        # the native tiers behind doc_text: streaming, then arena walk
        targets += [
            (c, "doc_text", w("fastpath.c_stream", c.doc_text, on_ok("tier1"))),
            (c, "arena_doc_text",
             w("fastpath.c_arena", c.arena_doc_text, on_ok("tier2"))),
        ]
    return targets


def replay(kernel, batches, tracer: Tracer | None = None) -> float:
    """Run ``kernel`` over in-memory Arrow ``batches``; wall seconds.

    With a ``tracer``, each output batch is an ``extract.batch`` span (its
    trace id is the batch index) and the layer wrappers are active."""
    if tracer is None:
        t = time.perf_counter()
        for _ in kernel(iter(batches)):
            pass
        return time.perf_counter() - t
    nid = tracer.intern("extract.batch")
    with patched(layer_wrappers(tracer)):
        t = time.perf_counter()
        out = kernel(iter(batches))
        for k in range(len(batches)):
            tracer.trace_id = k
            i = tracer.begin(nid)
            try:
                next(out)
            finally:
                tracer.finish(i)
        out.close()
        return time.perf_counter() - t


def _share(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer metric values from the spans and counters."""
    s = tracer.summary()
    n = tracer.counts

    def get(name, key):
        return s.get(name, {}).get(key, 0.0)

    stream = ("fastpath.batch_doc_text", "fastpath.doc_text",
              "fastpath.arena_doc_text")
    return {
        "decode.busy_s": get("api.decode_html", "busy_s"),
        "decode.docs": get("api.decode_html", "calls"),
        "fastpath.stream_busy_s": sum(get(k, "busy_s") for k in stream),
        "fastpath.stream_docs": n["stream.docs"],
        "fastpath.stream_accept_share": _share(n["tier1.ok"], n["tier1.calls"]),
        "fastpath.tier2_accept_share": _share(n["tier2.ok"], n["tier2.calls"]),
        "fastpath.arena_busy_s": get("fastpath.build_arena", "busy_s"),
        "fastpath.arena_nodes": n["build.nodes"],
        "fastpath.arena_accept_share": _share(n["build.ok"], n["build.calls"]),
        "treebuilder.busy_s": get("treebuilder.parse", "busy_s"),
        "treebuilder.docs": get("treebuilder.parse", "calls"),
        "treebuilder.nodes": n["tb.nodes"],
        "treebuilder.parse_errors": n["tb.errors"],
        "select.busy_s": get("select.select", "busy_s"),
        "select.calls": get("select.select", "calls"),
        "select.matches": n["select.matches"],
        "arena.node_text_busy_s": get("arena.node_text", "busy_s"),
        "arena.node_text_calls": get("arena.node_text", "calls"),
        "arena.node_text_chars": n["node_text.chars"],
        "maincontent.self_s": get("maincontent.main_content_node", "self_s"),
        "maincontent.candidates": n["mc.candidates"],
        "maincontent.body_fallback_share": _share(
            n["mc.fallback"], get("maincontent.main_content_node", "calls")),
        "extract.row_self_s": get("extract.batch", "self_s"),
        "trace.spans": len(tracer.start),
    }
