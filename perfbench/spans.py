"""Span recorder for the traced run (``--trace 1``).

Spans are recorded from outside the program: ``instrument`` replaces a
public function by a timing wrapper at the name its caller looks up
(a module attribute, or a class attribute for methods), so nothing in
``esbulk_spark`` changes. Each span keeps (name, start, end, parent,
operation id) in memory; ``write`` dumps them as JSON at exit.

Every span runs on the driver thread, nested inside one operation's
root span, so its self time (duration minus the time its child spans
cover) adds back up to the operation's wall time. Executor work is not
a span of its own: it shows as self time of the span whose Spark action
waited for it.

Counters are attributed to the current operation, next to the spans.
The wrappers time their own bookkeeping; that sum is the directly
measured tracing overhead.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.bookkeeping_s = 0.0
        self.recording = True
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans and operations ----

    @contextmanager
    def span(self, name: str):
        if not self.recording or not self._stack:
            yield
            return
        b0 = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1], "op": self.ops[-1]["id"]}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield
        finally:
            end = time.perf_counter()
            rec["end"] = end
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - end

    @contextmanager
    def operation(self, kind: str, recording: bool = True):
        """Root span of one benchmark operation. ``recording=False`` runs
        it with tracing off (the wrappers pass straight through), so one
        traced run holds traced and untraced samples of the same op."""
        self.recording = recording
        op = {"id": len(self.ops), "kind": kind, "traced": recording}
        self.ops.append(op)
        group = f"perfbench-op-{op['id']}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, kind)
        idx = len(self.spans)
        rec = {"name": f"op.{kind}", "parent": None, "op": op["id"]}
        self.spans.append(rec)
        self._stack = [idx]
        rec["start"] = time.perf_counter()
        try:
            yield op
        finally:
            rec["end"] = time.perf_counter()
            op["wall_s"] = rec["end"] - rec["start"]
            self._stack = []
            self.recording = True
            if self.spark is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                op.update(self._spark_counts(group))

    def _spark_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [s for j in jobs if (ji := st.getJobInfo(j)) for s in ji.stageIds]
        tasks = sum(si.numTasks for s in stages if (si := st.getStageInfo(s)))
        return {"spark_jobs": len(jobs), "spark_stages": len(stages), "spark_tasks": tasks}

    def count(self, key: str, value: float = 1.0) -> None:
        if self.recording and self._stack:
            self.counters[self.ops[-1]["id"]][key] += value

    # ---- instrumentation ----

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``before``
        (args, kwargs) and ``after`` (result, args, kwargs) add counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.recording or not tracer._stack:
                return orig(*args, **kwargs)
            if before is not None:
                b0 = time.perf_counter()
                before(args, kwargs)
                tracer.bookkeeping_s += time.perf_counter() - b0
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                b0 = time.perf_counter()
                after(out, args, kwargs)
                tracer.bookkeeping_s += time.perf_counter() - b0
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def counting(self, owner, attr: str, after) -> None:
        """Replace ``owner.attr`` by a wrapper that only counts (no span):
        for hot inner calls such as the varint decoder."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            out = orig(*args, **kwargs)
            if tracer.recording and tracer._stack:
                b0 = time.perf_counter()
                after(out, args, kwargs)
                tracer.bookkeeping_s += time.perf_counter() - b0
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- analysis ----

    def self_times(self) -> list[float]:
        """Self time of every span: duration minus its children's."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def layer_times(self, kinds: set[str]) -> dict[str, dict[str, float]]:
        """Per span name over operations of ``kinds`` (traced only):
        calls, total span seconds and total self seconds."""
        ops = {o["id"] for o in self.ops if o["kind"] in kinds and o["traced"]}
        own = self.self_times()
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "span_s": 0.0, "self_s": 0.0})
        for s, self_s in zip(self.spans, own):
            if s["op"] in ops:
                o = out[s["name"]]
                o["calls"] += 1
                o["span_s"] += s["end"] - s["start"]
                o["self_s"] += self_s
        return out

    def totals(self, kinds: set[str]) -> dict[str, float]:
        """Counter sums over traced operations of ``kinds``."""
        out: dict[str, float] = defaultdict(float)
        for o in self.ops:
            if o["kind"] in kinds and o["traced"]:
                for k, v in self.counters[o["id"]].items():
                    out[k] += v
        return out

    def write(self, path: str, extra: dict) -> None:
        """Dump every op, span (with its self time) and counter, plus the
        self-time report: per operation kind, each span name's calls,
        span and self seconds, and the traced wall they add back up to."""
        own = self.self_times()
        spans = [dict(s, self_s=v) for s, v in zip(self.spans, own)]
        report = {}
        for kind in sorted({o["kind"] for o in self.ops}):
            walls = [o["wall_s"] for o in self.ops if o["kind"] == kind and o["traced"]]
            report[kind] = {"traced_ops": len(walls), "traced_wall_s": sum(walls),
                            "spans": self.layer_times({kind})}
        with open(path, "w") as f:
            json.dump({"self_time_report": report, "ops": self.ops, "spans": spans,
                       "counters": {str(k): v for k, v in self.counters.items()},
                       "bookkeeping_s": self.bookkeeping_s, **extra}, f)


# ---------------------------------------------------------------- esbulk layers


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's public entry point at the name its caller looks
    up. Methods are wrapped on IndexReader, which SegmentSetReader
    inherits them from."""
    from esbulk_spark.operators import docids, merge
    from esbulk_spark.plans import admin, build, reader, wand

    ir = reader.IndexReader
    count = tracer.count

    def df_hits(args, kwargs):
        self, terms = args[0], args[1]
        count("df_terms", len(terms))
        count("df_hits", sum(t in self._df_cache for t in terms))

    def group(args, kwargs):
        pdf = args[0]
        n = int(pdf["n"].sum())
        limit = kwargs.get("dense_max")
        count("groups")
        count("group_rows", len(pdf))
        count("postings_in", n)
        count("sweep_groups", n > (wand.DENSE_GROUP_MAX if limit is None else limit))

    def decoded(out, args, kwargs):
        count("decode_calls")
        count("decoded_values", len(out))

    tracer.wrap(reader, "analyze_query", "analyzer.analyze_query")
    tracer.wrap(ir, "search_rows", "reader.search_rows")
    tracer.wrap(ir, "_topk_candidates", "reader.topk_candidates")
    tracer.wrap(ir, "_dfs_cached", "reader.dfs_cached", before=df_hits)
    tracer.wrap(ir, "lookup_terms", "reader.lookup_terms")
    tracer.wrap(ir, "_driver_candidates", "reader.driver_candidates")
    tracer.wrap(ir, "search_many", "reader.search_many")
    tracer.wrap(wand, "score_group", "wand.score_group", before=group)
    tracer.counting(wand, "varint_decode", decoded)
    tracer.wrap(build, "build_index", "build.build_index")
    tracer.wrap(build, "assign_doc_ids_pinned", "docids.assign")
    tracer.wrap(docids, "assign_doc_ids_with_count", "docids.assign")
    tracer.wrap(admin, "build_index", "build.build_index_delta")
    tracer.wrap(admin, "append_docs", "admin.append_docs")
    tracer.wrap(admin, "open_reader", "segments.open_reader")
    tracer.wrap(admin, "compact_attached", "admin.compact_attached")
    tracer.wrap(merge, "merge_segments_fast", "merge.merge_segments_fast")


def layer_metrics(tracer: Tracer, traced_lat: list[float], untraced_lat: list[float]) -> dict[str, float]:
    """Per-layer metrics from the spans and counters of traced ops.
    Times are seconds per call of the named span; counts are per
    operation (query or append) or per scored group, as named."""
    import statistics

    # reader, analyzer and WAND layers over query operations only; the
    # write-path layers over every operation
    lq = tracer.layer_times({"query"})
    lt = tracer.layer_times({o["kind"] for o in tracer.ops})
    q = tracer.totals({"query"})

    def per_call(name: str, key: str = "span_s", times=lt) -> float:
        s = times.get(name)
        return s[key] / s["calls"] if s and s["calls"] else 0.0

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    def ops_of(kind: str) -> list[dict]:
        return [o for o in tracer.ops if o["kind"] == kind and o["traced"] and o.get("ok")]

    queries, appends, batches = ops_of("query"), ops_of("append"), ops_of("batch")
    calls = {n: s["calls"] for n, s in lq.items()}
    out = {
        "analyzer.query_s": per_call("analyzer.analyze_query", times=lq),
        "reader.dict_lookup_s": per_call("reader.lookup_terms", times=lq),
        "reader.dict_lookup_jobs": ratio(calls.get("reader.lookup_terms", 0), len(queries)),
        "reader.df_cache_hit_ratio": ratio(q["df_hits"], q["df_terms"]),
        "reader.scan_s": per_call("reader.driver_candidates", "self_s", lq),
        "reader.postings_rows": ratio(q["group_rows"], calls.get("reader.driver_candidates", 0)),
        "reader.driver_path_share": ratio(calls.get("reader.driver_candidates", 0),
                                          calls.get("reader.topk_candidates", 0)),
        "reader.merge_s": per_call("reader.search_rows", "self_s", lq),
        "reader.batch_s": ratio(sum(o["wall_s"] for o in batches), len(batches)),
        "wand.score_s": per_call("wand.score_group", times=lq),
        "wand.groups": ratio(q["groups"], len(queries)),
        "wand.sweep_share": ratio(q["sweep_groups"], q["groups"]),
        "wand.postings_in": ratio(q["postings_in"], q["groups"]),
        "codec.decode_calls": ratio(q["decode_calls"], q["groups"]),
        "codec.decoded_values": ratio(q["decoded_values"], q["groups"]),
        # three varint streams (ids, tfs, dls) per posting: 1.0 = all decoded
        "wand.decode_ratio": ratio(q["decoded_values"], 3 * q["postings_in"]),
        "docids.assign_s": per_call("docids.assign"),
        "build.delta_s": per_call("build.build_index_delta"),
        "admin.append_s": per_call("admin.append_docs"),
        "segments.open_s": per_call("segments.open_reader"),
        "merge.fast_merge_s": per_call("merge.merge_segments_fast"),
    }
    for kind, ops in (("query", queries), ("append", appends)):
        for key in ("jobs", "stages", "tasks"):
            out[f"spark.{key}_per_{kind}"] = ratio(sum(o.get(f"spark_{key}", 0) for o in ops), len(ops))
    traced_wall = sum(o["wall_s"] for o in tracer.ops if o["traced"])
    out["trace.bookkeeping_share"] = ratio(tracer.bookkeeping_s, traced_wall)
    out["trace.wall_delta_share"] = (
        statistics.median(traced_lat) / statistics.median(untraced_lat) - 1.0
        if traced_lat and untraced_lat else 0.0
    )
    return out
