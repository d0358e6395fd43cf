"""The two benchmark workloads and their correctness gates.

Both are a closed loop with one client, as the library is used: one
driver session whose calls are synchronous. Each run has the same
phases:

  setup    session start, input generation, opening (serve_topk) or
           copying (bulk_ingest) the cached fixed-corpus index and, for
           serve_topk, an uncounted warm-up; all of it is ``setup_s``
  main     the workload's timed operations: search_rows queries for
           ``--seconds`` seconds (serve_topk), or one append, which
           outlasts ``--seconds`` on its own, and a few live queries
           (bulk_ingest)
  gate     correctness checks outside the timed window; a failure fails
           the run

Only public entry points of ``esbulk_spark`` are driven: ``build_index``,
``IndexReader``, ``admin.append_docs`` / ``open_reader`` /
``compact_attached``, ``score.bm25_fullscan`` (the gate's oracle) and the
``sources.ndjson`` stages the CLI's NDJSON path chains.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import esbulk_spark
import gen

SERVE_DOCS = 5000
SERVE_CORPUS_SEED = 7  # one serving corpus for every --seed; the seed picks the queries
GATE_SEED = 11  # the fixed rank-identity sample
WARM_SEED = 17  # the fixed warm-up queries
WARM_QUERIES = 160
INGEST_DOCS = 4000
INGEST_CORPUS_SEED = 13  # one ingest base for every --seed; the seed picks the batch
BATCH_DOCS = 400
UPSERT_SHARE = 0.2
BROKEN_LINES = 3
BATCH_QUERIES = 20
LIVE_QUERIES = 12  # bulk_ingest's queries after the append (per-layer and gate only)
PASTE_EVERY = 4   # every 4th search_rows query is a pasted code snippet
# a pasted line's (query, shard) group crosses wand.DENSE_GROUP_MAX on its
# own at ~50k docs about 1 time in 18, and mostly at ~100k docs. The
# serving index is SERVE_DOCS / DENSE_REF_DOCS of the latter, so the
# reader's dense_max is scaled by that factor (dense_max()): most pasted
# lines then take the block-max WAND sweep, short queries never do
DENSE_REF_DOCS = 100_000
WARM_QUERY = " ".join(gen.QUERY_VOCAB)


class Run:
    """One benchmark run: the session, the tracer and the op accounting."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.setup_s = 0.0
        # (traced, untraced) query walls of a traced run
        self.query_samples: tuple[list[float], list[float]] = ([], [])
        self.phases: dict[str, float] = {}
        self._phase_t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the phase running since the last call; its wall time
        goes to the run's detail record."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    def op(self, kind: str, fn, recording: bool = True):
        """Run one counted operation; returns (ok, result, wall_s)."""
        self.attempted += 1
        with self.tracer.operation(kind, recording) as rec:
            t0 = time.perf_counter()
            try:
                out = fn()
                ok = True
            except Exception:
                traceback.print_exc(file=sys.stderr)
                out, ok = None, False
            wall = time.perf_counter() - t0
        rec["ok"] = ok
        if not ok:
            self.failed += 1
        return ok, out, wall

    def check(self, name: str, ok: bool, info: str = "") -> None:
        self.checks.append((name, bool(ok), info))
        if not ok:
            print(f"perfbench: check failed: {name}: {info}", file=sys.stderr)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(ok for _, ok, _ in self.checks)


# ---------------------------------------------------------------- helpers


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value): p90, or the highest percentile that still has
    at least ten samples beyond it (the median when there are too few)."""
    n = len(values)
    p = min(0.9, max(0.5, 1.0 - 10.0 / n)) if n else 0.5
    s = sorted(values)
    return p, s[min(n - 1, int(math.floor(p * n)))] if n else 0.0


def postings_checksum(spark, index_dir: str) -> str:
    """xxhash64-xor over every postings row (order-free, byte-exact)."""
    from pyspark.sql import functions as F

    post = spark.read.parquet(os.path.join(index_dir, "postings"))
    row = post.select(F.xxhash64(*post.columns).alias("h")).agg(
        F.bit_xor("h").alias("x"), F.count(F.lit(1)).alias("n")
    ).first()
    return f"{int(row['x']) & (2**64 - 1):016x}:{row['n']}"


def check_checksum(run: Run, state_dir: str, key: str, value: str) -> None:
    """A postings checksum must match every earlier run in this checkout
    with the same ``key`` (state kept under ``state_dir``); the key names
    the program version and the seed, so a change to the program that
    legitimately changes the postings bytes starts a fresh series."""
    path = os.path.join(state_dir, "checksums.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    prev = seen.get(key)
    run.check("postings_checksum_stable", prev in (None, value), f"{key}: {prev} -> {value}")
    if prev is None:
        seen[key] = value
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    run.detail["postings_checksum"] = value


def manifest_layers(index_dirs: list[str]) -> dict[str, float]:
    """Build-stage metrics from the manifests of ``index_dirs`` (the
    delta segments the timed appends built): stage seconds, chunk counts
    and skew are means per build; docs/s and postings/s are rates over
    the summed stage time."""
    builds = []
    for d in index_dirs:
        stages = {}
        with open(os.path.join(d, "manifest.jsonl")) as f:
            for line in f:
                if line.strip() and (e := json.loads(line)).get("status") == "done":
                    stages[e["stage"]] = e
        builds.append(stages)
    if not builds:
        return {}
    n = len(builds)

    def total(stage: str, key: str) -> float:
        return sum(b.get(stage, {}).get(key, 0.0) for b in builds)

    secs = sum(total(st, "secs") for st in ("docs", "postings", "dictionary"))
    post_rate = [b["postings"]["postings_per_sec"] for b in builds if "postings" in b]
    return {
        "build.docs_s": total("docs", "secs") / n,
        "build.postings_s": total("postings", "secs") / n,
        "build.dictionary_s": total("dictionary", "secs") / n,
        "build.docs_per_s": total("docs", "rows") / secs if secs else 0.0,
        "build.postings_per_s": statistics.mean(post_rate) if post_rate else 0.0,
        "build.chunks": total("postings", "chunks") / n,
        "build.skew_ratio": total("postings", "skew_ratio") / n,
    }


def index_metrics(run: Run, index_dir: str, content_bytes: int) -> None:
    """Index size end to end and per table (the tableio layer)."""
    total, files = du(index_dir)
    post_b, _ = du(os.path.join(index_dir, "postings"))
    docs_b, _ = du(os.path.join(index_dir, "docs"))
    with open(os.path.join(index_dir, "stats.json")) as f:
        st = json.load(f)
    run.metrics["index_bytes_per_content_byte"] = total / content_bytes
    run.layers["tableio.postings_bytes_per_posting"] = post_b / max(1, st["total_postings"])
    run.layers["tableio.docs_bytes_per_content_byte"] = docs_b / content_bytes
    run.layers["tableio.files_written"] = files


def ranks_equal(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return [d for d, _ in a] == [d for d, _ in b] and all(
        math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12) for (_, x), (_, y) in zip(a, b)
    )


def ndjson_docs(spark, path: str):
    """The CLI's NDJSON input chain (``index --id-spec id``): blank filter,
    broken-line quarantine, id extraction, missing-id quarantine. Returns
    (docs with ``content`` and ``_doc_key``, quarantine DataFrame)."""
    from pyspark.sql import functions as F

    from esbulk_spark.sources import ndjson

    lines = ndjson.drop_blank(ndjson.read_ndjson_lines(spark, path))
    lines, bad = ndjson.quarantine_broken(lines)
    quarantine = bad.select(F.col("value").alias("line"), F.lit("broken_json").alias("reason"))
    lines = ndjson.extract_id(lines, "id", out_col="_doc_key")
    missing = lines.filter(F.col("_doc_key").isNull()).select(
        F.col("value").alias("line"), F.lit("missing_id_field").alias("reason"))
    docs = lines.filter(F.col("_doc_key").isNotNull()).withColumnRenamed("value", "content")
    return docs, quarantine.unionByName(missing)


def write_quarantine(spark, quarantine, index_dir: str) -> int:
    """Persist and count the quarantine side channel, as the CLI does."""
    qpath = os.path.join(index_dir, "quarantine")
    quarantine.write.mode("overwrite").parquet(qpath)
    return spark.read.parquet(qpath).count()


# ---------------------------------------------------------------- serve_topk


def gate_queries(reader) -> dict[str, str]:
    """The fixed rank-identity sample: the two short queries and the two
    pasted lines of the gate stream with the most and the least postings
    that still take the dense path resp. the WAND sweep."""
    short = gen.short_queries(GATE_SEED, 16)
    pasted = gen.pasted_lines(GATE_SEED, 16)
    dfs = reader.lookup_terms(sorted({t for q in short + pasted for t in _terms(q)}))

    def mass(q: str) -> int:
        return sum(dfs.get(t, 0) for t in set(_terms(q)))

    dense = sorted((q for q in short if 0 < mass(q) <= reader.dense_max), key=mass)
    sweep = sorted((q for q in pasted if mass(q) > reader.dense_max), key=mass)
    if len(dense) < 2 or len(sweep) < 2:
        raise RuntimeError("gate sample lacks dense-path or sweep-path queries")
    return {"dense_small": dense[0], "dense_large": dense[-1],
            "sweep_small": sweep[0], "sweep_large": sweep[-1]}


def cache_dir(state_dir: str, name: str) -> str:
    """Where the fixed-corpus index ``name`` is cached. The key hashes
    the program's sources, the generator and the build code here, so a
    change to any of them builds afresh."""
    consts = (SERVE_DOCS, SERVE_CORPUS_SEED, GATE_SEED, INGEST_DOCS, INGEST_CORPUS_SEED, DENSE_REF_DOCS)
    h = hashlib.sha256(f"{name}:{consts}".encode())
    for fn in (build_serving_index, gate_queries, dense_max, build_ingest_base, ndjson_docs, write_quarantine):
        h.update(inspect.getsource(fn).encode())
    pkg = os.path.dirname(os.path.abspath(esbulk_spark.__file__))
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)) + [gen.__file__]:
        with open(path, "rb") as f:
            h.update(f.read())
    return os.path.join(state_dir, "cache", f"{name}-{h.hexdigest()[:16]}")


def program_version(state_dir: str) -> str:
    """A hash of the program and of this benchmark's code: the cached
    index's key plus this module's source."""
    h = hashlib.sha256(os.path.basename(cache_dir(state_dir, "ingest")).encode())
    h.update(inspect.getsource(sys.modules[__name__]).encode())
    return h.hexdigest()[:16]


def caches_ready(state_dir: str) -> bool:
    return all(os.path.exists(os.path.join(cache_dir(state_dir, n), "meta.json")) for n in CACHES)


def build_caches(spark, state_dir: str) -> None:
    """Build every missing cached index (``prepare.py``): a run opens or
    copies an existing index instead of paying a cold from-scratch build
    each time. Caches of other program versions stay beside it (a few MB
    each), so switching between two versions in one checkout rebuilds
    nothing."""
    for name, build in CACHES.items():
        cache = cache_dir(state_dir, name)
        if os.path.exists(os.path.join(cache, "meta.json")):
            continue
        tmp = f"{cache}.tmp{os.getpid()}"
        os.makedirs(tmp)
        meta = build(spark, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.rename(tmp, cache)


def cached_index(state_dir: str, name: str) -> tuple[str, dict]:
    """(index dir, metadata) of a cached index."""
    cache = cache_dir(state_dir, name)
    with open(os.path.join(cache, "meta.json")) as f:
        return os.path.join(cache, "index"), json.load(f)


def build_serving_index(spark, out: str) -> dict:
    """The serving corpus, indexed with the default layout; the metadata
    holds its content bytes and the full-scan oracle's answers for the
    gate sample."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index
    from esbulk_spark.plans.reader import IndexReader
    from esbulk_spark.plans.score import bm25_fullscan

    corpus_dir = os.path.join(out, "corpus")
    content_bytes = gen.write_parquet(gen.corpus(SERVE_CORPUS_SEED, SERVE_DOCS), corpus_dir)
    build_index(spark, spark.read.parquet(corpus_dir),
                IndexConfig(index_dir=os.path.join(out, "index")), input_sig="serve")
    shutil.rmtree(corpus_dir)
    reader = IndexReader(spark, os.path.join(out, "index"))
    reader.dense_max = dense_max()
    oracle = {}
    for name, q in gate_queries(reader).items():
        rows = bm25_fullscan(reader.docs(), q, text_col="content", k=10).collect()
        oracle[name] = {"query": q, "top": [(r.doc_id, r.score) for r in rows]}
    return {"content_bytes": content_bytes, "oracle": oracle}


def build_ingest_base(spark, out: str) -> dict:
    """The ingest base: the NDJSON base corpus through the CLI's
    ``index --purge --id-spec id`` calls."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    path = os.path.join(out, "base.ldj")
    gen.write_lines(gen.ndjson_corpus(INGEST_CORPUS_SEED, INGEST_DOCS), path)
    idx = os.path.join(out, "index")
    docs, quarantine = ndjson_docs(spark, path)
    build_index(spark, docs, IndexConfig(index_dir=idx, sort_keys=("_doc_key",)), input_sig="ingest")
    n_quarantined = write_quarantine(spark, quarantine, idx)
    os.remove(path)
    return {"quarantined": n_quarantined}


def dense_max() -> int:
    from esbulk_spark.plans import wand

    return int(wand.DENSE_GROUP_MAX * SERVE_DOCS / DENSE_REF_DOCS)


def serve_topk(run: Run, state_dir: str) -> None:
    from esbulk_spark.plans.reader import IndexReader

    spark, seed = run.spark, run.seed
    t_setup = time.perf_counter()
    n_log = 4096
    short = gen.short_queries(seed, n_log)
    pasted = gen.pasted_lines(seed, n_log // PASTE_EVERY + BATCH_QUERIES)
    log = [pasted[i // PASTE_EVERY] if i % PASTE_EVERY == PASTE_EVERY - 1 else short[i]
           for i in range(n_log)]
    idx, meta = cached_index(state_dir, "serve")
    index_metrics(run, idx, meta["content_bytes"])
    reader = IndexReader(spark, idx)
    reader.dense_max = dense_max()
    lat, traced_lat, untraced_lat = [], [], []
    with reader.interactive():
        # warm-up, part of setup_s and not counted as operations: the
        # first-call JIT of the scan, which a serving session pays once,
        # and the df cache filled with the short-query vocabulary, as a
        # long-running server holds it (pasted lines still miss on their
        # rarer terms)
        reader.search_rows(WARM_QUERY, k=10)
        if run.traced:
            # the Python scorer workers of the batch op, which only
            # traced runs make
            reader.search_many({"w0": log[1], "w1": pasted[-1]}, k=10).collect()
        # the JIT warm-up of the driver's per-query path: in a fresh JVM
        # the median query falls from ~130-160 ms over the first 40 calls
        # to ~90 ms after ~160 and levels out at ~75-85 ms after ~250 (on
        # a quiet 4-core host). The timed window starts after a fixed
        # number of them, the same for every seed, and its own queries
        # finish the climb
        for q in gen.short_queries(WARM_SEED, WARM_QUERIES):
            reader.search_rows(q, k=10)
        run.setup_s += time.perf_counter() - t_setup
        run.phase("setup")
        t_end = time.perf_counter() + run.seconds
        i = 0
        while time.perf_counter() < t_end:
            q = log[i % n_log]
            # traced runs alternate traced and untraced blocks of
            # PASTE_EVERY queries, each block holding one pasted line
            recording = (i // PASTE_EVERY) % 2 == 0
            ok, _, wall = run.op("query", lambda: reader.search_rows(q, k=10), recording)
            if ok:
                lat.append(wall)
                (traced_lat if recording else untraced_lat).append(wall)
            i += 1
        batch_ok, batch_wall = False, 0.0
        if run.traced:
            # the distributed scorer, per-layer only: its ~4 s would
            # otherwise come out of every untraced run's time budget
            qs = {f"q{j}": log[n_log // 2 + j] for j in range(BATCH_QUERIES)}
            batch_ok, _, batch_wall = run.op("batch", lambda: reader.search_many(qs, k=10).collect())
        run.phase("main")

        # ---- gate: rank identity vs the full-scan oracle's answers on the
        # fixed sample (two dense-path, two sweep-path queries) ----
        for name, want in meta["oracle"].items():
            got = reader.search_rows(want["query"], k=10)
            top = [tuple(x) for x in want["top"]]
            run.check(f"rank_identity_{name}", ranks_equal(got, top) and len(got) > 0,
                      f"{want['query']!r}: {got[:3]} vs {top[:3]}")

    run.metrics["op_latency_ms"] = 1e3 * statistics.median(lat)
    p, v = tail_percentile(lat)
    run.layers["reader.query_tail_ms"] = 1e3 * v
    run.layers["reader.batch_query_ms"] = 1e3 * batch_wall / BATCH_QUERIES if batch_ok else 0.0
    run.detail.update(queries=len(lat), tail_percentile=p, lat_ms=[round(1e3 * x) for x in lat],
                      dense_max=reader.dense_max)
    run.query_samples = (traced_lat, untraced_lat)


def _terms(q: str) -> list[str]:
    from esbulk_spark.functions.analyzer import analyze_query

    return analyze_query(q)


# ---------------------------------------------------------------- bulk_ingest


def bulk_ingest(run: Run, state_dir: str) -> None:
    from esbulk_spark.plans import admin
    from esbulk_spark.plans.reader import IndexReader

    spark, seed = run.spark, run.seed
    t_setup = time.perf_counter()
    batch = gen.ingest_batch(seed, INGEST_DOCS, BATCH_DOCS, UPSERT_SHARE, BROKEN_LINES)
    path = os.path.join(run.work, "ndjson", "batch.ldj")
    gen.write_lines(batch["lines"], path)
    live_q = gen.short_queries(seed, LIVE_QUERIES)
    base, _ = cached_index(state_dir, "ingest")
    idx = os.path.join(run.work, "index")
    shutil.copytree(base, idx)

    def append():
        docs, quarantine = ndjson_docs(spark, path)
        res = admin.append_docs(spark, idx, docs, key_col="_doc_key", op_type="index",
                                sort_keys=("_doc_key",), merge=False)
        return res, write_quarantine(spark, quarantine, idx)

    run.setup_s += time.perf_counter() - t_setup
    run.phase("setup")

    # ---- main: one append, timed end to end as ``op_latency_ms``: the
    # wall a fresh ``index --append --no-merge`` session pays, since the
    # CLI starts a new JVM per call; at ~35 s it outlasts ``--seconds``
    # on its own. Then a fixed number of live queries over main +
    # attached segment ----
    ok, out, append_wall = run.op("append", append)
    if not ok:
        raise RuntimeError("append_docs raised")
    res, quarantined = out
    ok, rr, _ = run.op("open_reader", lambda: admin.open_reader(spark, idx))
    if not ok:
        raise RuntimeError("open_reader raised")
    run.layers["segments.attached"] = len(admin.attached_segments(idx))
    lat, traced_lat, untraced_lat, last = [], [], [], {}
    with rr.interactive():
        # refresh, counted: the new reader's first query fills its df
        # cache with the short-query vocabulary
        run.op("refresh", lambda: rr.search_rows(WARM_QUERY, k=10))
        # no JIT warm-up: these queries feed per-layer metrics and the
        # compaction gate only, not an end-to-end metric
        for qi, q in enumerate(live_q):
            # traced runs alternate untraced and traced queries as u t t u,
            # which cancels the latency drift of these cold queries
            recording = qi % 4 in (1, 2)
            ok, hits, wall = run.op("query", lambda: rr.search_rows(q, k=10), recording)
            if ok:
                lat.append(wall)
                (traced_lat if recording else untraced_lat).append(wall)
                last[q] = hits
    run.phase("main")
    run.layers.update(manifest_layers(admin.attached_segments(idx)))

    # ---- gate, live side: quarantine and upsert versions ----
    run.check("quarantined_lines", quarantined == BROKEN_LINES, f"{quarantined} != {BROKEN_LINES}")
    _check_versions(run, admin.open_reader(spark, idx), batch)
    run.phase("gate_live")

    ok, _, compact_wall = run.op("compact", lambda: admin.compact_attached(spark, idx))
    run.phase("compact")
    if ok:
        # ---- gate, compacted side: doc count, rank identity before vs
        # after compaction, postings checksum stable across runs of one
        # seed and program version ----
        r2 = IndexReader(spark, idx)
        n, expect_docs = r2.doc_count(), INGEST_DOCS + len(batch["new_ids"])
        run.check("doc_count", n == expect_docs, f"{n} != {expect_docs} after compact_attached")
        with r2.interactive():
            for q in list(last)[-2:]:
                after = r2.search_rows(q, k=10)
                run.check("rank_identity_compaction", ranks_equal(last[q], after) and len(after) > 0,
                          f"{q!r}: {last[q][:3]} vs {after[:3]}")
        check_checksum(run, state_dir, f"bulk_ingest:{program_version(state_dir)}:{seed}",
                       postings_checksum(spark, idx))
        index_metrics(run, idx, _content_bytes(idx))
        run.layers["merge.bytes_rewritten"] = du(idx)[0]
        run.layers["admin.tombstones"] = _tombstones(idx)
    else:
        run.check("compact", False, "compact_attached raised")

    run.metrics["op_latency_ms"] = 1e3 * append_wall
    run.layers["segments.live_query_p50_ms"] = 1e3 * statistics.median(lat)
    p, v = tail_percentile(lat)
    run.layers["reader.query_tail_ms"] = 1e3 * v
    run.layers["admin.append_p50_s"] = append_wall
    run.layers["admin.ingest_docs_per_s"] = res["appended"] / append_wall
    run.layers["admin.compact_s"] = compact_wall if ok else 0.0
    run.layers["admin.upserts"] = res["updated"]
    run.layers["ndjson.lines_in"] = len(batch["lines"])
    run.layers["ndjson.quarantined"] = quarantined
    run.detail.update(live_queries=len(lat), tail_percentile=p, upsert_share=UPSERT_SHARE,
                      broken_lines_per_batch=BROKEN_LINES, batch_docs=BATCH_DOCS,
                      lat_ms=[round(1e3 * x) for x in lat])
    run.query_samples = (traced_lat, untraced_lat)


def _content_bytes(index_dir: str) -> int:
    """Bytes of the indexed NDJSON lines (the docs table's text column)."""
    import pyarrow.parquet as pq

    return sum(len(v.as_py().encode()) for f in glob.glob(os.path.join(index_dir, "docs", "*.parquet"))
               for v in pq.read_table(f, columns=["content"]).column("content"))


def _check_versions(run: Run, reader, batch: dict) -> None:
    """Every upserted id is live exactly once, at the batch's version."""
    from pyspark.sql import functions as F

    want = {i: batch["version"] for i in batch["upserted_ids"]}
    rows = reader.docs().filter(F.col("_doc_key").isin(list(want))).select("_doc_key", "content").collect()
    got = {}
    for r in rows:
        got.setdefault(r["_doc_key"], []).append(json.loads(r["content"])["version"])
    bad = [i for i, v in want.items() if got.get(i) != [v]]
    run.check("upserts_return_new_version", not bad, f"{len(bad)} ids, e.g. {bad[:3]}")


def _tombstones(index_dir: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(index_dir, "deletes")
    if not os.path.isdir(path):
        return 0
    return sum(pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
               for root, _, names in os.walk(path) for n in names if n.endswith(".parquet"))


WORKLOADS = {"serve_topk": serve_topk, "bulk_ingest": bulk_ingest}
CACHES = {"serve": build_serving_index, "ingest": build_ingest_base}
