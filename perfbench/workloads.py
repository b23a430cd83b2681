"""The two benchmark workloads, each a closed loop with one client.

Both set up the same way: the index is built, opened and asked a first
query three times over (``Run.setups``); the first time runs on a cold
JVM, the medians come from the others.

``serve``  Zipf corpus (50k-term vocabulary), built with norms.  The timed
           loop runs a seeded stream of BM25, boolean and dot/cosine
           queries whose posting volumes all sit below the driver-path
           threshold, with every stream term pre-decoded into the serving
           cache at open: the single-node path and its decoded-postings
           cache do the work; the distributed query paths and the write
           layers do none.
``ingest`` Crawl-ordered corpus.  A fixed plan of two micro-batches
           (mixed new + overwritten + deleted docs, then append); after each
           commit a reader reopens the index and answers the driver-band
           scan queries from cold, and readers of the last commit keep
           doing so to the end of the window.  Then one query in the
           distributed-exact band and one in the WAND band, and
           ``compact`` (and, in the traced run, ``merge_indexes``).  The
           only workload where incremental ingest and the distributed
           query paths do the work.

Every metric comes from timing calls into the public API or from what
those calls return.  The traced run wraps the same calls in spans (see
``spans.py``) and adds the per-layer probes; end-to-end numbers are
reported only by untraced runs.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from collections import Counter

from perfbench import harness, inputs
from perfbench.measure import median, same_topk, slice_rate, tail, topk_key
from perfbench.spans import Tracer, layer_of

K = 10
LAYERS = ("index_build", "packed", "incremental", "merge")
BUILD_PHASES = ("doc_stats", "tf_and_term_dict", "pack_write", "dict_writes",
                "lineage_manifest")
BATCH_PHASES = ("orphan_guard", "upsert_detect", "df_sub", "pack_write",
                "lineage", "stats_rewrite_plan", "dict_writes")
PROBE_MODES = ("driver", "exact", "wand", "wand_dist")


class Run:
    """State of one benchmark run: session, tracer, scratch directory,
    operation counts and the numbers gathered so far."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool, t_start: float, session_s: float):
        from tf_idf_vectorizer_spark.config import EngineConfig

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = t_start
        self.session_s = session_s
        cpus = spark.sparkContext.defaultParallelism
        # one salt per CPU; a small bucket count keeps file counts in line
        # with the corpus sizes
        self.cfg = EngineConfig(n_salts=cpus, term_buckets=16)
        self.tracer = Tracer(spark.sparkContext, trace)
        self.tracer.record("session.start", t_start, t_start + session_s)
        self.jvm_pid = harness.jvm_pid(spark)
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.query_lat: list[float] = []
        self.query_done: list[float] = []
        self.traced_lat: list[float] = []
        self.untraced_lat: list[float] = []
        self.query_spans: list[dict] = []

    # ---- bookkeeping -------------------------------------------------------
    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def span(self, name: str, op: int | None = None):
        return self.tracer.span(name, op)

    def timed_query(self, fn, traced: bool, op: int | None = None):
        """One timed read.  In the traced run, alternate reads are wrapped
        in spans so the traced/untraced latency ratio is measured on the
        same query stream."""
        self.attempted += 1
        t0 = time.perf_counter()
        if traced and self.trace:
            with self.span("packed.query", op or self.tracer.new_op()) as rec:
                out = fn()
            dt = time.perf_counter() - t0
            self.query_spans.append(rec)
            self.traced_lat.append(dt)
        else:
            out = fn()
            dt = time.perf_counter() - t0
            self.untraced_lat.append(dt)
        self.query_lat.append(dt)
        self.query_done.append(t0 + dt)
        return out

    def query_metrics(self, qps: float) -> None:
        """Latency over every timed read so far; ``qps`` as the workload
        measured it."""
        t = tail(self.query_lat)
        self.e2e["query_p50_ms"] = median(self.query_lat) * 1000.0
        self.e2e["query_tail_ms"] = t["value"] * 1000.0
        self.e2e["qps"] = qps
        self.info["query_tail"] = {"percentile": t["percentile"], "samples": t["samples"]}

    @staticmethod
    def host_load():
        """Start watching the host; the returned function reports, for the
        time since, the share of CPU time the hypervisor gave to others
        (steal) and this process's CPU time per wall second."""
        steal0, total0 = harness.cpu_ticks()
        cpu0, t0 = time.process_time(), time.perf_counter()

        def report() -> dict:
            steal1, total1 = harness.cpu_ticks()
            return {
                "steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
                "cpu_per_wall": round(
                    (time.process_time() - cpu0) / (time.perf_counter() - t0), 3),
            }

        return report

    def peak_rss(self) -> None:
        self.e2e["peak_rss_mb"] = harness.peak_rss_mb(self.jvm_pid)

    # ---- shared steps --------------------------------------------------------
    def setups(self, docs, n_docs: int, name: str, first_terms: list[str],
               open_kw: dict | None = None, **build_kw):
        """The workload's set-up, ``inputs.SETUP_REPEATS`` times over: a
        timed ``build_index`` of ``docs`` into a fresh directory, ``open``
        and a first answer to ``first_terms``.  ``setup_s`` is what ran
        before the first repeat (session start included) plus the median
        repeat.  The first repeat runs on a cold JVM (class loading, JIT)
        and takes two to three times as long as the others, so
        ``build_docs_per_s``, the build layer's numbers, ``packed.open_s``
        and ``visible_s`` (build start to first answer) are medians over
        the later, warm repeats.  Earlier repeats' directories are removed; returns the
        last ``(index_dir, index)``."""
        from tf_idf_vectorizer_spark.operators import build_index

        t_first = time.perf_counter()
        builds, opens, visible = [], [], []
        phases: dict[str, list[float]] = {}
        index_dir = None
        for r in range(inputs.SETUP_REPEATS):
            if index_dir:
                shutil.rmtree(index_dir)
            index_dir = os.path.join(self.work, f"{name}{r}")
            op = self.tracer.new_op()
            t0 = time.perf_counter()
            with self.span("index_build.build", op) as rec:
                meta = build_index(self.spark, docs, index_dir, config=self.cfg,
                                   **build_kw)
            builds.append(time.perf_counter() - t0)
            idx = self.open(index_dir, op, **(open_kw or {}))
            opens.append(time.perf_counter() - t0 - builds[-1])
            idx.bm25_topk_rows(first_terms, k=K)
            visible.append(time.perf_counter() - t0)
            for ph in BUILD_PHASES:
                phases.setdefault(ph, []).append(float(meta["phases"].get(ph, 0.0)))
        self.e2e["setup_s"] = t_first - self.t_start + median(visible)
        build_s = median(builds[1:])
        self.e2e["build_docs_per_s"] = n_docs / build_s
        self.e2e["visible_s"] = median(visible[1:])
        self.layer["index_build.build_s"] = build_s
        self.layer["packed.open_s"] = median(opens[1:])
        if rec is not None:
            self.layer["index_build.jobs"] = self.tracer.total_jobs(rec)
        for ph, v in phases.items():
            self.layer[f"index_build.phase.{ph}_s"] = median(v[1:])
        self.layer["index_build.postings_bytes"] = harness.dir_bytes(
            os.path.join(index_dir, "postings"))
        self.info["setups"] = {"build_s": [round(v, 3) for v in builds],
                               "visible_s": [round(v, 3) for v in visible]}
        return index_dir, idx

    def open(self, index_dir: str, op: int | None = None, scale: float = 1.0,
             warm: bool = True, warm_terms: list[str] | None = None):
        """``PackedIndex(..., warm=True)``, with ``warm_terms`` the serving
        warm-up ``warm(full=False, terms=warm_terms)`` instead, or with
        ``warm=False`` a plain open, as a reader picking up a commit does;
        ``scale`` multiplies the dispatch thresholds of the opened
        instance before the warm-up (see inputs.SCAN_SCALE)."""
        from tf_idf_vectorizer_spark.query.packed import PackedIndex

        with self.span("packed.open", op):
            idx = PackedIndex(self.spark, index_dir, self.cfg)
            if scale != 1.0:
                idx.DRIVER_VOLUME_MAX = int(PackedIndex.DRIVER_VOLUME_MAX * scale)
                idx.WAND_THRESHOLD = int(PackedIndex.WAND_THRESHOLD * scale)
            if warm_terms:
                idx.warm(full=False, terms=warm_terms)
            elif warm:
                idx.warm()
        return idx

    def record_bands(self, idx, queries: list[dict]) -> None:
        """Per-query posting volume (sum of df over the query's terms,
        read from the term_dict table) and the dispatch band it falls in."""
        from pyspark.sql import functions as F

        terms = sorted({t for q in queries for t in q["terms"]})
        df = dict(idx.term_dict.filter(F.col("term").isin(terms))
                  .select("term", "df").collect())
        vols = [sum(int(df.get(t, 0)) for t in set(q["terms"])) for q in queries]
        bands = Counter(
            "wand" if v >= idx.WAND_THRESHOLD
            else "driver" if v <= idx.DRIVER_VOLUME_MAX else "exact"
            for v in vols
        )
        for b in ("driver", "exact", "wand"):
            self.layer[f"packed.band_share.{b}"] = bands[b] / len(vols)
        self.layer["packed.volume_per_query"] = sum(vols) / len(vols)
        self.info["query_volume"] = {
            "min": min(vols), "median": median(vols), "max": max(vols),
            "distinct_terms_entries": sum(int(df.get(t, 0)) for t in terms),
            "driver_volume_max": idx.DRIVER_VOLUME_MAX,
            "wand_threshold": idx.WAND_THRESHOLD,
            "band_counts": dict(bands),
        }

    def probes(self, idx, queries: list[list[str]]) -> None:
        """Each probe query with its regime forced through ``mode=``
        (``wand_dist``: WAND with META_COLLECT_MAX=0, the distributed
        planner); one warm-up call, then one timed call per query."""
        for mode in PROBE_MODES:
            times = []
            saved = idx.META_COLLECT_MAX
            if mode == "wand_dist":
                idx.META_COLLECT_MAX = 0
            try:
                for terms in queries:
                    for rep in range(2):
                        t0 = time.perf_counter()
                        with self.span(f"packed.probe.{mode}", self.tracer.new_op()):
                            idx.bm25_topk(
                                terms, k=K,
                                mode="wand" if mode == "wand_dist" else mode,
                            ).collect()
                        if rep:
                            times.append(time.perf_counter() - t0)
            finally:
                idx.META_COLLECT_MAX = saved
            self.layer[f"packed.probe.{mode}_s"] = median(times)

    def batch_probe(self, idx, queries: dict[int, list[str]], expect: dict) -> None:
        """One ``bm25_topk_batch`` over the query set; its per-query top-k
        must match the single-query results."""
        t0 = time.perf_counter()
        with self.span("packed.batch", self.tracer.new_op()):
            rows = idx.bm25_topk_batch(queries, k=K).collect()
        self.layer["packed.batch_s"] = time.perf_counter() - t0
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"], r["doc_id"])):
            got.setdefault(int(r["query_id"]), []).append((r["doc_id"], r["score"]))
        for qid, want in expect.items():
            if not same_topk(got.get(qid, []), want):
                self.fail(f"bm25_topk_batch query {qid} differs from bm25_topk_rows")

    def batches(self, index_dir: str, plan, make_batch, live: dict[int, int],
                probe_terms: list[str], scale: float = 1.0, after_commit=None,
                count: int = 2):
        """``count`` ``IncrementalIndex.apply_batch`` micro-batches of the
        plan, a fixed amount of work, so every run of a seed leaves the
        index in the same state.  After each commit the index
        is reopened, as a reader picking up the commit would, and answers
        ``probe_terms``: from the apply call to that answer is the batch's
        visibility time.  Then
        ``after_commit(index, op)`` runs.  ``live`` maps live doc ids to
        text bytes and is kept in step.  Returns the last opened index."""
        from tf_idf_vectorizer_spark.streaming import IncrementalIndex

        ii = IncrementalIndex(self.spark, index_dir, self.cfg)
        by_kind: dict[str, list[float]] = {"append": [], "mixed": []}
        batch_s, visible_s, jobs, written, docs_moved = [], [], [], [], 0
        phases: dict[str, list[float]] = {}
        for i in range(count):
            b = plan.batch(i)
            adds = make_batch(b["text_seed"], b["add_ids"])
            add_lens = _text_lengths(adds)
            before = harness.file_sizes(index_dir)
            op = self.tracer.new_op()
            self.attempted += 1
            t0 = time.perf_counter()
            with self.span("incremental.apply_batch", op) as rec:
                meta = ii.apply_batch(adds=adds, delete_ids=b["delete_ids"] or None)
            dt = time.perf_counter() - t0
            idx = self.open(index_dir, op, scale, warm=False)
            with self.span("packed.visible_query", op):
                idx.bm25_topk_rows(probe_terms, k=K)
            visible_s.append(time.perf_counter() - t0)
            for d in b["delete_ids"]:
                live.pop(d, None)
            live.update(add_lens)
            if meta["doc_num"] != len(live) or idx.doc_num != len(live):
                self.fail(f"batch {i}: doc_num {meta['doc_num']}/{idx.doc_num}"
                          f" != {len(live)} live")
            if after_commit:
                after_commit(idx, op)
            batch_s.append(dt)
            by_kind[b["kind"]].append(dt)
            docs_moved += len(b["add_ids"]) + len(b["delete_ids"])
            if rec is not None:
                jobs.append(self.tracer.total_jobs(rec))
            written.append(_new_bytes(before, harness.file_sizes(index_dir)))
            for ph, v in meta.get("batch_phases", {}).items():
                phases.setdefault(ph, []).append(float(v))
        self.e2e["visible_s"] = median(visible_s)
        self.info["batches"] = {"count": count,
                                "batch_s": [round(v, 3) for v in batch_s],
                                "visible_s": [round(v, 3) for v in visible_s],
                                "append": len(by_kind["append"]),
                                "mixed": len(by_kind["mixed"]),
                                "docs_per_batch": inputs.INGEST_BATCH}
        self.e2e["ingest_docs_per_s"] = docs_moved / sum(batch_s)
        self.e2e["batch_p50_s"] = median(batch_s)
        self.layer["incremental.docs_per_s"] = self.e2e["ingest_docs_per_s"]
        for kind, times in by_kind.items():
            if times:
                self.layer[f"incremental.{kind}_s"] = median(times)
        if jobs:
            self.layer["incremental.jobs_per_batch"] = sum(jobs) / len(jobs)
        self.layer["incremental.bytes_written_per_batch"] = sum(written) / len(written)
        for ph in BATCH_PHASES:
            self.layer[f"incremental.phase.{ph}_s"] = median(phases.get(ph, [0.0]))
        return idx

    def maintain(self, index_dir: str, live: dict[int, int], verify,
                 scale: float = 1.0, merge: bool = True):
        """``compact()``, then (with ``merge``) ``merge_indexes`` of an
        uncompacted copy of the index with the compacted one (the latter
        wins on collisions).  Both leave the live corpus unchanged, so
        ``verify(index, label)`` checks each result's top-k against the
        pre-compaction answers.  Returns the last index opened."""
        from tf_idf_vectorizer_spark.operators import merge_indexes
        from tf_idf_vectorizer_spark.streaming import IncrementalIndex

        snapshot = os.path.join(self.work, "snapshot")
        if merge:
            shutil.copytree(index_dir, snapshot)
        before = harness.file_sizes(index_dir)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.span("incremental.compact", self.tracer.new_op()):
            IncrementalIndex(self.spark, index_dir, self.cfg).compact()
        self.e2e["compact_s"] = time.perf_counter() - t0
        self.layer["incremental.compact_s"] = self.e2e["compact_s"]
        self.layer["incremental.compact_bytes_rewritten"] = _new_bytes(
            before, harness.file_sizes(index_dir))
        self.compacted_bytes = harness.dir_bytes(index_dir)
        idx = self._verify_open(index_dir, live, verify, scale, "compact")
        if not merge:
            return idx

        merged = os.path.join(self.work, "merged")
        self.attempted += 1
        t0 = time.perf_counter()
        with self.span("merge.merge_indexes", self.tracer.new_op()) as rec:
            merge_indexes(self.spark, snapshot, index_dir, merged, self.cfg)
        self.e2e["merge_s"] = time.perf_counter() - t0
        self.layer["merge.merge_s"] = self.e2e["merge_s"]
        if rec is not None:
            self.layer["merge.jobs"] = self.tracer.total_jobs(rec)
        return self._verify_open(merged, live, verify, scale, "merge")

    def _verify_open(self, path: str, live: dict, verify, scale: float, label: str):
        idx = self.open(path, scale=scale, warm=False)
        if idx.doc_num != len(live):
            self.fail(f"{label}: doc_num {idx.doc_num} != {len(live)} live")
        verify(idx, label)
        return idx

    # ---- result assembly --------------------------------------------------
    def finish_layers(self, event_metrics: dict) -> None:
        tr = self.tracer
        self.layer["session.start_s"] = self.session_s
        njobs = [tr.total_jobs(s) for s in self.query_spans]
        self.layer["packed.jobs_per_query"] = sum(njobs) / len(njobs)
        self.layer["packed.zero_job_share"] = sum(n == 0 for n in njobs) / len(njobs)
        self.layer["trace.overhead_ratio"] = (
            median(self.traced_lat) / median(self.untraced_lat))
        for layer in LAYERS:
            spans = [s for s in tr.spans if layer_of(s["name"]) == layer]
            self.layer[f"{layer}.self_s"] = sum(tr.self_time(s) for s in spans)
            self.layer[f"{layer}.tasks"] = sum(s["tasks"] for s in spans)
            ev = [event_metrics.get(s["group"], {}) for s in spans]
            for key in ("executor_s", "input_bytes", "shuffle_bytes"):
                self.layer[f"{layer}.{key}"] = sum(e.get(key, 0) for e in ev)


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(sz for p, sz in after.items() if p not in before)


def _batch_maker(spark, gen, **gen_kw):
    """-> f(text_seed, ids): a DataFrame (doc_id, text) of generated texts
    carrying the given doc ids."""
    from pyspark.sql import functions as F

    def make(text_seed: int, ids: list[int]):
        src = gen(spark, len(ids), seed=text_seed, **gen_kw).select("doc_id", "text")
        id_map = F.array(*[F.lit(int(d)) for d in ids])
        return src.select(
            F.element_at(id_map, (F.col("doc_id") + 1).cast("int")).alias("doc_id"),
            "text",
        )

    return make


def _text_lengths(docs) -> dict[int, int]:
    return dict(docs.selectExpr("doc_id", "octet_length(text)").collect())


# =============================================================================
# serve
# =============================================================================
def _serve_call(idx, q: dict):
    from tf_idf_vectorizer_spark.query.ast import parse_sexpr

    if q["kind"] == "bm25":
        return lambda: idx.bm25_topk_rows(q["terms"], k=K)
    if q["kind"] == "sim":
        return lambda: idx.similarity_rows(q["algo"], q["terms"], k=K)
    query = parse_sexpr(q["sexpr"])
    return lambda: idx.search_rows(query, k=K)


def _serve_reference(idx, q: dict) -> list:
    """The distributed path answering the same question as the serving
    call: exact BM25, ``similarity`` or ``bm25_search``."""
    from tf_idf_vectorizer_spark.query.ast import parse_sexpr

    if q["kind"] == "bm25":
        df = idx.bm25_topk(q["terms"], k=K, mode="exact")
    elif q["kind"] == "sim":
        df = idx.similarity(q["algo"], q["terms"], k=K)
    else:
        df = idx.bm25_search(parse_sexpr(q["sexpr"]), k=K)
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _serve_key(q: dict) -> tuple:
    return (q["kind"], q.get("algo"), q.get("sexpr"), tuple(q["terms"]))


def serve(run: Run) -> None:
    from pyspark.sql import functions as F

    from tf_idf_vectorizer_spark.sources.synth import synth_corpus

    spark = run.spark
    n = inputs.SERVE_DOCS
    docs = synth_corpus(spark, n, vocab=inputs.SERVE_VOCAB, seed=run.seed,
                        max_tokens=inputs.SERVE_MAX_TOKENS).select("doc_id", "text")
    stream = inputs.serve_queries(run.seed)
    bm25 = [q for q in stream[:1000] if q["kind"] == "bm25"]
    # serving-tier open: pin the dictionary and doc stats and pre-decode
    # every term of the stream into the serving cache
    index_dir, idx = run.setups(
        docs, n, "serve_idx", bm25[0]["terms"],
        {"warm_terms": sorted({t for q in stream for t in q["terms"]})}, norms=True)
    text_bytes = docs.agg(F.sum(F.octet_length("text"))).first()[0]
    run.e2e["index_bytes_per_text_byte"] = harness.dir_bytes(index_dir) / text_bytes

    # ---- timed closed loop ------------------------------------------------
    calls = [_serve_call(idx, q) for q in stream]
    checks = inputs.serve_check_sample(run.seed, stream)
    batch = bm25[:200] if run.trace else []
    # answers kept for the checks after the loop; every other answer only
    # as a digest, so the harness adds little to the collector's work
    keep = {q["id"] for q in checks + batch}
    first: dict[int, list] = {}
    digest: dict[tuple, int] = {}
    gc.collect()
    host = run.host_load()
    t0 = time.perf_counter()
    t_end = t0 + run.seconds
    n_done = 0
    while time.perf_counter() < t_end:
        q = stream[n_done % len(stream)]
        n_done += 1
        try:
            rows = run.timed_query(calls[q["id"]], traced=n_done % 2 == 0)
        except Exception as e:  # an operation that raises counts as failed
            run.fail(f"serve query {q['id']}: {e!r}")
            continue
        if q["id"] in keep:
            first.setdefault(q["id"], rows)
        h = hash(tuple(topk_key(rows)))
        if digest.setdefault(_serve_key(q), h) != h:
            run.fail(f"serve query {q['id']}: result differs from an earlier execution")
    # completed queries per second: the median of the loop's one-second
    # slices, so a stall in a few of them does not set the number
    run.query_metrics(slice_rate(run.query_done, t0, time.perf_counter()))
    run.info["window_host"] = host()

    # ---- correctness against the distributed reference paths ---------------
    for q in checks:
        if q["id"] not in first:
            first[q["id"]] = calls[q["id"]]()
        with run.span(f"check.{q['kind']}"):
            ref = _serve_reference(idx, q)
        if not same_topk(first[q["id"]], ref):
            run.fail(f"serve query {q['id']} ({q['kind']}) differs from reference")
    run.record_bands(idx, stream[:n_done])
    run.info.update({
        "docs": n, "vocab": inputs.SERVE_VOCAB, "text_bytes": int(text_bytes),
        "queries_run": n_done,
        "query_kinds": dict(Counter(q["kind"] for q in stream[:n_done])),
        "cache_budget_entries": idx._driver_entry_budget() // idx.TERM_CACHE_FRACTION,
    })

    run.peak_rss()
    if not run.trace:
        return
    batch = [q for q in batch if q["id"] in first]
    run.batch_probe(idx, {q["id"]: q["terms"] for q in batch},
                    {q["id"]: first[q["id"]] for q in batch})
    run.probes(idx, [q["terms"] for q in sorted(bm25, key=lambda q: -len(q["terms"]))[:2]])
    # the write layers are idle in the timed loop; the traced run still
    # measures them on this corpus so every layer reports
    live = _text_lengths(docs)
    idx = run.batches(
        index_dir, inputs.IngestPlan(run.seed, n),
        _batch_maker(spark, synth_corpus, vocab=inputs.SERVE_VOCAB,
                     max_tokens=inputs.SERVE_MAX_TOKENS), live,
        probe_terms=bm25[0]["terms"])
    sample = bm25[:20]
    expect = {q["id"]: idx.bm25_topk_rows(q["terms"], k=K) for q in sample}

    def verify(nidx, label: str) -> None:
        for q in sample:
            if not same_topk(nidx.bm25_topk_rows(q["terms"], k=K), expect[q["id"]]):
                run.fail(f"{label} changed the top-k of serve query {q['id']}")

    run.maintain(index_dir, live, verify)


# =============================================================================
# ingest
# =============================================================================
def ingest(run: Run) -> None:
    from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus

    spark = run.spark
    n = inputs.INGEST_DOCS
    gen_kw = {"vocab": inputs.INGEST_VOCAB, "n_sites": inputs.INGEST_SITES}
    docs = synth_topical_corpus(spark, n, seed=run.seed, **gen_kw)
    scan = inputs.scan_queries(run.seed)
    # set up as the readers of every later commit open: no warm-up
    index_dir, idx = run.setups(docs, n, "ingest_idx", scan[0]["terms"],
                                {"scale": inputs.SCAN_SCALE, "warm": False})
    live = _text_lengths(docs)
    run.info.update({"docs": n, "vocab": inputs.INGEST_VOCAB,
                     "sites": inputs.INGEST_SITES,
                     "text_bytes": int(sum(live.values()))})
    run.record_bands(idx, scan)

    band_lat: dict[str, list[float]] = {}
    rounds: list[dict[int, list]] = []

    def read_round(idx, queries: list[dict], op: int | None = None) -> dict:
        out = {}
        for q in queries:
            t0 = time.perf_counter()
            try:
                out[q["id"]] = run.timed_query(
                    lambda: idx.bm25_topk_rows(q["terms"], k=K),
                    traced=len(run.query_lat) % 2 == 0, op=op)
            except Exception as e:
                run.fail(f"scan query {q['id']}: {e!r}")
            band_lat.setdefault(q["band"], []).append(time.perf_counter() - t0)
        return out

    driver_qs = [q for q in scan if q["band"] == "driver"]
    slow_qs = [q for q in scan if q["band"] != "driver"]
    wand_q = next(q for q in scan if q["band"] == "wand")

    commit_read_s: list[float] = []

    def after_commit(nidx, op: int) -> None:
        n0 = len(run.query_lat)
        out = read_round(nidx, driver_qs, op)
        commit_read_s.append(sum(run.query_lat[n0:]))
        # one driver-band answer per commit must match the exact path
        q = driver_qs[len(rounds) % len(driver_qs)]
        with run.span("check.exact"):
            ref = nidx.bm25_topk(q["terms"], k=K, mode="exact").collect()
        if not same_topk(ref, out.get(q["id"], [])):
            run.fail(f"commit {len(rounds)}: exact disagrees on scan query {q['id']}")
        rounds.append(out)

    host = run.host_load()
    t_window = time.perf_counter()
    last_idx = run.batches(
        index_dir, inputs.IngestPlan(run.seed),
        _batch_maker(spark, synth_topical_corpus, **gen_kw), live,
        probe_terms=scan[0]["terms"], scale=inputs.SCAN_SCALE,
        after_commit=after_commit, count=inputs.INGEST_BATCHES)
    # the rest of the window: a closed loop of readers of the last commit,
    # each reopening the index (its decoded-postings cache starts empty),
    # answering the visibility probe as after a commit, then the
    # driver-band queries.  qps is the median over rounds (these and the
    # ones after each commit) of queries per second of read time.
    round_qps = [len(r) / s for r, s in zip(rounds, commit_read_s)]
    t_end = max(t_window + run.seconds,
                time.perf_counter() + inputs.INGEST_MIN_READ_S)
    while time.perf_counter() < t_end:
        reader = run.open(index_dir, scale=inputs.SCAN_SCALE, warm=False)
        reader.bm25_topk_rows(scan[0]["terms"], k=K)
        n0 = len(run.query_lat)
        for qid, rows in read_round(reader, driver_qs).items():
            if not same_topk(rows, rounds[-1][qid]):
                run.fail(f"scan query {qid} changed between readers of one commit")
        round_qps.append(len(driver_qs) / sum(run.query_lat[n0:]))
    run.query_metrics(median(round_qps))
    run.info["window_host"] = host()

    # the distributed bands run once, outside the timed loop; the auto
    # (WAND) answer must match the driver and exact regimes forced through
    # mode=
    rounds[-1].update(read_round(last_idx, slow_qs))
    for mode in ("driver", "exact"):
        with run.span(f"check.{mode}"):
            rows = last_idx.bm25_topk(wand_q["terms"], k=K, mode=mode).collect()
        if not same_topk(rows, rounds[-1].get(wand_q["id"], [])):
            run.fail(f"{mode} disagrees with wand on scan query {wand_q['id']}")

    def verify(nidx, label: str) -> None:
        for qid, rows in read_round(nidx, driver_qs + [wand_q]).items():
            if not same_topk(rows, rounds[-1].get(qid, [])):
                run.fail(f"{label} changed the top-k of scan query {qid}")

    # merge only in the traced run: its time is a per-layer number, and
    # the untraced runs must stay short
    last_idx = run.maintain(index_dir, live, verify, inputs.SCAN_SCALE, merge=run.trace)
    run.e2e["index_bytes_per_text_byte"] = run.compacted_bytes / sum(live.values())
    run.info["live_docs"] = len(live)
    run.info["band_latency_ms"] = {b: round(median(v) * 1000, 1)
                                   for b, v in band_lat.items()}

    if run.trace:
        run.batch_probe(last_idx, {q["id"]: q["terms"] for q in scan}, rounds[-1])
        run.probes(last_idx, [q["terms"] for q in slow_qs])
    run.peak_rss()


WORKLOADS = {"serve": serve, "ingest": ingest}
