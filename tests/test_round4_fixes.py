"""Round-4 fixes under test:

1. WAND doc-range credit is sound for OVERLAPPING block ranges (after
   apply_batch the same term has gen-0 and gen-N blocks whose doc ranges
   interleave, so the end array is not monotone under the start sort —
   the raw searchsorted missed truly-overlapping high-ub blocks and the
   prune could drop true top-k docs);
2. merge_indexes propagates the tokenizer into the merged meta and
   refuses to merge indexes tokenized differently;
3. the decoded-postings LRU eviction skips current-query terms instead
   of aborting (cache could stay above budget);
4. the incremental replay guard fails loudly on non-local filesystems
   instead of silently removing nothing;
5. _commit's orphan-dir GC grants a grace period so a concurrent reader
   holding the previous meta keeps its tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.ioutil import table_path
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.operators.merge import merge_indexes
from tf_idf_vectorizer_spark.query.packed import PackedIndex, _overlap_credit
from tf_idf_vectorizer_spark.streaming.incremental import (
    IncrementalIndex,
    _orphan_local_path,
)

CFG = EngineConfig(n_salts=2, block_size=16, term_buckets=8)


# ---------------------------------------------------------------------------
# 1. overlapping-block WAND credit
# ---------------------------------------------------------------------------
def test_overlap_credit_overlapping_blocks_not_missed():
    """The ADVICE reproducer: blocks sorted by start [0,1000] and
    [5,50]; end array [1000,50] is non-monotone, and the pre-fix
    searchsorted over it returned an empty range for query [60,80] —
    credit 0 although the ub-5.0 block [0,1000] truly overlaps."""
    s2 = np.array([0, 5], dtype=np.int64)
    e2 = np.array([1000, 50], dtype=np.int64)
    u2 = np.array([5.0, 1.0])
    got = _overlap_credit(s2, e2, u2, np.array([60]), np.array([80]))
    assert got[0] >= 5.0


def test_overlap_credit_exact_on_disjoint_and_sound_on_random():
    """At gen 0 (disjoint sorted ranges) the credit equals the exact
    overlap max; on random OVERLAPPING ranges it upper-bounds it
    (superset selection — sound, never below the true max)."""
    rng = np.random.RandomState(0xC0FFEE)
    for trial in range(200):
        n = rng.randint(1, 12)
        if trial % 2 == 0:
            # disjoint sorted (gen-0 shape)
            edges = np.sort(rng.choice(10_000, size=2 * n, replace=False))
            s2, e2 = edges[0::2], edges[1::2]
        else:
            s2 = np.sort(rng.randint(0, 10_000, size=n))
            e2 = s2 + rng.randint(0, 5_000, size=n)
        u2 = rng.rand(n) * 10
        qlo = rng.randint(0, 10_000, size=5)
        qhi = qlo + rng.randint(0, 3_000, size=5)
        got = _overlap_credit(s2, e2, u2, qlo, qhi)
        for j in range(5):
            ov = (s2 <= qhi[j]) & (e2 >= qlo[j])
            exact = float(u2[ov].max()) if ov.any() else 0.0
            if trial % 2 == 0:
                assert got[j] == pytest.approx(exact)
            else:
                assert got[j] >= exact - 1e-12


def test_wand_rank_identity_with_interleaved_generations(spark, tmp_path):
    """End-to-end: a batch whose doc ids interleave the build's ranges
    produces per-term blocks with overlapping [min_doc, max_doc] spans;
    forced WAND must stay rank-identical to the exact path (the
    reference's exactness contract, scoring.rs:410-435)."""
    d = str(tmp_path / "idx")
    rng = np.random.RandomState(7)
    vocab = ["alpha", "beta", "gamma", "delta", "rare"]
    docs = []
    for i in range(300):
        words = ["alpha"] * int(rng.randint(1, 4)) + ["beta"] * int(
            rng.randint(0, 3)
        )
        if i % 7 == 0:
            words += ["gamma"]
        if i in (13, 250):
            words += ["rare"]
        docs.append((i * 10, " ".join(words)))
    build_index(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        d,
        config=CFG,
    )
    # batch ids land BETWEEN build ids across the whole range, and with
    # high tf so gen-1 blocks carry large upper bounds
    batch = [
        (i * 10 + 5, "alpha " * int(rng.randint(1, 9)) + "beta beta")
        for i in range(0, 300, 4)
    ] + [(1505, "rare alpha alpha alpha alpha alpha")]
    IncrementalIndex(spark, d, CFG).apply_batch(
        adds=spark.createDataFrame(batch, "doc_id long, text string")
    )
    idx = PackedIndex(spark, d, CFG)
    assert int(idx.meta.get("generation", 0)) > 0
    # round 4: the sparse machinery works at generation > 0 too (stale
    # rows are liveness-filtered against the pinned doc stats before
    # any θ floor / credit is derived from them)
    assert idx._sparse_query_terms(idx._query_info(["rare", "alpha"])) != []
    for terms in (["rare", "alpha"], ["gamma", "beta"], ["alpha", "beta"]):
        exact = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.bm25_topk(terms, k=15, mode="exact").collect()
        ]
        wand = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.bm25_topk(terms, k=15, mode="wand").collect()
        ]
        assert wand == exact
        # the forced-DISTRIBUTED variant must also hold rank identity
        # over interleaved generations (overlapping block ranges)
        idx.META_COLLECT_MAX = 0
        try:
            dist = [
                (r["doc_id"], round(r["score"], 9))
                for r in idx.bm25_topk(terms, k=15, mode="wand").collect()
            ]
        finally:
            idx.META_COLLECT_MAX = PackedIndex.META_COLLECT_MAX
        assert dist == exact


def test_seg_survivors_superset_of_true_overlap_prune(spark, tmp_path):
    """Property: the distributed WAND's segment-grid survival set must
    CONTAIN every block that the exact range-aligned bound keeps
    (quantization may only loosen the prune, never tighten it) — for
    random, overlapping (gen>0-like) block layouts."""
    d = _build(spark, tmp_path / "segp", [(0, "a b"), (1, "b c")])
    idx = PackedIndex(spark, d, CFG)
    span = int(idx.meta["salt_range"]) * int(idx.meta["n_salts"])
    rng = np.random.RandomState(17)
    key_cols = ["term_id", "salt", "block_seq", "gen"]
    pruned_any = False
    for trial in range(6):
        n_terms = rng.randint(2, 4)
        rows, metas = [], []
        for t in range(n_terms):
            for s in range(rng.randint(3, 9)):
                lo = int(rng.randint(0, max(1, span - 1)))
                hi = lo + int(rng.randint(0, span // 2))
                ub = float(rng.rand() * 3)
                rows.append((t, 0, s, rng.randint(0, 2), 1, lo, hi, ub, 0.0))
        import pandas as pd

        pdf = pd.DataFrame(
            rows,
            columns=key_cols + ["n", "min_doc", "max_doc", "ub", "sp_credit"],
        )
        meta2 = spark.createDataFrame(pdf)
        theta = float(np.percentile(pdf["ub"], 60) * 1.5)
        got = {
            tuple(int(r[c]) for c in key_cols)
            for r in idx._seg_survivors(
                meta2, list(range(n_terms)), set(), key_cols, theta
            ).collect()
        }
        # numpy oracle: exact overlap-aligned others
        keep_oracle = set()
        for _i, r in pdf.iterrows():
            others = 0.0
            for t2 in range(n_terms):
                if t2 == r["term_id"]:
                    continue
                ov = pdf[
                    (pdf["term_id"] == t2)
                    & (pdf["min_doc"] <= r["max_doc"])
                    & (pdf["max_doc"] >= r["min_doc"])
                ]
                others += float(ov["ub"].max()) if len(ov) else 0.0
            if r["ub"] + others >= theta - 1e-9:
                keep_oracle.add(tuple(int(r[c]) for c in key_cols))
        assert keep_oracle <= got, (trial, keep_oracle - got)
        if len(got) < len(pdf):
            pruned_any = True
    assert pruned_any, "segment prune never removed anything across trials"


def test_dist_wand_empty_survivor_set_returns_empty(spark, tmp_path):
    """Defensive guard: if the distributed prune leaves zero survivors
    (cannot happen with sound bounds, but the code must not crash on
    np.concatenate of an empty range list), the query returns empty."""
    docs = [
        (i, ("alpha beta filler" if i % 3 == 0 else "filler other"))
        for i in range(30)
    ]
    d = _build(spark, tmp_path / "empty", docs)
    idx = PackedIndex(spark, d, CFG)
    idx.META_COLLECT_MAX = 0
    # defeat the no-prune early exit (a toy corpus never prunes, so the
    # grid estimate would dispatch to the exact pass before the guard)
    idx._seg_cell_survival_est = lambda *a, **k: 0.0
    orig = idx._seg_survivors_from
    called = {}

    def fake(*a, **k):
        called["yes"] = True
        return orig(*a, **k).limit(0)

    idx._seg_survivors_from = fake
    assert idx.bm25_topk(["alpha", "beta"], k=3, mode="wand").count() == 0
    assert called, "theta never became finite; guard untested"


def test_all_scoring_paths_bit_identical(spark, tmp_path):
    """Every BM25 path (distributed exact, driver-planned WAND, forced-
    distributed WAND, single-node rows) must produce BIT-identical f64
    scores: canonical partial op grouping + ascending-term_id fold.
    Without it, tie SETS are fold-dependent and two rank-identical
    plans can order the k-th-score ties differently (observed at 8M
    entries between the distributed exact and WAND paths)."""
    rng = np.random.RandomState(3)
    docs = [
        (
            i,
            " ".join(
                ["alpha"] * int(rng.randint(1, 4))
                + ["beta"] * int(rng.randint(1, 3))
                + ["gamma"] * int(rng.randint(0, 2))
                + [f"site{i // 40}"]
            ),
        )
        for i in range(200)
    ]
    d = str(tmp_path / "bits")
    build_index(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        d,
        config=CFG,
    )
    idx = PackedIndex(spark, d, CFG)
    terms = ["alpha", "beta", "gamma", "site2"]
    k = 200  # every scored doc, not just top-k

    def rows_of(df):
        return sorted(
            (r["doc_id"], r["score"].hex()) for r in df.collect()
        )

    exact = rows_of(idx.bm25_topk(terms, k=k, mode="exact"))
    wand = rows_of(idx.bm25_topk(terms, k=k, mode="wand"))
    idx.META_COLLECT_MAX = 0
    dist = rows_of(idx.bm25_topk(terms, k=k, mode="wand"))
    idx.META_COLLECT_MAX = PackedIndex.META_COLLECT_MAX
    drv = sorted(
        (doc, float(score).hex())
        for doc, score, _dl in idx.bm25_topk_rows(terms, k=k)
    )
    assert exact == wand == dist == drv
    # the string-keyed exact surface sits inside the SAME perimeter
    # (r5: canonical_fold keyed on xxhash64(term) == packed term_id);
    # before, its plain F.sum folded in physical row order and could
    # split k-th ties differently from the packed paths (VERDICT r4 #1)
    from tf_idf_vectorizer_spark.query.exact import ExactSearcher

    es = ExactSearcher(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        config=CFG,
    )
    srch = rows_of(es.similarity("bm25", terms, k=k))
    assert srch == exact
    # and it agrees with itself across partitionings (the original
    # failure mode: self-divergence under different physical plans)
    srch2 = rows_of(
        ExactSearcher(
            spark,
            spark.createDataFrame(docs, "doc_id long, text string")
            .repartition(7),
            config=CFG,
        ).similarity("bm25", terms, k=k)
    )
    assert srch2 == srch


# ---------------------------------------------------------------------------
# 2. merge tokenizer propagation
# ---------------------------------------------------------------------------
def _build(spark, path, docs, tokenizer=None):
    build_index(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        str(path),
        config=CFG,
        tokenizer=tokenizer,
    )
    return str(path)


def test_merge_propagates_tokenizer(spark, tmp_path):
    a = _build(spark, tmp_path / "a", [(0, "日本語の文書"), (1, "検索エンジン")],
               tokenizer="cjk")
    b = _build(spark, tmp_path / "b", [(2, "転置インデックス")], tokenizer="cjk")
    out = str(tmp_path / "m")
    meta = merge_indexes(spark, a, b, out, CFG)
    assert meta["tokenizer"] == "cjk"
    with open(f"{out}/meta.json") as fh:
        assert json.load(fh)["tokenizer"] == "cjk"
    # an incremental batch on the merged index now tokenizes like the
    # build: CJK bigrams, so a bigram query finds the new doc
    IncrementalIndex(spark, out, CFG).apply_batch(
        adds=spark.createDataFrame(
            [(9, "新規文書")], "doc_id long, text string"
        )
    )
    idx = PackedIndex(spark, out, CFG)
    hits = idx.bm25_topk(["新規"], k=5).collect()
    assert [r["doc_id"] for r in hits] == [9]


def test_merge_rejects_tokenizer_mismatch(spark, tmp_path):
    a = _build(spark, tmp_path / "a2", [(0, "hello world")])
    b = _build(spark, tmp_path / "b2", [(1, "日本語の文書")], tokenizer="cjk")
    with pytest.raises(ValueError, match="tokenizer"):
        merge_indexes(spark, a, b, str(tmp_path / "m2"), CFG)


# ---------------------------------------------------------------------------
# 3. LRU eviction skips current-query terms
# ---------------------------------------------------------------------------
def test_lru_eviction_continues_past_query_terms(spark, tmp_path):
    d = _build(spark, tmp_path / "lru", [(0, "a b"), (1, "b c")])
    idx = PackedIndex(spark, d, CFG)

    def arrs(n):
        return (
            np.arange(n, dtype=np.int64),
            np.ones(n),
            np.ones(n),
        )

    # oldest entry (100) IS a query term; 200/300 are evictable
    idx._term_postings_cache = {100: arrs(6), 200: arrs(6), 300: arrs(6)}
    idx._driver_entry_budget = lambda: 12 * idx.TERM_CACHE_FRACTION
    idx._decode_live_driver_fetch = lambda tids: {400: arrs(6)}
    out = idx._decode_live_driver([100, 400])
    assert set(out) == {100, 400}
    cache = idx._term_postings_cache
    # pre-fix: first key 100 in tids -> break -> nothing evicted (24 > 12)
    assert 100 in cache and 400 in cache
    assert sum(v[0].size for v in cache.values()) <= 12


def test_lru_bounded_under_vocab_churn(spark, tmp_path):
    """A serving workload cycling through more distinct terms than the
    budget holds must keep the decoded-postings cache at/below budget on
    every step (no unbounded growth, no thrash-abort)."""
    docs = [(i, " ".join(f"w{i}_{j}" for j in range(8))) for i in range(40)]
    d = _build(spark, tmp_path / "churn", docs)
    idx = PackedIndex(spark, d, CFG)
    budget_entries = 24  # each term decodes to 1 posting
    idx._driver_entry_budget = (
        lambda: budget_entries * idx.TERM_CACHE_FRACTION
    )
    tids = [r["term_id"] for r in idx._query_info(
        [f"w{i}_0" for i in range(40)]
    )]
    for t in tids:  # 40 distinct terms through a 24-entry budget
        idx._decode_live_driver([t])
        assert (
            sum(v[0].size for v in idx._term_postings_cache.values())
            <= budget_entries
        )


# ---------------------------------------------------------------------------
# 4. replay guard is loud off local FS
# ---------------------------------------------------------------------------
def test_orphan_path_local_uris_resolve():
    assert _orphan_local_path("file:///tmp/x/part-0.parquet") == (
        "/tmp/x/part-0.parquet"
    )
    assert _orphan_local_path("file:/tmp/x/p.parquet") == "/tmp/x/p.parquet"
    assert _orphan_local_path("/tmp/x/p.parquet") == "/tmp/x/p.parquet"


@pytest.mark.parametrize(
    "uri",
    ["hdfs://nn:8020/idx/postings/p.parquet", "s3a://bucket/idx/p.parquet"],
)
def test_orphan_path_raises_on_remote_fs(uri):
    with pytest.raises(NotImplementedError, match="local filesystem"):
        _orphan_local_path(uri)


# ---------------------------------------------------------------------------
# 5. orphan-dir GC grace period
# ---------------------------------------------------------------------------
def test_commit_gc_grace_keeps_reader_tables(spark, tmp_path):
    d = _build(
        spark, tmp_path / "gc",
        [(0, "spark join query"), (1, "join cluster"), (2, "quick fox")],
    )
    reader = PackedIndex(spark, d, CFG)
    pre = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.bm25_topk(["join"], k=5, mode="exact").collect()
    ]
    reader_tables = {
        t: table_path(d, reader.meta, t)
        for t in ("term_dict", "doc_dict", "postings")
    }
    ii = IncrementalIndex(spark, d, CFG)  # default grace: 300 s
    ii.apply_batch(
        adds=spark.createDataFrame(
            [(0, "rewritten doc"), (7, "join join join")],
            "doc_id long, text string",
        )
    )
    # the reader's resolved table dirs survive the commit...
    for p in reader_tables.values():
        assert os.path.exists(p)
    # ...and its queries still serve the PRE-batch snapshot
    post = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.bm25_topk(["join"], k=5, mode="exact").collect()
    ]
    assert post == pre
    # a writer with no grace reclaims everything unreferenced
    ii2 = IncrementalIndex(spark, d, CFG)
    ii2.GC_GRACE_SEC = 0.0
    ii2.apply_batch(delete_ids=[2])
    live_now = {
        table_path(d, ii2._meta(), t)
        for t in ("term_dict", "doc_dict", "postings")
    }
    for t, p in reader_tables.items():
        if p not in live_now:
            assert not os.path.exists(p), f"stale {t} dir survived zero grace"
    gc_state = json.load(open(f"{d}/_gc.json"))
    assert gc_state == {}


# ---------------------------------------------------------------------------
# 6. pure-append batches are O(batch): no doc_dict rewrite
# ---------------------------------------------------------------------------
def _meta(d):
    with open(f"{d}/meta.json") as fh:
        return json.load(fh)


def test_pure_append_skips_doc_dict_rewrite_and_matches_rebuild(
    spark, tmp_path
):
    """A batch of only brand-new doc ids must not rewrite doc_dict (the
    O(corpus) step): the doc rows append under the commit watermark and
    only term_dict gets a new version.  Queries afterwards equal a fresh
    build of the union corpus (the reference add_doc contract,
    mod.rs:118-181)."""
    base = [(i, f"alpha beta doc{i % 7}") for i in range(50)]
    batch = [(1000 + i, f"alpha gamma doc{i % 5}") for i in range(20)]
    d = _build(spark, tmp_path / "pa", base)
    ii = IncrementalIndex(spark, d, CFG)
    ii.apply_batch(
        adds=spark.createDataFrame(batch, "doc_id long, text string")
    )
    m = _meta(d)
    assert "doc_dict" not in m.get("tables", {}), "pure append rewrote doc_dict"
    assert m["tables"]["term_dict"].startswith("term_dict_v")
    ref = _build(spark, tmp_path / "pa_ref", base + batch)
    got = PackedIndex(spark, d, CFG)
    want = PackedIndex(spark, ref, CFG)
    for terms in (["alpha"], ["gamma", "beta"]):
        g = [
            (r["doc_id"], round(r["score"], 9), r["doc_len"])
            for r in got.bm25_topk(terms, k=100, mode="exact").collect()
        ]
        w = [
            (r["doc_id"], round(r["score"], 9), r["doc_len"])
            for r in want.bm25_topk(terms, k=100, mode="exact").collect()
        ]
        assert g == w
    # an overwrite batch still takes the rewrite path
    ii2 = IncrementalIndex(spark, d, CFG)
    ii2.apply_batch(
        adds=spark.createDataFrame([(0, "rewritten")], "doc_id long, text string")
    )
    assert _meta(d)["tables"]["doc_dict"].startswith("doc_dict_v")


def test_pure_append_invisible_before_commit_and_replay_safe(spark, tmp_path):
    """Crash between the doc-row append and the meta commit: a reader
    must not see the new docs (watermark), and a REPLAY of the batch
    must not leave duplicate doc rows (the doc_dict replay guard)."""
    base = [(i, f"alpha beta doc{i % 7}") for i in range(30)]
    batch = [(500 + i, "alpha zeta") for i in range(5)]
    d = _build(spark, tmp_path / "crash", base)

    ii = IncrementalIndex(spark, d, CFG)
    orig_commit = ii._commit

    def boom(meta, new_tables):
        raise RuntimeError("crash before commit")

    ii._commit = boom
    with pytest.raises(RuntimeError, match="crash"):
        ii.apply_batch(
            adds=spark.createDataFrame(batch, "doc_id long, text string")
        )
    # uncommitted doc rows are invisible through the watermark
    reader = PackedIndex(spark, d, CFG)
    assert reader.doc_dict.count() == len(base)
    assert reader.bm25_topk(["zeta"], k=10).count() == 0
    # replay converges: one live row per appended doc, query finds them
    ii2 = IncrementalIndex(spark, d, CFG)
    ii2.apply_batch(
        adds=spark.createDataFrame(batch, "doc_id long, text string")
    )
    idx = PackedIndex(spark, d, CFG)
    assert idx.doc_dict.count() == len(base) + len(batch)
    assert (
        idx.doc_dict.groupBy("doc_id").count().filter("count > 1").count() == 0
    )
    assert idx.bm25_topk(["zeta"], k=10).count() == 5
