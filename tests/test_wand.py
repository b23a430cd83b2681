"""Rank-identity of the block-max WAND path: WAND == packed-exact ==
DataFrame-exact == pure-Python oracle, on the driver corpus AND on a
synthetic Zipf corpus with real rare/head term structure."""

from __future__ import annotations

import math

import pytest

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.oracle import OracleIndex
from tf_idf_vectorizer_spark.query.exact import ExactSearcher
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents
from tf_idf_vectorizer_spark.sources.synth import synth_corpus

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)


@pytest.fixture(scope="module")
def driver_idx(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wand") / "drv")
    docs = load_documents(spark, sf_smoke)
    build_index(spark, docs, out, config=CFG)
    return PackedIndex(spark, out, CFG), ExactSearcher(spark, docs)


@pytest.fixture(scope="module")
def zipf_idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wand") / "zipf")
    docs = synth_corpus(spark, 3000, vocab=800, seed=7).select("doc_id", "text")
    docs = docs.cache()
    build_index(spark, docs, out, config=CFG)
    rows = docs.collect()
    oracle = OracleIndex({r["doc_id"]: r["text"] for r in rows})
    return PackedIndex(spark, out, CFG), oracle


def _cmp(rows_a, rows_b, tol=1e-9):
    assert [r["doc_id"] for r in rows_a] == [r["doc_id"] for r in rows_b]
    for a, b in zip(rows_a, rows_b):
        assert math.isclose(a["score"], b["score"], rel_tol=tol, abs_tol=1e-12)
        assert a["doc_len"] == b["doc_len"]


DRIVER_QUERIES = [
    ["spark", "join", "query"],
    ["the"],                       # head term
    ["spark"],
    ["the", "of", "data", "key", "row", "sort"],   # many heads
    ["zzz_oov"],
    ["spark", "zzz_oov"],
]


@pytest.mark.parametrize("terms", DRIVER_QUERIES)
def test_wand_equals_exact_driver(driver_idx, terms):
    idx, searcher = driver_idx
    k = 25
    wand = idx.bm25_topk(terms, k=k, mode="wand").collect()
    exact = idx.bm25_topk(terms, k=k, mode="exact").collect()
    _cmp(wand, exact)
    # and equals the DataFrame exact path (same OR-candidate semantics,
    # restricted to docs containing >=1 term => identical when scores>0)
    df_exact = searcher.similarity("bm25", terms, k=k).collect()
    _cmp(wand, df_exact, tol=1e-9)


ZIPF_QUERIES = [
    ["t1"],                       # rank-1 head (in ~every doc)
    ["t700"],                     # rare tail term
    ["t1", "t700"],               # head + rare
    ["t2", "t3", "t5", "t750"],
    ["t600", "t650", "t700", "t790"],   # all rare-ish
    ["t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8"],  # 8 heads
]


@pytest.mark.parametrize("terms", ZIPF_QUERIES)
def test_wand_equals_oracle_zipf(zipf_idx, terms):
    idx, oracle = zipf_idx
    k = 15
    wand = idx.bm25_topk(terms, k=k, mode="wand").collect()
    expected = oracle.similarity("bm25", terms, k=k)
    got = [(r["doc_id"], r["score"], r["doc_len"]) for r in wand]
    assert [g[0] for g in got] == [e[0] for e in expected], (got[:5], expected[:5])
    for g, e in zip(got, expected):
        assert math.isclose(g[1], e[1], rel_tol=1e-6), (g, e)


def test_wand_prunes_blocks(spark, zipf_idx):
    """The shipping planner must actually skip blocks, from BOTH metadata
    sources (otherwise it's just the exact path with extra steps): the
    one rescore gate receives fewer target blocks than the query's terms
    hold, and the answer stays exact.  The rare+head query runs on the
    driver source only: the distributed source's segment grid credits a
    sparse term's global max to every cell, so at this toy scale its
    no-prune estimate (rightly) takes the exact pass."""
    idx, _ = zipf_idx
    k = 10
    for source, mcm, queries in (
        ("driver", PackedIndex.META_COLLECT_MAX, (["t1"], ["t1", "t790"])),
        ("dist", 0, (["t1"],)),
    ):
        for terms in queries:
            total_blocks = idx._blocks_for(
                [r["term_id"] for r in idx._query_info(terms)]
            ).count()
            probe = PackedIndex(spark, idx.dir, CFG)
            probe.META_COLLECT_MAX = mcm
            targets = []
            orig = probe._rescore_topk

            def spy(cand, *a, _orig=orig, **kw):
                targets.append(int(cand["is_target"].sum()))
                return _orig(cand, *a, **kw)

            probe._rescore_topk = spy
            _cmp(
                probe.bm25_topk(terms, k=k, mode="wand").collect(),
                idx.bm25_topk(terms, k=k, mode="exact").collect(),
            )
            assert [key[0] for key in probe._wand_cache] == [source]
            assert targets, f"{source} {terms}: escaped to the exact pass"
            assert targets[-1] < total_blocks, (source, terms, targets, total_blocks)


def test_wand_distributed_rescore_rank_identical(spark, zipf_idx):
    """Past the driver rescore's volume gate (forced with
    DRIVER_VOLUME_MAX=0) a pruned candidate set is rescored distributed,
    with the candidate ranges pushed into the doc_dict scan and the
    block_seq intervals into the payload scan — from both sources."""
    idx, _ = zipf_idx
    for mcm, terms in (
        (PackedIndex.META_COLLECT_MAX, ["t1", "t790"]),
        (PackedIndex.META_COLLECT_MAX, ["t2"]),
        (0, ["t1"]),
    ):
        probe = PackedIndex(spark, idx.dir, CFG)
        probe.META_COLLECT_MAX = mcm
        probe.DRIVER_VOLUME_MAX = 0
        calls = []
        orig = probe._score_flagged_df

        def spy(*a, _orig=orig, **kw):
            calls.append(kw.get("block_filter") is not None)
            return _orig(*a, **kw)

        probe._score_flagged_df = spy
        _cmp(
            probe.bm25_topk(terms, k=10, mode="wand").collect(),
            idx.bm25_topk(terms, k=10, mode="exact").collect(),
        )
        assert any(calls), f"{terms}: no distributed pruned rescore ran"
