"""Two-index merge (mod.rs:311-338, examples/merge.rs:19-28): merging
independently built indexes == fresh build of the union corpus, with B
winning doc-id collisions."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.operators.merge import merge_indexes
from tf_idf_vectorizer_spark.query.ast import parse_sexpr
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)
TERMS = ["spark", "join", "the"]


def _rows(df):
    return [(r[0], r[1], r[2]) for r in df.collect()]


def _cmp(a, b, tol=1e-9):
    assert [x[0] for x in a] == [x[0] for x in b], (a[:5], b[:5])
    for x, y in zip(a, b):
        assert math.isclose(x[1], y[1], rel_tol=tol, abs_tol=1e-12), (x, y)


@pytest.fixture(scope="module")
def merged(spark, sf_smoke, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("merge")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    # A: ids < 300; B: ids >= 250 with the overlap REWRITTEN (B must win)
    docs_a = docs.filter(F.col("doc_id") < 300)
    docs_b = docs.filter(F.col("doc_id") >= 250).withColumn(
        "text",
        F.when(
            F.col("doc_id") < 300, F.concat(F.lit("rewritten spark "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    dir_a, dir_b = str(tmp / "a"), str(tmp / "b")
    build_index(spark, docs_a, dir_a, config=CFG, norms=True)
    build_index(spark, docs_b, dir_b, config=CFG, norms=True)
    out = str(tmp / "merged")
    meta = merge_indexes(spark, dir_a, dir_b, out, CFG)
    # the b-wins union, built fresh
    union = docs_a.filter(F.col("doc_id") < 250).unionByName(docs_b)
    fresh_dir = str(tmp / "fresh")
    build_index(spark, union, fresh_dir, config=CFG, norms=True)
    return meta, PackedIndex(spark, out, CFG), PackedIndex(spark, fresh_dir, CFG)


def test_merge_meta(merged):
    meta, idx, fresh = merged
    assert meta["doc_num"] == fresh.meta["doc_num"]
    assert meta["total_len"] == fresh.meta["total_len"]
    assert meta["n_terms"] == fresh.meta["n_terms"]


@pytest.mark.parametrize("algo", ["bm25", "cosine", "dot", "contains"])
def test_merge_scorers_equal_fresh(merged, algo):
    _, idx, fresh = merged
    tol = 1e-5 if algo == "cosine" else 1e-6
    _cmp(
        _rows(idx.similarity(algo, TERMS, k=20)),
        _rows(fresh.similarity(algo, TERMS, k=20)),
        tol=tol,
    )


def test_merge_bool_and_wand(merged):
    _, idx, fresh = merged
    q = parse_sexpr('(and "spark" (not "rewritten"))')
    _cmp(_rows(idx.bm25_search(q, k=20)), _rows(fresh.bm25_search(q, k=20)), 1e-6)
    _cmp(
        _rows(idx.bm25_topk(TERMS, k=20, mode="wand")),
        _rows(fresh.bm25_topk(TERMS, k=20, mode="exact")),
        1e-6,
    )


def test_merge_b_wins_overlap(merged):
    _, idx, fresh = merged
    hits = idx.bm25_topk(["rewritten"], k=100, mode="exact").collect()
    ids = {r["doc_id"] for r in hits}
    assert ids == set(range(250, 300)), "overlap docs must carry B's content"


def test_merge_mutated_index(spark, sf_smoke, tmp_path):
    """Merging an index that has LIVE MVCC generations (overwrites +
    deletes applied) must use only live rows: merge(A', B) == fresh
    build of (A' final state, B-wins union)."""
    from tf_idf_vectorizer_spark.streaming import IncrementalIndex

    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    docs_a = docs.filter(F.col("doc_id") < 200)
    docs_b = docs.filter(F.col("doc_id") >= 180)
    dir_a, dir_b = str(tmp_path / "ma"), str(tmp_path / "mb")
    build_index(spark, docs_a, dir_a, config=CFG)
    build_index(spark, docs_b, dir_b, config=CFG)
    # mutate A: overwrite doc 0, delete doc 1 (stale gen-0 rows remain
    # in A's postings until compaction)
    adds = spark.createDataFrame(
        [(0, "mutated spark join text")], "doc_id long, text string"
    )
    IncrementalIndex(spark, dir_a, CFG).apply_batch(adds=adds, delete_ids=[1])

    out = str(tmp_path / "mmerged")
    merge_indexes(spark, dir_a, dir_b, out, CFG)
    # B wins 180-199 (same text), so the union is A-mutated + B
    union = docs_a.filter(
        (~F.col("doc_id").isin([0, 1])) & (F.col("doc_id") < 180)
    ).unionByName(adds).unionByName(docs_b)
    fresh_dir = str(tmp_path / "mfresh")
    build_index(spark, union, fresh_dir, config=CFG)
    got = PackedIndex(spark, out, CFG)
    want = PackedIndex(spark, fresh_dir, CFG)
    assert got.meta["doc_num"] == want.meta["doc_num"]
    _cmp(
        _rows(got.bm25_topk(TERMS + ["mutated"], k=20, mode="exact")),
        _rows(want.bm25_topk(TERMS + ["mutated"], k=20, mode="exact")),
        tol=1e-9,
    )


def test_merged_doc_dict_keeps_layout(spark, tmp_path):
    """A merged index keeps the fresh-build doc_dict layout (range-
    partitioned files sorted by doc_id), or the WAND rescore's doc-range
    pushdown stops pruning on it.  Interleaved ids (A even, B odd) make
    an unsorted union visible."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    from tf_idf_vectorizer_spark.sources.synth import synth_corpus

    base = synth_corpus(spark, 200, vocab=300, seed=9).select("doc_id", "text")
    dir_a, dir_b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, base.select((F.col("doc_id") * 2).alias("doc_id"), "text"),
                dir_a, config=CFG)
    build_index(spark, base.select((F.col("doc_id") * 2 + 1).alias("doc_id"), "text"),
                dir_b, config=CFG)
    out = str(tmp_path / "merged")
    merge_indexes(spark, dir_a, dir_b, out, CFG)
    files = sorted(glob.glob(f"{out}/doc_dict/*.parquet"))
    assert files
    spans = []
    for f in files:
        d = np.asarray(pq.read_table(f, columns=["doc_id"]).column("doc_id"))
        assert bool(np.all(d[:-1] <= d[1:])), f"{f} not sorted by doc_id"
        spans.append((int(d[0]), int(d[-1])))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "doc_dict files overlap — not range partitioned"
    assert PackedIndex(spark, out, CFG).doc_num == 400
