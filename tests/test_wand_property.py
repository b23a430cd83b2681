"""Randomized rank-identity sweep over corpus shapes x query shapes:
every dispatch path (driver / exact / wand, with WAND planned over both
metadata sources) must return the same
rounded top-k on every seeded random query — the reference contract is
one exact scorer (scoring.rs:410-435); all our physical strategies
must be invisible in results.

Seeded (no flaky randomness); corpora cover the three posting shapes
that exercise different planner branches: iid Zipf (bound-adversarial,
escape path), crawl-ordered topical (range pruning), and a tiny dense
vocab (every-term-head)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources.synth import (
    synth_corpus,
    synth_topical_corpus,
)

CFG = EngineConfig(n_salts=4, block_size=32, term_buckets=8)

CORPORA = {
    "zipf": lambda spark: synth_corpus(
        spark, 2500, vocab=3000, seed=101
    ).select("doc_id", "text"),
    "topical": lambda spark: synth_topical_corpus(
        spark, 2500, vocab=400, n_sites=5, seed=102
    ),
    "dense": lambda spark: synth_corpus(
        spark, 2500, vocab=25, seed=103
    ).select("doc_id", "text"),
}


@pytest.fixture(scope="module", params=sorted(CORPORA), ids=sorted(CORPORA))
def rand_idx(request, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("prop") / request.param)
    build_index(spark, CORPORA[request.param](spark), out, config=CFG)
    idx = PackedIndex(spark, out, CFG)
    # term pool stratified by df so random queries mix rare and head
    terms = [
        (r["term"], int(r["df"]))
        for r in idx.term_dict.select("term", "df").collect()
    ]
    terms.sort(key=lambda t: (t[1], t[0]))
    return request.param, idx, terms


def _rows(df):
    return [
        (r["doc_id"], round(r["score"], 8), r["doc_len"]) for r in df.collect()
    ]


def test_random_queries_rank_identical(rand_idx):
    name, idx, terms = rand_idx
    rng = random.Random(f"prop-{name}")
    n = len(terms)
    for qi in range(8):
        n_terms = rng.randint(1, 4)
        q = []
        for _ in range(n_terms):
            # stratified pick: rare tail, middle, or head third
            band = rng.choice([0, 1, 2])
            lo, hi = band * n // 3, max(band * n // 3 + 1, (band + 1) * n // 3)
            q.append(terms[rng.randrange(lo, hi)][0])
        if rng.random() < 0.25:
            q.append(f"missing_{qi}")  # unknown term: must be ignored
        k = rng.choice([1, 5, 13])
        got = {
            mode: _rows(idx.bm25_topk(q, k=k, mode=mode))
            for mode in ("driver", "exact", "wand")
        }
        # wand_dist: the same planner over the distributed metadata
        # source (block metadata never collected to the driver)
        idx.META_COLLECT_MAX = 0
        try:
            got["wand_dist"] = _rows(idx.bm25_topk(q, k=k, mode="wand"))
        finally:
            idx.META_COLLECT_MAX = PackedIndex.META_COLLECT_MAX
        assert (
            got["driver"] == got["exact"] == got["wand"] == got["wand_dist"]
        ), (name, q, k)
