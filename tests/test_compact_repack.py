"""compact()'s budget-gated numpy repacker must be BIT-IDENTICAL to
the JVM pack tier: same postings files (every column, including the
varint payload bytes and the double max_score), so its correctness is
inherited from the long-standing pack_blocks_jvm path rather than
argued.  The two tiers under test, picked by whether the doc stats fit
the driver pin budget (PackedIndex._doc_stats_np):

  fast        — pinned doc stats: one mapInPandas over compressed
                blocks (make_live_repacker), max_score from a broadcast
                idf join in the JVM
  distributed — doc stats not pinned: (doc_id, gen) liveness join +
                pack_blocks_jvm (forced via DRIVER_DOC_STATS_MAX=0)
"""

from __future__ import annotations

import json
import math
import shutil

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.ioutil import table_path
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources.synth import synth_corpus
from tf_idf_vectorizer_spark.streaming import IncrementalIndex

CFG = EngineConfig(n_salts=4, block_size=32, term_buckets=8)


def _mixed_history_index(spark, out_dir: str) -> None:
    """Seeded index with a messy MVCC history: appends (new vocab and
    new salts), overwrites (dead gen-0 rows + live gen>0 rows in OLD
    salts), deletes, and a term spread across generations."""
    docs = synth_corpus(spark, 3000, vocab=2500, seed=7).select(
        "doc_id", "text"
    )
    build_index(spark, docs, out_dir, config=CFG)
    inc = IncrementalIndex(spark, out_dir, CFG)
    adds1 = synth_corpus(spark, 400, vocab=2500, seed=11).select(
        (F.col("doc_id") + F.lit(3000)).alias("doc_id"), "text"
    )
    inc.apply_batch(adds=adds1)  # pure append -> new salts, gen 1
    over = spark.createDataFrame(
        [
            (0, "overwritten alpha alpha spark"),
            (17, "the query rewrites this doc entirely"),
            (2999, "tail doc overwritten with fresh vocabzz"),
        ],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=over, delete_ids=[5, 6, 777, 3001])


def _postings_rows(spark, idx_dir: str):
    meta = json.load(open(f"{idx_dir}/meta.json"))
    df = spark.read.parquet(table_path(idx_dir, meta, "postings"))
    rows = (
        df.orderBy("term_id", "salt", "block_seq")
        .collect()
    )
    return meta, rows


def test_compact_fast_path_bit_identical_to_jvm_tiers(
    spark, tmp_path, monkeypatch
):
    base = str(tmp_path / "base")
    _mixed_history_index(spark, base)

    dirs = {t: str(tmp_path / t) for t in ("fast", "dist")}
    for d in dirs.values():
        shutil.copytree(base, d)

    # pre-compact reference results for the query-identity check
    idx0 = PackedIndex(spark, dirs["fast"], CFG)
    before = [
        (r["doc_id"], r["score"])
        for r in idx0.bm25_topk(["alpha", "spark", "the"], k=20).collect()
    ]

    IncrementalIndex(spark, dirs["fast"], CFG).compact()

    monkeypatch.setattr(PackedIndex, "DRIVER_DOC_STATS_MAX", 0)
    IncrementalIndex(spark, dirs["dist"], CFG).compact()
    monkeypatch.undo()

    meta_f, rows_f = _postings_rows(spark, dirs["fast"])
    meta_d, rows_d = _postings_rows(spark, dirs["dist"])

    assert len(rows_f) > 0
    assert len(rows_f) == len(rows_d)
    cols = [
        "term_id", "salt", "block_seq", "n", "min_doc", "max_doc",
        "max_tf", "min_dl", "max_dl", "max_score", "doc_deltas", "tfs",
        "bucket", "gen",
    ]
    for rf, rd in zip(rows_f, rows_d):
        for c in cols:
            vf, vd = rf[c], rd[c]
            if c == "max_score":
                # bit-level check: the WAND planner uses max_score both
                # as an upper bound and (k-th largest) as a theta floor,
                # so even a one-ULP drift would change pruning
                assert math.isclose(vf, vd, rel_tol=0.0, abs_tol=0.0), (
                    rf["term_id"], rf["salt"], rf["block_seq"], vf, vd
                )
            else:
                assert vf == vd, (c, rf, rd)

    # meta agrees where it matters
    assert meta_f["generation"] == meta_d["generation"] == 0
    assert meta_f["doc_num"] == meta_d["doc_num"]
    assert meta_f["total_len"] == meta_d["total_len"]
    assert meta_f.get("tight_bounds") is True

    # strongest form: the WRITTEN postings files are byte-identical
    # (same partition dirs, sizes and md5 — footer metadata included;
    # the fast path declares the JVM pack's exact nullability so even
    # the parquet definition levels match)
    import glob
    import hashlib
    import os

    def _file_digests(idx_dir, meta):
        root = f"{idx_dir}/{meta['tables']['postings']}"
        out = {}
        for f in glob.glob(f"{root}/**/*.parquet", recursive=True):
            rel = os.path.relpath(f, root)
            key = (os.path.dirname(rel), os.path.basename(rel).split("-")[1])
            with open(f, "rb") as fh:
                out[key] = (
                    os.path.getsize(f),
                    hashlib.md5(fh.read()).hexdigest(),
                )
        return out

    dig_f = _file_digests(dirs["fast"], meta_f)
    dig_d = _file_digests(dirs["dist"], meta_d)
    assert dig_f and dig_f == dig_d

    # and queries over the fast-path compacted index are unchanged
    idx1 = PackedIndex(spark, dirs["fast"], CFG)
    after = [
        (r["doc_id"], r["score"])
        for r in idx1.bm25_topk(["alpha", "spark", "the"], k=20).collect()
    ]
    assert [d for d, _ in before] == [d for d, _ in after]
    for (_, s0), (_, s1) in zip(before, after):
        assert math.isclose(s0, s1, rel_tol=1e-12, abs_tol=1e-12)


def test_compact_fast_path_pure_gen0_roundtrip(spark, tmp_path):
    """Compacting a freshly built (all-gen-0, nothing dead) index via
    the fast path must reproduce the postings exactly (modulo the
    max_score recompute, which equals the build's for an unchanged
    corpus)."""
    out = str(tmp_path / "clean")
    docs = synth_corpus(spark, 1200, vocab=900, seed=3).select(
        "doc_id", "text"
    )
    build_index(spark, docs, out, config=CFG)
    _, rows_before = _postings_rows(spark, out)
    IncrementalIndex(spark, out, CFG).compact()
    _, rows_after = _postings_rows(spark, out)
    assert len(rows_before) == len(rows_after) > 0
    for r0, r1 in zip(rows_before, rows_after):
        for c in ("term_id", "salt", "block_seq", "n", "min_doc",
                  "max_doc", "max_tf", "min_dl", "max_dl", "doc_deltas",
                  "tfs", "bucket", "max_score"):
            assert r0[c] == r1[c], (c, r0, r1)


def test_decode_batch_exact_past_cumsum_wraparound():
    """The repacker and every driver decode share ``_decode_batch``,
    whose running int64 cumsum over block-absolute first ids wraps
    modulo 2^64 on large ids; the per-block ``total - corr`` subtraction
    wraps back, so ids still decode exactly."""
    import numpy as np
    import pandas as pd

    from tf_idf_vectorizer_spark.operators.codec import encode_varint
    from tf_idf_vectorizer_spark.query.packed import _decode_batch

    rng = np.random.default_rng(5)
    blocks, want = [], []
    for i in range(50):
        ids = (1 << 62) + i * 1_000_003 + np.cumsum(rng.integers(1, 50, 7))
        deltas = np.diff(ids, prepend=0).astype(np.uint64)
        tfs = rng.integers(1, 9, ids.size).astype(np.uint64)
        blocks.append((ids.size, encode_varint(deltas), encode_varint(tfs)))
        want.append((ids, tfs))
    pdf = pd.DataFrame(blocks, columns=["n", "doc_deltas", "tfs"])
    n, docs, tf = _decode_batch(pdf)
    assert np.array_equal(n, [b[0] for b in blocks])
    assert np.array_equal(docs, np.concatenate([w[0] for w in want]))
    assert np.array_equal(tf, np.concatenate([w[1] for w in want]))
    # the case is real: the running sum over the stream goes negative
    stream = np.concatenate(
        [np.diff(w[0], prepend=0) for w in want]
    ).astype(np.int64)
    with np.errstate(over="ignore"):
        assert (np.cumsum(stream) < 0).any()


def test_repeated_doc_id_fails_loudly(spark, tmp_path):
    """Liveness assumes one doc_dict row per doc_id.  A repeated row must
    make compact() and a mixed apply_batch raise, naming the id, instead
    of silently undercounting."""
    out = str(tmp_path / "dup")
    docs = synth_corpus(spark, 200, vocab=300, seed=5).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    meta = json.load(open(f"{out}/meta.json"))
    dd = table_path(out, meta, "doc_dict")
    src = spark.read.parquet(dd)
    spark.createDataFrame(
        src.filter(F.col("doc_id") == 42).collect(), src.schema
    ).write.mode("append").parquet(dd)
    spark.catalog.refreshByPath(dd)

    inc = IncrementalIndex(spark, out, CFG)
    with pytest.raises(ValueError, match="doc_id 42"):
        inc.compact()
    adds = spark.createDataFrame(
        [(7, "overwritten doc text")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="doc_id 42"):
        inc.apply_batch(adds=adds, delete_ids=[42])
