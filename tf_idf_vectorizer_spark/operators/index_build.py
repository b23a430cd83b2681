"""Inverted-index build: salted, term-partitioned posting blocks.

Replaces the reference's in-memory ``term_dim_rev_index``
(/root/reference/src/vectorizer/mod.rs:57-61, postings appended per doc
at mod.rs:186-190) with a batch dataflow shaped for 10^12 documents:

  tokens (doc_id, term, doc_len)          (doc_len computed BEFORE the
                                           explode; no doc-keyed join)
    -> term_id = xxhash64(term); salt = doc_id // salt_range
                                          (doc-RANGE salts, not hash salts)
    -> repartition(term_id, salt)         (the ONE posting shuffle; head
                                           terms split across salts)
    -> groupBy(term_id, salt, doc_id, term) -> tf   (exchange-free: the
                                           group key refines the
                                           partitioning)
    -> groupBy(term_id, salt) collect+sort salt-local runs (exchange-free)
    -> Catalyst codec projection          (delta + LEB128 varint blocks
                                           of block_size docs — pure JVM
                                           expressions, _varint_chars)
    -> blocks reshuffle to salt (small, compressed)
    -> write parquet partitioned by salt, sorted (term_id, block_seq)
                                          (row-group stats = coarse term
                                           index; bucket column prunes
                                           at query time)

Because salts are doc-id RANGES, blocks of one term are globally
docID-sorted in (salt, block_seq) order — the reference's sharded
build + ``merge`` (mod.rs:311-338, examples/merge.rs) becomes a
metadata-only concatenation: phase two of the two-phase merge moves no
posting bytes.  This is what makes head-term skew tractable at scale: a
stop-word's 10^12-entry posting list is built by all partitions in
parallel and never sits in one task.

Per-block metadata: (n, min_doc, max_doc, max_tf, min_dl).  ``max_tf``
and ``min_dl`` give a parameter-free BM25 upper bound
  ub = ln(idf) * (k1+1)*max_tf / (max_tf + k1*(1-b+b*min_dl/avg_len))
valid for ANY (k1, b, avg_len) supplied at query time — the block-max
metadata the north rule requires, robust to corpus-stat refreshes.

Checkpoint-resume: the unit of work is the salt partition.  Each salt's
postings are written under ``postings/salt=S/`` with a manifest row
(salt, phase, rows_in, rows_out, checksum, ts); ``build_index`` with
``resume=True`` skips salts already recorded and rebuilds only the rest
(per-partition lineage + resume of the north rule).
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig, with_effective_tf
from tf_idf_vectorizer_spark.operators.codec import encode_varint_blocks
from tf_idf_vectorizer_spark.operators.stats import corpus_stats, doc_stats, idf_table
from tf_idf_vectorizer_spark.query.packed import _decode_batch, live_mask

BLOCK_SCHEMA = (
    "term_id long, salt int, block_seq int, n int, min_doc long, "
    "max_doc long, max_tf long, min_dl long, max_dl long, "
    "max_score double, doc_deltas binary, tfs binary"
)
# schema of the WRITTEN postings files (salt is the partition column).
# Every reader of a postings dir passes it explicitly: a corpus (or a
# micro-batch) whose docs all tokenize to nothing writes ZERO posting
# files, and parquet schema inference on a file-less dir is an error.
POSTINGS_FILE_SCHEMA = BLOCK_SCHEMA + ", bucket int, gen int"
# min_dl yields the BM25 upper bound; max_dl the LOWER bound the WAND
# driver-theta fast path needs (a conservative per-doc score floor)
# postings carry an MVCC generation: a doc's live rows are those whose
# gen matches its doc_dict row (overwrites bump the gen; stale rows are
# dropped by the scoring join and reclaimed at compaction)


def make_live_repacker(
    bc,
    block_size: int,
    term_buckets: int,
    k1: float,
    b: float,
    avg_len: float,
    salt_range: int,
):
    """mapInPandas body of compact's pinned tier (guide §8: every
    shuffle but the last moves a lightweight proxy — here the
    COMPRESSED block payloads cross the one exchange, never the decoded
    posting rows).  Per partition, fully vectorized numpy: decode every
    block (``_decode_batch``), drop rows whose (doc_id, gen) misses the
    broadcast doc stats, re-sort by (term_id, salt, doc_id), re-slice
    into ``block_size`` blocks and re-encode — emitting gen-0
    ``repack_schema()`` rows.  Each block carries its best per-pair BM25
    impact ``best``, which ``block_max_score`` turns into ``max_score``
    in the JVM after ``join_idf``, so the written files are byte- and
    bit-identical to ``pack_blocks_jvm`` over the same live rows (pinned
    by tests/test_compact_repack.py).

    ``bc`` broadcasts (sorted doc_ids, doc_lens int64, gens)."""
    kp1 = k1 + 1.0
    one_minus_b = 1.0 - b

    def repack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_v, dls_v, gens_v = bc.value
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        n, docs, tf = _decode_batch(pdf)
        ok, pos = live_mask(
            ids_v, gens_v, docs, np.repeat(pdf["gen"].to_numpy(np.int64), n)
        )
        if not ok.any():
            return
        tids = np.repeat(pdf["term_id"].to_numpy(np.int64), n)[ok]
        docs, tf, dls = docs[ok], tf[ok], dls_v[pos[ok]]
        order = np.lexsort((docs, tids))
        docs, tf, tids, dls = docs[order], tf[order], tids[order], dls[order]
        m = docs.size
        # salt recomputed from doc_id, not read from the block row (an
        # all-empty corpus has ZERO posting files, so the salt partition
        # column may not exist) — float64 division + truncating cast,
        # the exact JVM `(doc_id / salt_range).cast("int")` semantics.
        # salt is monotonic in doc_id, so sorting by (term_id, doc_id)
        # already groups (term_id, salt) runs contiguously.
        salts = (docs.astype(np.float64) / salt_range).astype(np.int64)
        # group boundaries on (term_id, salt); blocks slice each group
        change = np.flatnonzero((np.diff(tids) != 0) | (np.diff(salts) != 0))
        g_starts = np.concatenate(([0], change + 1))
        g_sizes = np.diff(np.append(g_starts, m))
        group_of = np.repeat(np.arange(g_starts.size), g_sizes)
        off = np.arange(m, dtype=np.int64) - g_starts[group_of]
        b_starts = np.flatnonzero(off % block_size == 0)
        b_ends = np.append(b_starts[1:], m)
        dd = docs.copy()
        dd[1:] -= docs[:-1]
        dd[b_starts] = docs[b_starts]
        # per-pair BM25 impact — SAME expression, SAME operation order
        # as pack_blocks_jvm's _pair_impact (IEEE doubles: +,*,/ are
        # correctly rounded, so identical op order => identical bits)
        tfd = tf.astype(np.float64)
        denom = tfd + k1 * (
            one_minus_b + (b * dls.astype(np.float64)) / avg_len
        )
        imp = tfd * kp1 / denom
        bt = tids[b_starts]
        yield pd.DataFrame(
            {
                "term_id": bt,
                "salt": salts[b_starts].astype(np.int32),
                "block_seq": (off[b_starts] // block_size).astype(np.int32),
                "n": (b_ends - b_starts).astype(np.int32),
                "min_doc": docs[b_starts],
                "max_doc": docs[b_ends - 1],
                "max_tf": np.maximum.reduceat(tf, b_starts),
                "min_dl": np.minimum.reduceat(dls, b_starts),
                "max_dl": np.maximum.reduceat(dls, b_starts),
                "best": np.maximum.reduceat(imp, b_starts),
                "doc_deltas": encode_varint_blocks(dd, b_starts),
                "tfs": encode_varint_blocks(tf, b_starts),
                "bucket": (bt % term_buckets).astype(np.int32),
                "gen": np.zeros(bt.size, dtype=np.int32),
            }
        )

    return repack


def repack_schema():
    """``make_live_repacker``'s output schema: the postings file schema
    with ``best`` in place of ``max_score``, declaring the nullability
    the JVM pack derives (posexplode pos / size() / lit are non-null),
    so the written files are BYTE-identical, footer included."""
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(
        POSTINGS_FILE_SCHEMA.replace("max_score", "best")
    )
    for f in schema.fields:
        if f.name in ("block_seq", "n", "gen"):
            f.nullable = False
    return schema


def join_idf(blocks: DataFrame, idf_df: DataFrame) -> DataFrame:
    """Broadcast-join the (term_id, idf) table onto ``blocks`` (posting
    runs in pack_blocks_jvm, finished blocks in compact's repacker) —
    the one place a posting pack reads idf."""
    return blocks.join(
        F.broadcast(
            idf_df.select("term_id", F.col("idf").cast("double").alias("idf"))
        ),
        "term_id",
        "left",
    )


def block_max_score(best):
    """Per-block max BM25 score from the block's best per-pair impact and
    the joined ``idf`` column.  when(>0) not when(<=0): a term missing
    from the idf table has null ln_idf, which must land in the 0.0
    branch, not null the score."""
    ln_idf = F.log(F.col("idf"))
    return F.when(ln_idf > 0, ln_idf * best).otherwise(F.lit(0.0))


def varint_width(bound: int | None) -> int:
    """Unroll width (LEB128 byte count) that provably covers every value
    in [0, bound].  None -> the full 10-byte unroll (any uint64)."""
    if bound is None:
        return 10
    b = max(int(bound), 1)
    return min(10, max(1, (b.bit_length() + 6) // 7))


def _varint_chars(v, width: int = 10):
    """LEB128 varint of a non-negative long as a string of codepoints
    0..255 (one per byte) — pure Catalyst expressions (shift/mask/char),
    fully codegen'd.  The caller byte-serializes the joined stream with
    ``encode(..., 'ISO-8859-1')``, which maps each codepoint back to its
    single byte.

    Keeping the codec JVM-side is what makes the build scale: measured on
    local[8->32], pushing the raw posting rows through the Arrow/Python
    boundary cost a flat ~12s per 33M rows regardless of cores, while
    this expression pipeline scales with the task count.  Byte-for-byte
    identical to codec.encode_varint (property-tested).  Measured A/B at
    8.3M entries vs the previous hex+unhex detour: ~30% less pack-stage
    time (one char per byte instead of two, no unhex pass).

    ``width`` bounds the unroll: varint is canonical, so any part beyond
    the value's own width emits "" — unrolling only as many bytes as the
    caller's provable max value needs (varint_width) shrinks both the
    Janino compile of this expression tree and the per-element branch
    count, with identical output.  A value that would overflow the
    unroll raises instead of silently truncating.
    """
    # int32 inputs MUST widen first: Java shift amounts wrap mod 32 on
    # ints, so shiftrightunsigned(v, 35) on an int column silently
    # shifts by 3 and emits garbage continuation bytes
    v = v.cast("long")
    parts = []
    for j in range(width):
        rest = F.shiftrightunsigned(v, 7 * j)
        byte = rest.bitwiseAND(F.lit(0x7F)) + F.when(
            F.shiftrightunsigned(v, 7 * (j + 1)) > 0, F.lit(0x80)
        ).otherwise(F.lit(0))
        ch = F.char(byte)
        emit = ch if j == 0 else F.when(rest > 0, ch).otherwise(F.lit(""))
        parts.append(emit)
    if width < 10:
        # loud guard on the last part: a caller-supplied bound that was
        # wrong must fail the job, never corrupt the posting stream
        overflow = F.shiftrightunsigned(v, 7 * width) > 0
        parts[-1] = F.when(
            overflow,
            F.raise_error(F.format_string("varint overflow: width %d value %d", F.lit(width), v)),
        ).otherwise(parts[-1])
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def write_term_dict(
    df: DataFrame, path: str, parts: int, rowgroup_bytes: int,
    n_rows: int | None = None,
) -> None:
    """Term dictionary write in the layout every reader wants:
    range-partitioned files SORTED by term, with bounded row groups, so
    the per-group term min/max string stats form a coarse TERM INDEX.
    A cold query's dictionary lookup (`term IN (...)`) then prunes to
    ~one row group per query term instead of scanning the whole
    dictionary — at web scale the vocabulary is 10^8+ rows and an
    unsorted coalesced dict costs a full-table scan per cold query.
    Shared by build, merge and the incremental IDF rewrite.

    ``n_rows`` (when known) makes the file count scale-adaptive
    (~250k terms per file): a 31-term dictionary becomes ONE sorted
    file via coalesce — skipping repartitionByRange's extra sampling
    job — while a 10^8-term dictionary still fans out."""
    parts = max(1, int(parts))
    if n_rows is not None:
        parts = max(1, min(parts, -(-int(n_rows) // 250_000)))
    if parts == 1:
        w = df.coalesce(1).sortWithinPartitions("term")
    else:
        w = df.repartitionByRange(parts, "term").sortWithinPartitions("term")
    w.write.option(
        "parquet.block.size", str(int(rowgroup_bytes))
    ).mode("overwrite").parquet(path)


def salt_col(salt_range: int):
    """The posting salt: doc-id RANGES of ``salt_range`` docs."""
    return (F.col("doc_id") / F.lit(int(salt_range))).cast("int").alias("salt")


def live_salted_rows(idx, salt_range: int) -> DataFrame:
    """Live decoded postings of a PackedIndex — rows whose (doc_id, gen)
    matches doc_dict — salted for ``pack_blocks_jvm``:
    (term_id, salt, doc_id, tf, doc_len).  The distributed repack input
    of compact and merge."""
    return idx.decode_postings(None).join(
        idx.doc_dict.select("doc_id", "gen", "doc_len"), ["doc_id", "gen"]
    ).select("term_id", salt_col(salt_range), "doc_id", "tf", "doc_len")


def write_postings(
    packed: DataFrame, path: str, n_parts: int, rowgroup_bytes: int,
    mode: str = "overwrite",
) -> None:
    """THE postings writer (build, batch append, compact, merge): the
    blocks (small, compressed) reshuffle to the salt layout — one
    directory per salt, one (term_id, block_seq)-sorted file inside
    (parquet row-group min/max pruning; listing O(salts)).

    The sort MUST lead with the partitionBy column: FileFormatWriter
    requires its output ordered by the partition columns and will
    otherwise insert its own SortExec(salt), whose external-sort spill
    merge interleaves equal-salt rows from different chunks — silently
    shredding the (term_id, block_seq) file order that the row-group
    term index depends on (observed: ~68 sorted runs per file, every
    per-group term_id range ~full-vocab, zero pruning).  Bounded row
    groups over that layout are the coarse term index in the parquet
    stats (see EngineConfig.pq_rowgroup_bytes)."""
    packed.repartition(int(n_parts), "salt").sortWithinPartitions(
        "salt", "term_id", "block_seq"
    ).write.partitionBy("salt").option(
        "parquet.block.size", str(int(rowgroup_bytes))
    ).mode(mode).parquet(path)


def write_lineage(
    spark: SparkSession, postings_path: str, manifest_path: str,
    phase: str, mode: str, where=None,
) -> None:
    """Per-salt lineage rows (salt, phase, rows_in, rows_out, checksum,
    ts) from the WRITTEN posting blocks matching ``where`` (north rule:
    per-partition lineage + metrics).  Metadata columns only — parquet
    column pruning never touches the payloads, and the packed relation
    is never cached (it would not fit at 10^12 docs).  Explicit schema:
    a corpus (or batch) whose every doc tokenizes to nothing writes ZERO
    posting files, and schema inference on the empty dir would fail."""
    written = spark.read.schema(POSTINGS_FILE_SCHEMA).parquet(postings_path)
    if where is not None:
        written = written.filter(where)
    written.groupBy("salt").agg(
        F.sum("n").alias("rows_in"),
        F.expr(
            "bit_xor(xxhash64(term_id, block_seq, n, min_doc, max_doc))"
        ).alias("checksum"),
    ).select(
        "salt", F.lit(phase).alias("phase"), "rows_in",
        F.col("rows_in").alias("rows_out"), "checksum",
        F.current_timestamp().alias("ts"),
    ).write.mode(mode).parquet(manifest_path)


def write_doc_dict(df: DataFrame, path: str, n_rows: int | None = None) -> None:
    """doc_dict write in the fresh-build layout: range-partitioned and
    sorted by doc_id, so the WAND rescore's candidate doc-range
    predicates prune row groups (a pruned rescore touches a handful of
    candidate ranges, not the whole dictionary; measured 2x+ on
    post-compact query latency when a rewrite lost that layout).
    Shared by build, batch rewrites, refresh_norms, compact and merge.

    File count is shuffle.partitions / 4; ``n_rows`` (when known) caps
    it at ~1M docs per file, so a 5k-doc build writes ONE sorted file
    while a 10^9-doc build still fans out.  A single file is written via
    coalesce — no repartitionByRange sampling job."""
    parts = max(1, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")) // 4)
    if n_rows is not None:
        parts = max(1, min(parts, -(-int(n_rows) // 1_000_000)))
    w = df.coalesce(1) if parts == 1 else df.repartitionByRange(parts, "doc_id")
    w.sortWithinPartitions("doc_id").write.mode("overwrite").parquet(path)


def pack_blocks_jvm(
    rows: DataFrame,
    block_size: int,
    term_buckets: int,
    gen: int,
    avg_len: float | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    idf_df: DataFrame | None = None,
    max_doc_bound: int | None = None,
    max_tf_bound: int | None = None,
) -> DataFrame:
    """(term_id, salt, doc_id, tf, doc_len) -> packed posting blocks,
    entirely in JVM expressions:

      groupBy(term_id, salt)
        -> array_sort(collect_list) salt-local posting run
      slice/posexplode -> block_seq assignment + per-block metadata
      transform/concat/unhex
        -> delta + LEB128-varint payloads (see _varint_hex)

    ``idf_df`` (term_id, idf) joins AFTER the aggregation, broadcast at
    GROUP granularity: carrying idf on every posting row would push 8
    more bytes per posting through the build's dominant shuffle for a
    value that is constant per term (measured: the pack phase is
    memory-traffic-bound, ~0.6 scaling at 1->4 cores — bytes through
    the shuffle are the scarce resource).
    """
    # ONE shuffle: groupBy(term_id, salt) collects the salt-local posting
    # run; blocks are array slices (no window pass).  Group size is
    # bounded by salt_range — the salting knob, scaled with the cluster.
    # tf/doc_len narrow to int32 BEFORE the shuffle (counts are u32 in
    # the reference, term.rs; doc ids stay long for the 10^12 regime):
    # with idf dropped this takes the shuffled row from 44 to 28 bytes.
    rows = rows.select(
        "term_id",
        "salt",
        "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    )
    g_all = rows.groupBy("term_id", "salt").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "tf", "doc_len"))
        ).alias("run"),
    )
    has_idf = idf_df is not None
    if has_idf:
        g_all = join_idf(g_all, idf_df)
    run = F.col("run")
    n_blocks = F.ceil(F.size(run) / F.lit(block_size)).cast("int")
    g = (
        g_all.select(
            "term_id",
            "salt",
            *(["idf"] if has_idf else []),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_blocks - 1),
                    lambda i: F.slice(run, i * block_size + 1, block_size),
                )
            ).alias("block_seq", "pairs"),
        )
        .select(
            "term_id",
            "salt",
            F.col("block_seq").cast("int").alias("block_seq"),
            F.size("pairs").cast("int").alias("n"),
            F.element_at("pairs", 1)["doc_id"].alias("min_doc"),
            F.element_at("pairs", -1)["doc_id"].alias("max_doc"),
            F.array_max(F.transform("pairs", lambda x: x["tf"]))
            .cast("long").alias("max_tf"),
            F.array_min(F.transform("pairs", lambda x: x["doc_len"]))
            .cast("long").alias("min_dl"),
            F.array_max(F.transform("pairs", lambda x: x["doc_len"]))
            .cast("long").alias("max_dl"),
            *(["idf"] if has_idf else []),
            "pairs",
        )
    )
    # per-block max BM25 impact at the build (k1, b, avg_len, idf) — the
    # north rule's "per-block max-score metadata".  This is the TRUE
    # per-block maximum: max over the block's docs of each doc's OWN
    # score(tf_d, dl_d) — strictly tighter than the (max_tf, min_dl)
    # formula bound (which pairs the best tf with the best doc length,
    # a combination no real doc may have; on uniform-tf corpora that gap
    # is exactly why block pruning used to die).  Because it is achieved
    # by a real doc, the query layer can also use the k-th largest
    # max_score of one term's (doc-disjoint) blocks as a job-free θ.
    # The WAND path RECOMPUTES bounds from (max_tf, min_dl) whenever the
    # index moved (incremental updates shift avg_len/idf); max_score is
    # trusted only while meta generation == 0 and (k1, b) match the
    # build (0.0 when idf is not carried, e.g. delta packs).
    if has_idf and avg_len:

        def _pair_impact(x):
            tfd = x["tf"].cast("double")
            denom = tfd + F.lit(k1) * (
                F.lit(1.0 - b)
                + F.lit(b) * x["doc_len"].cast("double") / F.lit(float(avg_len))
            )
            return tfd * F.lit(k1 + 1.0) / denom

        max_score = block_max_score(
            F.array_max(F.transform("pairs", _pair_impact))
        )
    else:
        max_score = F.lit(0.0)
    g = g.withColumn("max_score", max_score)
    pairs = F.col("pairs")
    deltas = F.transform(
        pairs,
        lambda x, i: F.when(i == 0, x["doc_id"]).otherwise(
            x["doc_id"] - F.element_at(pairs, i)["doc_id"]
        ),
    )
    # unroll widths: every delta (incl. block 0's absolute doc id) is
    # <= the corpus max doc id; tf was cast to int32 above, so even
    # with no caller bound 5 bytes always cover it (_varint_chars guards
    # against a too-small caller bound by raising, never truncating)
    w_doc = varint_width(max_doc_bound)
    w_tf = min(varint_width(max_tf_bound), 5)
    doc_deltas = F.encode(
        F.array_join(F.transform(deltas, lambda d: _varint_chars(d, w_doc)), ""),
        "ISO-8859-1",
    )
    tf_bytes = F.encode(
        F.array_join(
            F.transform(pairs, lambda x: _varint_chars(x["tf"], w_tf)), ""
        ),
        "ISO-8859-1",
    )
    return g.select(
        "term_id", "salt", "block_seq", "n", "min_doc", "max_doc",
        "max_tf", "min_dl", "max_dl", "max_score",
        doc_deltas.alias("doc_deltas"),
        tf_bytes.alias("tfs"),
        F.pmod(F.col("term_id"), F.lit(term_buckets)).cast("int").alias("bucket"),
        F.lit(gen).alias("gen"),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    config: EngineConfig = DEFAULT,
    precision: str = "f32",
    resume: bool = False,
    check_collisions: bool = False,
    norms: bool = False,
    cache_tf: bool = True,
    tokenizer: str | None = None,
) -> dict:
    """Build the full index table set under ``out_dir``.

    Tables written (parquet; Iceberg would slot in unchanged via
    ``writeTo`` when its runtime is on the classpath):
      doc_dict   (doc_id, url?, doc_len, norm)
      term_dict  (term_id, term, df, idf)
      postings   (salt=S/bucket=B/...) posting blocks, BLOCK_SCHEMA
      manifest   (salt, phase, rows_in, rows_out, checksum, ts)
      meta.json  scalars (doc_num, total_len, config)
    """
    t0 = time.time()
    phases: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.time()
        phases[name] = round(now - _last[0], 3)
        _last[0] = now

    os.makedirs(out_dir, exist_ok=True)

    # build-scoped shuffle width (set after the scalar pass below): the
    # session's shuffle.partitions is a QUERY-sized knob; the build's
    # stats/pack aggregations over ~100 posting rows per doc thrash on
    # fat partitions at executor-sized memory (measured 3-5x on 4x4-core
    # executors when the default left ~500k rows per task).  Target
    # ~150k rows/partition, capped at 64x the cluster, floored at the
    # session value; restored after.
    _sp_key = "spark.sql.shuffle.partitions"
    _sp_prev = spark.conf.get(_sp_key)
    try:
        return _build_index_body(
            spark, docs, out_dir, key_col, text_col, url_col, config,
            precision, resume, check_collisions, norms, cache_tf,
            tokenizer, t0, phases, _mark, _sp_prev,
        )
    finally:
        spark.conf.set(_sp_key, _sp_prev)


def _build_index_body(
    spark, docs, out_dir, key_col, text_col, url_col, config, precision,
    resume, check_collisions, norms, cache_tf, tokenizer, t0, phases,
    _mark, _sp_prev,
):
    from tf_idf_vectorizer_spark.functions.tokenizers import (
        doc_len_expr,
        tokens_expr,
    )

    # ---- narrow scalar + doc-length pass (FIRST: it feeds the salting
    # AND the build-scoped shuffle width) -------------------------------
    # doc_len is re-derivable from the text alone (token count = sum(tf)
    # by construction): ONE narrow projection over the corpus computes
    # doc count, max doc id, total and max doc length together — no
    # separate input-scalars job, no tokenize->explode->groupBy shuffle
    # of every posting row, no docs-side join (guide §2.4).  Zero-token
    # and null-text docs land here with doc_len 0 — they count in
    # doc_num/avg_len and in the boolean universe ((all) / (not ...)),
    # like ExactSearcher.all_docs.
    dl_col = doc_len_expr(tokenizer, F.col(text_col))
    scalar_aggs = [
        F.count("*"),
        F.max("doc_id"),
        F.sum("doc_len"),
        F.max("doc_len"),
    ]
    if norms:
        # the norms doc_dict needs tf+idf and is built further down;
        # only the corpus scalars are needed here
        dstats = None
        doc_num, max_id, total_len, max_dl_global = docs.select(
            F.col(key_col).alias("doc_id"), dl_col.alias("doc_len")
        ).agg(*scalar_aggs).first()
    else:
        dstats = docs.select(
            F.col(key_col).alias("doc_id"),
            *([F.col(url_col)] if url_col else []),
            dl_col.alias("doc_len"),
            F.lit(0.0).alias("norm"),
        ).cache()
        doc_dict = dstats.withColumn("gen", F.lit(0))
        doc_num, max_id, total_len, max_dl_global = dstats.agg(
            *scalar_aggs
        ).first()
    doc_num = int(doc_num or 0)
    max_id = int(max_id) if max_id is not None else 0
    total_len = int(total_len or 0)
    max_dl_global = int(max_dl_global or 0)
    _mark("doc_stats")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(
            int(_sp_prev),
            min(
                doc_num * 100 // 150_000,
                64 * int(spark.sparkContext.defaultParallelism),
            ),
        )),
    )

    # salting auto-scales so no (term_id, salt) group exceeds
    # ~salt_target_rows posting entries (a stop-word's salt-local run
    # is at most salt_range docs).  Salt count is a LAYOUT choice —
    # more salts fragment mid-frequency terms' blocks (a df-500 term
    # split over 64 salts becomes 64 eight-doc blocks: +50% index
    # bytes, more WAND metadata), so it is NOT raised for parallelism:
    # the pack aggregation partitions on (term_id, salt) regardless.
    n_salts = max(
        int(config.n_salts),
        -(-(int(max_id) + 1) // int(config.salt_target_rows)),
    )
    salt_range = max(1, (int(max_id) + n_salts) // n_salts)

    # ---- fused TF build: ONE exchange for TF agg AND pack --------------
    # The exploded tokens are shuffled ONCE, keyed (term_id, salt) —
    # both downstream aggregations (per-(doc,term) TF counts here, the
    # posting pack's (term_id, salt) runs later) are key-refinements of
    # that partitioning, so neither inserts another exchange (guide
    # §2.4: two operations keyed the same way share one exchange).  The
    # old shape paid the (doc_id, term) TF shuffle AND a second full
    # (term_id, salt) repartition of every posting row.
    # tf_eff is the quantize->denorm roundtrip (identity for f32): the
    # index stores the EFFECTIVE tf, so the packed scorers match the
    # exact path for every engine dtype (tfidf.rs:61-213; the f16 chain
    # is the reference's default engine, mod.rs:50).  doc_len keeps RAW
    # counts (term_sum accumulates unquantized counts, term.rs:53-73).
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    par = int(spark.sparkContext.defaultParallelism)
    # sized so a partition holds ~150k posting rows: the collect_list
    # object aggregation thrashes on fat partitions at executor-sized
    # memory (measured 3x on 4x4-core executors when the session's
    # shuffle.partitions left ~500k rows per task)
    agg_parts = max(
        4 * n_salts,
        shuffle_parts,
        min(-(-int(total_len or 1) // 150_000), 64 * par),
    )
    exploded = docs.select(
        F.col(key_col).alias("doc_id"),
        tokens_expr(tokenizer, F.col(text_col)).alias("tokens"),
    ).select(
        "doc_id",
        F.size("tokens").cast("long").alias("doc_len"),
        F.explode("tokens").alias("term"),
    )
    keyed = exploded.select(
        F.xxhash64("term").alias("term_id"),
        salt_col(salt_range),
        "doc_id",
        "term",
        "doc_len",
    )
    raw_tf = (
        keyed.repartition(agg_parts, "term_id", "salt")
        .groupBy("term_id", "salt", "doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("doc_len").alias("doc_len"))
    )
    tf = with_effective_tf(raw_tf, config)
    # the TF relation is read 2x (stats, postings rows).  cache_tf=True:
    # RAM cache (small corpora).  cache_tf=False: spill to DISK_ONLY
    # while the estimated size fits config.tf_spill_budget_bytes —
    # either way the persisted relation keeps its (term_id, salt)
    # partitioning, so the pack aggregation stays exchange-free.  Past
    # the budget (10^12-doc regime) recompute per consumer, fully
    # pipelined (petabytes of posting rows must not land on local disk).
    if cache_tf:
        tf.cache()
        tf_persisted = True
    elif int(total_len) * 56 <= int(config.tf_spill_budget_bytes):
        from pyspark import StorageLevel

        tf.persist(StorageLevel.DISK_ONLY)
        tf_persisted = True
    else:
        tf_persisted = False

    stats = corpus_stats(tf, "doc_id")
    idf = idf_table(stats, doc_num, precision)
    # stable term ids: 64-bit hash of the term — the SAME xxhash64 the
    # fused TF rows already carry (collision-checked below; no broadcast
    # dictionary join anywhere in the build)
    term_dict = idf.select(
        F.xxhash64("term").alias("term_id"), "term", "df", "idf"
    )
    term_dict.cache()
    reminted = False
    # term_bytes feeds the query layer's MEMORY-based decision on whether
    # the dictionary can be pinned on the driver (count alone misleads:
    # 2M 4-char terms and 2M 500-byte URLs are very different pins)
    if check_collisions:
        n_terms, term_bytes, n_ids = term_dict.agg(
            F.count("*"), F.sum(F.length("term")), F.countDistinct("term_id")
        ).first()
        if n_ids != n_terms:
            # astronomically unlikely; re-mint with a salt to stay correct
            reminted = True
            term_dict = idf.select(
                F.xxhash64("term", F.lit(1)).alias("term_id"),
                "term", "df", "idf",
            )
    else:
        n_terms, term_bytes = term_dict.agg(
            F.count("*"), F.sum(F.length("term"))
        ).first()
    _mark("tf_and_term_dict")

    if norms:
        # cosine norms need a tf-idf join over every posting; the BM25
        # query paths never read them, so they are opt-in (norms=True)
        dstats = doc_stats(
            tf, idf, "doc_id", precision,
            eff_col="tf_eff" if config.dtype != "f32" else None,
        ).cache()
        base_cols = [F.col(key_col).alias("doc_id")] + (
            [F.col(url_col)] if url_col else []
        )
        doc_dict = (
            docs.select(*base_cols)
            .join(dstats, "doc_id", "left")
            .fillna({"doc_len": 0, "norm": 0.0})
            .withColumn("gen", F.lit(0))
        )

    # ---- postings rows --------------------------------------------------
    # idf deliberately NOT carried per row: pack_blocks_jvm joins it
    # broadcast at (term_id, salt) group granularity after the shuffle.
    # tf/doc_len narrow to int32 HERE, before any exchange (counts are
    # u32 in the reference, term.rs); in the re-mint case term_id is
    # re-derived from the term string, which costs the pack aggregation
    # its exchange-free property — correct, and astronomically rare.
    rows = tf.select(
        (F.xxhash64("term", F.lit(1)) if reminted else F.col("term_id"))
        .alias("term_id"),
        "salt",
        "doc_id",
        F.col("tf_eff").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    )

    manifest_path = f"{out_dir}/manifest"
    done_salts: set[int] = set()
    if resume and os.path.exists(manifest_path):
        done = spark.read.parquet(manifest_path)
        done_salts = {
            r["salt"] for r in done.filter(F.col("phase") == "postings").collect()
        }
        rows = rows.filter(~F.col("salt").isin(list(done_salts)))
    # a resumed build appends the missing salts' postings + lineage
    mode = "append" if done_salts else "overwrite"

    build_avg_len = float(total_len) / max(int(doc_num), 1)
    # varint unroll bounds (see _varint_hex): deltas <= max doc id; tf
    # <= doc_len for the integer dtypes, and the f16 roundtrip can
    # overshoot the raw count by < 2^-9 relative — 2x + 2 is airtight
    packed = pack_blocks_jvm(
        rows, config.block_size, config.term_buckets, gen=0,
        avg_len=build_avg_len, k1=config.k1, b=config.b,
        idf_df=term_dict.select("term_id", "idf"),
        max_doc_bound=max_id,
        max_tf_bound=2 * max_dl_global + 2,
    )
    # over-partition the salt hash bins 4x (balls-in-bins): each salt
    # lands in ONE partition, so ONE term_id-sorted file per salt
    write_postings(
        packed, f"{out_dir}/postings", max(4 * n_salts, shuffle_parts),
        config.pq_rowgroup_bytes, mode,
    )
    _mark("pack_write")
    write_doc_dict(doc_dict, f"{out_dir}/doc_dict", n_rows=doc_num)
    write_term_dict(
        term_dict, f"{out_dir}/term_dict",
        max(1, shuffle_parts // 8), config.pq_rowgroup_bytes,
        n_rows=n_terms,
    )
    dstats.unpersist()
    _mark("dict_writes")

    write_lineage(
        spark, f"{out_dir}/postings", manifest_path, "postings", mode,
        where=~F.col("salt").isin(list(done_salts)) if done_salts else None,
    )
    _mark("lineage_manifest")

    meta = {
        "doc_num": int(doc_num),
        "total_len": int(total_len),
        "n_terms": int(n_terms),
        "term_bytes": int(term_bytes or 0),
        "salt_range": int(salt_range),
        "n_salts": int(n_salts),
        "term_buckets": int(config.term_buckets),
        "block_size": int(config.block_size),
        "precision": precision,
        "norms": bool(norms),
        "generation": 0,
        "tokenizer": tokenizer or "ws",
        "k1": float(config.k1),
        "b": float(config.b),
        # max_score was packed with real idf/avg_len: the query layer
        # may trust it as a tight bound while generation stays 0 and
        # (k1, b) match.  Any pack path that omits idf must NOT set
        # this (max_score would be 0.0 and zero out every bound).
        "tight_bounds": True,
        "dtype": config.dtype,
        "built_in_sec": round(time.time() - t0, 3),
        "phases": phases,
    }
    from tf_idf_vectorizer_spark.ioutil import write_json_atomic

    write_json_atomic(meta, f"{out_dir}/meta.json")
    if tf_persisted:
        tf.unpersist()
    return meta
