"""Query path over the packed posting-block index, with block-max WAND.

The reference evaluates queries by walking raw posting ``Vec<u32>``s and
scoring every candidate (scoring.rs:191-206 + OptimizedDocIter,
scoring.rs:215-288).  At 10^12 docs that is exactly what we must avoid:
this module prunes whole compressed blocks with BM25 upper bounds before
any decode happens, then exact-rescoring the survivors keeps the top-k
rank-identical to the exact path (verified by tests).

Block-max WAND, three bounded passes:

  1. THETA — a safe LOWER bound θ on the final k-th score.  Fast path
     (fresh index, all idf > 1, rare term driver-sized): the rare term's
     tf varints ride along with the metadata collect and θ is computed
     on the driver with each block's max_dl as the doc-length bound — a
     per-doc score FLOOR, so its k-th largest is valid and NO Spark job
     runs.  Fallback: decode the rarest term's highest-bound blocks and
     exact-score those docs in one fused job.
  2. PRUNE — over block METADATA ONLY (parquet column pruning never
     reads the compressed payloads): a block of term t survives iff
     ub_block(t) + Σ_{t'≠t} term_ub(t') ≥ θ.  Any doc appearing only in
     pruned blocks has total score < θ and cannot enter the top-k
     (proof: its per-term block bounds are each dominated by the pruning
     inequality of its best term's block).
  3. RESCORE — decode surviving blocks plus the pruned blocks whose
     doc-id range overlaps them (the is_target flag rides through the
     decode kernel; overlap is interval math over the block metadata —
     numpy when it fits the driver, a range filter over the cached
     metadata relation otherwise), exact BM25 via one
     groupBy(doc_id).sum, then TakeOrderedAndProject top-k.  Candidate
     doc ids are NEVER collected.

Below WAND territory, auto mode dispatches to a bounded SINGLE-NODE
serving path (the reference's own regime, scoring.rs:215-288): one
pruned scan+collect job + numpy kernels, gated on doc stats fitting the
driver and driver-sized posting volume; the distributed exact path
covers everything else.

Upper bound per block (param-free metadata max_tf/min_dl, see
index_build.py):  ub = ln(idf) * (k1+1)·max_tf / (max_tf + k1·(1-b+b·min_dl/avg_len)),
clamped to 0 when ln(idf) < 0 (negative-contribution terms can only
lower scores; 0 stays a valid upper bound).
"""

from __future__ import annotations

import bisect
import glob
import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig
from tf_idf_vectorizer_spark.operators.codec import decode_varint

_DECODE_SCHEMA = "term_id long, doc_id long, tf long, gen int"
_TOPK_SCHEMA = "doc_id long, score double, doc_len long"
_KDF_SCHEMA = "term_id long, salt int, block_seq int, gen int, is_target boolean"
# gen is part of the physical block identity: pack_blocks_jvm restarts
# block_seq per generation, so after apply_batch the same (term_id,
# salt, block_seq) exists once PER GEN — keys without gen would join one
# metadata row onto several blocks and double-count their scores
_KEY_COLS = ["term_id", "salt", "block_seq", "gen"]
# doc-id ranges pushed down as one OR predicate; past this many, their
# envelope (a looser but still sound filter)
_RANGE_PRED_MAX = 256
# WAND metadata-source LRU entries per index; a distributed entry pins
# one cached relation in executor memory until evicted
_WAND_CACHE_MAX = 4


def _arrow_df(spark: SparkSession, data, schema: str) -> DataFrame:
    """Small local relation via pandas+Arrow.  createDataFrame on a
    Python row list is backed by a parallelized RDD: its collect() runs
    a ~0.35 s Spark job and broadcasting it adds a stage; the Arrow
    path plans as a literal LocalRelation — collect ~10 ms, broadcast
    folded at plan time (measured, local[32]).  Every k-row result and
    every per-query side table (term idf maps, seed keys, credits) goes
    through here.  ``data``: row list or prebuilt pandas frame."""
    if not isinstance(data, pd.DataFrame):
        names = [c.strip().split()[0] for c in schema.split(",")]
        data = pd.DataFrame(list(data), columns=names)
    return spark.createDataFrame(data, schema)


def _range_max(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized max over ``vals[lo_i:hi_i)`` per pair (0.0 where the
    range is empty) — the classic interleaved ``maximum.reduceat`` trick;
    used for doc-range-aligned WAND bounds."""
    out = np.zeros(lo.size)
    ne = lo < hi
    if vals.size == 0 or not ne.any():
        return out
    v = np.append(vals, 0.0)  # sentinel makes index == len(vals) legal
    idx = np.empty(2 * int(ne.sum()), dtype=np.int64)
    idx[0::2] = lo[ne]
    idx[1::2] = hi[ne]
    out[ne] = np.maximum.reduceat(v, idx)[0::2]
    return out


def _merge_ranges(lo: np.ndarray, hi: np.ndarray):
    """Vectorized disjoint merge of inclusive [lo, hi] ranges ->
    (merged_lo, merged_hi) sorted arrays (adjacent ranges coalesce).
    Empty input -> empty output (the boolean-index construction below
    would raise on a 0-length array)."""
    if lo.size == 0:
        return lo.astype(np.int64), hi.astype(np.int64)
    o = np.argsort(lo, kind="stable")
    lo_s, hi_s = lo[o], hi[o]
    cm = np.maximum.accumulate(hi_s)
    new = np.concatenate(([True], lo_s[1:] > cm[:-1] + 1))
    return lo_s[new], np.maximum.reduceat(hi_s, np.flatnonzero(new))


def _overlap_mask(m_lo: np.ndarray, m_hi: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """For each [lo_i, hi_i], does it intersect any merged range?  Only
    the range with the greatest start <= hi_i can (disjoint + sorted)."""
    i = np.searchsorted(m_lo, hi, side="right") - 1
    return (i >= 0) & (m_hi[np.maximum(i, 0)] >= lo)


def _overlap_credit(
    s2: np.ndarray, e2: np.ndarray, u2: np.ndarray,
    qlo: np.ndarray, qhi: np.ndarray,
) -> np.ndarray:
    """Max ``u2`` among blocks ``[s2_i, e2_i]`` (sorted by start,
    POSSIBLY OVERLAPPING) intersecting each query range ``[qlo_j,
    qhi_j]`` — the per-term WAND credit.  One term's blocks are
    doc-range-disjoint only at generation 0; after ``apply_batch`` the
    same term has gen-0 and gen-N blocks with overlapping ranges, so the
    end array is NOT monotone under the start sort and a raw
    ``searchsorted(e2, ...)`` can miss a truly-overlapping high-ub block
    (credit 0 -> unsound prune).  A running max of ends is sorted by
    construction and selects a SUPERSET of the overlapping blocks —
    credit can only grow, so the prune stays sound; at gen 0 ends are
    already monotone and this is the identity."""
    e2m = np.maximum.accumulate(e2)
    lo_idx = np.searchsorted(e2m, qlo, side="left")
    hi_idx = np.searchsorted(s2, qhi, side="right")
    return _range_max(u2, lo_idx, hi_idx)


def _ranges_pred(lo_col: str, hi_col: str, ranges) -> Column:
    """One predicate: the row's [lo_col, hi_col] intersects any of the
    inclusive ``ranges`` (lo_col == hi_col tests point membership).
    Built as ONE SQL expression string — a single py4j call however
    many ranges, where a Column-op chain costs several per range."""
    return F.expr(" OR ".join(
        f"({lo_col} <= {int(hi)} AND {hi_col} >= {int(lo)})" for lo, hi in ranges
    ))


def _collapse_ranges(lo: np.ndarray, hi: np.ndarray) -> list[tuple]:
    """Merged sorted ranges as a pushdown list; past _RANGE_PRED_MAX
    ranges, their single envelope."""
    if lo.size > _RANGE_PRED_MAX:
        return [(int(lo[0]), int(hi[-1]))]
    return list(zip(lo.tolist(), hi.tolist()))


def _candidate_ranges(dense: pd.DataFrame, sp: pd.DataFrame | None, surv: pd.DataFrame):
    """The WAND rescore's merged candidate doc-id ranges: each DENSE
    survivor's [min_doc, max_doc] span, plus the decoded live docs of
    surviving SPARSE blocks (``sp`` postings whose block key is in
    ``surv``) as singleton ranges — a sparse block's span covers nearly
    the whole corpus and would drag every other block back into the
    rescore.  -> (lo, hi) arrays, possibly empty."""
    lo = [dense["min_doc"].to_numpy(np.int64)]
    hi = [dense["max_doc"].to_numpy(np.int64)]
    if sp is not None and len(surv):
        d = sp.merge(surv[_KEY_COLS], on=_KEY_COLS)["doc_id"].to_numpy(np.int64)
        lo.append(d)
        hi.append(d)
    return _merge_ranges(np.concatenate(lo), np.concatenate(hi))


def _bm25_partial(ln_idf, tf, dl, k1: float, b: float, avg_len: float):
    """Canonical BM25 per-posting partial — BIT-IDENTICAL operation
    grouping to the JVM expression
    ``log(idf) * (tf * (k1+1)) / (tf + k1*((1-b) + (b*dl)/avg))``.
    IEEE multiplication/addition are not associative, so every scoring
    path (JVM exact, flagged decode, numpy serving/rescore) must use the
    same grouping AND fold per-doc partials in ascending term_id order,
    or two docs with different inputs can land on the same double in one
    path and one ulp apart in another — splitting top-k ties
    differently between rank-identical paths (observed at 8M entries
    between the distributed exact and WAND plans)."""
    denom = tf + k1 * ((1.0 - b) + (b * dl) / avg_len)
    return ln_idf * (tf * (k1 + 1.0)) / denom


def canonical_fold(partial, term_ids: list[int], key_col: str = "term_id"):
    """Deterministic per-doc score aggregate: fold the per-term score
    partials in ASCENDING term_id order.  IEEE addition is commutative
    but not associative, and a plain ``F.sum`` folds in physical row
    order — which varies per doc with partitioning, so two docs with
    IDENTICAL inputs could differ in the last ulp and split a tie
    differently between two plans (observed: the distributed WAND vs
    exact paths at 8M entries disagreed on the k-th-score tie set).
    The TF relation holds exactly ONE row per (term, doc), so each
    per-term conditional sum is order-free and the explicit
    left-to-right fold is bit-deterministic — the reference's
    single-threaded accumulation order (scoring.rs:428), restated.
    For very wide queries the conditional-agg tree would bloat codegen;
    fall back to a sort-then-fold over collected (term_id, partial)
    structs, same fold order (bit-equal: x+0.0 == 0.0+x == x for every
    reachable partial, so missing-term coalesce and the 0.0 seed agree).

    Shared by every scoring surface — the PackedIndex distributed paths
    AND ExactSearcher (which keys on ``xxhash64(term)``, the same value
    the build assigns as term_id, index_build.py) — so one perimeter
    covers all plans (VERDICT r4 finding #1)."""
    tids = sorted(int(t) for t in term_ids)
    if not tids:
        # no query terms -> the joined relation is empty; keep an
        # aggregate expression so groupBy().agg() stays well-formed
        return F.coalesce(F.sum(partial), F.lit(0.0))
    if len(tids) <= 64:
        parts = [
            F.sum(F.when(F.col(key_col) == t, partial)) for t in tids
        ]
        score = F.coalesce(parts[0], F.lit(0.0))
        for p in parts[1:]:
            score = score + F.coalesce(p, F.lit(0.0))
        return score
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(key_col).alias("t"), partial.alias("p")))
    )
    return F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + x["p"]
    )


def _decode_batch(pdf: pd.DataFrame):
    """Vectorized multi-block decode of one Arrow batch: varint streams
    are self-delimiting, so the concatenated payloads decode in ONE
    numpy pass; a segmented cumsum (the first value of every block is an
    absolute doc id) restores ids with no per-block Python loop.
    -> (n_per_block, doc_ids, tfs) arrays."""
    n = pdf["n"].to_numpy(np.int64)
    deltas = decode_varint(
        b"".join(bytes(x) for x in pdf["doc_deltas"])
    ).astype(np.int64)
    tf = decode_varint(b"".join(bytes(x) for x in pdf["tfs"])).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    total = np.cumsum(deltas)
    corr = np.zeros(len(n), dtype=np.int64)
    corr[1:] = total[starts[1:] - 1]
    return n, total - np.repeat(corr, n), tf


def _decode_blocks_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if not len(pdf):
            continue
        n, docs, tf = _decode_batch(pdf)
        yield pd.DataFrame(
            {
                "term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), n),
                "doc_id": docs,
                "tf": tf,
                "gen": np.repeat(pdf["gen"].to_numpy(np.int64), n).astype(np.int32),
            }
        )


def blocks_overlapping_ids(blocks: DataFrame, bc) -> DataFrame:
    """Blocks whose [min_doc, max_doc] range contains >=1 of the
    broadcast SORTED doc ids.  The range check (vectorized searchsorted)
    runs over METADATA COLUMNS ONLY — the compressed payloads of
    non-matching blocks never cross the Arrow boundary (that boundary is
    the measured scale bottleneck; matching blocks' payloads come back
    via a JVM key join)."""
    key_cols = ["term_id", "salt", "block_seq", "gen"]
    meta = blocks.select(*key_cols, "min_doc", "max_doc")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lo = np.searchsorted(v, pdf["min_doc"].to_numpy())
            ok = (lo < v.size) & (
                v[np.minimum(lo, v.size - 1)] <= pdf["max_doc"].to_numpy()
            )
            yield pdf[ok]

    keys = meta.mapInPandas(check, schema=meta.schema).select(*key_cols)
    return blocks.join(keys, key_cols)


class PackedIndex:
    """Reader over the table set written by build_index."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig = DEFAULT,
        warm: bool = False,
    ):
        from tf_idf_vectorizer_spark.ioutil import recover_dir, table_path

        self.spark = spark
        self.dir = index_dir
        self.config = config
        # meta first: it is the commit pointer — the tables map names the
        # LIVE directory of each table (versioned-table protocol; plain
        # names for fresh builds and pre-protocol indexes)
        with open(f"{index_dir}/meta.json") as fh:
            self.meta = json.load(fh)
        paths = {
            t: table_path(index_dir, self.meta, t)
            for t in ("term_dict", "doc_dict", "postings")
        }
        self._table_paths = paths  # the serving point reader needs them
        for p in paths.values():
            if recover_dir(p):
                # a recovery changed what lives under the path: drop any
                # file listing / cached plan pinned to it (path-keyed)
                spark.catalog.refreshByPath(p)
        # the stored tf already went through the build config's
        # quantize/denorm chain; reading with a different dtype would
        # silently score a different engine's values
        built = self.meta.get("dtype", "f32")
        if built != config.dtype:
            raise ValueError(
                f"index at {index_dir} was built with dtype={built!r}; "
                f"open it with a matching EngineConfig (got {config.dtype!r})"
            )
        # doc_dict shares the postings' committed-generation watermark:
        # a pure-append batch writes its doc rows into the live dir
        # BEFORE the meta commit (O(batch) ingest — no dict rewrite), so
        # rows above the watermark are uncommitted and must stay
        # invisible, exactly like orphan posting rows
        dd = spark.read.parquet(paths["doc_dict"])
        if "gen" in dd.columns:
            dd = dd.filter(
                F.col("gen") <= int(self.meta.get("generation", 0))
            )
        self.doc_dict = dd.cache()
        self.term_dict = spark.read.parquet(paths["term_dict"]).cache()
        self.doc_num = self.meta["doc_num"]
        # avg_len over all docs at query time (scoring.rs:415); an empty
        # corpus has no scorable docs, so any positive placeholder works
        self.avg_len = (
            self.meta["total_len"] / self.doc_num if self.doc_num > 0 else 1.0
        )
        # one relation reused by every query: file listing happens once,
        # per-query filters still prune partitions (bucket=) and row
        # groups (term_id min/max) at scan time.  Rows above the
        # committed-generation watermark are orphans of a crashed batch
        # (the meta write is the commit point) and must stay invisible.
        # explicit schema: an all-empty-docs corpus legitimately has
        # ZERO posting files (doc_dict still holds the docs), and
        # schema inference on the file-less dir would fail the open
        from tf_idf_vectorizer_spark.operators.index_build import (
            POSTINGS_FILE_SCHEMA,
        )

        self._postings_df = spark.read.schema(
            POSTINGS_FILE_SCHEMA
        ).parquet(paths["postings"]).filter(
            F.col("gen") <= int(self.meta.get("generation", 0))
        )
        if warm:
            self.warm()

    @classmethod
    def from_iceberg(
        cls,
        spark: SparkSession,
        namespace: str,
        config: EngineConfig = DEFAULT,
        catalog: str | None = None,
    ) -> "PackedIndex":
        """Open a published index straight out of an Iceberg catalog
        (sources/iceberg.py publish_index).  The term_dict table's
        snapshot id becomes the IDF generation source — the reference's
        ``get_gen_num`` cache-invalidation counter (corpus/mod.rs:95-99
        consumed by the lazy IDF refresh at mod.rs:95-107), here provided
        by the catalog instead of a hand-rolled counter.  Requires the
        iceberg-spark-runtime jar on the classpath (availability-gated,
        like every Iceberg call site)."""
        from tf_idf_vectorizer_spark.sources import iceberg as ice

        catalog = catalog or ice.CATALOG
        if not ice.iceberg_available(spark):
            raise RuntimeError(
                "iceberg-spark-runtime is not on the classpath; open the "
                "parquet index dir with PackedIndex(spark, dir) instead"
            )
        self = cls.__new__(cls)
        self.spark = spark
        self.dir = f"{catalog}.{namespace}"
        self.config = config
        meta_row = ice.read_table(spark, namespace, "meta", catalog).first()
        self.meta = json.loads(meta_row["meta"])
        built = self.meta.get("dtype", "f32")
        if built != config.dtype:
            raise ValueError(
                f"index at {self.dir} was built with dtype={built!r}; "
                f"open it with a matching EngineConfig (got {config.dtype!r})"
            )
        self.doc_dict = ice.read_table(spark, namespace, "doc_dict", catalog).cache()
        self.term_dict = ice.read_table(spark, namespace, "term_dict", catalog).cache()
        self.doc_num = self.meta["doc_num"]
        self.avg_len = (
            self.meta["total_len"] / self.doc_num if self.doc_num > 0 else 1.0
        )
        self._postings_df = ice.read_table(spark, namespace, "postings", catalog)
        self._stats_gen = ice.stats_generation(spark, namespace, catalog)
        return self

    def stats_generation(self) -> int | None:
        """IDF-cache generation counter (reference get_gen_num,
        corpus/mod.rs:95-99): the Iceberg term_dict snapshot id when the
        index is catalog-served, else the parquet meta generation.  A
        caller holding broadcast IDF values rebroadcasts when this moves."""
        if getattr(self, "_stats_gen", None) is not None:
            return self._stats_gen
        return int(self.meta.get("generation", 0))

    # ------------------------------------------------------------------
    def _postings(self) -> DataFrame:
        return self._postings_df

    def warm(
        self, full: bool = True, terms: list[str] | None = None
    ) -> "PackedIndex":
        """Serving-tier warm-up (opt-in at open via warm=True): pin the
        term dictionary and doc stats (when driver-sized), force the
        postings file listing, and drive each query dispatch path once
        on the RAREST corpus term — the cheapest term everywhere, so
        Janino codegen of the scan/decode/score plans, the Arrow collect
        path, and the Python decode workers are all hot before the first
        real query.  Cuts the first query's ~2-3 s cold cost; returns
        self for chaining.

        ``terms``: optionally pre-decode a workload's expected terms
        into the serving LRU (one batched scan; budget-bounded), so
        even their FIRST queries answer from resident postings —
        sub-millisecond on repeated-vocabulary workloads."""
        if self._can_pin_dict():
            self._query_info([])  # builds the pinned term map
        self._doc_stats_np()
        if getattr(self, "_term_map", None):
            # dictionary already pinned driver-side: the rarest term is
            # a Python min over the map — no Spark sort job
            rare = min(
                self._term_map.values(), key=lambda r: (r["df"], r["term"])
            )
        else:
            rare = self.term_dict.orderBy("df", "term").first()
        if rare is None:
            return self
        self.decode_postings([rare["term_id"]]).limit(1).collect()
        if full:
            # serving/driver path: pruned scan + Arrow collect + numpy
            self.bm25_topk_rows([rare["term"]], k=1)
            # WAND planner: metadata collect + flagged decode + rescore
            qinfo = self._query_info([rare["term"]])
            if qinfo:
                self._wand_topk(
                    qinfo, 1, self.config.k1, self.config.b
                ).limit(1).collect()
        if terms and self._doc_stats_np() is not None:
            budget = self._driver_entry_budget() // self.TERM_CACHE_FRACTION
            qinfo = self._query_info(terms)
            picked, vol = [], 0
            for r in sorted(qinfo, key=lambda r: int(r["df"])):
                if vol + int(r["df"]) > budget:
                    break
                picked.append(r["term_id"])
                vol += int(r["df"])
            if picked:
                self._decode_live_driver(picked)
        return self

    # vocab small enough to pin on the driver -> zero-job term lookup;
    # above either bound, each query pays one tiny dictionary-scan job
    # instead.  The byte bound is what actually protects driver RSS
    # (term_bytes is recorded at build time; the Python dict overhead is
    # ~100 bytes/entry on top, which the row bound caps)
    DRIVER_DICT_MAX_TERMS = 2_000_000
    DRIVER_DICT_MAX_BYTES = 256 * 1024 * 1024

    def _can_pin_dict(self) -> bool:
        return (
            self.meta.get("n_terms", 1 << 62) <= self.DRIVER_DICT_MAX_TERMS
            and self.meta.get("term_bytes", 0) <= self.DRIVER_DICT_MAX_BYTES
        )

    def _td_files(self):
        """term_dict parquet files + per-row-group term min/max string
        stats for driver-side dictionary point lookups, or None when
        unavailable (non-local path, pyarrow missing, no stats).  The
        dictionary is written range-partitioned and sorted by term
        (index_build.write_term_dict), so each group's [min, max] is a
        tight term interval; parquet stat TRUNCATION keeps min a prefix
        (<= true min) and max incremented past the true max, so pruning
        on them stays a superset."""
        if hasattr(self, "_td_meta"):
            return self._td_meta
        self._td_meta = None
        path = getattr(self, "_table_paths", {}).get("term_dict")
        if path is None:
            return None
        if path.startswith("file:"):
            path = path[len("file:"):]
        if not path.startswith("/") or not os.path.isdir(path):
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None
        files = sorted(glob.glob(f"{path}/*.parquet"))
        if not files or len(files) > self.PQ_POINT_READ_MAX_FILES:
            return None
        metas = []
        for f in files:
            try:
                pf = pq.ParquetFile(f)
            except Exception:
                return None
            md = pf.metadata
            if md.num_row_groups == 0:
                continue
            rg0 = md.row_group(0)
            names = {
                rg0.column(j).path_in_schema: j for j in range(rg0.num_columns)
            }
            if "term" not in names:
                return None
            ci = names["term"]
            lo, hi, nb = [], [], []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                # compare as RAW BYTES, never decoded strings: byte
                # order == code-point order for valid UTF-8, and stats
                # that were byte-truncated mid-sequence (or contain
                # invalid UTF-8) still compare correctly as prefixes —
                # decoded lone surrogates would sort ABOVE real
                # characters and could wrongly prune a group
                mn, mx = st.min, st.max
                if isinstance(mn, str):
                    mn = mn.encode("utf-8")
                if isinstance(mx, str):
                    mx = mx.encode("utf-8")
                lo.append(mn)
                hi.append(mx)
                nb.append(md.row_group(i).total_byte_size)
            metas.append((pf, lo, hi, nb))
        self._td_meta = metas
        return metas

    def _td_point_lookup(self, terms: list[str]) -> list[dict] | None:
        """Driver-side pyarrow point read of the query terms' dictionary
        rows — no Spark job.  None -> caller falls back to the
        distributed filter+collect."""
        metas = self._td_files()
        if metas is None:
            return None
        ts = sorted(set(terms))
        if not ts:
            return []
        # stats are raw UTF-8 bytes (see _td_files) — encode the query
        # terms so the interval comparison happens in the byte domain
        ts_b = sorted(t.encode("utf-8") for t in set(terms))
        sel, total = [], 0
        for pf, lo, hi, nb in metas:
            gs = [
                i
                for i in range(len(lo))
                # any query term inside [lo_i, hi_i]?  ts_b is sorted:
                # the first term >= lo_i decides
                if (lambda j: j < len(ts_b) and ts_b[j] <= hi[i])(
                    bisect.bisect_left(ts_b, lo[i])
                )
            ]
            if gs:
                total += sum(nb[i] for i in gs)
                sel.append((pf, gs))
        if total > self.PQ_POINT_READ_MAX_BYTES:
            return None
        if not sel:
            return []
        import pyarrow as pa
        import pyarrow.compute as pc

        tset = pa.array(ts, pa.string())
        out: list[dict] = []
        for pf, gs in sel:
            tbl = pf.read_row_groups(gs, columns=["term", "term_id", "df", "idf"])
            t = tbl.filter(pc.is_in(tbl.column("term"), value_set=tset))
            out.extend(t.to_pylist())
        return out

    def _query_info(self, terms: list[str]) -> list[dict]:
        """Lookup of the query terms' dictionary rows (the broadcast
        'hot dictionary' — a handful of rows per query)."""
        if self._can_pin_dict():
            if not hasattr(self, "_term_map"):
                self._term_map = {
                    r["term"]: r.asDict()
                    for r in self.term_dict.select(
                        "term", "term_id", "df", "idf"
                    ).collect()
                }
            found = [self._term_map[t] for t in set(terms) if t in self._term_map]
            return sorted(found, key=lambda r: r["term"])
        # dictionary too large to pin: point-read the handful of rows
        # driver-side (the dict is term-sorted with row-group stats —
        # one group per query term, no Spark job, no full-dict scan)
        rows_pt = self._td_point_lookup(list(set(terms)))
        if rows_pt is not None:
            return sorted(rows_pt, key=lambda r: r["term"])
        rows = (
            self.term_dict.filter(F.col("term").isin(list(set(terms))))
            .select("term", "term_id", "df", "idf")
            .collect()
        )
        return [r.asDict() for r in sorted(rows, key=lambda r: r["term"])]

    def with_external_stats(self, df_stats: DataFrame, doc_num: int) -> "PackedIndex":
        """Score THIS index's documents with ANOTHER corpus's DF/IDF
        stats — the reference's corpus separation (`set_corpus_ref`,
        mod.rs:89-92; README.md:15), now on the packed path (parity with
        ExactSearcher.with_external_stats).  Doc-side postings / doc_len
        / avg_len stay local; df+idf come from the external stats table.
        Index terms missing from the external stats drop out of queries
        (same inner-join semantics as the exact path)."""
        import copy

        from tf_idf_vectorizer_spark.operators.stats import idf_table

        other = copy.copy(self)
        precision = self.meta.get("precision", "f32")
        ext = idf_table(df_stats, doc_num, precision)
        other.term_dict = (
            self.term_dict.select("term_id", "term")
            .join(ext, "term")
            .select("term_id", "term", "df", "idf")
        )
        if hasattr(other, "_term_map"):
            del other._term_map  # re-pin the driver dict from the new table
        # the copy must NOT point-read the LOCAL on-disk term_dict files:
        # its df/idf now come from the external stats table, so disable
        # the driver-side dictionary point lookup on the copy (own dict
        # first — copy.copy shares ours) and drop any cached file metas;
        # _query_info then falls back to the distributed filter over the
        # joined external term_dict, which is correct
        other._table_paths = dict(getattr(self, "_table_paths", {}))
        other._table_paths.pop("term_dict", None)
        if hasattr(other, "_td_meta"):
            del other._td_meta
        return other

    def _blocks_for(self, term_ids: list[int] | None) -> DataFrame:
        """Posting blocks for the given terms (bucket + term_id pruned),
        or the whole postings table when term_ids is None (maintenance
        paths: compact, norms refresh — never a term-dictionary collect)."""
        if term_ids is None:
            return self._postings()
        buckets = sorted({tid % self.meta["term_buckets"] for tid in term_ids})
        return self._postings().filter(
            F.col("bucket").isin(buckets) & F.col("term_id").isin(term_ids)
        )

    def blocks_overlapping_ids(self, blocks: DataFrame, bc) -> DataFrame:
        return blocks_overlapping_ids(blocks, bc)

    def get_tf(self, doc_ids: list[int]) -> DataFrame:
        """Point read: the live TF maps of the given docs ->
        (doc_id, term string, tf).  The reference's get_tf /
        get_tf_into_term_freq (mod.rs:261-309): counts are reconstructed
        through tf_denorm, so they are the EFFECTIVE values — lossy for
        the f16 engine exactly as the reference documents
        (mod.rs:270-271).  Only blocks whose doc range intersects the
        requested ids are decoded (vectorized searchsorted check)."""
        ids = np.sort(np.array(sorted(set(doc_ids)), dtype=np.int64))
        if ids.size == 0:
            return _arrow_df(
                self.spark, [], "doc_id long, term string, tf long"
            )
        bc = self.spark.sparkContext.broadcast(ids)
        hit = self.blocks_overlapping_ids(self._postings(), bc)

        def decode_filtered(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            v = bc.value
            for out in _decode_blocks_iter(batches):
                pos = np.searchsorted(v, out["doc_id"].to_numpy())
                keep = (pos < v.size) & (
                    v[np.minimum(pos, v.size - 1)] == out["doc_id"].to_numpy()
                )
                yield out[keep]

        decoded = hit.select(
            "term_id", "n", "doc_deltas", "tfs", "gen"
        ).mapInPandas(decode_filtered, schema=_DECODE_SCHEMA)
        live = decoded.join(
            self.doc_dict.select("doc_id", "gen"), ["doc_id", "gen"], "left_semi"
        )
        return live.join(self.term_dict.select("term_id", "term"), "term_id").select(
            "doc_id", "term", "tf"
        )

    def decode_postings(self, term_ids: list[int] | None) -> DataFrame:
        """(term_id, doc_id, tf, gen) rows for the given terms (all terms
        when None) — the exact packed read path (no pruning).  tf is the
        EFFECTIVE value (the build applied the config's quantize/denorm
        chain once at pack time), so scorers use it directly."""
        blocks = self._blocks_for(term_ids).select("term_id", "n", "doc_deltas", "tfs", "gen")
        return blocks.mapInPandas(_decode_blocks_iter, schema=_DECODE_SCHEMA)

    # ------------------------------------------------------------------
    @staticmethod
    def _det_score(partial, qinfo: list[dict]):
        """Deterministic per-doc score aggregate — see ``canonical_fold``
        (module level, shared with ExactSearcher so every scoring surface
        sits inside one bit-determinism perimeter)."""
        return canonical_fold(partial, [int(r["term_id"]) for r in qinfo])

    def _score_decoded(
        self,
        decoded: DataFrame,
        qinfo: list[dict],
        k1: float,
        b: float,
    ) -> DataFrame:
        """Exact BM25 over decoded (term_id, doc_id, tf) rows -> (doc_id,
        score, doc_len).  Same expression tree as the exact path
        (scoring.rs:410-435); tf is already the EFFECTIVE value — the
        config's quantize/denorm chain ran once at pack time, so every
        dtype (incl. the reference's default f16, mod.rs:50) matches
        ExactSearcher here."""
        qdf = _arrow_df(
            self.spark,
            [(r["term_id"], float(r["idf"])) for r in qinfo],
            "term_id long, idf double",
        )
        dd_cols = ["doc_id", "doc_len"] + (
            ["gen"] if "gen" in self.doc_dict.columns else []
        )
        join_keys = ["doc_id"] + (["gen"] if "gen" in dd_cols else [])
        joined = decoded.join(F.broadcast(qdf), "term_id").join(
            self.doc_dict.select(*dd_cols), join_keys
        )
        tfd = F.col("tf").cast("double")
        denom = tfd + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("doc_len").cast("double") / F.lit(self.avg_len)
        )
        partial = F.log(F.col("idf")) * (tfd * F.lit(k1 + 1.0)) / denom
        return (
            joined.groupBy("doc_id")
            .agg(
                self._det_score(partial, qinfo).alias("score"),
                F.first("doc_len").alias("doc_len"),
            )
        )

    # below this many posting entries, a single-pass exact decode+score
    # (1 Spark job) beats WAND's planning overhead.  Measured on the
    # round-3 planner (tight pack-time bounds, sparse postings-level
    # pruning, driver rescore) at 5M docs: forced WAND beats exact
    # ~2x on every prunable >=4M-entry query and lands within ~3% of
    # exact on the bound-adversarial iid two-head shape (its <10%-
    # pruned plan falls through to the exact pass, so the downside is
    # one cached metadata fetch).  Expected-case-positive from ~8M
    # entries; callers can still force either mode.
    WAND_THRESHOLD = 8_000_000

    # ---- bounded single-node serving path ----------------------------
    # The reference evaluates queries in one address space (scoring.rs
    # OptimizedDocIter) — its 20 ms/query regime.  When doc stats fit on
    # the driver (<= DRIVER_DOC_STATS_MAX rows ~ a few hundred MB numpy)
    # and the query's posting volume is bounded, the whole query runs as
    # ONE pruned scan+collect job plus numpy kernels: no Python workers,
    # no shuffle, no per-job scheduling floor.  Past either bound the
    # distributed paths take over — this is a serving-tier optimization,
    # not the scale path.
    DRIVER_DOC_STATS_MAX = 10_000_000
    # single-query dispatch bound: past ~2M posting entries the
    # single-threaded numpy kernels lose to the 32-core distributed
    # exact path (measured at 5M docs: driver 10 s vs distributed 3.4 s
    # on an 8.9M-entry query); memory would allow far more
    DRIVER_VOLUME_MAX = 2_000_000
    # batch dispatch bound: one decode per DISTINCT term is shared by
    # every query containing it, so the single-node path stays ahead to
    # much larger total volumes (latency amortizes across the batch).
    # This row bound is additionally clamped by ACTUAL memory headroom
    # (_driver_entry_budget): the decoded arrays plus their
    # np.unique/argsort copies cost ~DRIVER_ENTRY_BYTES per posting
    # entry in the Python driver, and a default-sized spark-submit
    # driver (1g) would OOM long before 20M entries
    DRIVER_BATCH_VOLUME_MAX = 20_000_000
    DRIVER_ENTRY_BYTES = 64

    def _driver_entry_budget(self) -> int:
        """Posting-entry budget for driver-side kernels: the static row
        bound clamped to a quarter of the machine's available memory and
        half the JVM driver heap (the Arrow collect materializes there
        first).  Conservative by design — past the budget the
        distributed paths serve, which is never wrong, only slower at
        serving-tier volumes."""
        budget = self.DRIVER_BATCH_VOLUME_MAX
        try:
            with open("/proc/meminfo") as fh:
                for line in fh:
                    if line.startswith("MemAvailable:"):
                        avail = int(line.split()[1]) * 1024
                        budget = min(
                            budget, (avail // 4) // self.DRIVER_ENTRY_BYTES
                        )
                        break
        except OSError:
            pass
        heap = self.spark.conf.get("spark.driver.memory", None)
        if heap:
            units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
            mult = units.get(heap[-1].lower())
            if mult and heap[:-1].isdigit():
                budget = min(
                    budget, (int(heap[:-1]) * mult // 2) // self.DRIVER_ENTRY_BYTES
                )
        return budget

    def _topandas_arrow(self, df: DataFrame) -> pd.DataFrame:
        """toPandas with the Arrow path FORCED regardless of session
        conf: py4j-pickled collect of wide/binary rows is 10-20x slower
        (measured: 25 s vs ~2 s pinning 5M doc-stat rows)."""
        conf = self.spark.conf
        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = conf.get(key, "false")
        conf.set(key, "true")
        try:
            return df.toPandas()
        finally:
            conf.set(key, prev)

    def _doc_stats_np(self):
        """Pinned (sorted doc_id, doc_len, gen) arrays, or None when the
        corpus exceeds the driver bound."""
        if not hasattr(self, "_dstats"):
            # the pin is ~24 bytes/doc of numpy arrays; the entry budget
            # (memory-derived) additionally protects small drivers
            if self.doc_num > min(
                self.DRIVER_DOC_STATS_MAX, self._driver_entry_budget()
            ):
                self._dstats = None
            else:
                pdf = self._topandas_arrow(
                    self.doc_dict.select("doc_id", "doc_len", "gen")
                )
                ids = pdf["doc_id"].to_numpy(np.int64)
                order = np.argsort(ids, kind="stable")
                self._dstats = (
                    ids[order],
                    pdf["doc_len"].to_numpy(np.float64)[order],
                    pdf["gen"].to_numpy(np.int64)[order],
                )
        return self._dstats

    # decoded-postings LRU budget: fraction of the driver entry budget
    # reserved for the serving tier's per-term cache (a PackedIndex
    # instance is an immutable snapshot — its decoded live postings
    # never change, so caching is unconditionally safe per instance)
    TERM_CACHE_FRACTION = 4

    def _decode_live_driver(self, tids: list[int]) -> dict[int, tuple]:
        """One pruned scan+collect of the terms' blocks; numpy decode +
        liveness filter against the pinned doc stats.  Returns
        {term_id: (doc_ids, tfs, doc_lens)} of LIVE rows.

        Decoded terms land in a bounded per-instance LRU: a PackedIndex
        is a snapshot (incremental commits are read by REOPENING), so a
        term's decoded live postings are immutable for the instance's
        lifetime, and a serving tier's repeated/overlapping queries
        skip the scan job entirely — the reference's in-memory regime
        (OptimizedDocIter over resident postings, scoring.rs).

        The decode is a SINGLE vectorized pass over all blocks: varint
        streams are self-delimiting, so the concatenated payloads decode
        in one call, and a segmented cumsum (first value of every block
        is an absolute doc id) restores ids without any per-block loop.
        The fetch is an Arrow toPandas (py4j-pickled collect of binary
        payloads is the hidden 10x cost at multi-million-entry volumes).
        """
        cache = getattr(self, "_term_postings_cache", None)
        if cache is None:
            cache = self._term_postings_cache = {}
        out: dict[int, tuple] = {}
        missing = []
        for t in tids:
            hit = cache.get(t)
            if hit is not None:
                cache[t] = cache.pop(t)  # LRU touch
                out[t] = hit
            else:
                missing.append(t)
        if not missing:
            return out
        fetched = self._decode_live_driver_fetch(missing)
        budget = self._driver_entry_budget() // self.TERM_CACHE_FRACTION
        for t in missing:
            arrs = fetched.get(t, (np.empty(0, np.int64),
                                   np.empty(0, np.float64),
                                   np.empty(0, np.float64)))
            out[t] = arrs
            cache[t] = arrs
        size = sum(v[0].size for v in cache.values())
        if size > budget:
            # evict oldest-first but SKIP the current query's terms (they
            # were just touched; evicting them would thrash the very
            # entries this call returns) — iterate a snapshot so pops
            # don't invalidate the iterator, and never break early just
            # because an old entry belongs to the query
            protected = set(tids)
            for _k in list(cache.keys()):
                if size <= budget:
                    break
                if _k in protected:
                    continue
                size -= cache.pop(_k)[0].size
        return out

    # serving point reader caps: bytes one driver-side pyarrow fetch may
    # touch (beyond it the distributed scan is the right tool) and the
    # number of salt files worth stat-ing driver-side (a 500k-salt
    # cluster index is executor territory, not a serving-tier pin).
    # 128 MB decodes in ~100 ms from page cache — still well under the
    # ~0.3 s executor-scan fallback — and admits a 32-salt index at the
    # default 4 MB row groups (one group read per salt per miss)
    PQ_POINT_READ_MAX_BYTES = 128 * 1024 * 1024
    PQ_POINT_READ_MAX_FILES = 4096

    def _pq_files(self):
        """Postings parquet files + per-file row-group term_id stats for
        the driver point reader, or None when unavailable (non-local
        path, Iceberg-served, pyarrow missing, no stats).  The postings
        files are sorted by (term_id, block_seq) and written with
        bounded row groups (EngineConfig.pq_rowgroup_bytes), so the
        per-group min/max term_id stats are a coarse term index: a
        cache-miss fetch of a rare term reads ~one group per salt file
        (a few hundred KB) with NO Spark job — the executor scan path
        stays the fallback and the only tool past the byte cap."""
        if hasattr(self, "_pq_meta"):
            return self._pq_meta
        self._pq_meta = None
        path = getattr(self, "_table_paths", {}).get("postings")
        if path is None:
            return None
        if path.startswith("file:"):
            path = path[len("file:"):]
        if not path.startswith("/") or not os.path.isdir(path):
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None
        files = sorted(glob.glob(f"{path}/salt=*/*.parquet"))
        if not files or len(files) > self.PQ_POINT_READ_MAX_FILES:
            return None
        metas = []
        for f in files:
            try:
                pf = pq.ParquetFile(f)
            except Exception:
                return None
            md = pf.metadata
            if md.num_row_groups == 0:
                continue
            try:
                salt = int(f.split("salt=")[-1].split("/")[0])
            except ValueError:
                return None
            rg0 = md.row_group(0)
            names = {
                rg0.column(j).path_in_schema: j for j in range(rg0.num_columns)
            }
            if "term_id" not in names or "block_seq" not in names:
                return None
            ci, bi = names["term_id"], names["block_seq"]
            lo, hi, blo, bhi, nb = [], [], [], [], []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(ci).statistics
                bs = md.row_group(i).column(bi).statistics
                if (
                    st is None or not st.has_min_max
                    or bs is None or not bs.has_min_max
                ):
                    return None
                lo.append(st.min)
                hi.append(st.max)
                blo.append(bs.min)
                bhi.append(bs.max)
                nb.append(md.row_group(i).total_byte_size)
            metas.append(
                (
                    pf,
                    salt,
                    np.array(lo, dtype=np.int64),
                    np.array(hi, dtype=np.int64),
                    np.array(blo, dtype=np.int64),
                    np.array(bhi, dtype=np.int64),
                    np.array(nb, dtype=np.int64),
                )
            )
        self._pq_meta = metas
        return metas

    def _pq_point_fetch(self, tids: list[int]) -> pd.DataFrame | None:
        """Driver-side point read of the given terms' posting blocks
        via pyarrow row-group pruning; None -> caller falls back to the
        executor scan.  Applies the committed-generation watermark
        (orphan rows of a crashed batch stay invisible, exactly like
        the Spark relation's filter)."""
        metas = self._pq_files()
        if metas is None:
            return None
        ts = np.array(sorted({int(t) for t in tids}), dtype=np.int64)
        cols = ["term_id", "n", "doc_deltas", "tfs", "gen"]
        sel, total = [], 0
        for pf, _salt, lo, hi, _blo, _bhi, nb in metas:
            # groups are term-sorted and disjoint: group i holds one of
            # our terms iff the smallest query term >= lo_i is <= hi_i
            pos = np.searchsorted(ts, lo)
            ok = (pos < ts.size) & (ts[np.minimum(pos, ts.size - 1)] <= hi)
            gs = np.flatnonzero(ok)
            if gs.size:
                total += int(nb[gs].sum())
                sel.append((pf, gs.tolist()))
        if total > self.PQ_POINT_READ_MAX_BYTES:
            return None
        if not sel:
            return pd.DataFrame(columns=cols)
        import pyarrow as pa
        import pyarrow.compute as pc

        # filter to the matching rows IN ARROW before any pandas
        # conversion: to_pandas materializes a Python bytes object per
        # payload row, and a row group holds thousands of rows for the
        # ~dozen that match (measured 0.11 s/query in to_pandas alone)
        tset = pa.array(ts, pa.int64())
        wm = int(self.meta.get("generation", 0))
        parts = []
        for pf, gs in sel:
            tbl = pf.read_row_groups(gs, columns=cols)
            mask = pc.and_(
                pc.is_in(tbl.column("term_id"), value_set=tset),
                pc.less_equal(tbl.column("gen"), wm),
            )
            parts.append(tbl.filter(mask))
        # files written by different jobs (merge inputs, incremental
        # appends) can disagree on nullability flags — normalize to the
        # first part's types before concat; any real type clash falls
        # back to the executor scan rather than failing the query
        try:
            if len(parts) > 1:
                target = pa.schema(
                    [pa.field(f.name, f.type) for f in parts[0].schema]
                )
                parts = [p.cast(target) for p in parts]
            return pa.concat_tables(parts).to_pandas()
        except pa.ArrowInvalid:
            return None

    def _pq_point_fetch_keys(self, cand: pd.DataFrame) -> pd.DataFrame | None:
        """Driver-side point read of an EXPLICIT candidate block-key set
        (term_id, salt, block_seq, gen) — the WAND rescore's fetch.  The
        generic term fetch above reads every block of a term; after
        pruning, the candidates are a small block_seq range per
        (term, salt), and the files are sorted by (term_id, block_seq),
        so per-group (term_id, block_seq) min/max stats prune the read
        down to the candidate row groups.  The exact key membership is
        applied after conversion (candidate sets are a few thousand
        rows).  Returns rows for a superset of the candidate keys —
        the caller merges on the full key — or None (no local files /
        byte cap exceeded) for the executor-scan fallback."""
        metas = self._pq_files()
        if metas is None or not len(cand):
            return None
        ct_all = cand["term_id"].to_numpy(np.int64)
        cb_all = cand["block_seq"].to_numpy(np.int64)
        cs_all = cand["salt"].to_numpy(np.int64)
        ts = np.unique(ct_all)
        cols = ["term_id", "block_seq", "n", "doc_deltas", "tfs", "gen"]
        sel, total = [], 0
        for pf, salt, lo, hi, blo, bhi, nb in metas:
            m = cs_all == salt
            if not m.any():
                continue
            ct, cb = ct_all[m], cb_all[m]
            gs = [
                i
                for i in range(lo.size)
                if (
                    (ct >= lo[i]) & (ct <= hi[i])
                    & (cb >= blo[i]) & (cb <= bhi[i])
                ).any()
            ]
            if gs:
                total += int(nb[gs].sum())
                sel.append((pf, salt, gs))
        if total > self.PQ_POINT_READ_MAX_BYTES:
            return None
        if not sel:
            return pd.DataFrame(columns=cols + ["salt"])
        import pyarrow as pa
        import pyarrow.compute as pc

        tset = pa.array(ts, pa.int64())
        wm = int(self.meta.get("generation", 0))
        parts = []
        for pf, salt, gs in sel:
            tbl = pf.read_row_groups(gs, columns=cols)
            mask = pc.and_(
                pc.is_in(tbl.column("term_id"), value_set=tset),
                pc.less_equal(tbl.column("gen"), wm),
            )
            t = tbl.filter(mask)
            parts.append(
                t.append_column("salt", pa.array([salt] * len(t), pa.int64()))
            )
        try:
            if len(parts) > 1:
                target = pa.schema(
                    [pa.field(f.name, f.type) for f in parts[0].schema]
                )
                parts = [p.cast(target) for p in parts]
            return pa.concat_tables(parts).to_pandas()
        except pa.ArrowInvalid:
            return None

    def _decode_live_driver_fetch(self, tids: list[int]) -> dict[int, tuple]:
        sids, dls, gens = self._doc_stats_np()
        pdf = self._pq_point_fetch(tids)
        if pdf is None:
            pdf = self._topandas_arrow(
                self._blocks_for(tids).select(
                    "term_id", "n", "doc_deltas", "tfs", "gen"
                )
            )
        if not len(pdf):
            return {}
        n, dids, tf_i = _decode_batch(pdf)
        tf = tf_i.astype(np.float64)
        term = np.repeat(pdf["term_id"].to_numpy(np.int64), n)
        gen = np.repeat(pdf["gen"].to_numpy(np.int64), n)
        pos = np.searchsorted(sids, dids)
        pc = np.minimum(pos, sids.size - 1)
        ok = (pos < sids.size) & (sids[pc] == dids) & (gens[pc] == gen)
        dids, term, tf, dl = dids[ok], term[ok], tf[ok], dls[pc[ok]]
        order = np.argsort(term, kind="stable")
        term_s = term[order]
        dids_s, tf_s, dl_s = dids[order], tf[order], dl[order]
        uniq, first = np.unique(term_s, return_index=True)
        bounds = np.append(first[1:], term_s.size)
        return {
            int(u): (dids_s[s:e], tf_s[s:e], dl_s[s:e])
            for u, s, e in zip(uniq, first, bounds)
        }

    @staticmethod
    def _topk_rows(doc_ids, scores, doc_lens, k):
        """(score desc, doc_id asc) top-k over parallel arrays."""
        if doc_ids.size == 0:
            return []
        if doc_ids.size > 4 * k:
            kth = np.partition(scores, doc_ids.size - k)[doc_ids.size - k]
            mask = scores >= kth
            doc_ids, scores, doc_lens = doc_ids[mask], scores[mask], doc_lens[mask]
        order = np.lexsort((doc_ids, -scores))[:k]
        return [
            (int(doc_ids[i]), float(scores[i]), int(doc_lens[i])) for i in order
        ]

    def _bm25_driver_rows(
        self, qinfo: list[dict], k: int, k1: float, b: float
    ) -> list[tuple]:
        """Single-node exact BM25 -> plain (doc_id, score, doc_len)
        rows (rank-identical to the distributed exact path; tested)."""
        tids = [r["term_id"] for r in qinfo]
        idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo}
        live = self._decode_live_driver(tids)
        ids_all, sc_all, dl_all = [], [], []
        for t in sorted(live):  # ascending term_id = canonical fold order
            dids, tf, dl = live[t]
            sc_all.append(
                _bm25_partial(math.log(idf_map[t]), tf, dl, k1, b, self.avg_len)
            )
            ids_all.append(dids)
            dl_all.append(dl)
        if not ids_all:
            return []
        ids = np.concatenate(ids_all)
        uids, inv = np.unique(ids, return_inverse=True)
        sums = np.bincount(inv, weights=np.concatenate(sc_all))
        udl = np.zeros(uids.size)
        udl[inv] = np.concatenate(dl_all)
        return self._topk_rows(uids, sums, udl, k)

    def _bm25_driver(self, qinfo: list[dict], k: int, k1: float, b: float) -> DataFrame:
        rows = self._bm25_driver_rows(qinfo, k, k1, b)
        return _arrow_df(self.spark, rows, _TOPK_SCHEMA)

    def bm25_topk_rows(
        self,
        terms: list[str],
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> list[tuple]:
        """Serving API: top-k as plain (doc_id, score, doc_len) tuples —
        the reference returns an in-memory Hits vec (scoring.rs:39-55),
        and a serving tier wants rows, not a DataFrame handle.  On the
        single-node path this skips the createDataFrame->collect
        roundtrip entirely (one Spark job total); outside its bounds it
        falls back to collecting the distributed result."""
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        qinfo = self._query_info(terms)
        if not qinfo or self.doc_num == 0:
            return []
        mode = self._dispatch(qinfo)
        if mode == "driver":
            return self._bm25_driver_rows(qinfo, k, k1, b)
        return [
            (r["doc_id"], r["score"], r["doc_len"])
            for r in self.bm25_topk(terms, k=k, k1=k1, b=b, mode=mode).collect()
        ]

    def _dispatch(self, qinfo: list[dict]) -> str:
        """SINGLE source of truth for mode='auto' BM25 dispatch, shared
        by the DataFrame (:meth:`bm25_topk`), rows
        (:meth:`bm25_topk_rows`) and batch heavy-peel
        (:meth:`bm25_topk_batch`) paths — volume is known from the
        dictionary lookup, so dispatch costs no job.  Returns
        ``'wand' | 'driver' | 'exact'``."""
        volume = sum(r["df"] for r in qinfo)
        if volume >= self.WAND_THRESHOLD:
            return "wand"
        if self._driver_dispatch_ok(qinfo, volume):
            return "driver"
        return "exact"

    def _driver_dispatch_ok(self, qinfo: list[dict], volume: int) -> bool:
        """Single-node path eligibility.  Baseline: posting volume under
        the measured numpy-vs-cluster crossover AND the doc stats
        pinned.  RESIDENT queries (every term already in the decoded
        LRU) skip the Arrow fetch — the driver's only non-CPU cost — so
        their crossover sits 4x higher (numpy scores ~8M entries in
        ~100 ms; the distributed exact pass costs ~2 s at that volume)."""
        if self._doc_stats_np() is None:
            return False
        budget = self._driver_entry_budget()
        if volume <= min(self.DRIVER_VOLUME_MAX, budget):
            return True
        cache = getattr(self, "_term_postings_cache", {})
        return volume <= min(4 * self.DRIVER_VOLUME_MAX, budget) and all(
            r["term_id"] in cache for r in qinfo
        )

    def bm25_topk(
        self,
        terms: list[str],
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """Top-k BM25 with OR-of-terms candidates (similarity() default
        semantics, scoring.rs:179-188).

        mode='auto' dispatches on Σ df(t) (already known from the
        dictionary lookup — no extra job, see :meth:`_dispatch`): at or
        above WAND_THRESHOLD -> block-max WAND; below it, the single-node
        'driver' path when the doc stats are pinned and the volume is
        driver-sized, else the distributed 'exact' single pass.  All
        three are rank-identical.
        """
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        qinfo = self._query_info(terms)
        if not qinfo or self.doc_num == 0:
            return _arrow_df(self.spark, [], _TOPK_SCHEMA)
        if mode == "auto":
            mode = self._dispatch(qinfo)
        if mode == "driver":
            return self._bm25_driver(qinfo, k, k1, b)
        if mode == "exact":
            return self._exact_topk(qinfo, k, k1, b)
        if mode != "wand":
            raise ValueError(f"mode must be auto|exact|wand|driver, got {mode!r}")
        return self._wand_topk(qinfo, k, k1, b)

    # ------------------------------------------------------------------
    def similarity(
        self,
        algo: str,
        terms,
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> DataFrame:
        """All four reference scorers over the packed index
        (contains/dot/cosine/bm25 — scoring.rs:17-33), OR-of-terms
        candidates.  cosine requires an index built with norms=True."""
        from collections import Counter

        if not isinstance(terms, Counter):
            terms = Counter(terms)
        if algo == "bm25":
            return self.bm25_topk(list(terms.keys()), k=k, k1=k1, b=b)
        qinfo = self._query_info(list(terms.keys()))
        if not qinfo or self.doc_num == 0:
            return _arrow_df(self.spark, [], _TOPK_SCHEMA)
        tids = [r["term_id"] for r in qinfo]
        decoded = self.decode_postings(tids)
        keys = ["doc_id"] + (["gen"] if "gen" in self.doc_dict.columns else [])
        if algo == "contains":
            live = decoded.join(self.doc_dict.select(*keys), keys, "left_semi")
            hits = live.select("doc_id").distinct().withColumn("score", F.lit(1.0))
            out = hits.join(self.doc_dict.select("doc_id", "doc_len"), "doc_id")
            return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

        eff = {
            r["term_id"]: float(self.config.roundtrip_tf([terms[r["term"]]])[0])
            for r in qinfo
        }
        qdf = _arrow_df(
            self.spark,
            [(tid, eff[tid], float(r["idf"])) for tid, r in zip(tids, qinfo)],
            "term_id long, qtf double, idf double",
        )
        dd_cols = list(dict.fromkeys(keys + ["doc_len", "norm"]))
        joined = decoded.join(F.broadcast(qdf), "term_id").join(
            self.doc_dict.select(*dd_cols), keys
        )
        tfd = F.col("tf").cast("double")
        prod = F.col("qtf") * tfd * F.col("idf") * F.col("idf")
        per_doc = joined.groupBy("doc_id").agg(
            F.sum(prod).alias("raw"),
            F.first("doc_len").alias("doc_len"),
            F.first("norm").alias("norm"),
        )
        if algo == "dot":
            out = per_doc.select("doc_id", F.col("raw").alias("score"), "doc_len")
        elif algo == "cosine":
            if not self.meta.get("norms", False):
                raise ValueError(
                    "cosine over the packed index needs build_index(norms=True)"
                )
            norm_q = math.sqrt(
                sum((eff[t] * float(r["idf"])) ** 2 for t, r in zip(tids, qinfo))
            )
            eps = 2.220446049250313e-16
            out = per_doc.select(
                "doc_id",
                (F.col("raw") / (F.lit(norm_q) * F.col("norm") + F.lit(eps))).alias(
                    "score"
                ),
                "doc_len",
            )
        else:
            raise ValueError(f"unknown algorithm {algo!r}")
        return out.filter(~F.isnan("score")).orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(k)

    def bm25_topk_batch(
        self,
        queries: dict,
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """MANY queries in ONE Spark job: -> (query_id, doc_id, score,
        doc_len) with per-query top-k via a window (SURVEY.md §2.8).

        This is the engine's answer to per-query scheduler latency: the
        ~1s local-mode floor amortizes over the whole batch, and at
        cluster scale the postings scan for all queries' terms is one
        pruned pass.  mode='auto' additionally takes the bounded
        single-node path (decode each distinct term once, reuse its
        per-term partials across every query that contains it) when doc
        stats are pinned and total volume is driver-sized."""
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        all_terms = sorted({t for ts in queries.values() for t in ts})
        qinfo = {r["term"]: r for r in self._query_info(all_terms)}
        if mode == "auto":
            # WAND-territory queries (a stop-word query would force the
            # whole batch to decode its postings) peel off and run
            # individually through block-max WAND; the rest share one
            # batch pass.  Dispatch is free — dfs are already known.
            heavy = {
                qid: ts
                for qid, ts in queries.items()
                if self._dispatch([qinfo[t] for t in set(ts) if t in qinfo])
                == "wand"
            }
            if heavy:
                light = {q: ts for q, ts in queries.items() if q not in heavy}
                parts = [
                    self.bm25_topk(ts, k=k, k1=k1, b=b, mode="wand").select(
                        F.lit(int(qid)).cast("long").alias("query_id"),
                        "doc_id", "score", "doc_len",
                    )
                    for qid, ts in heavy.items()
                ]
                if light:
                    parts.append(
                        self.bm25_topk_batch(light, k=k, k1=k1, b=b, mode="auto")
                        .select("query_id", "doc_id", "score", "doc_len")
                    )
                from functools import reduce

                return reduce(DataFrame.unionByName, parts)
        pairs = [
            (int(qid), qinfo[t]["term_id"], float(qinfo[t]["idf"]))
            for qid, ts in queries.items()
            for t in set(ts)
            if t in qinfo
        ]
        if not pairs or self.doc_num == 0:
            return _arrow_df(
                self.spark,
                [],
                "query_id long, doc_id long, score double, doc_len long",
            )
        if mode == "auto":
            volume = sum(r["df"] for r in qinfo.values())
            if (
                volume <= self._driver_entry_budget()
                and self._doc_stats_np() is not None
            ):
                return self._bm25_batch_driver(queries, qinfo, k, k1, b)
        qdf = _arrow_df(
            self.spark, pairs, "query_id long, term_id long, idf double"
        )
        tids = sorted({p[1] for p in pairs})
        decoded = self.decode_postings(tids)
        keys = ["doc_id"] + (["gen"] if "gen" in self.doc_dict.columns else [])
        joined = decoded.join(F.broadcast(qdf), "term_id").join(
            self.doc_dict.select(*(keys + ["doc_len"])), keys
        )
        tfd = F.col("tf").cast("double")
        denom = tfd + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("doc_len").cast("double") / F.lit(self.avg_len)
        )
        partial = F.log(F.col("idf")) * (tfd * F.lit(k1 + 1.0)) / denom
        scored = joined.groupBy("query_id", "doc_id").agg(
            self._det_score(
                partial, [{"term_id": t} for t in tids]
            ).alias("score"),
            F.first("doc_len").alias("doc_len"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )

    def _bm25_batch_driver(
        self, queries: dict, qinfo: dict, k: int, k1: float, b: float
    ) -> DataFrame:
        """Batch single-node path: one pruned scan+collect for ALL
        distinct terms, per-term partial scores computed once and shared
        across queries containing the term."""
        tids = sorted({r["term_id"] for r in qinfo.values()})
        idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo.values()}
        live = self._decode_live_driver(tids)
        partials: dict[int, tuple] = {}
        for t, (dids, tf, dl) in live.items():
            partials[t] = (
                dids,
                _bm25_partial(math.log(idf_map[t]), tf, dl, k1, b, self.avg_len),
                dl,
            )
        out_rows = []
        term_id_of = {term: r["term_id"] for term, r in qinfo.items()}
        for qid, terms in queries.items():
            # ascending term_id = canonical fold order (ties consistent
            # with every other scoring path)
            tl = sorted(term_id_of[t] for t in set(terms) if t in term_id_of)
            parts = [partials[t] for t in tl if t in partials]
            if not parts:
                continue
            ids = np.concatenate([p[0] for p in parts])
            uids, inv = np.unique(ids, return_inverse=True)
            sums = np.bincount(inv, weights=np.concatenate([p[1] for p in parts]))
            udl = np.zeros(uids.size)
            udl[inv] = np.concatenate([p[2] for p in parts])
            out_rows.extend(
                (int(qid), d, s, dl_)
                for d, s, dl_ in self._topk_rows(uids, sums, udl, k)
            )
        return _arrow_df(
            self.spark,
            out_rows,
            "query_id long, doc_id long, score double, doc_len long",
        )

    # ---- in-memory serving: full query surface -----------------------
    def _doc_norms_np(self):
        """Pinned norms aligned with the pinned doc-stat order, or None
        (corpus over the driver bound or index built without norms)."""
        if not self.meta.get("norms", False):
            return None
        if not hasattr(self, "_dnorms"):
            if self._doc_stats_np() is None:
                self._dnorms = None
            else:
                pdf = self._topandas_arrow(
                    self.doc_dict.select("doc_id", "norm")
                )
                ids = pdf["doc_id"].to_numpy(np.int64)
                order = np.argsort(ids, kind="stable")
                self._dnorms = pdf["norm"].to_numpy(np.float64)[order]
        return self._dnorms

    def _eval_ast_np(self, q) -> np.ndarray:
        """query.rs:110-205 as numpy set ops over cached live postings
        (sorted unique doc-id arrays); the universe is the pinned doc
        dictionary."""
        sids, _dls, _gens = self._doc_stats_np()
        if q.op == "none":
            return np.empty(0, np.int64)
        if q.op == "all":
            return sids
        if q.op == "term":
            info = self._query_info([q.term_])
            if not info:
                return np.empty(0, np.int64)
            ids, _tf, _dl = self._decode_live_driver(
                [info[0]["term_id"]]
            )[info[0]["term_id"]]
            return ids  # sorted, unique per (term, doc)
        if q.op == "not":
            return np.setdiff1d(
                sids, self._eval_ast_np(q.children[0]), assume_unique=True
            )
        kids = [self._eval_ast_np(c) for c in q.children]
        out = kids[0]
        for kk in kids[1:]:
            if q.op == "and":
                out = np.intersect1d(out, kk, assume_unique=True)
            else:
                out = np.union1d(out, kk)
        if q.op in ("and", "or"):
            return out
        raise ValueError(q.op)

    def _serving_ready(self, volume: int) -> bool:
        return (
            volume <= min(self.DRIVER_VOLUME_MAX, self._driver_entry_budget())
            and self._doc_stats_np() is not None
        )

    def similarity_rows(
        self,
        algo: str,
        terms,
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> list[tuple]:
        """Serving API for ALL FOUR reference scorers (scoring.rs:17-33)
        over cached postings — plain (doc_id, score, doc_len) rows, no
        Spark job once the terms are resident.  Falls back to the
        distributed similarity() outside the driver bounds.  Semantics
        identical to similarity() (tested): OR-of-terms candidates,
        NaN drop, (score desc, doc_id asc) top-k."""
        from collections import Counter

        if not isinstance(terms, Counter):
            terms = Counter(terms)
        if algo == "bm25":
            return self.bm25_topk_rows(list(terms.keys()), k=k, k1=k1, b=b)
        qinfo = self._query_info(list(terms.keys()))
        if not qinfo or self.doc_num == 0:
            return []
        volume = sum(r["df"] for r in qinfo)
        if not self._serving_ready(volume) or (
            algo == "cosine" and self._doc_norms_np() is None
        ):
            return [
                (r["doc_id"], r["score"], r["doc_len"])
                for r in self.similarity(algo, terms, k=k, k1=k1, b=b).collect()
            ]
        live = self._decode_live_driver([r["term_id"] for r in qinfo])
        if algo == "contains":
            ids = np.unique(
                np.concatenate([live[r["term_id"]][0] for r in qinfo])
            )
            sids, dls, _g = self._doc_stats_np()
            pos = np.searchsorted(sids, ids)
            return self._topk_rows(ids, np.ones(ids.size), dls[pos], k)
        ids_all, sc_all, dl_all = [], [], []
        for r in qinfo:
            dids, tf, dl = live[r["term_id"]]
            qtf = float(self.config.roundtrip_tf([terms[r["term"]]])[0])
            idf = float(r["idf"])
            ids_all.append(dids)
            sc_all.append(qtf * tf * idf * idf)
            dl_all.append(dl)
        ids = np.concatenate(ids_all)
        if ids.size == 0:
            return []
        uids, inv = np.unique(ids, return_inverse=True)
        raw = np.bincount(inv, weights=np.concatenate(sc_all))
        udl = np.zeros(uids.size)
        udl[inv] = np.concatenate(dl_all)
        if algo == "dot":
            return self._topk_rows(uids, raw, udl, k)
        if algo != "cosine":
            raise ValueError(f"unknown algorithm {algo!r}")
        norms = self._doc_norms_np()
        sids, _dls, _g = self._doc_stats_np()
        norm_d = norms[np.searchsorted(sids, uids)]
        norm_q = math.sqrt(
            sum(
                (
                    float(self.config.roundtrip_tf([terms[r["term"]]])[0])
                    * float(r["idf"])
                ) ** 2
                for r in qinfo
            )
        )
        eps = 2.220446049250313e-16
        score = raw / (norm_q * norm_d + eps)
        ok = ~np.isnan(score)
        return self._topk_rows(uids[ok], score[ok], udl[ok], k)

    def search_rows(
        self,
        query: "Query",
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> list[tuple]:
        """Serving API for boolean search (reference search(),
        scoring.rs:191-206): candidates from the AST via numpy set ops
        over cached postings, BM25-scored with the query's leaf terms
        (candidates may score 0.0, e.g. under Not) — no Spark job once
        resident.  Falls back to bm25_search outside driver bounds."""
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        terms = list(query.all_terms().keys())
        qinfo = self._query_info(terms)
        volume = sum(r["df"] for r in qinfo)
        if self.doc_num == 0:
            return []
        if not self._serving_ready(volume):
            return [
                (r["doc_id"], r["score"], r["doc_len"])
                for r in self.bm25_search(query, k=k, k1=k1, b=b).collect()
            ]
        cand = self._eval_ast_np(query)
        if cand.size == 0:
            return []
        sids, dls, _g = self._doc_stats_np()
        scores = np.zeros(cand.size)
        if qinfo:
            live = self._decode_live_driver([r["term_id"] for r in qinfo])
            idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo}
            ids_all, sc_all = [], []
            for t in sorted(live):  # canonical ascending-term_id fold
                dids, tf, dl = live[t]
                sc_all.append(
                    _bm25_partial(
                        math.log(idf_map[t]), tf, dl, k1, b, self.avg_len
                    )
                )
                ids_all.append(dids)
            ids = np.concatenate(ids_all)
            if ids.size:
                uids, inv = np.unique(ids, return_inverse=True)
                sums = np.bincount(inv, weights=np.concatenate(sc_all))
                pos = np.searchsorted(uids, cand)
                pc = np.minimum(pos, uids.size - 1)
                hit = (pos < uids.size) & (uids[pc] == cand)
                scores[hit] = sums[pc[hit]]
        cdl = dls[np.searchsorted(sids, cand)]
        return self._topk_rows(cand, scores, cdl, k)

    # ------------------------------------------------------------------
    def bm25_search(
        self,
        query: "Query",
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> DataFrame:
        """Boolean search over the packed index: candidates from the AST
        (evaluated as doc-id set ops over decoded postings + doc_dict),
        scored with the query's full leaf-term vector — the reference's
        search() (scoring.rs:191-206; candidates may score 0.0, e.g.
        under Not).  Rank-identical to ExactSearcher.search('bm25', ...)."""
        from tf_idf_vectorizer_spark.query.ast import Query  # noqa: F401

        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        terms = list(query.all_terms().keys())
        qinfo = self._query_info(terms)
        cand = self._eval_ast(query)
        if self.doc_num == 0:
            return _arrow_df(self.spark, [], _TOPK_SCHEMA)
        if qinfo:
            scored = self._score_decoded(
                self.decode_postings([r["term_id"] for r in qinfo]), qinfo, k1, b
            )
        else:
            scored = _arrow_df(self.spark, [], _TOPK_SCHEMA)
        hits = (
            cand.join(scored.select("doc_id", "score"), "doc_id", "left")
            .fillna({"score": 0.0})
            .join(self.doc_dict.select("doc_id", "doc_len"), "doc_id", "left")
            .fillna({"doc_len": 0})
        )
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _term_docs(self, term: str) -> DataFrame:
        info = self._query_info([term])
        if not info:
            return self.doc_dict.select("doc_id").limit(0)
        decoded = self.decode_postings([info[0]["term_id"]])
        # liveness: only current-generation rows count
        keys = ["doc_id"] + (["gen"] if "gen" in self.doc_dict.columns else [])
        live = decoded.join(self.doc_dict.select(*keys), keys, "left_semi")
        return live.select("doc_id").distinct()

    def _eval_ast(self, q: "Query") -> DataFrame:
        """query.rs:110-205 as DataFrame set ops over the packed index."""
        from functools import reduce

        all_docs = self.doc_dict.select("doc_id")
        if q.op == "none":
            return all_docs.limit(0)
        if q.op == "all":
            return all_docs
        if q.op == "term":
            return self._term_docs(q.term_)
        if q.op == "not":
            return all_docs.join(self._eval_ast(q.children[0]), "doc_id", "left_anti")
        kids = [self._eval_ast(c) for c in q.children]
        if q.op == "and":
            return reduce(lambda a, b: a.join(b, "doc_id", "left_semi"), kids)
        if q.op == "or":
            return reduce(DataFrame.unionByName, kids).distinct()
        raise ValueError(q.op)

    # ------------------------------------------------------------------
    def _tight_bounds_ok(self, k1: float, b: float) -> bool:
        """True when the pack-time ``max_score`` column is a VALID (and
        tight — achieved by a real doc) per-block bound for this query:
        nothing moved idf/avg_len since the build (generation 0) and the
        query runs the build's (k1, b)."""
        m = self.meta
        return (
            bool(m.get("tight_bounds", False))
            and int(m.get("generation", 0)) == 0
            and float(m.get("k1", float("nan"))) == float(k1)
            and float(m.get("b", float("nan"))) == float(b)
            and "max_score" in self._postings().columns
        )

    def _block_ub(
        self, idf_map: dict[int, float], k1: float, b: float, tight: bool = False
    ):
        """Column expr: BM25 upper bound of a block from its metadata.
        The (max_tf, min_dl) formula bound is always valid; when
        ``tight`` (see _tight_bounds_ok) the pack-time true max impact
        is at most that, so the min of the two is both valid and
        strictly better on uniform-tf corpora."""
        idf_col = F.create_map(
            *[F.lit(x) for pair in idf_map.items() for x in pair]
        )[F.col("term_id")]
        ln_idf = F.log(idf_col)
        mt = F.col("max_tf").cast("double")
        denom = mt + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("min_dl").cast("double") / F.lit(self.avg_len)
        )
        raw = ln_idf * (mt * F.lit(k1 + 1.0)) / denom
        ub = F.when(ln_idf <= 0, F.lit(0.0)).otherwise(raw)
        if tight:
            ub = F.least(ub, F.col("max_score"))
        return ub

    # above this many block-metadata rows for the query's terms, WAND
    # plans over the distributed metadata source (driver can't hold the
    # metadata); below it, over the driver source (see _wand_source)
    META_COLLECT_MAX = 200_000
    # ride the rare term's tf payload with the metadata collect (for the
    # job-free driver θ) only while it stays driver-sized (~2 bytes/row)
    DRIVER_THETA_MAX_DF = 200_000
    # distributed source: survivor sets up to this size collect precisely
    # (exact candidate ranges + block_seq pushdown); above it, per-salt
    # envelopes + sparse singletons (class attr so tests can force the
    # envelope branch at toy scale)
    DIST_SURV_COLLECT_MAX = 100_000

    def _exact_topk(self, qinfo: list[dict], k: int, k1: float, b: float) -> DataFrame:
        """The plain exact single pass — mode='exact', and every WAND
        escape: by the pruning proof it selects the same top-k as any
        sound prune, so WAND falls back to it whenever pruning cannot
        pay (no θ, nothing pruned, no candidate range)."""
        scored = self._score_decoded(
            self.decode_postings([r["term_id"] for r in qinfo]), qinfo, k1, b
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _wand_source(
        self, qinfo: list[dict], idf_map: dict[int, float], k1: float, b: float,
        tight: bool,
    ):
        """The query's block-metadata source, through ONE bounded LRU of
        source entries (block metadata is immutable per generation, so
        repeated vocabularies plan job-free; the sparse payload rides
        in the same entry).  Driver source when the metadata fits
        META_COLLECT_MAX, the cached distributed relation otherwise.

        The choice costs no job while the dictionary can bound it: at
        generation 0 every posting row is live, so each term holds
        ceil(df/block_size) full blocks plus at most one partial block
        per salt — past META_COLLECT_MAX even for that bound, plan
        distributed without touching the metadata; below it, fetch
        WITHOUT a .limit() guard (the guard forces a single-partition
        exchange — measured 2x the whole fetch cost).  After
        incremental batches stale generations keep rows df can't see,
        so gen > 0 fetches guarded and goes distributed on overflow."""
        tids = sorted(idf_map)
        sparse_ids = self._sparse_query_terms(qinfo)
        gen = int(self.meta.get("generation", 0))
        key = (tuple(sorted(idf_map.items())), tuple(sparse_ids), tight,
               float(k1), float(b), gen)
        cache = self.__dict__.setdefault("_wand_cache", {})

        def cached(kind: str):
            ent = cache.pop((kind,) + key, None)
            if ent is not None:
                cache[(kind,) + key] = ent  # LRU touch (move to end)
            return ent

        def put(kind: str, ent):
            # evicted distributed entries unpersist, so the bound holds
            # in executor memory, not just in entry count
            while len(cache) >= _WAND_CACHE_MAX:
                cache.pop(next(iter(cache))).release()
            cache[(kind,) + key] = ent
            return ent

        def meta_df() -> DataFrame:
            # metadata columns only: parquet column pruning never reads
            # the compressed payloads
            cols = _KEY_COLS + ["n", "min_doc", "max_doc", "max_tf", "min_dl"]
            return self._blocks_for(tids).select(
                *cols, *(["max_score"] if tight else [])
            ).withColumn("ub", self._block_ub(idf_map, k1, b, tight))

        n_salts = int(self.meta.get("n_salts", 1) or 1)
        est_blocks = sum(
            -(-int(r["df"]) // self.config.block_size) for r in qinfo
        ) + n_salts * len(qinfo)
        if gen != 0 or est_blocks <= self.META_COLLECT_MAX:
            ent = cached("driver")
            if ent is None:
                # Arrow fetch: a head query's metadata is 10^4-10^5 rows,
                # and a py4j row collect of that costs 1-2 s — more than
                # the pruning could ever save
                mp = self._topandas_arrow(
                    meta_df() if gen == 0
                    else meta_df().limit(self.META_COLLECT_MAX + 1)
                )
                if len(mp) <= self.META_COLLECT_MAX:
                    ent = put("driver", _DriverSource(
                        self, mp, self._sparse_postings_np(sparse_ids, idf_map, k1, b),
                        sparse_ids,
                    ))
            if ent is not None and ent.n_blocks() <= self.META_COLLECT_MAX:
                return ent
        ent = cached("dist")
        if ent is None:
            ent = put("dist", _DistSource(
                self, tids, meta_df().cache(),
                self._sparse_postings_np(sparse_ids, idf_map, k1, b), sparse_ids,
            ))
        return ent

    def _wand_topk(self, qinfo: list[dict], k: int, k1: float, b: float) -> DataFrame:
        """Block-max WAND, ONE planner over two block-metadata sources
        (:meth:`_wand_source`): sparse fetch -> θ -> prune -> candidate
        ranges -> candidate blocks -> rescore.  The sources differ only
        in where the metadata lives and how the prune reads it:

          * driver — an Arrow-fetched pandas frame; exact doc-range-
            aligned credits (_overlap_credit / _range_max);
          * distributed — a cached DataFrame for head-term territory;
            the segment-grid credits (_seg_summary / _seg_survivors_from,
            a binned max-score bound), with θ from metadata computed in
            a background thread while the grid summary job runs.

        Each decode pass reads one block set with an is_target flag
        propagated through the decode kernel, so candidate membership
        needs no extra collect.  SPARSE terms (df driver-sized, see
        _sparse_query_terms) are decoded on the driver; they give what
        no block metadata can — θ floors (each posting scored with its
        block's max_dl is a real doc's score LOWER bound), per-POSTING
        credit (a sparse term's blocks span huge doc ranges and would
        credit every other block), and singleton candidate ranges."""
        tids = [r["term_id"] for r in qinfo]
        idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo}
        tight = self._tight_bounds_ok(k1, b)
        nonneg = min(float(r["idf"]) for r in qinfo) > 1.0
        src = self._wand_source(qinfo, idf_map, k1, b, tight)
        sp = src.sp

        theta = -math.inf
        if nonneg and sp is not None:
            # θ from sparse floors: doc_len <= its block's max_dl and the
            # other terms only add when every ln(idf) > 0, so the k-th
            # largest floor of one term is a valid θ — job-free
            for _t, fl in sp.groupby("term_id", sort=False)["floor"]:
                fl = fl.to_numpy(np.float64)
                if fl.size >= k and math.isfinite(fl[0]):
                    kth_fl = np.partition(fl, fl.size - k)[fl.size - k]
                    theta = max(theta, float(kth_fl))
        # θ FROM METADATA ALONE, any term size: a block's max_score is
        # ACHIEVED by one of its docs (true per-doc max, index_build.py),
        # blocks of one term hold disjoint docs, and with every
        # ln(idf) > 0 the other terms only add — so the k-th largest
        # max_score among one term's blocks is the k-th member of a set
        # of k REAL docs' score floors.  Started before plan() so the
        # distributed source overlaps it with its grid summary job.
        kth = src.meta_theta(k) if tight and nonneg else None
        nonempty = src.plan()
        if kth is not None:
            theta = max(theta, kth())
        if not nonempty:
            return _arrow_df(self.spark, [], _TOPK_SCHEMA)

        if not math.isfinite(theta):
            # fallback θ pass: exact-score the docs of the rarest term's
            # best-bound blocks (every block overlapping them decoded,
            # only the seeds' docs flagged) in one fused job
            rare = min(qinfo, key=lambda r: (r["df"], r["term"]))
            seeds = src.seeds(
                rare["term_id"], max(4, (4 * k) // self.config.block_size + 1)
            )
            if len(seeds):
                s_lo, s_hi = _merge_ranges(
                    seeds["min_doc"].to_numpy(np.int64),
                    seeds["max_doc"].to_numpy(np.int64),
                )
                top = (
                    self._score_flagged_df(
                        src.flagged(s_lo, s_hi, seeds), tids, qinfo, k1, b
                    )
                    .orderBy(F.desc("score"), F.asc("doc_id"))
                    .limit(k)
                    .collect()
                )
                if len(top) >= k:
                    theta = top[-1]["score"]
        if not math.isfinite(theta):
            # no θ means no pruning: the flag machinery would decode
            # everything anyway
            return self._exact_topk(qinfo, k, k1, b)

        surv = src.survivors(theta)
        if surv is None:
            return self._exact_topk(qinfo, k, k1, b)
        if isinstance(surv, DataFrame):
            return src.large_topk(surv, qinfo, k, k1, b)
        if not len(surv):
            return _arrow_df(self.spark, [], _TOPK_SCHEMA)
        if len(surv) >= 0.9 * src.n_blocks():
            # pruning removed (almost) nothing — on bound-adversarial
            # corpora the flag/join machinery would only add overhead
            # over the plain exact pass.  This caps WAND's worst case at
            # exact + the metadata jobs.
            return self._exact_topk(qinfo, k, k1, b)
        # candidate ranges: any top-k doc appears in >=1 surviving block,
        # and its rows in PRUNED blocks are still needed for the exact
        # score — every block overlapping the ranges is decoded
        ranges = _candidate_ranges(
            surv[~surv["term_id"].isin(src.sparse_set)], sp, surv
        )
        if not ranges[0].size:
            # every survivor is a sparse block with no live docs (stale-
            # generation artifact) — never guess at an empty result
            return self._exact_topk(qinfo, k, k1, b)
        if len(tids) == 1:
            # one term: its blocks hold disjoint doc ranges, so a
            # surviving doc's whole posting mass for the query sits in
            # its own (surviving) block — no pruned block participates
            cand = surv.assign(is_target=True)
        else:
            cand = src.candidates(ranges[0], ranges[1], surv)
        return self._rescore_topk(cand, ranges, qinfo, idf_map, k1, b, k)

    def _rescore_topk(
        self,
        cand: pd.DataFrame,
        ranges: tuple,
        qinfo: list[dict],
        idf_map: dict[int, float],
        k1: float,
        b: float,
        k: int,
    ) -> DataFrame:
        """The one rescore gate of the WAND planner.  ``cand``: candidate
        blocks (key columns, n, is_target); ``ranges``: the merged
        candidate doc-id ranges.  When the candidate volume is driver-
        sized and doc stats are pinned, one payload fetch + numpy beats
        the distributed join/agg's shuffles (after pruning the decode is
        usually tiny); past that the flagged distributed rescore, with
        the ranges pushed into the doc_dict scan."""
        flags = cand["is_target"].to_numpy(bool)
        if (
            int(cand["n"].sum())
            <= min(self.DRIVER_VOLUME_MAX, self._driver_entry_budget())
            and self._doc_stats_np() is not None
        ):
            rows = self._rescore_driver_rows(
                cand["term_id"].to_numpy(np.int64),
                cand["salt"].to_numpy(np.int32),
                cand["block_seq"].to_numpy(np.int32),
                cand["gen"].to_numpy(np.int32),
                flags, idf_map, k1, b, k,
            )
            return _arrow_df(self.spark, rows, _TOPK_SCHEMA)
        dr = _collapse_ranges(*ranges)
        # The payload files are sorted by (term_id, block_seq), so a
        # min_doc/max_doc predicate cannot prune row groups — but
        # block_seq is doc-id-monotone within (term, salt, gen), so the
        # candidate blocks translate into per-group block_seq INTERVALS
        # whose predicate aligns with the file sort order and prunes the
        # payload IO itself
        grp = cand.groupby(["term_id", "salt", "gen"])["block_seq"].agg(
            ["min", "max"]
        )
        if len(grp) <= _RANGE_PRED_MAX:
            blk = F.expr(" OR ".join(
                f"(term_id = {int(t)} AND salt = {int(s)} AND gen = {int(g)}"
                f" AND block_seq BETWEEN {int(lo)} AND {int(hi)})"
                for (t, s, g), lo, hi in zip(grp.index, grp["min"], grp["max"])
            ))
        else:
            blk = _ranges_pred("min_doc", "max_doc", dr)
        return self._score_flagged_df(
            self._kdf(cand), sorted(idf_map), qinfo, k1, b,
            doc_ranges=dr, block_filter=blk,
        ).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _kdf(self, blocks: pd.DataFrame) -> DataFrame:
        """Broadcast flag relation (block key -> is_target) from a pandas
        frame: the keys ship via Arrow (py4j tuple shipping at 10^5 keys
        costs ~1 s)."""
        return F.broadcast(self.spark.createDataFrame(
            blocks[_KEY_COLS + ["is_target"]].astype(
                {"term_id": np.int64, "salt": np.int32, "block_seq": np.int32,
                 "gen": np.int32, "is_target": bool}
            )
        ))

    def _rescore_driver_rows(
        self,
        term: np.ndarray,
        salt: np.ndarray,
        bseq: np.ndarray,
        gen: np.ndarray,
        flags: np.ndarray,
        idf_map: dict[int, float],
        k1: float,
        b: float,
        k: int,
    ) -> list[tuple]:
        """Driver-side exact rescore of a pruned block set: ONE Arrow
        payload fetch — a pyarrow row-group point read of the candidate
        keys when the index is on a local filesystem (no Spark job at
        all), else a broadcast key join collect (no shuffle) — then
        numpy decode + scoring against the pinned doc stats.  After
        pruning, the candidate volume is tiny — a distributed rescore
        would spend 10-100x the candidate decode cost shuffling the
        doc_dict join.  Requires _doc_stats_np() (driver-sized corpus
        stats), which the caller checks."""
        kdf_pd = pd.DataFrame(
            {
                "term_id": term.astype(np.int64),
                "salt": salt.astype(np.int64),
                "block_seq": bseq.astype(np.int64),
                "gen": gen.astype(np.int64),
                "is_target": flags.astype(bool),
            }
        )
        pdf = self._pq_point_fetch_keys(kdf_pd)
        if pdf is not None:
            # exact key membership + survival flags in one merge (the
            # point read returns a row-group-granular superset)
            pdf = pdf.astype(
                {"term_id": np.int64, "salt": np.int64,
                 "block_seq": np.int64, "gen": np.int64}
            ).merge(kdf_pd, on=["term_id", "salt", "block_seq", "gen"])
        else:
            kdf = F.broadcast(self.spark.createDataFrame(
                kdf_pd.astype({"salt": np.int32, "block_seq": np.int32,
                               "gen": np.int32})
            ))
            tids = sorted(set(term.tolist()))
            pdf = self._topandas_arrow(
                self._blocks_for(tids)
                .join(kdf, ["term_id", "salt", "block_seq", "gen"])
                .select("term_id", "n", "doc_deltas", "tfs", "gen", "is_target")
            )
        if not len(pdf):
            return []
        sids, dls, gens = self._doc_stats_np()
        n, dids, tf_i = _decode_batch(pdf)
        tf = tf_i.astype(np.float64)
        ptid = np.repeat(pdf["term_id"].to_numpy(np.int64), n)
        pgen = np.repeat(pdf["gen"].to_numpy(np.int64), n)
        ptgt = np.repeat(pdf["is_target"].to_numpy(bool), n)
        pos = np.searchsorted(sids, dids)
        pc = np.minimum(pos, sids.size - 1)
        ok = (pos < sids.size) & (sids[pc] == dids) & (gens[pc] == pgen)
        dids, ptid, tf, ptgt = dids[ok], ptid[ok], tf[ok], ptgt[ok]
        dl = dls[pc[ok]]
        # canonical fold: bincount accumulates in row order, so sort the
        # rows by term_id — each doc's partials then add in ascending
        # term_id order, bit-identical to every other scoring path
        didx = pc[ok]  # position in the pinned doc-stats arrays
        o = np.argsort(ptid, kind="stable")
        ptid, tf, ptgt, dl, didx = ptid[o], tf[o], ptgt[o], dl[o], didx[o]
        ln_idf = np.zeros(didx.size)
        for t, v in idf_map.items():
            ln_idf[ptid == t] = math.log(v)
        score = _bm25_partial(ln_idf, tf, dl, k1, b, self.avg_len)
        # group by the PINNED doc index instead of np.unique (which
        # re-sorts the full entry array): bincount over the corpus-sized
        # index is O(entries + n_docs) and accumulates in row order —
        # rows are term_id-sorted above, so each doc's partials still
        # add in ascending term_id order (canonical fold preserved)
        sums = np.bincount(didx, weights=score, minlength=sids.size)
        # candidates: docs appearing in >=1 TARGET (surviving) block
        cand = np.zeros(sids.size, dtype=bool)
        cand[didx[ptgt]] = True
        ci = np.flatnonzero(cand)
        return self._topk_rows(sids[ci], sums[ci], dls[ci], k)

    def _score_flagged_df(
        self,
        kdf: DataFrame,
        tids: list[int],
        qinfo: list[dict],
        k1: float,
        b: float,
        doc_ranges: list[tuple] | None = None,
        block_filter=None,
        kdf_how: str = "inner",
    ) -> DataFrame:
        """Decode the flagged blocks (kdf: block key -> is_target) in one
        job and exact-BM25-score the docs that appear in >=1 target
        block; the flag rides through the decode kernel so candidate
        membership never touches the driver.  ``doc_ranges`` (merged,
        disjoint, covering every doc id the flagged blocks can decode)
        is pushed into the doc_dict scan — with the build's doc-id-
        sorted layout that prunes the dictionary read to the candidate
        row groups instead of the whole corpus.  ``block_filter`` (a
        Column predicate over the postings metadata columns) prunes the
        PAYLOAD scan; with ``kdf_how='left'`` that filter alone selects
        the candidate blocks and kdf only carries the is_target=True
        keys (broadcast by the caller) — the payload relation then
        never shuffles."""
        blocks = self._blocks_for(tids)
        if block_filter is not None:
            blocks = blocks.filter(block_filter)
        blocks = blocks.join(kdf, _KEY_COLS, kdf_how)
        if kdf_how == "left":
            blocks = blocks.fillna({"is_target": False})

        def decode_flagged(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                n, docs, tf = _decode_batch(pdf)
                yield pd.DataFrame(
                    {
                        "term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), n),
                        "doc_id": docs,
                        "tf": tf,
                        "gen": np.repeat(
                            pdf["gen"].to_numpy(np.int64), n
                        ).astype(np.int32),
                        "is_target": np.repeat(
                            pdf["is_target"].to_numpy(bool), n
                        ),
                    }
                )

        decoded = blocks.select(
            "term_id", "n", "doc_deltas", "tfs", "gen", "is_target"
        ).mapInPandas(
            decode_flagged,
            schema="term_id long, doc_id long, tf long, gen int, is_target boolean",
        )
        qdf = _arrow_df(
            self.spark,
            [(r["term_id"], float(r["idf"])) for r in qinfo],
            "term_id long, idf double",
        )
        keys = ["doc_id"] + (["gen"] if "gen" in self.doc_dict.columns else [])
        dd = self.doc_dict.select(*(keys + ["doc_len"]))
        if doc_ranges:
            dd = dd.filter(_ranges_pred("doc_id", "doc_id", doc_ranges))
        joined = decoded.join(F.broadcast(qdf), "term_id").join(dd, keys)
        tfd = F.col("tf").cast("double")
        denom = tfd + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("doc_len").cast("double") / F.lit(self.avg_len)
        )
        partial = F.log(F.col("idf")) * (tfd * F.lit(k1 + 1.0)) / denom
        return (
            joined.groupBy("doc_id")
            .agg(
                self._det_score(partial, qinfo).alias("score"),
                F.first("doc_len").alias("doc_len"),
                F.max("is_target").alias("is_target"),
            )
            .filter(F.col("is_target"))
            .drop("is_target")
        )

    def _sparse_live_mask(self, ids: np.ndarray, gens: np.ndarray):
        """Liveness mask for driver-decoded sparse postings, or None at
        generation 0 (every row live).  At generation > 0 a sparse
        term's payload contains stale rows of overwritten/deleted docs;
        a dead row's θ floor would not correspond to any live doc
        (UNSOUND θ), so rows must be filtered against the pinned doc
        stats before any bound is derived from them."""
        if int(self.meta.get("generation", 0)) == 0:
            return None
        sids, _dls, dgens = self._doc_stats_np()
        pos = np.searchsorted(sids, ids)
        pc = np.minimum(pos, sids.size - 1)
        return (pos < sids.size) & (sids[pc] == ids) & (dgens[pc] == gens)

    def _sparse_query_terms(self, qinfo: list[dict]) -> list[int]:
        """Query terms whose whole postings are worth pulling to the
        driver: df driver-sized AND at least 10x smaller than the
        query's biggest term.  The payload fetch pays off only when a
        genuinely DENSE term's decode can be pruned with it — for a
        query of similar-sized smallish terms the fetch costs as much
        as the decode it would save (measured: a forced-WAND 190k-entry
        mixed query regressed 1.9 -> 2.5 s when a 93k-df term was
        classified sparse).  At generation > 0 (stale rows present) the
        machinery needs the pinned doc stats for liveness filtering —
        available exactly when the corpus is driver-stat-sized."""
        if (
            int(self.meta.get("generation", 0)) != 0
            and self._doc_stats_np() is None
        ):
            return []
        if "max_dl" not in self._postings().columns:
            return []
        max_df = max(int(r["df"]) for r in qinfo)
        out: list[int] = []
        sp_budget = 2 * self.DRIVER_THETA_MAX_DF
        for r in sorted(qinfo, key=lambda r: (r["df"], r["term"])):
            df_t = int(r["df"])
            if (
                df_t <= self.DRIVER_THETA_MAX_DF
                and df_t <= sp_budget
                and df_t * 10 <= max_df
            ):
                out.append(r["term_id"])
                sp_budget -= df_t
        return out

    def _sparse_postings_np(
        self, sparse_ids: list[int], idf_map: dict[int, float], k1: float, b: float
    ) -> pd.DataFrame | None:
        """The ONE sparse decode: fetch the full (driver-sized) postings
        of sparse query terms — one Arrow fetch of their payload blocks,
        one vectorized varint pass — and liveness-filter them.  Returns
        one row per live posting: its block key (term_id, salt,
        block_seq, gen), doc_id, ub (scored with the block's min_dl: an
        upper bound) and floor (with max_dl: a real doc's lower bound),
        sorted by (term_id, doc_id).  None when nothing found."""
        if not sparse_ids:
            return None
        spf = self._topandas_arrow(
            self._blocks_for(sparse_ids).select(
                *_KEY_COLS, "n", "min_dl", "max_dl", "doc_deltas", "tfs"
            )
        )
        if not len(spf):
            return None
        n, ids, tf = _decode_batch(spf)
        tf = tf.astype(np.float64)
        out = pd.DataFrame({c: np.repeat(spf[c].to_numpy(), n) for c in _KEY_COLS})
        out["doc_id"] = ids
        ln_idf = out["term_id"].map(
            {t: math.log(v) for t, v in idf_map.items()}
        ).to_numpy(np.float64)
        pos = ln_idf > 0
        for col, dl, neg in (("ub", "min_dl", 0.0), ("floor", "max_dl", -np.inf)):
            dlv = np.repeat(spf[dl].to_numpy(np.float64), n)
            out[col] = np.where(
                pos,
                ln_idf * (k1 + 1.0) * tf
                / (tf + k1 * (1.0 - b + b * dlv / self.avg_len)),
                neg,
            )
        live = self._sparse_live_mask(ids, out["gen"].to_numpy(np.int64))
        if live is not None:
            out = out[live]
        order = np.lexsort((out["doc_id"].to_numpy(), out["term_id"].to_numpy()))
        return out.iloc[order].reset_index(drop=True)

    #: segment-grid resolution for the distributed WAND's range-aligned
    #: dense credits; the driver-side summary is |query terms| x this
    #: many doubles (a few MB at most), independent of corpus size
    DIST_WAND_SEGMENTS = 8192
    #: a block spanning more than this many segments contributes through
    #: its term's global maximum instead of exploding (only very rare
    #: terms' blocks span widely; those are sparse-credit territory)
    DIST_WAND_WIDE_CAP = 64

    def _sparse_credit_plan(
        self,
        blocks_meta: DataFrame,
        sp_pdf: pd.DataFrame | None,
        sparse_set: set,
        key_cols: list[str],
    ) -> DataFrame:
        """Attach the sparse-term survival credit column to the block
        metadata (lazy plan, no job).  A sparse term's blocks span
        nearly the whole doc-id space, so its global ub would credit
        every block; this join grants it only to blocks that truly
        contain one of its (driver-decoded) docs — salt-equi broadcast
        hash join with the range check as a post-filter, output bounded
        by |query terms| x sparse df."""
        if not sparse_set:
            return blocks_meta.withColumn("sp_credit", F.lit(0.0))
        spdf = F.broadcast(
            self.spark.createDataFrame(
                sp_pdf[["term_id", "salt", "doc_id", "ub"]].rename(
                    columns={"term_id": "sp_tid", "salt": "sp_salt",
                             "ub": "sp_ub"}
                )
            )
        )
        credit = (
            blocks_meta.alias("m")
            .join(
                spdf,
                (F.col("sp_salt") == F.col("m.salt"))
                & (F.col("sp_tid") != F.col("m.term_id"))
                & (F.col("doc_id") >= F.col("m.min_doc"))
                & (F.col("doc_id") <= F.col("m.max_doc")),
            )
            .groupBy(*[F.col(f"m.{c}") for c in key_cols], F.col("sp_tid"))
            .agg(F.max("sp_ub").alias("mx"))
            .groupBy(*key_cols)
            .agg(F.sum("mx").alias("sp_credit"))
        )
        return blocks_meta.join(credit, key_cols, "left").fillna(
            {"sp_credit": 0.0}
        )

    def _seg_summary(
        self, meta2: DataFrame, tids: list[int], sparse_set: set
    ) -> dict | None:
        """Phase 1 of the segment-grid survival plan (see
        :meth:`_seg_survivors_from`): the doc-id space is cut into
        DIST_WAND_SEGMENTS fixed segments and each term's per-segment
        max block ub is aggregated distributed — ONE summary job whose
        output is bounded by |terms| x segments, independent of corpus
        size — then the per-(term, segment) 'others' credit sums are
        computed driver-side in numpy.  Returns the driver-sized grid
        (plus the segmented block relation) or None when the metadata
        relation is empty.  Split from the survivor relation so the θ
        metadata job can run CONCURRENTLY with this summary job (θ is
        only needed by the survival filter, built afterwards), and so
        the caller can estimate the no-prune case from the grid without
        launching the survivor job at all."""
        # grid size from the meta-estimated doc-id span (salts partition
        # the space) — no extra job; a coarse overestimate only loosens
        # the credits, never unsounds them
        hi_est = max(
            1,
            int(self.meta.get("salt_range", 1))
            * int(self.meta.get("n_salts", 1) or 1),
        )
        G = min(self.DIST_WAND_SEGMENTS, hi_est)
        seg_sz = max(1, (hi_est + G) // G)
        cap = self.DIST_WAND_WIDE_CAP
        seg_expr = F.explode(
            F.when(
                F.col("seg_hi") - F.col("seg_lo") > cap,
                F.array(F.lit(-1).cast("long")),
            ).otherwise(F.sequence("seg_lo", "seg_hi"))
        ).alias("seg")
        bm = meta2.withColumn(
            "seg_lo", (F.col("min_doc") / F.lit(seg_sz)).cast("long")
        ).withColumn("seg_hi", (F.col("max_doc") / F.lit(seg_sz)).cast("long"))
        # ONE summary job: wide blocks collapse to seg=-1, narrow blocks
        # explode into their (<= cap+1) segments
        segmax = self._topandas_arrow(
            bm.select("term_id", seg_expr, "ub")
            .groupBy("term_id", "seg")
            .agg(F.max("ub").alias("mx"))
        )
        if not len(segmax):
            return None
        n_seg = max(1, int(segmax["seg"].max()) + 1)
        tlist = sorted(set(int(t) for t in tids))
        tix = {t: i for i, t in enumerate(tlist)}
        cr = np.zeros((len(tlist), n_seg))
        narrow = segmax[segmax["seg"] >= 0]
        if len(narrow):
            ti = narrow["term_id"].map(tix).to_numpy(np.int64)
            sg = narrow["seg"].to_numpy(np.int64)
            cr[ti, sg] = narrow["mx"].to_numpy(np.float64)
        # NO iterrows here: a mixed int64/float64 row upcasts term_id to
        # float64, which is lossy above 2^53 (xxhash64 ids) — column
        # access keeps the exact int64 values
        wide = segmax[segmax["seg"] < 0]
        for t, mx in zip(
            wide["term_id"].to_numpy(np.int64),
            wide["mx"].to_numpy(np.float64),
        ):
            i = tix[int(t)]
            cr[i] = np.maximum(cr[i], float(mx))
        dense_rows = [tix[t] for t in tlist if t not in sparse_set]
        total = (
            cr[dense_rows].sum(axis=0) if dense_rows else np.zeros(n_seg)
        )
        others = np.empty((len(tlist), n_seg))
        for t in tlist:
            i = tix[t]
            others[i] = total - (cr[i] if t not in sparse_set else 0.0)
        return {
            "bm": bm, "seg_expr": seg_expr, "tlist": tlist,
            "cr": cr, "others": others, "n_seg": n_seg,
        }

    def _seg_cell_survival_est(self, summ: dict, sp_max: float, theta: float) -> float:
        """Driver-side, job-free estimate of the surviving fraction from
        the segment grid: a (term, segment) cell's BEST block survives
        iff cr + others + sp_max clears θ, so the fraction of occupied
        cells clearing θ upper-bounds how much the survivor machinery
        could prune.  ~1.0 means pruning would remove (almost) nothing
        — the caller then skips the survivor/candidate jobs entirely
        and takes the plain exact pass, which selects the same top-k
        (both branches are exact; this is a dispatch heuristic only)."""
        cr, others = summ["cr"], summ["others"]
        occ = cr > 0
        n_occ = int(occ.sum())
        if n_occ == 0:
            return 1.0
        alive = (cr + others + sp_max) >= (theta - 1e-9)
        return float((occ & alive).sum()) / n_occ

    def _seg_survivors_from(
        self, summ: dict, sparse_set: set, key_cols: list[str], theta: float
    ) -> DataFrame:
        """Phase 2: the distributed survival relation from the segment
        grid summary.  The per-(term, segment) others sums are BROADCAST
        back and survival is decided inside the exploded pipeline
        (exists a segment of the block where ub + others + sp_credit
        clears θ), so nothing per-block ever lands on the driver or
        shuffles wide.  Sound: a doc in block B lies in one of B's
        segments s, and the t'-block containing it overlaps s, so
        segmax(t', s) >= its contribution; the exists-max over B's
        segments only loosens further.  Blocks spanning >
        DIST_WAND_WIDE_CAP segments use their term's global max
        (seg = -1 rows — sound superset).  Returns the surviving blocks
        with key_cols + n/min_doc/max_doc."""
        tlist, others, n_seg = summ["tlist"], summ["others"], summ["n_seg"]
        pt_max = others.max(axis=1)
        oth_pdf = pd.DataFrame(
            {
                "term_id": np.concatenate(
                    [
                        np.repeat(np.array(tlist, dtype=np.int64), n_seg),
                        np.array(tlist, dtype=np.int64),
                    ]
                ),
                "seg": np.concatenate(
                    [
                        np.tile(np.arange(n_seg, dtype=np.int64), len(tlist)),
                        np.full(len(tlist), -1, dtype=np.int64),
                    ]
                ),
                "oth": np.concatenate([others.ravel(), pt_max]),
            }
        )
        oth_df = F.broadcast(self.spark.createDataFrame(oth_pdf))
        # survival decided inside the exploded pipeline: the only wide
        # operation is the final per-key dedup over rows that ALREADY
        # cleared θ
        return (
            summ["bm"].select(
                *key_cols, "n", "min_doc", "max_doc", "ub", "sp_credit",
                summ["seg_expr"],
            )
            .join(oth_df, ["term_id", "seg"])
            .filter(
                F.col("ub") + F.col("oth") + F.col("sp_credit")
                >= F.lit(theta) - F.lit(1e-9)
            )
            .groupBy(*key_cols)
            .agg(
                F.first("n").alias("n"),
                F.first("min_doc").alias("min_doc"),
                F.first("max_doc").alias("max_doc"),
            )
        )

    def _seg_survivors(
        self,
        meta2: DataFrame,
        tids: list[int],
        sparse_set: set,
        key_cols: list[str],
        theta: float,
    ) -> DataFrame:
        """Both phases composed (summary job + survival relation) — the
        shape the soundness property test pins: grid survival must be a
        superset of the exact range-aligned prune."""
        summ = self._seg_summary(meta2, tids, sparse_set)
        if summ is None:
            return meta2.limit(0)
        return self._seg_survivors_from(summ, sparse_set, key_cols, theta)


# ---------------------------------------------------------------------------
# WAND block-metadata sources (PackedIndex._wand_source picks one; the
# planner, PackedIndex._wand_topk, is shared).  Both answer the same
# questions: metadata θ, seed blocks, survivors of a θ, and the blocks
# overlapping a set of candidate doc-id ranges.
# ---------------------------------------------------------------------------
class _DriverSource:
    """Block metadata as an Arrow-fetched pandas frame (at most
    META_COLLECT_MAX rows).  Prunes with the EXACT doc-range-aligned
    credit; everything is vectorized numpy, no job after the fetch."""

    def __init__(self, idx: PackedIndex, mp: pd.DataFrame, sp, sparse_ids):
        self.idx, self.mp, self.sp = idx, mp, sp
        self.sparse_set = set(sparse_ids) if sp is not None else set()
        self.term = mp["term_id"].to_numpy(np.int64)
        self.lo = mp["min_doc"].to_numpy(np.int64)
        self.hi = mp["max_doc"].to_numpy(np.int64)
        self.ub = mp["ub"].to_numpy(np.float64)

    def release(self) -> None:
        pass

    def n_blocks(self) -> int:
        return len(self.mp)

    def plan(self) -> bool:
        return len(self.mp) > 0

    def meta_theta(self, k: int):
        ms = self.mp["max_score"].to_numpy(np.float64)
        o = np.lexsort((-ms, self.term))
        ts = self.term[o]
        starts = np.flatnonzero(np.concatenate(([True], ts[1:] != ts[:-1])))
        rank = np.arange(ts.size) - np.repeat(
            starts, np.diff(np.append(starts, ts.size))
        )
        kth = ms[o][rank == k - 1]  # per term with >= k blocks
        theta = float(kth.max()) if kth.size else -math.inf
        return lambda: theta

    def seeds(self, tid: int, n: int) -> pd.DataFrame:
        ii = np.flatnonzero(self.term == tid)
        return self.mp.iloc[ii[np.argsort(-self.ub[ii], kind="stable")[:n]]]

    def candidates(self, m_lo, m_hi, targets: pd.DataFrame) -> pd.DataFrame:
        # targets are rows of mp: their index labels flag them
        rows = self.mp[_overlap_mask(m_lo, m_hi, self.lo, self.hi)]
        return rows.assign(is_target=rows.index.isin(targets.index))

    def flagged(self, m_lo, m_hi, targets: pd.DataFrame) -> DataFrame:
        return self.idx._kdf(self.candidates(m_lo, m_hi, targets))

    def survivors(self, theta: float) -> pd.DataFrame:
        """For a doc d in block B of term t, any other term t' can only
        contribute through the ONE t'-block containing d — which must
        overlap B's doc range.  Bounding t' by the max ub of its
        OVERLAPPING blocks (not its global max) is what lets multi-term
        queries prune at all on corpora where per-term global maxima
        are uniform.  Sparse terms credit by their decoded postings:
        only blocks that contain one of their ACTUAL docs."""
        term, lo, hi = self.term, self.lo, self.hi
        sp_terms = {} if self.sp is None else {
            int(t): (g["doc_id"].to_numpy(np.int64), g["ub"].to_numpy(np.float64))
            for t, g in self.sp.groupby("term_id", sort=False)
        }
        empty = (np.empty(0, np.int64), np.empty(0))
        others = np.zeros(term.size)
        for t2 in np.unique(term):
            mask = term != t2
            if int(t2) in self.sparse_set:
                ids2, ub2 = sp_terms.get(int(t2), empty)
                others[mask] += _range_max(
                    ub2,
                    np.searchsorted(ids2, lo[mask], side="left"),
                    np.searchsorted(ids2, hi[mask], side="right"),
                )
                continue
            ii = np.flatnonzero(term == t2)
            srt = ii[np.argsort(lo[ii], kind="stable")]
            # _overlap_credit stays sound for the overlapping block
            # ranges a generation > 0 index has (running-max ends)
            others[mask] += _overlap_credit(
                lo[srt], hi[srt], self.ub[srt], lo[mask], hi[mask]
            )
        # 1e-9 slack absorbs float-order differences between θ's and the
        # bounds' arithmetic — only ever makes pruning LESS aggressive
        return self.mp[self.ub + others >= theta - 1e-9]


class _DistSource:
    """Block metadata as a cached DataFrame, for head-term territory
    where it does not fit the driver.  Only bounded things reach the
    driver: the segment grid (|terms| x DIST_WAND_SEGMENTS), seed block
    metadata, θ, and survivor keys up to DIST_SURV_COLLECT_MAX — past
    that, survivors stay a relation (:meth:`large_topk`)."""

    def __init__(self, idx: PackedIndex, tids, blocks: DataFrame, sp, sparse_ids):
        self.idx, self.tids, self.blocks, self.sp = idx, tids, blocks, sp
        self.sparse_set = set(sparse_ids) if sp is not None else set()
        self.summ = self.count = None
        self.planned = False

    def release(self) -> None:
        self.blocks.unpersist()

    def n_blocks(self) -> int:
        if self.count is None:
            # once per entry: the relation is immutable while cached
            self.count = self.blocks.count()
        return self.count

    def plan(self) -> bool:
        """The segment-grid summary job, once per entry (it does not
        depend on θ or k)."""
        if not self.planned:
            meta2 = self.idx._sparse_credit_plan(
                self.blocks, self.sp, self.sparse_set, _KEY_COLS
            )
            self.summ = self.idx._seg_summary(meta2, self.tids, self.sparse_set)
            self.planned = True
        return self.summ is not None

    def meta_theta(self, k: int):
        """Submitted to a background thread: θ is only consumed by the
        survival filter, so this tiny aggregation overlaps the grid
        summary job instead of running back-to-back with it."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Window

        w = Window.partitionBy("term_id").orderBy(F.desc("max_score"), *_KEY_COLS)
        kth_df = (
            self.blocks.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == k)
            .agg(F.max("max_score"))
        )
        pool = self.idx.__dict__.get("_bg_pool")
        if pool is None:
            pool = self.idx._bg_pool = ThreadPoolExecutor(max_workers=1)
        fut = pool.submit(lambda: kth_df.first()[0])

        def kth() -> float:
            v = fut.result()
            return -math.inf if v is None else float(v)

        return kth

    def seeds(self, tid: int, n: int) -> pd.DataFrame:
        rows = (
            self.blocks.filter(F.col("term_id") == tid)
            .orderBy(F.desc("ub"), *_KEY_COLS)
            .limit(n)
            .select(*_KEY_COLS, "min_doc", "max_doc")
            .collect()
        )
        return pd.DataFrame(
            [tuple(r) for r in rows], columns=_KEY_COLS + ["min_doc", "max_doc"]
        )

    def _overlapping(self, m_lo, m_hi) -> DataFrame:
        return self.blocks.filter(
            _ranges_pred("min_doc", "max_doc", _collapse_ranges(m_lo, m_hi))
        )

    def flagged(self, m_lo, m_hi, targets: pd.DataFrame) -> DataFrame:
        tk = F.broadcast(_arrow_df(
            self.idx.spark, targets[_KEY_COLS].assign(is_target=True), _KDF_SCHEMA
        ))
        return (
            self._overlapping(m_lo, m_hi).select(*_KEY_COLS)
            .join(tk, _KEY_COLS, "left")
            .fillna({"is_target": False})
        )

    def candidates(self, m_lo, m_hi, targets: pd.DataFrame) -> pd.DataFrame:
        cand = self.idx._topandas_arrow(
            self._overlapping(m_lo, m_hi).select(*_KEY_COLS, "n")
        )
        m = cand.merge(
            targets[_KEY_COLS].drop_duplicates(), on=_KEY_COLS, how="left",
            indicator=True,
        )
        return m.drop(columns="_merge").assign(
            is_target=(m["_merge"] == "both").to_numpy()
        )

    def survivors(self, theta: float):
        """Survivor keys (one bounded collect), None when the grid says
        (almost) nothing would be pruned, or — past
        DIST_SURV_COLLECT_MAX — the survivor relation itself."""
        idx = self.idx
        sp_max = 0.0
        if self.sparse_set:
            sp_max = float(self.sp.groupby("term_id")["ub"].max().sum())
        # job-free no-prune detection from the driver-sized grid: when
        # (almost) every occupied cell clears θ, skip the survivor jobs
        if idx._seg_cell_survival_est(self.summ, sp_max, theta) >= 0.97:
            return None
        surviving = idx._seg_survivors_from(
            self.summ, self.sparse_set, _KEY_COLS, theta
        )
        sk = idx._topandas_arrow(surviving.limit(idx.DIST_SURV_COLLECT_MAX + 1))
        return surviving if len(sk) > idx.DIST_SURV_COLLECT_MAX else sk

    def large_topk(self, surviving: DataFrame, qinfo, k, k1, b) -> DataFrame:
        """Survivor set beyond the driver budget: the keys ride as a
        (possibly broadcast) flag relation into a fully distributed
        rescore.  Candidate ranges: per-salt envelopes of the DENSE
        survivors (salts partition the doc-id space, so these are
        disjoint and bounded by n_salts) plus the live docs of surviving
        SPARSE blocks as singletons — a top-k doc that clears θ only
        through a sparse survivor may sit in a salt with no dense
        survivor, and the envelopes alone would filter it out of the
        doc_dict join (silently wrong top-k)."""
        idx, tids = self.idx, self.tids
        surviving = surviving.cache()
        try:
            n_surv = surviving.count()
            if n_surv >= 0.9 * self.n_blocks():
                return idx._exact_topk(qinfo, k, k1, b)
            kdf = surviving.select(*_KEY_COLS).withColumn("is_target", F.lit(True))
            if n_surv <= 2_000_000:
                kdf = F.broadcast(kdf)
            if len(tids) == 1:
                scored = idx._score_flagged_df(kdf, tids, qinfo, k1, b)
            else:
                sparse = F.col("term_id").isin(list(self.sparse_set))
                env = idx._topandas_arrow(
                    surviving.filter(~sparse).groupBy("salt").agg(
                        F.min("min_doc").alias("min_doc"),
                        F.max("max_doc").alias("max_doc"),
                    )
                )
                surv_sp = idx._topandas_arrow(
                    surviving.filter(sparse).select(*_KEY_COLS)
                ) if self.sparse_set else None
                ranges = _candidate_ranges(env, self.sp, surv_sp)
                if not ranges[0].size:
                    return idx._exact_topk(qinfo, k, k1, b)
                dr = _collapse_ranges(*ranges)
                scored = idx._score_flagged_df(
                    kdf, tids, qinfo, k1, b, doc_ranges=dr,
                    block_filter=_ranges_pred("min_doc", "max_doc", dr),
                    kdf_how="left",
                )
            # the result is k rows — materializing it here lets
            # `surviving` be released immediately
            rows = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        finally:
            surviving.unpersist()
        return _arrow_df(idx.spark, [tuple(r) for r in rows], _TOPK_SCHEMA)
