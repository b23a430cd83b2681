"""Seeded inputs for the benchmark workloads.

Everything here is pure Python and a function of the seed alone, so the
same seed gives the same corpus parameters, query stream and batch plan.
The corpora themselves come from the library's own deterministic
generators (``sources.synth``), which take the seed as an argument.

Sizes were chosen so that one run of either workload, including a cold
JVM and three index builds, fits in about a minute on 4 CPUs; index
builds and batches at these sizes cost mostly per-job overhead, the
driver-side posting volumes the queries touch are small, and
the ingest workload scales the dispatch thresholds by the same factor
as its corpus (see ``SCAN_SCALE``).
"""

from __future__ import annotations

import random

# Each workload builds and opens its index this many times over and
# reports the median set-up: the first runs on a cold JVM
SETUP_REPEATS = 3

# --- serve: Zipf corpus, driver-band serving queries ---------------------
SERVE_DOCS = 5_000
SERVE_VOCAB = 50_000
SERVE_MAX_TOKENS = 35
# queries generated per run; the closed loop takes them in order (and
# wraps around if it outruns them), so each seed's latency distribution
# averages over two thousand distinct draws rather than a small pool
SERVE_STREAM = 2_000
# BM25 answers are checked against the exact path in every run; one
# boolean or similarity answer, alternating with the seed, against its
# distributed counterpart
SERVE_CHECKS = {"bm25": 2}
_SERVE_KIND_WEIGHTS = (("bm25", 0.8), ("search", 0.1), ("sim", 0.1))

# --- ingest: crawl-ordered corpus, micro-batches, scan-band reads --------
INGEST_DOCS = 4_000
INGEST_VOCAB = 1_000
INGEST_SITES = 16
# distinct driver-band scan queries per seed: each reader answers all of
# them, so the latency median is over many draws of terms, not a few
INGEST_DRIVER_QUERIES = 96
INGEST_BATCH = 200
# micro-batches per run: one mixed, one append.  A fixed number, so the
# index the reads run against is the same in every run of a seed
INGEST_BATCHES = 2
# readers of the last commit run to the end of the window, and for at
# least this long when the batches used it up
INGEST_MIN_READ_S = 3.0
# The dispatch thresholds (PackedIndex.DRIVER_VOLUME_MAX = 2M and
# WAND_THRESHOLD = 8M entries) are sized for a ~2M-doc crawl.  The ingest
# corpus has the same shape at INGEST_DOCS docs, so the opened indexes get
# both thresholds multiplied by this factor: the three bands then sit at
# the same multiples of the corpus size (1x and 4x) as on the full crawl.
SCAN_SCALE = INGEST_DOCS / 2_000_000


def zipf_term(rng: random.Random, vocab: int) -> str:
    """Draw a term by Zipf popularity with the same log-uniform rank law
    ``synth_corpus`` uses for its tokens (rank = floor(V**u))."""
    return f"t{max(1, int(vocab ** rng.random()))}"


def _distinct_terms(rng: random.Random, vocab: int, n: int) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        t = zipf_term(rng, vocab)
        if t not in out:
            out.append(t)
    return out


def _sexpr(node) -> str:
    if isinstance(node, str):
        return f'"{node}"'
    op, *kids = node
    return "(" + " ".join([op] + [_sexpr(k) for k in kids]) + ")"


def serve_queries(seed: int) -> list[dict]:
    """The serve query stream: mostly 1-4 term BM25 queries, plus boolean
    ``search_rows`` and dot/cosine ``similarity_rows`` queries, all terms
    drawn by Zipf popularity over the corpus vocabulary."""
    rng = random.Random(f"serve-{seed}")
    kinds, weights = zip(*_SERVE_KIND_WEIGHTS)
    out = []
    for qid in range(SERVE_STREAM):
        kind = rng.choices(kinds, weights)[0]
        if kind == "bm25":
            terms = _distinct_terms(rng, SERVE_VOCAB, rng.randint(1, 4))
            out.append({"id": qid, "kind": kind, "terms": terms})
        elif kind == "sim":
            terms = _distinct_terms(rng, SERVE_VOCAB, rng.randint(1, 3))
            algo = rng.choice(("dot", "cosine"))
            out.append({"id": qid, "kind": kind, "terms": terms, "algo": algo})
        else:
            a, b, c = _distinct_terms(rng, SERVE_VOCAB, 3)
            shape = rng.choice((
                ("and", a, b), ("and", a, ("or", b, c)),
                ("and", a, ("not", b)), ("or", a, b),
            ))
            out.append({"id": qid, "kind": kind, "sexpr": _sexpr(shape),
                        "terms": sorted(set(_leaves(shape)))})
    return out


def _leaves(node) -> list[str]:
    if isinstance(node, str):
        return [node]
    return [t for k in node[1:] for t in _leaves(k)]


def serve_check_sample(seed: int, stream: list[dict], window: int = 1000) -> list[dict]:
    """Seeded sample from the head of the stream (queries every run
    executes), re-run through the distributed reference paths after the
    timed loop."""
    rng = random.Random(f"serve-check-{seed}")
    out = []
    checks = {**SERVE_CHECKS, ("search", "sim")[seed % 2]: 1}
    for kind, n in checks.items():
        of_kind = [q for q in stream[:window] if q["kind"] == kind]
        out += rng.sample(of_kind, min(n, len(of_kind)))
    return out


def scan_queries(seed: int) -> list[dict]:
    """Auto-mode OR queries of head (t1, t2, ...) and site (s<g>) terms
    aimed at the three dispatch bands of the ingest corpus:
    ``INGEST_DRIVER_QUERIES`` below the driver threshold, one in the
    distributed-exact band and one at or above the WAND threshold.  Each
    band's queries have a fixed shape, so seeds change which terms are
    drawn but hardly the posting volume.
    Targets follow the generator's expected document frequencies
    (df(t1) ~ 0.72 N, the sum over t1..t20 ~ 4.3 N, a site term ~ N / 16,
    a head ranked 30-400 ~ 0.004-0.05 N); the band each query actually
    lands in is measured from the dictionary and recorded with the run."""
    rng = random.Random(f"scan-{seed}")
    sites = [f"s{g}" for g in range(INGEST_SITES)]
    out = []
    for _ in range(INGEST_DRIVER_QUERIES):
        terms = rng.sample(sites, 2) + [f"t{rng.randint(30, 400)}"]
        out.append({"id": len(out), "band": "driver", "terms": terms})
    out.append({"id": len(out), "band": "exact",
                "terms": ["t1", "t2"] + [f"t{r}" for r in rng.sample(range(3, 9), 2)]
                + rng.sample(sites, 1)})
    out.append({"id": len(out), "band": "wand",
                "terms": [f"t{r}" for r in range(1, 21)] + rng.sample(sites, 2)})
    return out


class IngestPlan:
    """Deterministic micro-batch plan over a corpus of ``base_docs`` docs.

    Even batches are mixed: ``INGEST_BATCH // 2`` new docs, and
    ``INGEST_BATCH // 4`` base docs overwritten and as many deleted.  Odd
    batches append ``INGEST_BATCH`` new docs."""

    def __init__(self, seed: int, base_docs: int = INGEST_DOCS):
        self.seed = seed
        self.next_id = base_docs
        self.base_live = list(range(base_docs))

    def _new_ids(self, n: int) -> list[int]:
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        return ids

    def batch(self, i: int) -> dict:
        rng = random.Random(f"ingest-batch-{self.seed}-{i}")
        text_seed = self.seed * 1000 + i + 1
        if i % 2:
            return {"kind": "append", "add_ids": self._new_ids(INGEST_BATCH),
                    "delete_ids": [], "text_seed": text_seed}
        q = INGEST_BATCH // 4
        touched = rng.sample(self.base_live, 2 * q)
        over, dels = sorted(touched[:q]), sorted(touched[q:])
        gone = set(dels)
        self.base_live = [d for d in self.base_live if d not in gone]
        return {"kind": "mixed", "add_ids": self._new_ids(INGEST_BATCH // 2) + over,
                "delete_ids": dels, "text_seed": text_seed}
