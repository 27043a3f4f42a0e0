"""Top-k kernels over the compressed index: exact vectorized, block-max
WAND and exact phrase.

A kernel scores ONE query over its terms' encoded shard rows: inside an
applyInPandas worker per (query, doc-space group) for `IndexReader.topk`
and `phrase_topk`, or in-process on the driver for
`IndexReader.topk_local`. `run_kernel` is the one dispatch they all call.

- `topk_exact`: decode the query's posting shards, accumulate
  idf * tf_norm per doc with np.add.at (order = sorted-term order, same
  accumulation order as the oracle). No Python-level per-doc loop; right
  choice when pruning can't win (few postings, or every doc is a
  candidate).

- `topk_wand`: document-at-a-time block-max WAND (VLDB'11 style): lists
  sorted by current doc, pivot by cumulative upper bound vs the running
  threshold, block-max check before full evaluation, block-granular
  skipping via block_last_doc + searchsorted. Pruning only discards docs
  that provably score below the k-th best.

- `topk_phrase`: intersect the phrase terms' docs, verify adjacency on
  the decoded position streams, score the phrase terms' BM25 sum.

`topk_auto` picks per query: small candidate volume -> exact; else WAND.

Tie contract: every kernel ends in `tie_cut`. Inside a kernel docs are
doc_idx, and doc_idx follows doc_id only within one index generation (a
delta's docs get doc_idx past every earlier one). So a kernel returns
each generation's top k by (score DESC, doc_idx ASC), cut to the docs
scoring at least its k-th best score: at most k rows per generation,
holding its share of the top k by (score DESC, doc_id ASC). The caller
ranks by doc_id after its docmap lookup. On a single-generation index
that is exactly the top k.
"""

from __future__ import annotations

import heapq

import numpy as np

from connectors_spark.functions.codec import (
    decode_block, decode_shard, decode_shard_positions,
)
from connectors_spark.operators.score import tf_norm_np

EXACT_PATH_MAX_POSTINGS = 1 << 19  # 512k entries: below this, brute numpy wins

# diagnostic: blocks decoded since process start (tests measure skip ratio)
BLOCKS_DECODED = 0


def _theta_seed(shards_by_term: list[tuple[float, list]], k: int) -> float:
    """Safe pre-seed for the WAND threshold (two-level merge, VERDICT r2
    item 7): within ONE term, blocks are doc-disjoint, so the top-k block
    maxima are achieved by k DISTINCT docs, and each achiever's total
    score >= its single-term contribution (other terms add >= 0). Hence
    max over terms of idf * (k-th largest block_max_w) lower-bounds the
    GLOBAL k-th best score — every group kernel may start its threshold
    there and skip blocks it would otherwise evaluate before its local
    heap fills. Returned one float-ulp lower so exact-tie docs (ranked by
    doc ASC) always survive the > theta pruning checks.

    VALID ONLY on a pristine index (no tombstones — the achiever could
    be dead; single generation with unchanged avgdl — stored block maxima
    are then achieved, not just bounds). Callers gate on that."""
    best = -1.0
    for idf, rows in shards_by_term:
        arrs = [np.asarray(row["block_max_w"], dtype=np.float64)
                for row in rows]
        if not arrs:
            continue
        bm = np.concatenate(arrs) if len(arrs) > 1 else arrs[0]
        if len(bm) >= k > 0:
            kth = float(np.partition(bm, len(bm) - k)[len(bm) - k])
            v = idf * kth
            if v > best:
                best = v
    return float(np.nextafter(best, -np.inf)) if best > 0 else -1.0


class ShardCursor:
    """Cursor over one encoded (term, shard) run with block skipping.

    `ub_scale` corrects stored block-max bounds when the live avgdl has
    grown since the shard was encoded: tf_norm(avgdl') <= tf_norm(avgdl) *
    max(1, avgdl'/avgdl), so scaled bounds stay true upper bounds after
    incremental updates (operators/delta.py)."""

    __slots__ = ("row", "idf", "k1", "b", "avgdl", "n", "n_blocks", "ub",
                 "block_i", "docs", "tfs", "dls", "pos", "exhausted", "scale",
                 "bl", "bmw", "gen")

    def __init__(self, row, idf: float, avgdl: float, k1: float, b: float,
                 ub_scale: float = 1.0):
        self.row = row
        self.gen = int(row.get("_gen", 0))
        self.idf = float(idf)
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self.scale = max(1.0, float(ub_scale))
        self.n = int(row["n_docs"])
        # block metadata as ndarrays ONCE: seek() and the metadata
        # fast-forward loop searchsorted these on every skip, and
        # re-materializing them per call dominated kernel time on
        # low-theta queries (the r3 bench regression)
        self.bl = np.asarray(row["block_last_doc"], dtype=np.int64)
        self.bmw = np.asarray(row["block_max_w"], dtype=np.float64)
        self.n_blocks = len(self.bl)
        # list-level upper bound: idf * max block_max_w (scaled)
        self.ub = self.idf * float(self.bmw.max()) * self.scale
        self.block_i = -1
        self.exhausted = False
        self._load_block(0)

    def _load_block(self, bi: int):
        if bi >= self.n_blocks:
            self.exhausted = True
            return
        if bi != self.block_i:
            global BLOCKS_DECODED
            BLOCKS_DECODED += 1
            self.docs, self.tfs, self.dls = decode_block(self.row, bi)
            self.block_i = bi
        self.pos = 0

    def cur_doc(self) -> int:
        return int(self.docs[self.pos])

    def block_ub(self) -> float:
        return self.idf * float(self.bmw[self.block_i]) * self.scale

    def block_last(self) -> int:
        return int(self.bl[self.block_i])

    def score_cur(self) -> float:
        tf, dl = float(self.tfs[self.pos]), float(self.dls[self.pos])
        return self.idf * (tf / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl)))

    def advance(self):
        """Move to the next posting."""
        self.pos += 1
        if self.pos >= len(self.docs):
            self._load_block(self.block_i + 1)

    def seek(self, target: int):
        """Move to the first doc >= target (block-granular skip)."""
        if self.exhausted:
            return
        if self.block_last() < target:
            bi = int(np.searchsorted(self.bl, target))
            if bi >= self.n_blocks:
                self.exhausted = True
                return
            self._load_block(bi)
        p = int(np.searchsorted(self.docs[self.pos:], target)) + self.pos
        if p >= len(self.docs):  # target beyond decoded block (== block_last case)
            self.pos = len(self.docs) - 1
            while not self.exhausted and self.cur_doc() < target:
                self.advance()
        else:
            self.pos = p


def _in_sorted(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Membership of `values` in a sorted array (vectorized)."""
    if len(sorted_arr) == 0:
        return np.zeros(len(values), dtype=bool)
    pos = np.searchsorted(sorted_arr, values)
    pos = np.minimum(pos, len(sorted_arr) - 1)
    return sorted_arr[pos] == values


def tie_cut(keys: np.ndarray, scores: np.ndarray, k: int,
            gens: np.ndarray | None = None) -> np.ndarray:
    """Indices of the rows a top-k keeps, ordered (score DESC, key ASC):
    the top k rows, or with `gens` (each doc_idx key's generation) the
    module docstring's tie contract — each generation's top k, cut to the
    rows scoring at least the k-th best score. Every reader path cuts
    here: the kernels on doc_idx, `IndexReader.topk_local` on doc_id."""
    order = np.lexsort((keys, -scores))
    if gens is None or len(order) <= k or gens.min() == gens.max():
        return order[:k]
    g = gens[order]
    keep = np.zeros(len(order), dtype=bool)
    for gen in np.unique(g):  # a generation's top k: its first k here
        keep[np.flatnonzero(g == gen)[:k]] = True
    order = order[keep]
    return order[scores[order] >= scores[order[k - 1]]]


def _decoded(rows, group_filter=None, dead=None, positions=False):
    """(doc_idx, tf, dl, gen[, positions]) of each encoded row, keeping
    only the docs of doc-space group `group_filter=(G, g)` (doc_idx % G
    == g) that are not in the sorted tombstone array `dead`. gen is the
    row's index generation (`_gen`, 0 when absent)."""
    for row in rows:
        d, tf, dl = decode_shard(row)
        keep = np.ones(len(d), dtype=bool)
        if group_filter is not None:
            keep &= (d % group_filter[0]) == group_filter[1]
        if dead is not None and len(dead):
            keep &= ~_in_sorted(dead, d)
        out = (d[keep], tf[keep], dl[keep], int(row.get("_gen", 0)))
        if positions:
            pos = decode_shard_positions(row, tf=tf)
            if pos is None:
                raise ValueError(
                    "index was built without positions; rebuild with "
                    "with_positions=True for phrase queries")
            out += ([pos[i] for i in np.flatnonzero(keep)],)
        yield out


def topk_exact(shards_by_term: list[tuple[float, list]], k: int,
               avgdl: float, k1: float, b: float,
               dead: np.ndarray | None = None,
               group_filter: tuple[int, int] | None = None,
               require_all: int | None = None):
    """shards_by_term: [(idf, [encoded rows])] in SORTED term order.
    `dead`: sorted doc_idx tombstones — masked out before scoring.
    `group_filter=(G, g)`: score only docs with doc_idx % G == g — the
    doc-space slice owned by this (query, group) partial-top-k task
    (IndexReader.topk). Replicated coarse shards carry out-of-group docs
    whose postings for finer-sharded terms live elsewhere; scoring them
    here would produce partial sums, so they are masked at decode.
    `require_all=n`: conjunctive (ES bool-must) mode — keep only docs
    matched by exactly n query terms (a doc appears once per matching
    term, so its posting count IS its matched-term count). Valid per
    group because every doc's postings for every term share its home
    group."""
    all_docs, all_w, row_gens = [], [], []
    for idf, rows in shards_by_term:
        for d, tf, dl, gen in _decoded(rows, group_filter, dead):
            all_docs.append(d)
            all_w.append(idf * tf_norm_np(tf, dl, avgdl, k1, b))
            row_gens.append(gen)
    if not all_docs:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    docs = np.concatenate(all_docs)
    ws = np.concatenate(all_w)
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, ws)
    gens = None  # per-doc generations: only when the rows span several
    if len(set(row_gens)) > 1:
        gens = np.zeros(len(uniq), dtype=np.int64)
        gens[inv] = np.repeat(row_gens, [len(d) for d in all_docs])
    if require_all is not None:
        keep = np.bincount(inv, minlength=len(uniq)) == require_all
        uniq, acc = uniq[keep], acc[keep]
        gens = gens[keep] if gens is not None else None
    order = tie_cut(uniq, acc, k, gens)
    return uniq[order], acc[order]


def topk_phrase(shards_by_term: list[tuple[float, list]], k: int,
                avgdl: float, k1: float, b: float,
                dead: np.ndarray | None = None,
                group_filter: tuple[int, int] | None = None,
                phrase: list[int] = ()):
    """Exact-phrase top-k. shards_by_term as in `topk_exact`, holding the
    phrase's distinct terms; `phrase` lists the phrase's terms in order
    as indices into it (-1: the term has no rows here, so nothing
    matches). Candidates are intersected starting from the smallest doc
    set, adjacency is checked on the position arrays, and a match scores
    the sum of its distinct terms' idf * tf_norm in sorted-term order."""
    if not phrase or min(phrase) < 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    # per term: doc_idx -> (weight, generation, positions)
    term_docs: list[dict[int, tuple]] = []
    for idf, rows in shards_by_term:
        m: dict[int, tuple] = {}
        term_docs.append(m)
        for d, tf, dl, gen, pos in _decoded(rows, group_filter, dead,
                                             positions=True):
            w = idf * tf_norm_np(tf, dl, avgdl, k1, b)
            for i in range(len(d)):
                m[int(d[i])] = (float(w[i]), gen, pos[i])
    cand = set(min(term_docs, key=len))
    for m in term_docs:
        cand &= m.keys()
    docs, scores, gens = [], [], []
    for doc in cand:
        # positions are sorted unique arrays: the phrase's start set is a
        # C-side sorted intersection per phrase term
        starts = term_docs[phrase[0]][doc][2]
        for i, t in enumerate(phrase[1:], start=1):
            starts = np.intersect1d(starts, term_docs[t][doc][2] - i,
                                    assume_unique=True)
            if starts.size == 0:
                break
        else:
            s = 0.0
            for m in term_docs:
                s += m[doc][0]
            docs.append(doc)
            scores.append(s)
            gens.append(term_docs[0][doc][1])
    docs = np.array(docs, dtype=np.int64)
    scores = np.array(scores, dtype=np.float64)
    order = tie_cut(docs, scores, k, np.array(gens, dtype=np.int64))
    return docs[order], scores[order]


def topk_wand(shards_by_term: list[tuple[float, list]], k: int,
              avgdl: float, k1: float, b: float,
              dead: np.ndarray | None = None,
              group_filter: tuple[int, int] | None = None,
              theta_seed: float = -1.0):
    cursors = [
        ShardCursor(row, idf, avgdl, k1, b,
                    ub_scale=float(row.get("_ub_scale", 1.0)))
        for idf, rows in shards_by_term
        for row in rows
        if int(row["n_docs"]) > 0
    ]
    dead = dead if dead is not None and len(dead) else None
    cursors = [c for c in cursors if not c.exhausted]
    multi_gen = len({c.gen for c in cursors}) > 1
    heap: list[tuple[float, int, int]] = []  # (score, -doc, gen): min-heap
    # docs tied with heap[0]'s score that the heap turned away or pushed
    # out: gen -> -doc of its k smallest such docs (a min-heap on -doc)
    ties: dict[int, list[int]] = {}
    # theta_seed: a caller-provided lower bound on the global k-th best
    # score (see _theta_seed) — the threshold never drops below it, and
    # because it is valid BEFORE the heap fills, seeded runs may skip
    # blocks from the first iteration (every true top-k doc scores above
    # the seed, so none is ever pruned and the heap still reaches k)
    theta = theta_seed
    seeded = theta_seed > -1.0

    def keep_tie(entry: tuple[float, int, int]):
        if not multi_gen:  # one generation: the heap's doc_idx order is final
            return
        if entry[0] < heap[0][0]:  # the k-th score rose past it
            ties.clear()
            return
        t = ties.setdefault(entry[2], [])
        (heapq.heappush if len(t) < k else heapq.heappushpop)(t, entry[1])

    def offer(doc: int, score: float, gen: int):
        nonlocal theta
        # theta is kept ONE FLOAT ULP BELOW the kth score: pruning uses
        # `<= theta` / `> theta`, so a candidate TYING the kth score is
        # never skipped: it enters the heap or `ties`, as the tie contract
        # needs (the seed path guarantees this via nextafter in _theta_seed)
        entry = (score, -doc, gen)
        if len(heap) < k:
            heapq.heappush(heap, entry)
            if len(heap) == k:
                theta = max(theta, float(np.nextafter(heap[0][0], -np.inf)))
        elif entry > heap[0]:
            keep_tie(heapq.heapreplace(heap, entry))
            theta = max(theta, float(np.nextafter(heap[0][0], -np.inf)))
        elif score == heap[0][0]:
            keep_tie(entry)

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.cur_doc())
        # pivot: first prefix whose summed ub can beat theta
        acc_ub, pivot_i = 0.0, -1
        for i, c in enumerate(live):
            acc_ub += c.ub
            if acc_ub > theta:
                pivot_i = i
                break
        if pivot_i < 0:
            break  # nothing can beat theta
        pivot_doc = live[pivot_i].cur_doc()
        # extend pivot set to all lists already at pivot_doc
        while pivot_i + 1 < len(live) and live[pivot_i + 1].cur_doc() == pivot_doc:
            pivot_i += 1
        if live[0].cur_doc() == pivot_doc:
            # block-max refinement: sum of current-block ubs at pivot
            bm_ub = 0.0
            for c in live[: pivot_i + 1]:
                if c.block_last() < pivot_doc:
                    c.seek(pivot_doc)
                    if c.exhausted:
                        continue
                bm_ub += c.block_ub() if c.block_last() >= pivot_doc else c.ub
            if bm_ub <= theta and (seeded or len(heap) == k):
                # No doc covered ONLY by the pivot set can win inside the
                # current blocks. Fast-forward over block METADATA alone
                # (block_last_doc / block_max_w — no decode) until the
                # first doc range whose summed block maxima can beat
                # theta, capped at the next list's current doc — beyond
                # it, later lists start contributing (Ding&Suel BMW
                # GetNewCandidate). Only the landing block is decoded.
                pivots = [c for c in live[: pivot_i + 1] if not c.exhausted]
                cap = (live[pivot_i + 1].cur_doc()
                       if pivot_i + 1 < len(live) else None)
                target = pivot_doc
                while True:
                    bm, boundary = 0.0, None
                    for c in pivots:
                        bi = int(np.searchsorted(c.bl, target))
                        if bi >= c.n_blocks:
                            continue  # no postings at/after target
                        bm += c.idf * float(c.bmw[bi]) * c.scale
                        bend = int(c.bl[bi])
                        boundary = bend if boundary is None else min(boundary, bend)
                    if boundary is None:
                        # pivot set exhausted past target
                        target = None
                        break
                    if bm > theta:
                        break
                    nxt_target = boundary + 1
                    if cap is not None and nxt_target >= cap:
                        target = cap
                        break
                    target = nxt_target
                if target is None:
                    for c in pivots:
                        c.exhausted = True
                else:
                    for c in pivots:
                        if not c.exhausted and c.cur_doc() < target:
                            c.seek(target)
                continue
            # out-of-group docs (replicated coarse shards) have partial
            # postings here — their full score is computed in their home
            # group, so never offer them (see topk_exact docstring)
            in_group = (group_filter is None
                        or pivot_doc % group_filter[0] == group_filter[1])
            if not in_group:
                for c in live[: pivot_i + 1]:
                    if not c.exhausted and c.cur_doc() == pivot_doc:
                        c.advance()
                continue
            score, gen = 0.0, live[0].gen
            for c in live[: pivot_i + 1]:
                if not c.exhausted and c.cur_doc() == pivot_doc:
                    score += c.score_cur()
                    c.advance()
            if dead is None or not _in_sorted(
                dead, np.array([pivot_doc], dtype=np.int64)
            )[0]:
                offer(pivot_doc, score, gen)
        else:
            # advance lists before the pivot up to it
            for c in live[:pivot_i]:
                if c.cur_doc() < pivot_doc:
                    c.seek(pivot_doc)
    cand = heap + [(heap[0][0], d, g) for g, t in ties.items() for d in t]
    docs = np.array([-d for _, d, _ in cand], dtype=np.int64)
    scores = np.array([s for s, _, _ in cand], dtype=np.float64)
    order = tie_cut(docs, scores, k, np.array([g for *_, g in cand],
                                              dtype=np.int64))
    return docs[order], scores[order]


def topk_auto(shards_by_term, k, avgdl, k1, b, dead=None, group_filter=None,
              theta_seed: float = -1.0):
    total = sum(int(r["n_docs"]) for _, rows in shards_by_term for r in rows)
    if total <= EXACT_PATH_MAX_POSTINGS or len(shards_by_term) == 1:
        return topk_exact(shards_by_term, k, avgdl, k1, b, dead, group_filter)
    return topk_wand(shards_by_term, k, avgdl, k1, b, dead, group_filter,
                     theta_seed=theta_seed)


KERNELS = {"auto": topk_auto, "exact": topk_exact, "wand": topk_wand}


def run_kernel(kern, shards_by_term, k, avgdl, k1, b, dead=None,
               group_filter=None, require_all: int | None = None,
               phrase: list[int] | None = None, pristine: bool = False):
    """The one kernel dispatch of every reader path: `topk_phrase` for a
    phrase, `topk_exact` for a conjunctive query (`require_all`), else
    `kern` (a KERNELS value). `pristine` (no tombstones, one generation)
    lets a pruning kernel start from `_theta_seed`."""
    args = (shards_by_term, k, avgdl, k1, b, dead, group_filter)
    if phrase is not None:
        return topk_phrase(*args, phrase=phrase)
    if require_all is not None:
        return topk_exact(*args, require_all=require_all)
    if pristine and kern is not topk_exact:
        return kern(*args, theta_seed=_theta_seed(shards_by_term, k))
    return kern(*args)
