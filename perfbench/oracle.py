"""Exact permitted top-k in float64, and the checker every batch goes through.

The oracle holds its own copy of the vectors, each block's document and
the live-block set (which churn updates as it inserts and deletes). A batch
fails if it returns a block the query's user may not see, a dead block, a
wrong distance or document, a duplicate, or, for an exact strategy, a
neighbour list that differs from the oracle's. Distances tie to within the
program's 6-dp rounding, so the k-th neighbour is compared by distance,
not by id.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

# The program rounds distances half-up to 6 dp; two blocks whose exact
# distances differ by less than one rounding step may legitimately swap.
TOL = 1.5e-6


@dataclass
class BatchScore:
    queries: int = 0
    rows: int = 0
    recall_sum: float = 0.0
    recall_n: int = 0
    errors: list = field(default_factory=list)

    @property
    def failed(self) -> bool:
        return bool(self.errors)

    @property
    def recall(self) -> float:
        return self.recall_sum / self.recall_n if self.recall_n else 1.0


class Oracle:
    def __init__(self, vectors: np.ndarray, block_doc: np.ndarray, closure, k: int = 10):
        self.k = k
        self.closure = closure
        self.x = vectors.astype(np.float64)
        self.doc = np.asarray(block_doc, dtype=np.int64)
        self.alive = np.ones(len(self.doc), dtype=bool)

    # ------------------------------------------------------------ live set
    def insert(self, ids: np.ndarray, vectors: np.ndarray, docs: np.ndarray) -> None:
        """Blocks get consecutive ids; an insert appends the next ones."""
        if len(ids) and (ids[0] != len(self.doc) or np.any(np.diff(ids) != 1)):
            raise ValueError("oracle insert expects the next consecutive block ids")
        self.x = np.concatenate([self.x, vectors.astype(np.float64)])
        self.doc = np.concatenate([self.doc, np.asarray(docs, dtype=np.int64)])
        self.alive = np.concatenate([self.alive, np.ones(len(ids), dtype=bool)])

    def delete(self, ids: np.ndarray) -> None:
        self.alive[ids] = False

    @property
    def live_count(self) -> int:
        return int(self.alive.sum())

    # --------------------------------------------------------------- truth
    def permitted(self, user: int) -> np.ndarray:
        """Live block ids ``user`` may see."""
        return np.flatnonzero(self.alive & self.closure.doc_mask(user)[self.doc])

    def distances(self, ids: np.ndarray, q: np.ndarray) -> np.ndarray:
        d = self.x[ids] - q
        return np.sqrt(np.einsum("ij,ij->i", d, d))

    def topk(self, user: int, q: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
        """(ids, distances) of the exact permitted top-k, and the permitted count."""
        ids = self.permitted(user)
        d = self.distances(ids, q)
        order = np.lexsort((ids, d))[: self.k]
        return ids[order], d[order], len(ids)

    def selectivity(self, user: int) -> float:
        return len(self.permitted(user)) / max(1, self.live_count)

    # ------------------------------------------------------------- checker
    def score(self, rows, queries, exact: bool, global_k: int | None = None) -> BatchScore:
        """Score one batch.

        ``rows``: ``(query_id, block_id, document_id, distance)`` tuples as
        returned. ``queries``: ``(query_id, user_id, vector)`` as sent.
        ``exact``: the strategy promises the oracle's top-k. ``global_k``
        (postfilter): every returned block must also lie in the
        permission-blind top-``global_k``.
        """
        s = BatchScore(queries=len(queries), rows=len(rows))
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r[0]), []).append(r)
        sent = {int(q[0]) for q in queries}
        stray = set(by_q) - sent
        if stray:
            s.errors.append(f"rows for unknown query ids {sorted(stray)[:3]}")
        n_live = len(self.doc)
        for qid, user, vec in queries:
            got = sorted(by_q.get(int(qid), []), key=lambda r: (r[3], r[1]))
            q = np.asarray(vec, dtype=np.float64)
            t_ids, t_d, n_perm = self.topk(int(user), q)
            bids = np.array([int(r[1]) for r in got], dtype=np.int64)
            if len(got) > self.k:
                s.errors.append(f"q{qid}: {len(got)} rows > k")
            if len(set(bids.tolist())) != len(bids):
                s.errors.append(f"q{qid}: duplicate blocks")
            if len(bids) and (bids.min() < 0 or bids.max() >= n_live):
                s.errors.append(f"q{qid}: unknown block id")
                continue
            mask = self.closure.doc_mask(int(user))
            leaked = [b for b in bids if not (self.alive[b] and mask[self.doc[b]])]
            if leaked:
                s.errors.append(f"q{qid}: leaked blocks {leaked[:3]} to user {user}")
            if any(int(r[2]) != self.doc[int(r[1])] for r in got):
                s.errors.append(f"q{qid}: wrong document id")
            exact_d = self.distances(bids, q) if len(bids) else np.zeros(0)
            got_d = np.array([float(r[3]) for r in got])
            if len(bids) and np.max(np.abs(exact_d - got_d)) > TOL:
                s.errors.append(f"q{qid}: wrong distance")
            if exact:
                if len(got) != len(t_ids) or (len(got) and np.max(np.abs(np.sort(exact_d) - t_d)) > TOL):
                    s.errors.append(f"q{qid}: neighbours differ from the oracle")
            if global_k is not None and len(bids):
                all_d = self.distances(np.flatnonzero(self.alive), q)
                cut = np.partition(all_d, min(global_k, len(all_d)) - 1)[min(global_k, len(all_d)) - 1]
                if exact_d.max() > cut + TOL:
                    s.errors.append(f"q{qid}: block outside the global top-{global_k}")
            if n_perm:
                ok = np.array([b not in leaked for b in bids], dtype=bool)
                hits = int(np.sum(ok & (exact_d <= t_d[-1] + TOL)))
                s.recall_sum += min(hits, len(t_ids)) / len(t_ids)
                s.recall_n += 1
        return s
