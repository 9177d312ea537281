"""Seeded inputs and the independent permission closure.

Everything the program receives comes from the workload seed: the corpus
parquet files and each batch's ``(user_id, query_vector)`` rows are made
here, and ``churn``'s inserts and deletes are drawn in ``workloads.py``
from the same seeded generator. The same seed always yields the same
inputs.

The permission closure (user -> roles -> documents) is recomputed here
from the generators' documented arithmetic, in plain Python, so the
oracle never trusts the relations the program builds.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 48


class Corpus:
    """Gaussian-cluster vectors: queries are drawn from the same mixture as
    the blocks, so every query has close neighbours."""

    def __init__(self, rng: np.random.Generator, dim: int = DIM):
        self.rng = rng
        self.centers = rng.normal(size=(N_CLUSTERS, dim))

    def vectors(self, n: int) -> np.ndarray:
        c = self.centers[self.rng.integers(0, len(self.centers), n)]
        return (c + 0.35 * self.rng.normal(size=c.shape)).astype(np.float32)


def vector_column(x: np.ndarray) -> pa.Array:
    flat = pa.array(x.reshape(-1), type=pa.float32())
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32)), flat
    )


def write_parquet(path: str, columns: dict, n_files: int = 1) -> None:
    """Write ``columns`` as ``n_files`` parquet files under directory
    ``path`` (several files give the scan one split per core)."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def md5_draw(x: int, salt: int, mod: int) -> int:
    """The generators' per-row hash: first 15 hex digits of
    ``md5("<salt>:<x>")`` as an integer, modulo ``mod``."""
    return int(hashlib.md5(f"{salt}:{x}".encode()).hexdigest()[:15], 16) % mod


class Closure:
    """user -> roles and role -> documents, as the oracle sees them."""

    def __init__(self, user_roles: dict[int, tuple[int, ...]], role_docs: dict[int, set[int]], n_docs: int):
        self.user_roles = user_roles
        roles = sorted(role_docs)
        self._row = {r: i for i, r in enumerate(roles)}
        self.matrix = np.zeros((len(roles), n_docs + 1), dtype=bool)
        for r, docs in role_docs.items():
            self.matrix[self._row[r], sorted(docs)] = True
        self._cache: dict[tuple[int, ...], np.ndarray] = {}

    def doc_mask(self, user: int) -> np.ndarray:
        """Bool mask over document ids: may ``user`` see the document?"""
        key = self.user_roles.get(user, ())
        m = self._cache.get(key)
        if m is None:
            rows = [self._row[r] for r in key if r in self._row]
            m = self.matrix[rows].any(axis=0) if rows else np.zeros(self.matrix.shape[1], bool)
            self._cache[key] = m
        return m

    def permitted_docs(self) -> np.ndarray:
        """Documents at least one role may see."""
        return np.flatnonzero(self.matrix.any(axis=0))


def derive_closure(n_users: int, n_docs: int) -> Closure:
    """``rbac.derive_rbac``: user u holds roles {u%10, (7u+3)%10}; role r
    sees document d iff d%10 == r or (d+3)%10 == r."""
    user_roles = {u: tuple(sorted({u % 10, (u * 7 + 3) % 10})) for u in range(1, n_users + 1)}
    role_docs: dict[int, set[int]] = {r: set() for r in range(10)}
    for d in range(n_docs):
        role_docs[d % 10].add(d)
        role_docs[(d + 3) % 10].add(d)
    return Closure(user_roles, role_docs, n_docs)


def random_rbac_closure(
    num_users: int, num_roles: int, num_documents: int, m_roles: int, m_perms: int, seed: int
) -> Closure:
    """``rbac.generators.random_rbac``: user u draws 1 + h(u) % m_roles
    roles, role r draws 1 + h(r) % m_perms documents (ids 1..num_documents)."""
    user_roles = {}
    for u in range(1, num_users + 1):
        k = 1 + md5_draw(u, seed, m_roles)
        user_roles[u] = tuple(sorted({1 + md5_draw(u * 1000 + j, seed + 1, num_roles) for j in range(1, k + 1)}))
    role_docs = {}
    for r in range(1, num_roles + 1):
        k = 1 + md5_draw(r, seed + 2, m_perms)
        role_docs[r] = {1 + md5_draw(r * 100000 + j, seed + 3, num_documents) for j in range(1, k + 1)}
    return Closure(user_roles, role_docs, num_documents)


def query_rows(corpus: Corpus, users: np.ndarray, first_id: int) -> list[tuple]:
    """One batch: ``[(query_id, user_id, query_vector), ...]``, one fresh
    seeded vector per user."""
    qv = corpus.vectors(len(users))
    return [(first_id + i, int(users[i]), qv[i].tolist()) for i in range(len(users))]
