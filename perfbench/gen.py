"""Seeded inputs for the benchmark workloads.

Everything the engine receives is generated here from the workload seed,
so one seed always yields byte-identical inputs (see ``test_gen.py``).

* Vectors are a clustered Gaussian mixture, so IVF lists partition real
  structure instead of noise.
* Payload categories and document tokens are Zipf-skewed, so filter
  selectivity and term frequencies look like a real corpus.
* The churn workload's starting corpus plants exact and near duplicates
  of its own documents, with known ground truth, for the dedup finders.
* Churn batches overwrite live ids and add new ones.  They plant copies
  of stored documents, with known ground truth, while a :class:`Ledger`
  tracks what the store must hold after every cycle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 24
N_CATEGORIES = 16
VOCAB_SIZE = 4000
DOC_LEN = 24
CLUSTER_NOISE = 0.35

# independent random streams per purpose: adding a draw to one stream
# never shifts the inputs of another
_CENTROIDS, _POINTS, _REQUESTS, _CHURN = range(4)

POINT_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("embedding", pa.list_(pa.float32())),
    ("category", pa.string()),
    ("document", pa.string()),
])


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _zipf(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def category_name(j: int) -> str:
    return f"cat{j:02d}"


def token(j: int) -> str:
    return f"w{j:04d}"


_TOKEN_P = _zipf(VOCAB_SIZE)
_CATEGORY_P = _zipf(N_CATEGORIES)


def centroids(seed: int) -> np.ndarray:
    return _rng(seed, _CENTROIDS).normal(size=(N_CLUSTERS, DIM))


def _vectors(rng: np.random.Generator, cents: np.ndarray, n: int) -> np.ndarray:
    label = rng.integers(0, len(cents), n)
    noise = CLUSTER_NOISE * rng.normal(size=(n, DIM))
    return (cents[label] + noise).astype(np.float32)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    toks = rng.choice(VOCAB_SIZE, size=(n, DOC_LEN), p=_TOKEN_P)
    return [" ".join(token(t) for t in row) for row in toks]


def _edit(rng: np.random.Generator, text: str, n_edits: int) -> str:
    """A near-duplicate: ``n_edits`` positions get a fresh rare token."""
    toks = text.split(" ")
    for pos in rng.choice(len(toks), size=n_edits, replace=False):
        toks[pos] = token(int(rng.integers(VOCAB_SIZE // 2, VOCAB_SIZE)))
    return " ".join(toks)


def points_table(ids: np.ndarray, vectors: np.ndarray,
                 categories: list[str], documents: list[str]) -> pa.Table:
    flat = pa.array(vectors.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vectors.size + 1, DIM, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, flat)
    return pa.Table.from_arrays(
        [pa.array(ids, pa.int64()), emb, pa.array(categories, pa.string()),
         pa.array(documents, pa.string())], schema=POINT_SCHEMA)


def write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def table_bytes(table: pa.Table) -> bytes:
    """Canonical serialisation (Arrow IPC stream) — equal bytes mean
    equal inputs."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


# --------------------------------------------------------------------------
# search-serve
# --------------------------------------------------------------------------

@dataclass
class Collection:
    ids: np.ndarray
    vectors: np.ndarray
    categories: list[str]
    documents: list[str]

    def table(self) -> pa.Table:
        return points_table(self.ids, self.vectors, self.categories,
                            self.documents)


def collection(seed: int, n_points: int,
               planted_dups: bool = False) -> Collection:
    """``n_points`` points with ids 0..n-1.  With ``planted_dups``, a tenth
    of the documents are exact and a tenth near duplicates of others (see
    :func:`_dup_texts`)."""
    rng = _rng(seed, _POINTS)
    vecs = _vectors(rng, centroids(seed), n_points)
    cats = [category_name(int(c)) for c in
            rng.choice(N_CATEGORIES, size=n_points, p=_CATEGORY_P)]
    docs = (_dup_texts(rng, n_points) if planted_dups
            else _documents(rng, n_points))
    return Collection(np.arange(n_points, dtype=np.int64), vecs, cats, docs)


def exact_groups(table: pa.Table) -> set[tuple[int, ...]]:
    """Ground truth: every set of ids sharing one exact document text."""
    by_text: dict[str, list[int]] = {}
    for i, t in zip(table.column("id").to_pylist(),
                    table.column("document").to_pylist()):
        by_text.setdefault(t, []).append(i)
    return {tuple(sorted(g)) for g in by_text.values() if len(g) > 1}


REQUEST_TYPES = ("dense_exact", "dense_ivf", "filtered", "text")


@dataclass
class Request:
    kind: str
    vector: np.ndarray
    category: str
    terms: list[str]


def requests(seed: int, n: int) -> list[Request]:
    """A seeded request mix: every block of four holds each request type
    once, in a seeded order, so any prefix is balanced across types."""
    rng = _rng(seed, _REQUESTS)
    cents = centroids(seed)
    kinds = [REQUEST_TYPES[i] for _ in range((n + 3) // 4)
             for i in rng.permutation(len(REQUEST_TYPES))][:n]
    vecs = _vectors(rng, cents, n)
    # the filter category and text terms are drawn below the head of the
    # Zipf distribution: the head would match most of the corpus
    cats = rng.integers(1, N_CATEGORIES, n)
    terms = rng.integers(20, 400, size=(n, 2))
    return [Request(k, vecs[i], category_name(int(cats[i])),
                    [token(int(t)) for t in terms[i]])
            for i, k in enumerate(kinds)]


# --------------------------------------------------------------------------
# ingest-churn
# --------------------------------------------------------------------------

@dataclass
class Ledger:
    """What the store must hold: id -> (vector, category, document)."""
    vectors: dict[int, np.ndarray] = field(default_factory=dict)
    categories: dict[int, str] = field(default_factory=dict)
    documents: dict[int, str] = field(default_factory=dict)
    next_id: int = 0

    def put(self, table: pa.Table) -> None:
        d = table.to_pydict()
        for i, v, c, t in zip(d["id"], d["embedding"], d["category"],
                              d["document"]):
            self.vectors[i] = np.asarray(v, np.float32)
            self.categories[i] = c
            self.documents[i] = t
        self.next_id = max(self.next_id, max(d["id"]) + 1)

    def delete(self, ids: list[int]) -> None:
        for i in ids:
            del self.vectors[i], self.categories[i], self.documents[i]

    def live_ids(self) -> np.ndarray:
        return np.array(sorted(self.vectors), dtype=np.int64)


@dataclass
class ChurnBatch:
    points: pa.Table
    delete_ids: list[int]
    copied_from: dict[int, int]  # batch id -> stored id it copies verbatim


def _dup_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents: fresh Zipf text plus a tenth verbatim copies
    (exact-dup groups of 2-4 members) and a tenth copies with two tokens
    replaced (near-dup clusters), in a seeded order."""
    n_dup = n_near = n // 10
    n_base = n - n_dup - n_near
    texts = _documents(rng, n_base)
    sources: list[int] = []
    while len(sources) < n_dup:
        # each group's source gets 1-3 extra copies
        sources.extend([int(rng.integers(0, n_base))]
                       * int(rng.integers(1, 4)))
    texts += [texts[s] for s in sources[:n_dup]]
    texts += [_edit(rng, texts[int(s)], 2)
              for s in rng.integers(0, n_base, n_near)]
    return [texts[j] for j in rng.permutation(n)]


def churn_batch(seed: int, cycle: int, ledger: Ledger, size: int,
                n_deletes: int) -> ChurnBatch:
    """One churn cycle's writes against the ledger's current state.

    Half the batch overwrites live ids and half adds new ids.  A tenth of
    the rows carry a stored document's text (half verbatim, half with one
    token edited), so the screen against the store has planted hits.  A
    few other live ids are deleted."""
    rng = _rng(seed, _CHURN, cycle)
    live = ledger.live_ids()
    n_over = size // 2
    over = np.sort(rng.choice(live, size=n_over, replace=False))
    new = np.arange(ledger.next_id, ledger.next_id + size - n_over,
                    dtype=np.int64)
    ids = np.concatenate([over, new])
    vecs = _vectors(rng, centroids(seed), size)
    cats = [category_name(int(c)) for c in
            rng.choice(N_CATEGORIES, size=size, p=_CATEGORY_P)]
    docs = _documents(rng, size)
    copied: dict[int, int] = {}
    n_copy = size // 10
    rows = rng.choice(size, size=n_copy, replace=False)
    sources = rng.choice(np.setdiff1d(live, ids), size=n_copy, replace=False)
    for j, (row, src) in enumerate(zip(rows, sources)):
        text = ledger.documents[int(src)]
        if j % 2 == 0:
            copied[int(ids[row])] = int(src)
        else:
            text = _edit(rng, text, 1)
        docs[row] = text
    keep = np.setdiff1d(np.setdiff1d(live, ids), sources)
    dels = sorted(int(i) for i in
                  rng.choice(keep, size=n_deletes, replace=False))
    return ChurnBatch(points_table(ids, vecs, cats, docs), dels, copied)
