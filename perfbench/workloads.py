"""The benchmark workloads: one client in a closed loop against the
engine's public API, with every answer checked against a reference
computed here from the generated inputs.

``search-serve``  read-only top-k search over an indexed collection.
``ingest-churn``  a bulk load whose corpus is dedup'd first, then write
                  cycles (screen, upsert, delete, refresh), each followed
                  by a search.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
from sparkhost import tree_cpu_s
from spans import Tracer

from bob_vector_db_spark.operators import (
    dedup, index, neardup_index, payload_index, query_api, text_search,
    upsert)
from bob_vector_db_spark.operators.filters import Filter, MatchValue

K = 10
TOL = 1e-5          # engine rounds scores to 6 decimals
JACCARD_MIN = 0.5   # a candidate pair is useful above this 3-gram Jaccard
SHINGLE_N = 3       # dedup.minhash_lsh_pairs default
# hash buckets of the store and of every index: one task per CPU of the
# 4-CPU reference host, so a pruned scan runs in a single wave
LAYOUT_BUCKETS = 4


@dataclass
class Tally:
    """Operations attempted and failed (raised or answered wrongly)."""
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, what: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(f"{what}: {err}")
            print(f"WRONG {what}: {err}", file=sys.stderr)

    def run(self, what: str, fn, *args):
        """Call ``fn``; a raise counts as a failed operation."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 — the run reports and goes on
            self.record(what, traceback.format_exc(limit=3))
            return None


# --------------------------------------------------------------------------
# references
# --------------------------------------------------------------------------

def _unit(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.linalg.norm(m, axis=-1, keepdims=True)


def check_topk(hits: list[tuple[int, float]], truth: dict[int, float],
               k: int, exact: bool) -> str | None:
    """``hits`` (id, score) in rank order against every eligible point's
    true score.  An exact search must return min(k, eligible) hits scoring
    no worse than the k-th best; any search must score its hits right,
    in order, from eligible points only."""
    want = min(k, len(truth))
    if (len(hits) != want) if exact else (len(hits) > k):
        return f"{len(hits)} hits, expected {want}"
    for rank, (i, s) in enumerate(hits):
        if i not in truth:
            return f"hit {i} is not an eligible point"
        if abs(s - truth[i]) > TOL:
            return f"hit {i} scored {s}, true score {truth[i]:.6f}"
        if rank and s > hits[rank - 1][1] + TOL:
            return f"hit {i} at rank {rank + 1} outscores the rank above"
    if exact and hits:
        kth = sorted(truth.values(), reverse=True)[want - 1]
        if hits[-1][1] < kth - TOL:
            return f"last hit scores {hits[-1][1]}, k-th best is {kth:.6f}"
    return None


def bm25_truth(docs: dict[int, str], terms: list[str],
               k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    """BM25 of every document holding a query term (the engine's
    formula: corpus-global N, avgdl and per-term document frequency)."""
    toks = {i: t.split(" ") for i, t in docs.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    tf = {term: {i: ts.count(term) for i, ts in toks.items() if term in ts}
          for term in set(terms)}
    out: dict[int, float] = {}
    for term, post in tf.items():
        idf = math.log(1 + (n - len(post) + 0.5) / (len(post) + 0.5))
        for i, f in post.items():
            dl = len(toks[i])
            out[i] = out.get(i, 0.0) + idf * f * (k1 + 1) / (
                f + k1 * (1 - b + b * dl / avgdl))
    return out


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[j:j + n]) for j in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def percentile_tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def bytes_written(path: str, since: float) -> int:
    """Bytes of the store's files (index artifacts excluded) modified at
    or after ``since`` (epoch seconds)."""
    size = 0
    for d, dirs, names in os.walk(path):
        if "_index" in dirs:
            dirs.remove("_index")
        for nm in names:
            st = os.stat(os.path.join(d, nm))
            if st.st_mtime >= since:
                size += st.st_size
    return size


def files_per_bucket(path: str) -> float:
    """Mean count of parquet files per id-bucket directory."""
    counts = [sum(n.endswith(".parquet") for n in names)
              for d, _, names in os.walk(path)
              if os.path.basename(d).startswith(f"{upsert.BUCKET_COL}=")]
    return sum(counts) / len(counts) if counts else 0.0


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Workload:
    name = ""
    unit = ""  # what one operation is, for the per-op latency metric

    def __init__(self, seed: int, tracer: Tracer, tally: Tally, tmp: str):
        self.seed, self.tr, self.tally, self.tmp = seed, tracer, tally, tmp
        self.spark = None
        self.root = os.path.join(tmp, "store")
        self.items = 0  # points / requests / documents the ops handled
        self.op_ms: list[float] = []
        self.op_cpu_ms: list[float] = []

    def generate(self) -> None:
        """Build the inputs from the seed and write them to parquet."""

    def load(self) -> None:
        """Bring the store (if any) to the workload's starting state."""

    def warm(self) -> None:
        """Checked, untimed operations before the timed window; the JVM
        compiles the paths they share with the timed operations."""

    def step(self, i: int) -> None:
        """One timed operation (appends to ``op_ms``), then its checks."""

    def detail(self) -> dict:
        """Workload-specific end-to-end figures, for the detail line."""
        return {}

    def layer_state(self) -> dict:
        """Layer figures the workload observed itself (not from spans)."""
        return {}


class SearchServe(Workload):
    name = "search-serve"
    unit = "search request"
    N_POINTS = 20_000
    N_REQUESTS = 4_000

    def generate(self) -> None:
        self.coll = gen.collection(self.seed, self.N_POINTS)
        self.reqs = gen.requests(self.seed, self.N_REQUESTS)
        self.path = gen.write_parquet(
            self.coll.table(), os.path.join(self.tmp, "points.parquet"))

    def load(self) -> None:
        sp, tr = self.spark, self.tr
        with tr.span("create_collection"):
            upsert.create_collection(
                sp, self.root, "c", df=sp.read.parquet(self.path),
                id_col="id", n_buckets=LAYOUT_BUCKETS,
                vector_config={"embedding": {"size": gen.DIM,
                                             "distance": "cosine"}})
        with tr.span("build.index"):
            index.build_vector_index(sp, self.root, "c", kind="ivf",
                                     n_lists=16, iters=3, seed=self.seed)
        with tr.span("build.payload_index"):
            payload_index.build_payload_index(sp, self.root, "c", "category",
                                              n_val_buckets=LAYOUT_BUCKETS)
        with tr.span("build.text_search"):
            text_search.build_text_index(sp, self.root, "c",
                                         text_col="document",
                                         n_term_buckets=LAYOUT_BUCKETS)
        self.unit_vecs = _unit(self.coll.vectors)
        self.cats = np.array(self.coll.categories)
        self.docs = dict(zip(self.coll.ids.tolist(), self.coll.documents))
        self.lat: dict[str, list[float]] = {k: [] for k in gen.REQUEST_TYPES}

    def truth(self, req: gen.Request) -> dict[int, float]:
        if req.kind == "text":
            return bm25_truth(self.docs, req.terms)
        sims = self.unit_vecs @ _unit(req.vector)
        if req.kind == "filtered":
            ok = self.cats == req.category
            return dict(zip(self.coll.ids[ok].tolist(), sims[ok].tolist()))
        return dict(zip(self.coll.ids.tolist(), sims.tolist()))

    def warm(self) -> None:
        # a full-probe IVF search is exact: it must equal the exact scan
        req = self.reqs[-1]
        exact = gen.Request("dense_exact", req.vector, "", [])
        full = gen.Request("dense_ivf", req.vector, "", [])
        got = self.tally.run("full_probe", search, self, full, None)
        want = self.tally.run("full_probe", search, self, exact)
        if got is not None and want is not None:
            self.tally.record("full_probe", None if got == want else
                              f"full-probe IVF {got} != exact {want}")

    def _request(self, req: gen.Request) -> float | None:
        cpu = tree_cpu_s()
        t = time.perf_counter()
        with self.tr.span(f"search.{req.kind}") as s:
            hits = self.tally.run(s.name, search, self, req)
        ms = (time.perf_counter() - t) * 1000.0
        self.op_cpu_ms.append((tree_cpu_s() - cpu) * 1000.0)
        if hits is None:
            return None
        self.tally.record(s.name, check_topk(
            hits, self.truth(req), K, exact=req.kind != "dense_ivf"))
        return ms

    def step(self, i: int) -> None:
        req = self.reqs[i % len(self.reqs)]
        ms = self._request(req)
        if ms is not None:
            self.op_ms.append(ms)
            self.lat[req.kind].append(ms)
            self.items += 1

    def detail(self) -> dict:
        out = {f"{k}_p50_ms": _median(v) for k, v in self.lat.items()}
        out["search_p50_ms"] = _median(self.op_ms)
        tail = percentile_tail(self.op_ms)
        if tail:
            out["search_tail_pct"], out["search_tail_ms"] = tail
        out["search_samples"] = len(self.op_ms)
        return out


def search(wl: Workload, req: gen.Request,
           n_probe: int | None = 4) -> list[tuple[int, float]]:
    """One search request against ``wl``'s collection: (id, score) hits in
    rank order.  ``construct`` spans the engine call that returns the
    DataFrame (it may already run jobs), ``execute`` the collect."""
    sp, root = wl.spark, wl.root
    with wl.tr.span("construct"):
        if req.kind == "text":
            df = query_api.search_text_points(sp, root, "c", req.terms, k=K,
                                              text_col="document")
        else:
            q = sp.createDataFrame([(0, req.vector.tolist())],
                                   "qid long, qvec array<float>")
            flt = (Filter(must=[MatchValue("category", req.category)])
                   if req.kind == "filtered" else None)
            df = query_api.search_points(
                sp, root, "c", q, k=K, flt=flt,
                use_index={"dense_exact": False,
                           "dense_ivf": "always"}.get(req.kind, "auto"),
                n_probe=n_probe if req.kind == "dense_ivf" else None)
    with wl.tr.span("execute"):
        rows = df.collect()
    id_col, score = (("id", "score") if req.kind == "text"
                     else ("vec_id", "sim"))
    return [(r[id_col], r[score]) for r in sorted(rows, key=lambda r: r["rank"])]


class IngestChurn(Workload):
    name = "ingest-churn"
    unit = "ingest cycle"
    N_POINTS = 1_000
    BATCH = 300
    DELETES = 15
    INDEXES = ("index", "payload_index", "text_search", "neardup_index")

    def generate(self) -> None:
        self.start_table = gen.collection(
            self.seed, self.N_POINTS, planted_dups=True).table()
        self.path = gen.write_parquet(
            self.start_table, os.path.join(self.tmp, "points.parquet"))
        self.reqs = gen.requests(self.seed, 400)

    def load(self) -> None:
        sp, tr, root = self.spark, self.tr, self.root
        corpus = sp.read.parquet(self.path)
        # the raw corpus goes through the dedup finders before it is
        # loaded; the duplicates are reported, and all rows are stored
        self.dedup_out = self._dedup(corpus)
        with tr.span("create_collection"):
            upsert.create_collection(
                sp, root, "c", df=corpus, id_col="id",
                n_buckets=LAYOUT_BUCKETS,
                vector_config={"embedding": {"size": gen.DIM,
                                             "distance": "cosine"}})
        with tr.span("build.index"):
            index.build_vector_index(sp, root, "c", kind="ivf", n_lists=8,
                                     iters=3, seed=self.seed)
        with tr.span("build.payload_index"):
            payload_index.build_payload_index(sp, root, "c", "category",
                                              n_val_buckets=LAYOUT_BUCKETS)
        with tr.span("build.text_search"):
            text_search.build_text_index(sp, root, "c", text_col="document",
                                         n_term_buckets=LAYOUT_BUCKETS)
        with tr.span("build.neardup_index"):
            neardup_index.build_neardup_index(sp, root, "c",
                                              text_col="document",
                                              n_band_buckets=LAYOUT_BUCKETS)
        self.ledger = gen.Ledger()
        self.ledger.put(self.start_table)
        self._reset_samples()

    def _reset_samples(self) -> None:
        self.op_ms, self.op_cpu_ms, self.items = [], [], 0
        self.step_ms: dict[str, list[float]] = {}
        self.search_ms: list[float] = []
        self.index_state: list[dict] = []
        self.written_per_point: list[float] = []
        self.bucket_files: list[float] = []

    def warm(self) -> None:
        self._check_dedup(self.start_table, *self.dedup_out)
        # one checked cycle whose figures are dropped: the timed cycles
        # then all start from a store that already carries index deltas
        self._iterate(0)
        self._reset_samples()

    def _timed(self, name: str, fn, *args):
        t = time.perf_counter()
        with self.tr.span(name):
            out = fn(*args)
        self.step_ms.setdefault(name, []).append(
            (time.perf_counter() - t) * 1000.0)
        return out

    def _dedup(self, frame):
        docs, tr = frame.select("id", "document"), self.tr
        with tr.span("dedup.exact"):
            groups = dedup.exact_dedup_groups(
                docs, "document", "id").filter("n_dups > 1").collect()
        with tr.span("dedup.minhash"):
            pairs = dedup.minhash_lsh_pairs(docs, "document", "id")
            pair_rows = pairs.collect()
        with tr.span("dedup.clusters"):
            dedup.duplicate_clusters(pairs).collect()
        with tr.span("dedup.simhash"):
            dedup.simhash_pairs(docs, "document", "id").collect()
        return groups, pair_rows

    def _cycle(self, batch: gen.ChurnBatch, frame):
        sp, root = self.spark, self.root
        screened = self._timed("screen", lambda: neardup_index
                               .neardup_pairs_for_frame(
                                   sp, root, "c",
                                   frame.select("id", "document"),
                                   text_col="document").collect())
        since = time.time()
        self._timed("upsert", upsert.upsert, sp, root, "c", frame, "id")
        cpath = upsert.collection_path(root, "c")
        self.written_per_point.append(
            bytes_written(cpath, since - 1e-3) / self.BATCH)
        self.bucket_files.append(files_per_bucket(cpath))
        self._timed("delete", upsert.delete_points, sp, root, "c",
                    batch.delete_ids)
        self._timed("refresh.index", index.refresh_vector_index,
                    sp, root, "c")
        self._timed("refresh.payload_index",
                    payload_index.refresh_payload_index, sp, root, "c",
                    "category")
        self._timed("refresh.text_search", text_search.refresh_text_index,
                    sp, root, "c", "document")
        self._timed("refresh.neardup_index",
                    neardup_index.refresh_neardup_index, sp, root, "c",
                    "document")
        return screened

    def step(self, i: int) -> None:
        self._iterate(i + 1)  # cycle 0 is the warm-up's

    def _iterate(self, i: int) -> None:
        """Cycle ``i`` on its own batch, its checks, then one search."""
        batch = gen.churn_batch(self.seed, i, self.ledger, self.BATCH,
                                self.DELETES)
        path = gen.write_parquet(batch.points, os.path.join(
            self.tmp, f"batch-{i}.parquet"))
        frame = self.spark.read.parquet(path)
        cpu = tree_cpu_s()
        t = time.perf_counter()
        with self.tr.span("cycle") as s:
            out = self.tally.run(s.name, self._cycle, batch, frame)
        ms = (time.perf_counter() - t) * 1000.0
        self.op_cpu_ms.append((tree_cpu_s() - cpu) * 1000.0)
        if out is None:
            raise RuntimeError("a churn cycle raised; the store state is "
                               "unknown, so later cycles cannot be checked")
        self.op_ms.append(ms)
        self.items += self.BATCH
        self.ledger.put(batch.points)
        self.ledger.delete(batch.delete_ids)
        self.tally.record("screen", self._check_screen(batch, out))
        self.tally.record("cycle", self._check_store())
        self._search(self.reqs[i % len(self.reqs)])

    def _check_dedup(self, table, groups, pair_rows) -> None:
        truth = gen.exact_groups(table)
        got = {tuple(r["ids"]) for r in groups}
        self.tally.record("dedup.exact", None if got == truth else
                          f"{len(got ^ truth)} exact groups differ")
        pairs = {(r["id_a"], r["id_b"]) for r in pair_rows}
        missed = {(g[a], g[b]) for g in truth for a in range(len(g))
                  for b in range(a + 1, len(g))} - pairs
        self.tally.record("dedup.minhash", f"LSH missed identical pairs "
                          f"{sorted(missed)[:5]}" if missed else None)
        text = dict(zip(table.column("id").to_pylist(),
                        table.column("document").to_pylist()))
        useful = sum(jaccard(shingles(text[a]), shingles(text[b]))
                     >= JACCARD_MIN for a, b in pairs)
        self.candidates = len(pairs)
        self.precision = useful / len(pairs) if pairs else 1.0

    def _check_screen(self, batch: gen.ChurnBatch, rows) -> str | None:
        found = {(r["id"], r["stored_id"]) for r in rows}
        missed = [p for p in batch.copied_from.items() if p not in found]
        return f"screen missed verbatim copies {missed}" if missed else None

    def _check_store(self) -> str | None:
        root, led = self.root, self.ledger
        version = upsert.collection_version(root, "c")
        ivf = index.vector_index_meta(root, "c", "embedding")
        metas = {
            "index": ivf,
            "payload_index": payload_index.payload_index_meta(
                root, "c", "category"),
            "text_search": text_search.text_index_meta(root, "c",
                                                       "document"),
            "neardup_index": neardup_index.neardup_index_meta(
                root, "c", "document"),
        }
        self.index_state.append({"mask_rows": ivf.get("mask_rows", 0),
                                 "generation": ivf.get("generation", 0)})
        stale = [k for k, m in metas.items()
                 if int(m["built_version"]) != version]
        if stale:
            return f"indexes stale after refresh: {stale}"
        n = query_api.count_points(self.spark, root, "c")
        if n != len(led.vectors):
            return f"store holds {n} points, ledger {len(led.vectors)}"
        return None

    def _search(self, req: gen.Request) -> None:
        kind = req.kind
        t = time.perf_counter()
        with self.tr.span(f"search.{kind}") as s:
            hits = self.tally.run(s.name, search, self, req)
        if hits is None:
            return
        self.search_ms.append((time.perf_counter() - t) * 1000.0)
        led = self.ledger
        if kind == "text":
            truth = bm25_truth(led.documents, req.terms)
        else:
            ids = [i for i in led.vectors
                   if kind != "filtered" or led.categories[i] == req.category]
            sims = _unit(np.stack([led.vectors[i] for i in ids])) \
                @ _unit(req.vector)
            truth = dict(zip(ids, sims.tolist()))
        self.tally.record(s.name, check_topk(hits, truth, K,
                                             exact=kind != "dense_ivf"))

    def detail(self) -> dict:
        out = {"ingest_points_per_s": self.items / (sum(self.op_ms) / 1000)
               if self.op_ms else 0.0,
               "churn_search_p50_ms": _median(self.search_ms)}
        for k, v in self.step_ms.items():
            out[f"{k}_p50_ms"] = _median(v)
        refresh = [sum(x) for x in zip(*(self.step_ms.get(f"refresh.{k}", [])
                                         for k in self.INDEXES))]
        out["refresh_p50_ms"] = _median(refresh)
        return out

    def layer_state(self) -> dict:
        last = self.index_state[-1] if self.index_state else {}
        return {**last,
                "bytes_written_per_point": _median(self.written_per_point),
                "files_per_bucket": self.bucket_files[-1]
                if self.bucket_files else 0.0,
                "candidate_pairs": self.candidates,
                "pair_precision": self.precision}


def _median(v: list[float]) -> float:
    return float(np.median(v)) if v else 0.0


WORKLOADS = {w.name: w for w in (SearchServe, IngestChurn)}
