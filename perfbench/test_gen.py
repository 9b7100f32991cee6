"""The benchmark's inputs depend on the seed alone.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import gen


def _serve_bytes(seed: int) -> bytes:
    out = gen.table_bytes(gen.collection(seed, 300).table())
    for r in gen.requests(seed, 40):
        out += r.vector.tobytes() + f"{r.kind}|{r.category}|{r.terms}".encode()
    return out


def _churn_bytes(seed: int, cycles: int = 2) -> bytes:
    ledger = gen.Ledger()
    start = gen.collection(seed, 300, planted_dups=True)
    ledger.put(start.table())
    out = gen.table_bytes(start.table())
    for c in range(cycles):
        b = gen.churn_batch(seed, c, ledger, size=60, n_deletes=5)
        out += gen.table_bytes(b.points)
        out += f"{b.delete_ids}|{sorted(b.copied_from.items())}".encode()
        ledger.put(b.points)
        ledger.delete(b.delete_ids)
    return out


def test_same_seed_gives_identical_bytes():
    for make in (_serve_bytes, _churn_bytes):
        assert make(7) == make(7)


def test_different_seed_gives_different_inputs():
    for make in (_serve_bytes, _churn_bytes):
        assert make(7) != make(8)


def test_churn_batch_plants_its_ground_truth():
    ledger = gen.Ledger()
    ledger.put(gen.collection(3, 300).table())
    live_before = set(ledger.vectors)
    b = gen.churn_batch(3, 0, ledger, size=100, n_deletes=5)
    ids = b.points.column("id").to_pylist()
    docs = dict(zip(ids, b.points.column("document").to_pylist()))
    assert len(set(ids)) == len(ids)
    assert sum(i in live_before for i in ids) == 50
    assert b.copied_from
    for i, src in b.copied_from.items():
        assert docs[i] == ledger.documents[src]
    assert set(b.delete_ids) <= live_before - set(ids)


def test_churn_corpus_plants_duplicates():
    plain = gen.collection(3, 300)
    planted = gen.collection(3, 300, planted_dups=True)
    assert not gen.exact_groups(plain.table())
    groups = gen.exact_groups(planted.table())
    assert sum(len(g) - 1 for g in groups) >= 30  # 10% are extra copies
    assert planted.vectors.tobytes() == plain.vectors.tobytes()
