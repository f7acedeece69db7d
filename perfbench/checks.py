"""Output checks. They run outside every timed region; a failed check
counts the op as failed and never aborts the run."""

from __future__ import annotations

import numpy as np
import pandas as pd

#: relative score tolerance against the numpy oracle (float32 emit,
#: float64 accumulation in a different order)
SCORE_RTOL = 1e-5


def ranked(rows) -> dict[int, list[tuple[int, int, float]]]:
    """Ranked result rows (``query_id, rank, docid, score`` fields) →
    query_id → [(rank, docid, score)]."""
    out: dict[int, list[tuple[int, int, float]]] = {}
    for row in rows:
        out.setdefault(int(row["query_id"]), []).append(
            (int(row["rank"]), int(row["docid"]), float(row["score"])))
    for v in out.values():
        v.sort()
    return out


def same_ranking(got: list, want: list) -> bool:
    """Same (rank, docid) sequence and scores within :data:`SCORE_RTOL`."""
    if [(r, d) for r, d, _ in got] != [(r, d) for r, d, _ in want]:
        return False
    gs = np.array([s for *_, s in got], dtype=np.float64)
    ws = np.array([s for *_, s in want], dtype=np.float64)
    return bool(np.allclose(gs, ws, rtol=SCORE_RTOL, atol=0.0))


def batch_ok(got: dict, want: dict, qids) -> bool:
    return all(same_ranking(got.get(q, []), want.get(q, [])) for q in qids)


def pairs_ok(pairs: pd.DataFrame, max_hamming: int | None = None) -> bool:
    """Pairs are distinct, ordered ``doc_a < doc_b``, and (for SimHash)
    within the Hamming radius."""
    if len(pairs) == 0:
        return True
    a = pairs["doc_a"].to_numpy(np.int64)
    b = pairs["doc_b"].to_numpy(np.int64)
    if not (a < b).all():
        return False
    if len(np.unique(np.stack([a, b], axis=1), axis=0)) != len(a):
        return False
    if max_hamming is not None and not (pairs["hamming"].to_numpy() <= max_hamming).all():
        return False
    return True


def union_find_labels(a: np.ndarray, b: np.ndarray) -> dict[int, int]:
    """vertex → minimum vertex of its connected component."""
    verts = np.unique(np.concatenate([a, b]))
    index = {int(v): i for i, v in enumerate(verts)}
    parent = np.arange(verts.size)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(index[x]), find(index[y])
        if rx != ry:
            # verts is sorted, so the smaller index is the smaller vertex
            parent[max(rx, ry)] = min(rx, ry)
    return {int(v): int(verts[find(i)]) for i, v in enumerate(verts)}


def clusters_ok(clusters: pd.DataFrame, pairs: pd.DataFrame) -> bool:
    """Cluster labels equal a union-find over the pairs: same vertex set,
    each label the component minimum, ``keep`` exactly on the minimum."""
    want = union_find_labels(pairs["doc_a"].to_numpy(np.int64), pairs["doc_b"].to_numpy(np.int64))
    if len(clusters) != len(want):
        return False
    got = dict(zip(clusters["doc_id"].astype(np.int64).tolist(),
                   clusters["cluster_id"].astype(np.int64).tolist()))
    if got != want:
        return False
    keep = clusters["keep"].to_numpy(bool)
    return bool((keep == (clusters["doc_id"].to_numpy() == clusters["cluster_id"].to_numpy())).all())
