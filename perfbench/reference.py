"""Engine-independent reference answers for the benchmark's checks.

Everything here is plain Python, NumPy or DuckDB over data collected
from the engine after the timed window, so a wrong engine answer can
never agree with itself by construction:

* connected components: union-find (the engine uses min-label
  propagation);
* BFS: a queue-driven traversal over a CSR built here;
* PageRank: a NumPy power iteration run far past the engine's
  tolerance;
* triangles: degree-ordered neighbour-set intersection;
* action merges: a DuckDB replay of the complement-encoded actions;
* near-duplicate pairs: exact character-shingle Jaccard on Python sets.
"""

from __future__ import annotations

from collections import deque

import numpy as np


def _csr(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(ids, src)
    di = np.searchsorted(ids, dst)
    order = np.argsort(si, kind="stable")
    starts = np.searchsorted(si[order], np.arange(ids.size + 1))
    return ids, starts, di[order]


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """``{vertex: min vertex id of its component}`` by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(src.tolist(), dst.tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # the smaller id becomes the root, so the root IS the label
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {v: find(v) for v in parent}


def bfs(src: np.ndarray, dst: np.ndarray, source: int) -> dict[int, int]:
    """``{vertex: hop distance}`` for every vertex reachable from
    ``source`` (the source itself at 0)."""
    ids, starts, nbr = _csr(src, dst)
    pos = int(np.searchsorted(ids, source))
    if pos >= ids.size or ids[pos] != source:
        return {source: 0}
    dist = np.full(ids.size, -1, dtype=np.int64)
    dist[pos] = 0
    queue = deque([pos])
    while queue:
        u = queue.popleft()
        for v in nbr[starts[u] : starts[u + 1]].tolist():
            if dist[v] < 0:
                dist[v] = dist[u] + 1
                queue.append(v)
    hit = np.nonzero(dist >= 0)[0]
    return dict(zip(ids[hit].tolist(), dist[hit].tolist()))


def pagerank(
    src: np.ndarray, dst: np.ndarray, damping: float = 0.85
) -> dict[int, float]:
    """Unweighted PageRank of a symmetric edge list, iterated until the
    L1 change is below 1e-14 (the engine stops at 1e-8)."""
    ids, starts, nbr = _csr(src, dst)
    n = ids.size
    deg = np.diff(starts).astype(np.float64)
    owner = np.repeat(np.arange(n), np.diff(starts))
    pr = np.full(n, 1.0 / n)
    for _ in range(1000):
        contrib = np.zeros(n)
        np.add.at(contrib, nbr, (pr / deg)[owner])
        nxt = (1.0 - damping) / n + damping * contrib
        delta = float(np.abs(nxt - pr).sum())
        pr = nxt
        if delta < 1e-14:
            break
    return dict(zip(ids.tolist(), pr.tolist()))


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Distinct triangles of a symmetric edge list, each counted once."""
    ids, starts, nbr = _csr(src, dst)
    deg = np.diff(starts)
    rank = np.lexsort((np.arange(ids.size), deg))  # low degree first
    pos = np.empty_like(rank)
    pos[rank] = np.arange(ids.size)
    higher = [
        {int(v) for v in nbr[starts[u] : starts[u + 1]] if pos[v] > pos[u]}
        for u in range(ids.size)
    ]
    total = 0
    for u in range(ids.size):
        hu = higher[u]
        for v in hu:
            total += len(hu & higher[v])
    return total


_REPLAY_SQL = """
WITH a AS (
  SELECT seq, weight, src < 0 AS del,
         CASE WHEN src < 0 THEN -src - 1 ELSE src END AS u,
         CASE WHEN src < 0 THEN -dst - 1 ELSE dst END AS v
  FROM actions
),
dir AS (
  SELECT seq, u AS src, v AS dst, weight, del FROM a WHERE u <> v
  UNION ALL
  SELECT seq, v AS src, u AS dst, weight, del FROM a WHERE u <> v
),
last_del AS (
  SELECT src, dst, max(seq) AS last_seq FROM dir WHERE del GROUP BY src, dst
),
folded AS (
  SELECT d.src, d.dst,
         bool_or(l.last_seq IS NOT NULL) AS deleted,
         sum(CASE WHEN NOT d.del AND (l.last_seq IS NULL OR d.seq > l.last_seq)
                  THEN d.weight ELSE 0 END) AS added
  FROM dir d LEFT JOIN last_del l USING (src, dst)
  GROUP BY d.src, d.dst
)
SELECT src, dst, wgt FROM (
  SELECT coalesce(b.src, f.src) AS src, coalesce(b.dst, f.dst) AS dst,
         CASE WHEN f.deleted THEN f.added
              ELSE coalesce(b.wgt, 0) + coalesce(f.added, 0) END AS wgt
  FROM base b FULL OUTER JOIN folded f USING (src, dst)
) WHERE wgt > 0
ORDER BY src, dst
"""


def replay_actions(base, actions):
    """Edge table after replaying ``actions`` in ``seq`` order onto
    ``base``: an insert adds its weight to both directions, a delete
    (complement-encoded ids) removes both directions, self-loops are
    skipped.  Both arguments and the result are pandas DataFrames;
    the result is sorted by ``(src, dst)``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("base", base[["src", "dst", "wgt"]])
        con.register("actions", actions[["seq", "src", "dst", "weight"]])
        return con.execute(_REPLAY_SQL).df()
    finally:
        con.close()


def shingles(text: str, k: int = 8) -> set[str]:
    return {text[i : i + k] for i in range(len(text) - k + 1)}


def jaccard(a: str, b: str, k: int = 8) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def curation_oracle(docs):
    """The registry's own DuckDB decision oracle run on ``docs``
    (pandas, the ``documents`` schema); sorted by ``doc_id``."""
    import duckdb

    from graphdb_testing_spark.queries_curation import _DECISION_ORACLE

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        return con.execute(
            f"SELECT * FROM ({_DECISION_ORACLE}) ORDER BY doc_id"
        ).df()
    finally:
        con.close()
