"""The benchmark's two workloads.

Each workload is a closed loop: one client, one step in flight.  A
workload is a fixed sequence of steps; one pass runs every step once.
``generate`` builds the seeded inputs and ``prepare`` does one-time
work the loop needs (both are set-up), ``run_pass(i)`` runs pass ``i``
and times every step on its own, and ``check(i)`` compares that pass's
outputs, outside the timed window, with an engine-independent
reference (``reference.py``).

Every timed result is forced with an aggregate over its value columns
(never a bare ``count()``, which Catalyst can satisfy without
computing the columns).  Fast-path decisions of the guarded kernels
are read right after each kernel call.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_testing_spark.functions.curation import curation_decision
from graphdb_testing_spark.functions.dedup import (
    char_shingles,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
)
from graphdb_testing_spark.graph import Graph
from graphdb_testing_spark.operators import util as oputil
from graphdb_testing_spark.operators.bfs import bfs
from graphdb_testing_spark.operators.components import connected_components
from graphdb_testing_spark.operators.pagerank import pagerank
from graphdb_testing_spark.operators.triangles import exact_triangle_count
from graphdb_testing_spark.operators.updates import apply_actions
from graphdb_testing_spark.sources.rmat import rmat_actions, rmat_directed
from graphdb_testing_spark.streaming.workflow import (
    ActionStreamWorkflow,
    BatchAlg,
    IncrementalComponents,
    IncrementalPageRank,
)

import reference

#: the sf0.1 ``documents`` table of the repository's test data (seed 42)
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

#: sizes per workload; ``tiny`` is the smoke test's
SIZES = {
    "full": {
        "rmat_scale": 10,
        "rmat_actions": 1 << 13,
        "stream_scale": 11,
        "stream_batch": 1000,
        "shard_docs": 500,
    },
    "tiny": {
        "rmat_scale": 7,
        "rmat_actions": 256,
        "stream_scale": 7,
        "stream_batch": 100,
        "shard_docs": 100,
    },
}

PR_TOL = 1e-6  # per-vertex PageRank agreement with the reference


def _agg(df: DataFrame, *cols) -> tuple:
    """Force ``df`` with one aggregate over its value columns."""
    return tuple(df.agg(*cols).collect()[0])


def _force(df: DataFrame, *cols) -> tuple[DataFrame, tuple]:
    """Cache ``df`` and fill the cache with one aggregate over its value
    columns, so the untimed check reads the result instead of
    recomputing it."""
    df = df.persist()
    return df, _agg(df, *cols)


def _same_edges(got, want) -> bool:
    got = got.sort_values(["src", "dst"]).reset_index(drop=True)
    return len(got) == len(want) and bool(
        (got[["src", "dst", "wgt"]].to_numpy() == want[["src", "dst", "wgt"]].to_numpy()).all()
    )


def _pagerank_errors(got_pdf, want: dict[int, float], what: str) -> list[str]:
    got = dict(zip(got_pdf["id"].tolist(), got_pdf["pr"].tolist()))
    if set(got) != set(want):
        return [f"{what}: vertex set differs from the reference"]
    if max(abs(got[v] - want[v]) for v in want) > PR_TOL:
        return [f"{what}: differs from the power iteration by more than {PR_TOL}"]
    if abs(sum(got.values()) - 1.0) > PR_TOL:
        return [f"{what}: does not sum to 1"]
    return []


class Workload:
    name = ""
    #: step names in pass order; step ``x`` is noted as ``x_s``
    STEPS: list[str] = []
    #: passes run before measuring (part of neither set-up nor the
    #: measurement): the first calls of every kernel in a session run
    #: two to ten times as long as later ones (JIT, Python workers)
    WARMUP = 1

    def __init__(self, spark, tracer, seed: int, size: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = size
        self.notes: dict[str, list[float]] = {}

    def note(self, key: str, value: float) -> None:
        self.notes.setdefault(key, []).append(float(value))

    def note_fast_path(self, family: str, layer: str) -> None:
        """Record the guard decision the last ``family`` kernel call took
        (``FAST_PATH_DECISIONS`` is process-global: read it right away)."""
        fired = oputil.FAST_PATH_DECISIONS.pop(family, None)
        if fired is not None:
            self.note(f"{layer}.fast_path", fired)

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def run_pass(self, i: int) -> dict[str, float]:
        """Run pass ``i``; return ``{step: seconds}``."""
        raise NotImplementedError

    def check(self, i: int) -> dict[str, list[str]]:
        """``{step: errors}`` for the last pass; releases its outputs."""
        raise NotImplementedError

    def release(self) -> None:
        """Drop the last pass's cached outputs without checking them."""

    def final_check(self) -> dict[str, list[str]]:
        """Checks of state built up over the whole run."""
        return {}


# ---------------------------------------------------------------------------
# rmat_kernels
# ---------------------------------------------------------------------------


class _Hooked(BatchAlg):
    """Delegates to a streaming algorithm, initialises it once, and
    wraps its per-batch maintenance in a span."""

    def __init__(self, inner: BatchAlg, family: str, layer: str, owner: "RmatKernels") -> None:
        self.inner = inner
        self.family = family
        self.name = inner.name
        self.layer = layer
        self.owner = owner
        self.ready = False

    def init(self, edges, store) -> None:
        if not self.ready:
            self.inner.init(edges, store)
            self.ready = True

    def after_batch(self, edges, batch, store) -> None:
        self.owner.close_merge()
        with self.owner.tracer.span(self.layer):
            self.inner.after_batch(edges, batch, store)
        self.owner.note_fast_path(self.family, self.family)


class _MergeOpener(BatchAlg):
    """Last in the hook list: its ``before_batch`` runs right before
    the workflow merges the batch, so it opens the merge spans."""

    name = "merge-span"

    def __init__(self, owner: "RmatKernels") -> None:
        self.owner = owner

    def before_batch(self, edges, batch, store) -> None:
        self.owner.open_merge()


class RmatKernels(Workload):
    """The paper's kernel suite on a fresh seeded R-MAT graph per pass
    (build, CC, BFS, PageRank, exact triangles, a bulk merge of a
    seeded action stream with P(delete) = 1/16), then one batch of a
    second seeded action stream through ``ActionStreamWorkflow`` onto a
    standing R-MAT graph, with incremental CC and warm-started PageRank
    refreshed after the batch."""

    name = "rmat_kernels"
    STEPS = ["build", "cc", "sssp", "pr", "tri", "merge", "batch"]
    BATCHES = 64  # stream length, in batches

    def generate(self) -> None:
        s = self.size
        # the per-pass graphs are built inside the timed pass (build is
        # a kernel); set-up materializes the action streams and the
        # standing graph of the stream
        self._bulk = rmat_actions(
            self.spark, s["rmat_scale"], s["rmat_actions"], seed=self.seed
        ).localCheckpoint()
        raw = rmat_directed(self.spark, s["stream_scale"], 8, seed=self.seed + 1)
        self._base = Graph.from_directed(raw).edges.localCheckpoint()
        self._stream = rmat_actions(
            self.spark, s["stream_scale"], s["stream_batch"] * self.BATCHES, seed=self.seed + 2
        ).localCheckpoint()

    def prepare(self) -> None:
        self._cc = _Hooked(IncrementalComponents(), "components", "workflow.cc_maint", self)
        self._pr = _Hooked(IncrementalPageRank(), "pagerank", "workflow.pr_maint", self)
        self._merge_spans: list = []
        self.wf = ActionStreamWorkflow(self._base, [self._cc, self._pr, _MergeOpener(self)])
        for alg in (self._cc, self._pr):
            alg.init(self.wf.edges, self.wf.store)
        self._applied = 0

    def open_merge(self) -> None:
        self._merge_spans = [
            self.tracer.begin("workflow.merge"),
            self.tracer.begin("updates.merge"),
        ]

    def close_merge(self) -> None:
        while self._merge_spans:
            self.tracer.end(self._merge_spans.pop())

    def run_pass(self, i: int) -> dict[str, float]:
        scale = self.size["rmat_scale"]
        sub_seed = self.seed * 1009 + i
        tr = self.tracer
        out: dict[str, float] = {}
        with tr.span("rmat.generate") as gen:
            raw = rmat_directed(self.spark, scale, 8, seed=sub_seed).localCheckpoint()
        with tr.span("graph.symmetrize") as sym:
            g = Graph.from_directed(raw).canonical()
            ne, _ = _agg(g.edges, F.count("*"), F.sum("wgt"))
        out["build"] = gen.seconds + sym.seconds
        self.note("graph.canon_per_raw", ne / ((1 << scale) * 8))
        e = g.edges
        # seeded BFS source among vertices that have edges (untimed)
        source = int(
            e.select("src").distinct()
            .orderBy(F.xxhash64("src", F.lit(sub_seed)), "src")
            .first()[0]
        )
        with tr.span("components") as s:
            labels, _ = _force(
                connected_components(e),
                F.count("*"), F.sum("label"), F.sum(F.col("id") * F.col("label")),
            )
        self.note_fast_path("components", "components")
        out["cc"] = s.seconds
        with tr.span("bfs") as s:
            dist, (reached, _) = _force(bfs(e, source), F.count("*"), F.sum("dist"))
        self.note_fast_path("bfs", "bfs")
        self.note("bfs.reached", reached)
        out["sssp"] = s.seconds
        with tr.span("pagerank") as s:
            ranks, _ = _force(pagerank(e), F.count("*"), F.sum("pr"), F.max("pr"))
        self.note_fast_path("pagerank", "pagerank")
        out["pr"] = s.seconds
        with tr.span("triangles") as s:
            ntri = exact_triangle_count(e)
        self.note_fast_path("dense", "triangles")
        out["tri"] = s.seconds
        with tr.span("updates.merge") as s:
            merged, _ = _force(
                apply_actions(e, self._bulk),
                F.count("*"), F.sum("wgt"), F.sum(F.col("src") - F.col("dst")),
            )
        out["merge"] = s.seconds
        self.note("update_eps", self.size["rmat_actions"] / s.seconds)
        self._last = (g, raw, source, labels, dist, ranks, ntri, merged)
        out["batch"] = self._stream_batch()
        return out

    def _stream_batch(self) -> float:
        bs = self.size["stream_batch"]
        k = self._applied
        if k >= self.BATCHES:
            raise RuntimeError("action stream exhausted")
        batch = self._stream.filter((F.col("seq") >= k * bs) & (F.col("seq") < (k + 1) * bs))
        with self.tracer.span("workflow.batch") as s:
            self.wf.run(batch, bs)
        self._applied = k + 1
        self.note("stream_eps", bs / s.seconds)
        return s.seconds

    def check(self, i: int) -> dict[str, list[str]]:
        g, raw, source, labels, dist, ranks, ntri, merged = self._last
        errors: dict[str, list[str]] = {}
        try:
            edges = g.edges.toPandas()
            src = edges["src"].to_numpy(np.int64)
            dst = edges["dst"].to_numpy(np.int64)
            lab = labels.toPandas()
            if dict(zip(lab["id"].tolist(), lab["label"].tolist())) != reference.components(src, dst):
                errors["cc"] = ["components labels differ from union-find"]
            d = dist.toPandas()
            if dict(zip(d["id"].tolist(), d["dist"].tolist())) != reference.bfs(src, dst, source):
                errors["sssp"] = ["bfs distances differ from the reference traversal"]
            bad = _pagerank_errors(ranks.toPandas(), reference.pagerank(src, dst), "pagerank")
            if bad:
                errors["pr"] = bad
            if ntri != reference.triangle_count(src, dst):
                errors["tri"] = ["triangle count differs"]
            want = reference.replay_actions(edges, self._bulk.toPandas())
            if not _same_edges(merged.toPandas(), want):
                errors["merge"] = ["merged edge table differs from the DuckDB replay"]
        finally:
            self.release()
        return errors

    def release(self) -> None:
        g, raw, _, labels, dist, ranks, _, merged = self._last
        for df in (labels, dist, ranks, merged, raw):
            df.unpersist()
        g.unpersist()

    def final_check(self) -> dict[str, list[str]]:
        """The stream's batches build on each other: its final state is
        checked against a replay and cold recomputes."""
        acts = self._stream.filter(
            F.col("seq") < self._applied * self.size["stream_batch"]
        ).toPandas()
        want = reference.replay_actions(self._base.toPandas(), acts)
        got = self.wf.edges.toPandas()
        if not _same_edges(got, want):
            return {"batch": ["streamed edge table differs from the DuckDB replay"]}
        errors: list[str] = []
        src = want["src"].to_numpy(np.int64)
        dst = want["dst"].to_numpy(np.int64)
        lab = self._cc.inner.labels.toPandas()
        if dict(zip(lab["id"].tolist(), lab["label"].tolist())) != reference.components(src, dst):
            errors.append("incremental components differ from a cold recompute")
        errors += _pagerank_errors(
            self._pr.inner.pr.toPandas(), reference.pagerank(src, dst), "warm-started pagerank"
        )
        return {"batch": errors} if errors else {}


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

#: duplicate structure measured on the sf0.1 ``documents`` table: 250
#: of its 5,000 documents (5 %) are another document with " dup"
#: appended (shingle Jaccard 0.96-0.99), and 8 (0.16 %) are exact copies
NEAR_DUP_SHARE = 250 / 5000
EXACT_DUP_SHARE = 8 / 5000


def make_shard(table, n_docs: int, seed: int, k: int):
    """Shard ``k`` of a run: ``n_docs`` documents drawn without
    replacement from ``table`` (the sf0.1 ``documents`` table, so
    length, language, source and vocabulary are the table's own), plus
    near-duplicate and exact copies of drawn documents at the table's
    own measured rates, made the way the table's own are (the word
    ``dup`` appended).  Returns the shard (pandas, the ``documents``
    schema) and its planted ``(source, copy)`` pairs."""
    import pandas as pd

    rng = np.random.default_rng([seed, k])
    base = table.iloc[np.sort(rng.choice(len(table), n_docs, replace=False))]
    n_near = max(1, round(n_docs * NEAR_DUP_SHARE))
    n_exact = max(1, round(n_docs * EXACT_DUP_SHARE))
    picks = rng.choice(n_docs, n_near + n_exact, replace=False)
    copies = base.iloc[picks].copy()
    near = copies["text"].iloc[:n_near] + " dup"
    copies["text"] = pd.concat([near, copies["text"].iloc[n_near:]])
    first = int(table["doc_id"].max()) + 1 + k * (n_near + n_exact)
    copies["doc_id"] = np.arange(first, first + len(copies), dtype=np.int64)
    copies["n_chars"] = copies["text"].str.len().astype(np.int64)
    planted = list(zip(base["doc_id"].iloc[picks[:n_near]].tolist(),
                       copies["doc_id"].iloc[:n_near].tolist()))
    shard = pd.concat([base, copies], ignore_index=True)
    return shard[["doc_id", "text", "lang", "source", "n_chars"]], planted


class CorpusCuration(Workload):
    """MinHash-LSH near-duplicate detection, then the composite
    keep/drop decision, over one seeded shard of the sf0.1
    ``documents`` table per pass."""

    name = "corpus_curation"
    STEPS = ["dedup", "curation"]
    WARMUP = 6
    SHARDS = 4
    THRESHOLD = 0.5

    def generate(self) -> None:
        import pandas as pd

        table = pd.read_parquet(DOCUMENTS)
        n = self.size["shard_docs"]
        self._shards = []
        for k in range(self.SHARDS):
            pdf, planted = make_shard(table, n, self.seed, k)
            df = self.spark.createDataFrame(pdf).localCheckpoint()
            self._shards.append((pdf, planted, df))

    def run_pass(self, i: int) -> dict[str, float]:
        pdf, planted, docs = self._shards[i % self.SHARDS]
        out: dict[str, float] = {}
        with self.tracer.span("dedup") as s:
            pairs, (n_pairs, _, _) = _force(
                minhash_near_duplicates(docs, threshold=self.THRESHOLD),
                F.count("*"), F.sum("jaccard"), F.sum("inter"),
            )
        out["dedup"] = s.seconds
        with self.tracer.span("curation") as s:
            decision, (_, kept, _) = _force(
                curation_decision(docs),
                F.count("*"), F.sum("keep"), F.sum(F.length("drop_reasons")),
            )
        out["curation"] = s.seconds
        self.note("dedup.verified", n_pairs)
        self.note("curation.kept_frac", kept / len(pdf))
        if self.tracer.enabled:
            # candidate count from the same public LSH stages (untimed)
            cand = lsh_candidate_pairs(
                lsh_bands(minhash_signatures(char_shingles(docs)))
            ).count()
            self.note("dedup.candidates", cand)
        self._last = (pdf, planted, pairs, decision)
        return out

    def check(self, i: int) -> dict[str, list[str]]:
        pdf, planted, pairs, decision = self._last
        try:
            return self._check(pdf, planted, pairs.toPandas(), decision.toPandas())
        finally:
            self.release()

    def release(self) -> None:
        for df in self._last[2:]:
            df.unpersist()

    def _check(self, pdf, planted, pairs, decision) -> dict[str, list[str]]:
        errors: dict[str, list[str]] = {}
        got = decision.sort_values("doc_id").reset_index(drop=True)
        want = reference.curation_oracle(pdf)
        cols = ["doc_id", "keep", "drop_reasons"]
        if not (len(got) == len(want) and (got[cols].to_numpy() == want[cols].to_numpy()).all()):
            errors["curation"] = ["curation_decision differs from the DuckDB oracle"]
        text = dict(zip(pdf["doc_id"].tolist(), pdf["text"].tolist()))
        found = set()
        for a, b, jac in pairs[["a_id", "b_id", "jaccard"]].itertuples(index=False):
            exact = reference.jaccard(text[a], text[b])
            if exact < self.THRESHOLD or abs(exact - jac) > 1e-6:
                errors["dedup"] = [f"pair ({a},{b}) reported {jac}, exact Jaccard {exact:.6f}"]
                break
            found.add((a, b))
        self.note("dedup.planted_recall", sum(p in found for p in planted))
        self.note("dedup.planted", len(planted))
        return errors


WORKLOADS = {w.name: w for w in (RmatKernels, CorpusCuration)}
