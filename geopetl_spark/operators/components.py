"""Connected components over a near-duplicate pair graph — the transitive
grouping stage every dedup pipeline needs between pair generation
(MinHash/SimHash/embedding near-dup) and canonical-document selection:
if A~B and B~C, then {A,B,C} is ONE duplicate cluster even when A~C was
never emitted as a pair.

Algorithm: **large-star / small-star alternation** (Kiveris et al.,
"Connected Components in MapReduce and Beyond"). Each round rewires the
edge set toward a star rooted at the component minimum:

* *large-star* — per node ``u``, every neighbor ``v > u`` is re-pointed at
  ``m = min(Γ(u) ∪ {u})``;
* *small-star* — per node ``u`` (over edges oriented ``src > dst``), every
  smaller neighbor plus ``u`` itself is re-pointed at the minimum smaller
  neighbor.

Both steps are ONE groupBy-min + ONE key-partitioned join over the edge
set — no per-node state, nothing unbounded collected. Convergence is
O(log n) rounds *independent of graph diameter* (observed; the paper's
worst-case bound is O(log² n)) — a 10⁶-hop duplicate chain converges in
~20 alternations, where one round of plain min-label propagation per hop
would never finish. ``max_iter`` therefore bounds pathology, not ordinary
inputs: hitting it raises rather than returning partial labels.

Two structural decisions that matter at scale:

* **Per-round columnar checkpoint, JVM-side.** Round k's plan would embed
  every prior round's joins, so each round's edge frontier is written to
  parquet and read back: plan depth stays O(1), rows never round-trip
  through Python serialization (the round-3 ``createDataFrame(df.rdd)``
  rebase paid a full pickle/unpickle of the dataset per round), and each
  round is independently durable/resumable — the same checkpoint
  discipline the engine's CDC pipeline uses. Only the last two frontiers
  exist on disk at any time; older rounds are deleted eagerly.
* **Releasable storage, caller-owned lifetime.** The RETURNED label frame
  is DataFrame-``persist()``-ed for cheap repeated consumption; after the
  caller ``unpersist()``s it, recomputation is a bare parquet read of the
  final label checkpoint (no executor cache pinned —
  ``tests/test_components.py`` asserts storage is empty after release).
  The checkpoint directory lives until process exit (``atexit`` cleanup)
  unless the caller passes ``work_dir`` and owns it.

Fixpoint detection is EXACT, not probabilistic: when a round's edge count
matches the previous round's, the two (distinct) edge sets are compared
with a set-``except`` probe — equal count + empty except ⇒ identical set
⇒ the alternation is at its fixed point (both steps are deterministic
functions of the edge set).

Reference parity: geopetl has no graph surface; this fills the dedup
pipeline gap alongside operators/dedup_text.py (SURVEY §2.7 extension).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import gates

__all__ = ["dup_components", "component_stats"]


def _large_star(edges: DataFrame) -> DataFrame:
    """Re-point every strictly-larger neighbor at the neighborhood minimum.
    Input: any edge set (undirected semantics). Output: canonical
    ``src > dst`` edges."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least(F.col("_mn"), F.col("src")).alias("_m"))
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Re-point every smaller neighbor (and the node itself) at the minimum
    smaller neighbor. Input/output: canonical ``src > dst`` edges."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("_m"))
    rewired = (
        edges.join(mins, "src")
        .filter(F.col("dst") != F.col("_m"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    hub = mins.select("src", F.col("_m").alias("dst"))
    return rewired.union(hub).distinct()


def _driver_union_find(rows) -> dict:
    """Union-find with per-component minimum labeling over collected
    ``(_pa, _pb)`` rows — semantics identical to the star alternation:
    every node of the pair graph maps to the smallest node id (by the id
    type's own ordering, matching ``F.min``/``F.least``) reachable from it.
    Null endpoints replicate the distributed path's ``greatest``/``least``
    null-skipping: a (x, null) pair degrades to the self-loop {x}, and the
    null node labels itself null."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for r in rows:
        a, b = r["_pa"], r["_pb"]
        if a is None or b is None:
            has_null = True
        ends = [x for x in (a, b) if x is not None]
        for x in ends:
            parent.setdefault(x, x)
        if len(ends) == 2 and a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                # attach the larger root under the smaller: roots stay the
                # component minimum at every step (min labeling for free)
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    labels = {n: find(n) for n in parent}
    if has_null:
        labels[None] = None
    return labels


def dup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    work_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the undirected pair graph with its component id
    (the MINIMUM node id in the component — deterministic and stable under
    pair-order changes). Returns ``(doc_id, component_id)``, persisted —
    see the module docstring's lifetime contract.

    Below the ``components_driver_edges`` count gate
    (:mod:`geopetl_spark.plans.gates`) the graph is solved with driver-side
    union-find instead of the distributed star alternation — a bounded
    collect with broadcast-join economics that replaces ~4 Spark jobs PER
    ROUND with one, measured 2.5→0.6 s on the sf0.1 near-dedup graphs
    (O(E α(E)), microseconds per edge). The gate judges the EXACT row count
    of the materialized pair chain, so a 100-TB pair graph always takes the
    distributed path. Labels are bit-identical
    (``tests/test_components.py::test_driver_and_distributed_paths_agree``).

    ``stats`` (optional dict) receives ``{"rounds": k}`` — the number of
    star alternations used (0 for the driver path). Raises ``RuntimeError``
    if the fixpoint is not reached in ``max_iter`` rounds (≈2·log₂(n)
    suffices for ANY input, so the default 25 covers graphs far beyond
    10¹² nodes) — partial labels are never returned silently.
    """
    spark = pairs.sparkSession
    work = work_dir or tempfile.mkdtemp(prefix="geopetl_components_")
    if work_dir is None:
        atexit.register(shutil.rmtree, work, True)

    def _ckpt(df: DataFrame, name: str) -> tuple[DataFrame, int]:
        path = os.path.join(work, name)
        df.write.mode("overwrite").parquet(path)
        # under df's schema: no schema-inference job (see plans.ckpt.materialize)
        out = spark.read.schema(df.schema).parquet(path)
        return out, out.count()

    def _finish(labels_df: DataFrame) -> DataFrame:
        out, _ = _ckpt(labels_df, "labels")
        out = out.select("doc_id", "component_id").persist()
        out.count()
        return out

    # Checkpoint the RAW pair set first, then derive edges AND nodes from
    # the checkpoint: the upstream pair-generation chain (often an
    # expensive LSH candidate pipeline) is evaluated exactly ONCE. The
    # previous layout evaluated it three times — once for the canonical
    # edges and twice more inside the nodes union at label time (measured
    # 13.3 -> 9.6 s for the sf0.1 embedding near-dedup entry; the residual
    # is per-round fixed job cost, which amortizes at real graph sizes).
    a, b = F.col(id_a), F.col(id_b)
    raw, n_raw = _ckpt(pairs.select(a.alias("_pa"), b.alias("_pb")), "pairs")

    if gates.small_count(n_raw, "components_driver_edges"):
        from pyspark.sql import types as T

        labels = _driver_union_find(raw.collect())
        if stats is not None:
            stats["rounds"] = 0
        id_type = raw.schema["_pa"].dataType
        schema = T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("component_id", id_type)]
        )
        labels_df = spark.createDataFrame(
            sorted(labels.items(), key=lambda kv: (kv[0] is None, kv[0])), schema
        )
        return _finish(labels_df)

    canon = (
        raw.select(
            F.greatest(F.col("_pa"), F.col("_pb")).alias("src"),
            F.least(F.col("_pa"), F.col("_pb")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # explode keeps self-loop-only nodes (they vanish from canon) with a
    # single scan of the checkpoint, unlike the two-scan select-union
    nodes = raw.select(
        F.explode(F.array(F.col("_pa"), F.col("_pb"))).alias("node")
    ).distinct()

    edges, n_edges = _ckpt(canon, "round-0")
    rounds = 0
    converged = n_edges == 0  # edgeless graph: every node is its own root
    for k in range(1, max_iter + 1):
        if converged:
            break
        new_edges, n_new = _ckpt(_small_star(_large_star(edges)), f"round-{k}")
        rounds = k
        if n_new == n_edges and new_edges.exceptAll(edges).limit(1).count() == 0:
            converged = True
        shutil.rmtree(os.path.join(work, f"round-{k - 1}"), ignore_errors=True)
        edges, n_edges = new_edges, n_new
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(f"dup_components did not converge in {max_iter} rounds")

    # at the fixpoint the edge set is a star forest: src -> component min.
    # min(dst) is a safety net (a true fixpoint has exactly one dst per src);
    # roots (and self-loop-only nodes) appear only as dst and self-label.
    star = edges.groupBy("src").agg(F.min("dst").alias("_comp"))
    labels = (
        nodes.join(star, nodes.node == star.src, "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("_comp"), F.col("node")).alias("component_id"),
        )
    )
    out, _ = _ckpt(labels, "labels")
    shutil.rmtree(os.path.join(work, f"round-{rounds}"), ignore_errors=True)
    out = out.select("doc_id", "component_id").persist()
    out.count()
    return out


def component_stats(components: DataFrame) -> DataFrame:
    """Per-component accounting: size and canonical (minimum) member —
    the keep-one-per-cluster selection input."""
    return components.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        F.min("doc_id").alias("canonical_doc_id"),
    )
