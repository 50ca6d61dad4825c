"""Similarity search over embedding columns.

* :func:`cosine_topk` — exact brute-force top-k (the correctness baseline).
* :func:`lsh_bucketed_topk` — approximate top-k over random-hyperplane LSH
  buckets (deterministic integer hyperplanes, cross-engine reproducible);
  bucket width (``n_bits``) trades recall for candidate count.
* :func:`ivf_topk` — approximate top-k over the inverted lists of the
  ``nprobe`` nearest centroids (:func:`ivf_centroid_array` seeding or
  :func:`ivf_train_centroids` spherical k-means).
* :func:`embedding_near_dup_pairs` — cosine-threshold near-dup pairs.

The three top-k searches share one scan (:func:`_topk_scan`): the query side
is collected, then one Arrow pass over the corpus scores each batch with
numpy kernels and emits a pruned per-batch top-k. Vector math is numpy over
Arrow batches whose dots are sequential IEEE scans (:func:`_np_seq_dot`),
bit-identical to the Spark expression fold (``functions.arrays.dot``) and to
DuckDB's ``list_dot_product``; similarities are rounded to 6dp for
cross-engine hash determinism.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import dot, to_double_array
from ..plans import gates
from ..plans.barriers import opaque
from ..plans.ckpt import materialize


def with_unit_vector(df: DataFrame, vec_col: str, out_col: str = "_unit") -> DataFrame:
    """Precompute the L2-normalized vector ONCE per row, so pairwise cosine
    reduces to a single dot product. The normalization order of operations
    (sequential sum of squares -> sqrt -> per-element divide) is mirrored
    exactly in :func:`_np_unit` and the SQL oracles."""
    v = to_double_array(F.col(vec_col))
    # opaque() stops CollapseProject from inlining the norm aggregate into
    # the per-element divide (which would make normalization O(dim^2))
    df = df.withColumn("_nrm", opaque(F.sqrt(dot(v, v)), seed=3))
    return df.withColumn(out_col, F.transform(v, lambda x: x / F.col("_nrm"))).drop("_nrm")


def _np_pair_scored(pairs: DataFrame, a_vec: str, b_vec: str, keep: list[str]) -> DataFrame:
    """Exact sequential-fold cosine for joined (unit_a, unit_b) pairs, as a
    vectorized numpy scan. Emits ``keep`` (input types preserved) + rounded
    ``similarity``."""
    from pyspark.sql import types as T

    def go(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.array([np.asarray(x, dtype=np.float64) for x in pdf[a_vec]])
            vb = np.array([np.asarray(x, dtype=np.float64) for x in pdf[b_vec]])
            out = {c: pdf[c] for c in keep}
            out["_sim"] = _np_seq_dot(va, vb)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [T.StructField(c, pairs.schema[c].dataType) for c in keep]
        + [T.StructField("_sim", T.DoubleType())]
    )
    return pairs.mapInPandas(go, schema=schema).select(
        *keep, F.round(F.col("_sim"), 6).alias("similarity")
    )


def _topk_scan(corpus: DataFrame, id_col: str, q_type, queries: list, batch, k: int) -> DataFrame:
    """The one top-k search kernel: exact (round6(sim) desc, neighbor id asc)
    top-k per query over ``corpus``, self-matches excluded.

    ``queries`` is the collected query side, a list of ``(query_id,
    unit_vector, allowed_keys)``; ``allowed_keys`` is None (score every row)
    or the row keys the query may match (its LSH bucket, its probed
    centroids). ``batch(pdf)`` maps one Arrow batch of ``corpus`` to
    ``(ids, unit_matrix, row_keys)``. ONE ``mapInPandas`` pass scores each
    batch against every query with the sequential-scan kernel and emits
    only a margin-pruned per-batch top-k (:func:`_topk_prune`), so the
    corpus is never joined or replicated per query and O(k·queries) rows
    per batch reach the final window. ``query_id`` is typed ``q_type``,
    ``neighbor_id`` keeps the corpus id column's type.

    Driver-collect contract: the caller collects the query side, so it must
    fit on the driver (the corpus side is never collected)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", q_type),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("_sim", T.DoubleType()),
        ]
    )

    def scan(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0 or not queries:
                continue
            ids, u, keys = batch(pdf)
            out_q, out_n, out_s = [], [], []
            for qid, qv, allowed in queries:
                m = ids != qid
                if allowed is not None:
                    m &= np.isin(keys, allowed)
                if not m.any():
                    continue
                pid, psim = _topk_prune(ids[m], _np_seq_dot(u[m], qv[None, :]), k)
                out_q.extend([qid] * len(pid))
                out_n.extend(pid.tolist())
                out_s.extend(psim.tolist())
            if out_q:
                yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "_sim": out_s})

    scored = corpus.mapInPandas(scan, schema=out_schema).select(
        "query_id", "neighbor_id", F.round(F.col("_sim"), 6).alias("similarity")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (excludes self-matches).
    Ties break on neighbor id for full determinism. The query set is
    collected and normalized driver-side; every corpus row is scored in
    one :func:`_topk_scan` pass."""
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    units = (
        _np_unit(np.array([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows]))
        if q_rows
        else []
    )
    qs = [(r[id_col], u, None) for r, u in zip(q_rows, units)]

    def batch(pdf):
        u = _np_unit(np.array([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]))
        return pdf[id_col].to_numpy(), u, None

    corpus = corpus.select(id_col, vec_col)
    return _topk_scan(corpus, id_col, queries.schema[id_col].dataType, qs, batch, k)


def _hyperplane_weight(d: int, j: int) -> float:
    """Deterministic integer 'random' hyperplane weight, shared bit-for-bit
    with the SQL oracle (``__spark_entry__._lsh_bucket_sql``):

        k(d, j) = (1103515245*(d + 64*j) + 12345) mod 2^31
        w(d, j) = ((k*k) // 2048) mod 2001 - 1000

    The quadratic mix is what makes planes INDEPENDENT: an affine family
    ``(a*(d + 31*j) + c) mod 2001`` collapses to one arithmetic progression
    mod 2001 (every plane = the same vector plus a per-plane constant,
    modulo wraparound), so tables correlate and multi-table recall
    undershoots its model by ~2× in miss rate (measured 0.843 vs modeled
    0.911 at θ=0.40, BENCH/BASELINE.md). Squaring k breaks the affinity in
    ``d``; measured recall tracks the independence model (0.958 vs 0.955 at
    4×18). All ops stay in int64 (k < 2^31, k² < 2^62) so DuckDB reproduces
    them exactly."""
    k = (1103515245 * (d + 64 * j) + 12345) % 2147483648
    return float(((k * k) // 2048) % 2001 - 1000)


@lru_cache(maxsize=None)
def _planes(n_planes: int, width: int):
    """Hyperplanes j = 0..n_planes-1 of the shared family at ``width``: a
    pure function of (j, d), so any executor (and the SQL oracle)
    regenerates the identical matrix. Cached per worker process."""
    import numpy as np

    return np.array(
        [[_hyperplane_weight(d, j) for d in range(width)] for j in range(n_planes)],
        dtype=np.float64,
    )


def _hyperplane_buckets(v, n_bits: int, dim: int | None, n_tables: int = 1):
    """LSH bucket ids, shape (rows, n_tables), of the RAW vectors ``v``.
    Table t uses hyperplanes j = t*n_bits .. t*n_bits+n_bits-1 and bucket =
    sum_j sign_bit_j * 2^(j - t*n_bits); every dot is a sequential IEEE scan
    (:func:`_np_seq_dot`), so the SQL oracle reproduces each sign bit.

    ``dim`` pins the hyperplane width: with ``dim < len(vector)`` only the
    first ``dim`` components enter the bucket dot; ``dim > len(vector)``
    raises. ``None``: the vectors' own width."""
    import numpy as np

    if dim is not None and dim > v.shape[1]:
        raise ValueError(f"dim={dim} exceeds vector length {v.shape[1]} for LSH bucketing")
    vb = v if dim is None else v[:, :dim]
    W = _planes(n_bits * n_tables, vb.shape[1])
    signs = np.empty((len(v), n_bits * n_tables), dtype=bool)
    for j in range(n_bits * n_tables):
        signs[:, j] = _np_seq_dot(vb, W[j][None, :]) > 0
    return np.stack(
        [
            (signs[:, t * n_bits : (t + 1) * n_bits] * (1 << np.arange(n_bits))).sum(axis=1)
            for t in range(n_tables)
        ],
        axis=1,
    )


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket
    (table 0 of the :func:`_hyperplane_buckets` family over the first
    ``dim`` components). The query set is collected, normalized and
    bucketed driver-side; one :func:`_topk_scan` pass buckets each corpus
    batch and scores only the rows sharing a query's bucket — no bucket
    join, no per-pair vector shipping."""
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    qs = []  # empty query set: the scan emits nothing
    if q_rows:
        v_q = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
        b_q = _hyperplane_buckets(v_q, n_bits, dim)[:, 0]
        qs = [(r[id_col], u, [b]) for r, u, b in zip(q_rows, _np_unit(v_q), b_q)]

    def batch(pdf):
        v = np.array([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
        return pdf[id_col].to_numpy(), _np_unit(v), _hyperplane_buckets(v, n_bits, dim)[:, 0]

    corpus = corpus.select(id_col, vec_col)
    return _topk_scan(corpus, id_col, queries.schema[id_col].dataType, qs, batch, k)


def _multi_table_keyed(
    df: DataFrame,
    n_bits: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """One Arrow-batched pass over the corpus emitting, per row, the
    L2-normalized vector plus ``n_tables`` LSH bucket keys ('t:bucket') from
    :func:`_hyperplane_buckets` — table 0 is :func:`lsh_bucketed_topk`'s
    plane set, and every table is reproducible in the SQL oracle. Buckets
    hash the RAW (double-cast) vector. The id column keeps its input type."""
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("_id", df.schema[id_col].dataType),
            T.StructField("_unit", T.ArrayType(T.DoubleType())),
            T.StructField("_keys", T.ArrayType(T.StringType())),
        ]
    )

    def keyer(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            b = _hyperplane_buckets(v, n_bits, dim, n_tables)
            kmat = np.stack(
                [np.char.add(f"{t}:", b[:, t].astype(str)) for t in range(n_tables)], axis=1
            )
            yield pd.DataFrame({"_id": pdf[id_col], "_unit": list(_np_unit(v)), "_keys": list(kmat)})

    return df.mapInPandas(keyer, schema=out_schema)


def lsh_config_for(
    threshold: float,
    recall_target: float = 0.9,
    n_bits: int = 4,
    max_tables: int = 64,
    calibration: float = 2.0,
) -> tuple[int, int, float]:
    """Size the multi-table hyperplane index for a cosine threshold.

    Model: a hyperplane separates two vectors at angle θ with probability
    θ/π, so a pair at exactly ``threshold`` collides in one ``n_bits``-bit
    table with p = (1 - arccos(threshold)/π)^n_bits and is FOUND by at
    least one of T tables with recall = 1 - (1-p)^T. Solving for the
    smallest T meeting the target gives the config; pairs ABOVE the
    threshold collide more often, so the model is a lower bound across the
    qualifying range.

    **Calibration:** the independence model overestimates this
    engine's family — the hyperplanes are deterministic integer
    pseudo-planes applied to raw non-centered vectors, so collisions
    correlate across tables (measured miss rate ≈ 1.8× the modeled one on
    the sf0.1 benchmark; BENCH/BASELINE.md). The solver therefore sizes
    for a miss rate of ``(1 - recall_target) / calibration`` (default 2 —
    halve the modeled misses), so the DELIVERED recall meets the requested
    target instead of undershooting it by the correlation factor.

    Returns ``(n_bits, n_tables, modeled_recall)`` — modeled_recall is the
    un-calibrated independence-model value for the chosen table count (the
    honest model output, tabulated against measured recall in
    BENCH/BASELINE.md) — and warns if ``max_tables`` caps recall below the
    target (candidate volume grows linearly in T — the cap is the cost
    guard)."""
    import math
    import warnings

    if not -1.0 < threshold < 1.0:
        raise ValueError("threshold must be in (-1, 1)")
    if not 0.0 < recall_target < 1.0:
        raise ValueError("recall_target must be in (0, 1)")
    if calibration < 1.0:
        raise ValueError("calibration must be >= 1 (1 = trust the model)")
    eff_target = 1.0 - (1.0 - recall_target) / calibration
    p_table = (1.0 - math.acos(threshold) / math.pi) ** n_bits
    if p_table <= 0.0:
        need = max_tables + 1
    elif p_table >= 1.0:
        need = 1
    else:
        need = math.ceil(math.log(1.0 - eff_target) / math.log(1.0 - p_table))
    n_tables = max(1, min(need, max_tables))
    recall = 1.0 - (1.0 - p_table) ** n_tables
    if need > max_tables:
        warnings.warn(
            f"LSH recall target {recall_target} at threshold {threshold} needs "
            f"{need} tables; capped at {max_tables} (modeled recall {recall:.3f}). "
            f"Raise max_tables, lower n_bits, or use method='blocked' for an "
            f"exact audit.",
            stacklevel=2,
        )
    return n_bits, n_tables, recall


# pairs per slab of the per-bucket near-dup kernel: bounds the cumsum
# intermediate to ~0.5 GB however large the bucket
_PAIR_SLAB = 1 << 20


def _pair_slabs(n: int):
    """The upper-triangle pairs (i, j), i < j, of ``n`` rows in row-major
    order (the order of ``np.triu_indices(n, 1)``), yielded as index-array
    slabs of whole rows holding at most ``_PAIR_SLAB`` pairs (a row whose
    own pair count exceeds it is a slab alone). Only one slab exists at a
    time, so memory is bounded by the slab, not by n²; a bucket that fits
    in one slab yields exactly ``np.triu_indices(n, 1)``."""
    import numpy as np

    i0 = 0
    while i0 < n - 1:
        i1, size = i0 + 1, n - 1 - i0
        while i1 < n - 1 and size + (n - 1 - i1) <= _PAIR_SLAB:
            size += n - 1 - i1
            i1 += 1
        rows = np.arange(i0, i1)
        cnt = n - 1 - rows
        ii = np.repeat(rows, cnt)
        start = np.repeat(np.cumsum(cnt) - cnt, cnt)  # slab offset of each row's first pair
        yield ii, np.arange(size) - start + ii + 1
        i0 = i1


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    n_blocks: int = 8,
    n_bits: int | None = None,
    n_tables: int | None = None,
    recall_target: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold).

    ``method='lsh'`` (default — the 100-TB path): sub-quadratic candidate
    generation, then exact verification of candidates ONLY —

    1. **candidate pass**: every vector is hashed into ``n_tables``
       independent random-hyperplane bucket tables (``n_bits`` bits each,
       deterministic shared hyperplane family); pairs sharing any
       (table, bucket) key become candidates via one bucket **equi-join** —
       the pair space is never enumerated. Work ∝ Σ bucket², bounded by
       the bucket granularity, not n².
    2. **verify pass**: candidates join back to their unit vectors and get
       an exact sequential-fold cosine (Arrow-batched numpy scan,
       bit-identical to the expression fold), rounded to 6dp, thresholded.

    Recall < 1 by construction (a true pair colliding in no table is
    missed). By DEFAULT the index is SIZED FROM THE THRESHOLD: leaving
    ``n_bits``/``n_tables`` unset invokes :func:`lsh_config_for`, which
    solves the (1 - θ/π)^n_bits collision model for the smallest table
    count whose modeled recall meets ``recall_target`` (0.9), and warns
    when the 64-table cost cap forces lower — so an aggressive (low)
    threshold buys more tables instead of silently dropping pairs.
    Measured recall per config is tabulated in ``BENCH/BASELINE.md``.
    Exactness of emitted VALUES is unconditional: only membership is
    approximate; pin both knobs explicitly to freeze a config.

    ``method='blocked'``: exact all-pairs for small corpora / recall audits,
    fully-distributed (no driver materialization, no corpus broadcast) —

    1. **candidate pass**: every vector is hashed into one of ``n_blocks``
       blocks; each unordered block pair (bi ≤ bj) becomes one
       ``applyInPandas`` group holding exactly two blocks of unit vectors,
       multiplied with one numpy BLAS GEMM. A pair of vectors belongs to
       exactly one block pair, so coverage is exact and duplicate-free.
       Pairs with approximate sim ≥ threshold - 1e-6 survive (BLAS summation
       differs from the sequential fold only in final ulps).
    2. **refine pass**: the surviving pairs (tiny) get the exact sequential
       fold, preserving bit-parity with the SQL oracle.

    Scale model: executor memory per task = 2·(n/n_blocks) vectors — raise
    ``n_blocks`` with corpus size (tasks = B(B+1)/2, replication factor = B;
    communication O(n·B) for the inherently O(n²) exact problem, with BLAS
    doing the flops instead of an interpreted fold).
    """
    if method not in ("lsh", "blocked"):
        raise ValueError(f"unknown method {method!r} (lsh|blocked)")
    if method == "lsh":
        if n_bits is None:
            n_bits = 4
        if n_tables is None:
            _, n_tables, _ = lsh_config_for(threshold, recall_target, n_bits)
        # materialize the keyed corpus ONCE (guide §3.3): its consumers
        # below (candidate sides a/b + the verify side) sit behind
        # differently-keyed joins, so without the checkpoint the Arrow
        # normalize+hash pass over the corpus runs 4× (one MapInPandas
        # node per consumer over the same scan)
        keyed = materialize(
            _multi_table_keyed(df, n_bits, n_tables, id_col, vec_col), "ann_keyed"
        )
        kx = keyed.select("_id", F.explode("_keys").alias("_tb"))
        ka, kb = kx.alias("ka"), kx.alias("kb")
        raw_pairs = (
            ka.join(kb, (F.col("ka._tb") == F.col("kb._tb")) & (F.col("ka._id") < F.col("kb._id")))
            .select(F.col("ka._id").alias("id_a"), F.col("kb._id").alias("id_b"))
        )
        if gates.small_bytes(df, "near_dup_kernel"):
            # Small-corpus pair path: group the exploded index by
            # (table, bucket) and generate + score + threshold-filter each
            # bucket's pairs INSIDE one vectorized kernel — the candidate
            # slots (Σ bucket², sf0.1: 4.5M for 2,000 vectors under the
            # frozen 4-bit/18-table family) never exist as rows, never
            # cross a join, and never ship through Arrow; only survivors
            # (~900) leave the kernel, so the cross-table dedup distinct
            # is trivial. Values are exact: the same cumsum kernel per
            # pair; the kernel keeps raw sims ≥ threshold − 1e-6 (2× the
            # max 6-dp rounding perturbation) and the exact rounded filter
            # below decides membership, so the emitted set is identical to
            # the join-verify path's. Gated by the ``near_dup_kernel``
            # size gate; pairs are scored in bounded slabs
            # (:func:`_pair_slabs`), and above the gate — the 100-TB case —
            # the equi-join + pair verify below keeps the work spread
            # across the cluster.
            import numpy as np
            from pyspark.sql import types as T

            margin = 1e-6
            exploded = keyed.select("_id", "_unit", F.explode("_keys").alias("_tb"))
            schema = T.StructType(
                [
                    T.StructField("id_a", keyed.schema["_id"].dataType),
                    T.StructField("id_b", keyed.schema["_id"].dataType),
                    T.StructField("_sim", T.DoubleType()),
                ]
            )

            def bucket_pairs(pdf):
                import pandas as pd

                if len(pdf) < 2:
                    return pd.DataFrame(columns=["id_a", "id_b", "_sim"])
                ids = pdf["_id"].to_numpy()
                order = np.argsort(ids, kind="stable")
                ids = ids[order]
                mat = np.array([np.asarray(x, dtype=np.float64) for x in pdf["_unit"]])[order]
                out_a, out_b, out_s = [], [], []
                for isl, jsl in _pair_slabs(len(ids)):
                    sims = _np_seq_dot(mat[isl], mat[jsl])
                    m = sims >= threshold - margin
                    if m.any():
                        out_a.append(ids[isl[m]])
                        out_b.append(ids[jsl[m]])
                        out_s.append(sims[m])
                if not out_a:
                    return pd.DataFrame(columns=["id_a", "id_b", "_sim"])
                return pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "_sim": np.concatenate(out_s),
                    }
                )

            return (
                exploded.groupBy("_tb")
                .applyInPandas(bucket_pairs, schema=schema)
                .select("id_a", "id_b", F.round(F.col("_sim"), 6).alias("similarity"))
                .distinct()
                .filter(F.col("similarity") >= threshold)
            )
        candidates = raw_pairs.distinct()
        ua = keyed.select(F.col("_id").alias("id_a"), F.col("_unit").alias("_va"))
        ub = keyed.select(F.col("_id").alias("id_b"), F.col("_unit").alias("_vb"))
        pairs = candidates.join(ua, "id_a").join(ub, "id_b")
        return _np_pair_scored(pairs, "_va", "_vb", ["id_a", "id_b"]).filter(
            F.col("similarity") >= threshold
        )

    import numpy as np
    from pyspark.sql import types as T

    # the blocked GEMM kernel runs ids through int64 numpy arrays — loud
    # precondition instead of mangled UUIDs (lsh preserves any id type)
    if not isinstance(
        df.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        raise ValueError(
            f"method='blocked' requires an integer id column; {id_col} is "
            f"{df.schema[id_col].dataType.simpleString()} (use method='lsh')"
        )

    u = with_unit_vector(df, vec_col)
    spark = df.sparkSession
    margin = 1e-6
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)], "bi int, bj int"
    )
    ub = u.select(F.col(id_col).cast("long").alias("_id"), "_unit").withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(n_blocks)).cast("int")
    )
    # each vector is replicated to every block pair its block participates in
    # (tiny broadcast side; the OR condition compiles to a nested-loop join
    # against the B(B+1)/2-row literal table)
    rep = ub.join(
        F.broadcast(block_pairs), (F.col("_blk") == F.col("bi")) | (F.col("_blk") == F.col("bj"))
    )

    def gemm(pdf):
        import pandas as pd

        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        left = pdf[pdf["_blk"] == bi]
        ids_l = left["_id"].to_numpy()
        mat_l = np.array(list(left["_unit"]), dtype=np.float64)
        out_a, out_b = [], []
        if bi == bj:
            if len(ids_l) >= 2:
                sims = mat_l @ mat_l.T
                ii, jj = np.nonzero(np.triu(sims >= threshold - margin, k=1))
                a, b = ids_l[ii], ids_l[jj]
                out_a, out_b = np.minimum(a, b), np.maximum(a, b)
        else:
            right = pdf[pdf["_blk"] == bj]
            ids_r = right["_id"].to_numpy()
            if len(ids_l) and len(ids_r):
                mat_r = np.array(list(right["_unit"]), dtype=np.float64)
                sims = mat_l @ mat_r.T
                ii, jj = np.nonzero(sims >= threshold - margin)
                a, b = ids_l[ii], ids_r[jj]
                keep = a != b
                out_a, out_b = np.minimum(a[keep], b[keep]), np.maximum(a[keep], b[keep])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    cand = rep.groupBy("bi", "bj").applyInPandas(gemm, schema="id_a long, id_b long")
    ua = u.select(F.col(id_col).cast("long").alias("id_a"), F.col("_unit").alias("_va"))
    vb = u.select(F.col(id_col).cast("long").alias("id_b"), F.col("_unit").alias("_vb"))
    return (
        cand.join(ua, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(opaque(dot(F.col("_va"), F.col("_vb"))), 6).alias("similarity"))
        .filter(F.col("similarity") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the centroid-partitioned scale path
# ---------------------------------------------------------------------------

def _seed_centroids(corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str):
    """(ids, unit matrix) of the ``n_centroids`` corpus rows with the
    smallest ids — one TakeOrdered job; normalization runs driver-side over
    the collected rows with :func:`_np_unit`."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).cast("long").alias("cid"), F.col(vec_col).alias("_cv"))
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    mat = np.array([np.asarray(r["_cv"], dtype=np.float64) for r in rows])
    return [int(r["cid"]) for r in rows], _np_unit(mat) if len(rows) else mat


def _centroid_literal(spark, cids, units) -> DataFrame:
    """The one-row centroid table: ``_centroids array<struct<cid, u>>``."""
    lit = [(int(c), [float(x) for x in u]) for c, u in zip(cids, units)]
    return spark.createDataFrame([(lit,)], "_centroids array<struct<cid:bigint,u:array<double>>>")


def ivf_centroid_array(
    corpus: DataFrame, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """One-row LITERAL DataFrame holding the centroid table as a sorted
    ``array<struct<cid, u>>`` of unit vectors — the build-once artifact of
    the IVF index (eager: runs one TakeOrdered job of ``n_centroids`` rows).

    Centroid choice is deliberately *training-free and deterministic* — the
    ``n_centroids`` corpus rows with the smallest ids (a seeded-sample
    stand-in, cross-engine reproducible). :func:`ivf_train_centroids` is the
    trained alternative; :func:`ivf_assign`/:func:`ivf_topk` are agnostic to
    where the centroid rows came from. Normalization uses the cumsum scan
    (:func:`_np_unit`), bit-identical to the Spark expression fold."""
    return _centroid_literal(corpus.sparkSession, *_seed_centroids(corpus, n_centroids, id_col, vec_col))


# unit-vector quantization scale for the k-means trainer: floor(u*1e9+0.5)
# per component. |q| <= 1e9, so INT64 cluster sums stay exact up to ~9.2e9
# member rows — far beyond any training sample; integer sums make the
# reduce order-free and the whole trainer SQL-replayable.
_IVF_QUANT = 1e9


def _centroid_sims(unit_col, centroids_col):
    """array<struct<s, negcid>> of rounded cosine sims against every
    centroid. negcid makes array_max/array_sort break similarity ties toward
    the SMALLEST centroid id (struct comparison is lexicographic)."""
    return F.transform(
        centroids_col,
        lambda c: F.struct(
            F.round(dot(unit_col, c["u"]), 6).alias("s"), (-c["cid"]).alias("negcid")
        ),
    )


def _np_unit(mat):
    """L2-normalize rows BIT-IDENTICALLY to with_unit_vector's sequential
    fold: numpy's cumsum is a left-to-right IEEE scan, so
    cumsum(v*v)[-1] == aggregate(zip_with(v,v,*), 0.0, +) exactly (0.0 + x0
    is exactly x0; every subsequent add is the same op in the same order)."""
    import numpy as np

    nrm = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
    return mat / nrm[:, None]


def _np_seq_dot(a, b):
    """Row-wise dot via sequential scan — bit-identical to the Spark fold
    (``functions.arrays.dot``), unlike np.dot/@ which use pairwise/BLAS
    summation orders."""
    import numpy as np

    return np.cumsum(a * b, axis=1)[:, -1]


def _np_centroid_sims(u, cmat):
    """(rows × centroids) sequential-scan dots of unit rows ``u`` against
    every centroid row of ``cmat``."""
    import numpy as np

    sims = np.empty((len(u), len(cmat)), dtype=np.float64)
    for j in range(len(cmat)):
        sims[:, j] = _np_seq_dot(u, cmat[j][None, :])
    return sims


def _topk_prune(ids, sims, k, margin=2e-6):
    """Per-batch candidate prune for a global (round6(sim) desc, id asc)
    top-k: keep every row whose RAW sim is within ``margin`` of the batch's
    k-th largest raw sim. Safe under the later 6-dp rounding: a dropped row
    has ≥ k same-batch rows whose raw sim exceeds it by > margin > 2× the
    max rounding perturbation (5e-7), so those k rows' ROUNDED sims are
    strictly greater and the dropped row can never reach the global top-k
    under any id tiebreak — the emitted top-k set is exactly the unpruned
    one. This is what lets the scan emit O(k) rows per (query, batch)
    instead of shipping every scored pair to the window."""
    if len(ids) > k:
        import numpy as np

        kth = np.partition(sims, len(sims) - k)[len(sims) - k]
        keep = sims >= kth - margin
        return ids[keep], sims[keep]
    return ids, sims


def _assignment_expr(censims_col, cids: list[int]):
    """argmax over the per-centroid sim array with (round6 desc, cid asc)
    ties — the discipline of the probe lists and the SQL oracles, evaluated
    over k scalars per row."""
    zipped = F.arrays_zip(censims_col.alias("s"), F.array(*[F.lit(int(c)).cast("long") for c in cids]).alias("cid"))
    best = F.array_max(
        F.transform(zipped, lambda e: F.struct(F.round(e["s"], 6).alias("s"), (-e["cid"]).alias("negcid")))
    )
    return (-best["negcid"]).cast("long")


def _lloyd_partials(u, cmat):
    """One Lloyd assign + INT64 cluster-sum step over unit rows ``u``:
    ``[(centroid, count, int64 sum vector)]`` for every non-empty cluster.

    Assignment uses the quantized comparator (floor(s*1e6+0.5) desc, cid
    asc) — round-half-up on BOTH engines, no half-even ambiguity; argmax
    returns the FIRST max -> smallest centroid id. Each unit vector is
    quantized per component to round-half-up INT64, so cluster sums are
    exact integers — associative, commutative, invariant to Arrow batch
    layout and reduce order, and replayable by any SQL engine."""
    import numpy as np

    assign = np.argmax(np.floor(_np_centroid_sims(u, cmat) * 1e6 + 0.5), axis=1)
    q = np.floor(u * _IVF_QUANT + 0.5).astype(np.int64)
    return [
        (int(c), int((assign == c).sum()), q[assign == c].sum(axis=0)) for c in np.unique(assign)
    ]


def _lloyd_update(cmat, partials):
    """Reduce ``(centroid, count, int64 sum)`` partials (integer sums:
    order-free) into the next L2-renormalized centroid matrix; empty
    clusters keep their previous centroid. The fixed op order
    (sum/n)/SCALE is mirrored verbatim in the DuckDB oracle
    (``__spark_entry__._ivf_trained_oracle_sql``)."""
    import numpy as np

    sums: dict[int, np.ndarray] = {}
    counts: dict[int, int] = {}
    for c, n, s in partials:
        sums[c] = sums.get(c, 0) + np.asarray(s, dtype=np.int64)
        counts[c] = counts.get(c, 0) + n
    new = cmat.copy()
    for c, s in sums.items():
        if counts[c] > 0:
            new[c] = (s.astype(np.float64) / counts[c]) / _IVF_QUANT
    return _np_unit(new)


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Offline spherical k-means training for the IVF index — the
    quality upgrade over :func:`ivf_centroid_array`'s smallest-id seeding,
    which also provides the initial centroids.

    Each Lloyd iteration is one :func:`_lloyd_partials` step (assign every
    unit vector to its nearest centroid with the same cumsum kernels as
    :func:`ivf_assign`, then INT64-quantized cluster sums) followed by one
    :func:`_lloyd_update` reduce. The step runs in one of two places:

    * **driver** — when the ``ivf_driver_train`` size gate
      (:mod:`geopetl_spark.plans.gates`) says the training corpus fits
      comfortably on the driver, the vectors are collected ONCE and all
      ``n_iter`` iterations run locally: one job instead of ``n_iter``
      (Arrow scan + collect) pairs.
    * **distributed** — above the gate's limit (the 100-TB case) each
      iteration is ONE Arrow pass emitting one (centroid, count, sum) row
      per batch (the map-side combine; the corpus never shuffles) and a
      driver reduce over k·n_batches tiny rows.

    Both exits are exactly equal: integer cluster sums are order-free and
    every float op is the same numpy kernel in the same sequence
    (``tests/test_text_clean_ivf.py::test_trainer_driver_and_distributed_agree``).

    Cross-engine exactness (the ``embed_ivf_trained`` oracle): the
    unquantized kernels — sequential-fold norm and dot — match DuckDB's
    ``list_dot_product``, and a SQL engine summing the identical per-row
    integers reproduces the centroids bit-for-bit. New centroid = mean of
    quantized units, L2-renormalized (spherical k-means).

    Returns the same one-row literal shape as :func:`ivf_centroid_array`
    (``cid`` = 0..k-1), directly usable as ``ivf_topk(centroids=...)``.
    Iteration count is fixed (``n_iter``) rather than threshold-based —
    deterministic wall-clock and output."""
    import numpy as np
    from pyspark.sql import types as T

    seed_ids, cmat = _seed_centroids(corpus, n_centroids, id_col, vec_col)
    if not seed_ids:
        raise ValueError("cannot train centroids on an empty corpus")

    if gates.small_bytes(corpus, "ivf_driver_train"):
        rows = corpus.select(F.col(vec_col).alias("_v")).collect()
        u = _np_unit(np.array([np.asarray(r["_v"], dtype=np.float64) for r in rows]))
        for _ in range(n_iter):
            cmat = _lloyd_update(cmat, _lloyd_partials(u, cmat))
        return _centroid_literal(corpus.sparkSession, range(len(cmat)), cmat)

    out_schema = T.StructType(
        [
            T.StructField("_cid", T.IntegerType()),
            T.StructField("_n", T.LongType()),
            T.StructField("_sum", T.ArrayType(T.LongType())),
        ]
    )

    for _ in range(n_iter):

        def partials(batches, planes=cmat):  # closure snapshot for this iteration
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                u = _np_unit(np.array([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]))
                yield pd.DataFrame(
                    [(c, n, s.tolist()) for c, n, s in _lloyd_partials(u, planes)],
                    columns=["_cid", "_n", "_sum"],
                )

        parts = corpus.mapInPandas(partials, schema=out_schema).collect()
        cmat = _lloyd_update(cmat, [(int(r["_cid"]), int(r["_n"]), r["_sum"]) for r in parts])

    return _centroid_literal(corpus.sparkSession, range(len(cmat)), cmat)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine, ties
    to the smallest cid) — the IVF list build. Output = corpus columns +
    ``_unit`` (the L2-normalized vector) + ``centroid_id``.

    An Arrow-batched numpy kernel: Spark's higher-order functions
    (aggregate/zip_with lambdas) are CodegenFallback — interpreted, ~0.25 ms
    per 64-dim dot — so the k-dots-per-row assignment is ~100× cheaper as a
    vectorized scan. The cumsum scan reproduces the Spark fold BIT-FOR-BIT,
    so cross-engine parity is exact, not approximate. The centroid table (k
    rows) ships in the UDF closure — the one deliberate driver
    materialization, bounded by n_centroids, never by the corpus."""
    import numpy as np
    from pyspark.sql import types as T

    cen_rows = centroids.collect()[0]["_centroids"]  # k rows, Spark-exact unit vecs
    cids = [int(r["cid"]) for r in cen_rows]
    cmat = np.array([list(r["u"]) for r in cen_rows], dtype=np.float64)

    out_schema = T.StructType(
        list(corpus.schema.fields)
        + [
            T.StructField("_unit", T.ArrayType(T.DoubleType())),
            T.StructField("_censims", T.ArrayType(T.DoubleType())),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = _np_unit(np.array([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]))
            pdf = pdf.copy()
            pdf["_unit"] = list(u)
            pdf["_censims"] = list(_np_centroid_sims(u, cmat))
            yield pdf

    scored = corpus.mapInPandas(score_batches, schema=out_schema)
    # round/tie semantics stay in Spark expressions (exact parity with the
    # probe lists and the SQL oracles)
    return scored.withColumn("centroid_id", _assignment_expr(F.col("_censims"), cids)).drop("_censims")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: score a query only against the inverted lists
    of its ``nprobe`` nearest centroids. Recall < 1 by construction, rising
    with ``nprobe``; candidates scored per query ≈ corpus · nprobe /
    n_centroids.

    The probe lists (queries × nprobe) are computed in Spark expressions
    (exact round/tie parity with the assignment and the SQL oracles) and
    collected; one :func:`_topk_scan` pass over the index scores each
    batch's rows whose inverted list a query probes — the index crosses
    once, no candidate × vector join.

    The centroid table and the assigned corpus ARE the IVF index — build
    them once, search many times (real IVF never re-partitions the corpus
    per query). Pass ``centroids`` (a :func:`ivf_centroid_array`-shaped
    one-row frame; ``n_centroids`` is then ignored) to skip the centroid
    build, and ``assigned`` (the output of :func:`ivf_assign` on the same
    corpus + centroids, typically persisted or written to the lake) to skip
    the assignment pass too — the call then runs ONLY the probe search."""
    import numpy as np
    from pyspark.sql import types as T

    if centroids is None:
        centroids = ivf_centroid_array(corpus, n_centroids, id_col, vec_col)
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    c = assigned.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col("_unit").alias("_cv"), "centroid_id"
    )
    q = with_unit_vector(queries.crossJoin(F.broadcast(centroids)), vec_col)
    # top-nprobe probe lists per query: sort sims asc, reverse -> (s desc,
    # cid asc) — the same tie discipline as assignment
    probes = F.slice(F.reverse(F.array_sort(_centroid_sims(F.col("_unit"), F.col("_centroids")))), 1, nprobe)
    qp = q.withColumn("_p", F.explode(probes)).select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col("_unit").alias("_qv"),
        (-F.col("_p")["negcid"]).cast("long").alias("centroid_id"),
    )
    lists: dict = {}
    for r in qp.collect():
        qv, cids = lists.setdefault(int(r["query_id"]), (np.asarray(r["_qv"], dtype=np.float64), []))
        cids.append(int(r["centroid_id"]))
    qs = [(qid, qv, cids) for qid, (qv, cids) in lists.items()]

    def batch(pdf):
        mat = np.array([np.asarray(x, dtype=np.float64) for x in pdf["_cv"]])
        return pdf["neighbor_id"].to_numpy(), mat, pdf["centroid_id"].to_numpy()

    return _topk_scan(c, "neighbor_id", T.LongType(), qs, batch, k)


def ivf_config_for(
    queries: DataFrame,
    corpus: DataFrame,
    recall_target: float = 0.9,
    k: int = 5,
    n_centroids: int | None = None,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = True,
) -> tuple[int, int, float, DataFrame]:
    """Size the IVF index for a recall target — the :func:`lsh_config_for`
    twin for the centroid path. LSH admits a closed-form collision model;
    IVF recall depends entirely on how the data clusters, so this solver
    CALIBRATES instead of modeling: it builds the index once on the given
    (sample) corpus, computes the exact top-``k`` ground truth for the
    query sample, and derives the full recall-vs-nprobe curve from a
    single pass — for every true (query, neighbor) pair, the rank of the
    neighbor's cell in the query's centroid ordering is the smallest
    ``nprobe`` that finds it. The returned ``nprobe`` is the smallest with
    empirical recall ≥ target; probing all cells is exhaustive search, so
    the solver always terminates with a config that meets any target < 1.

    Scale shape: ground truth is brute-force over the SAMPLE the caller
    passes (calibrate on a bounded sample, serve the full corpus — the
    curve is a property of the data distribution, not the corpus size);
    the curve itself reduces to ≤ ``n_centroids`` histogram rows. The
    centroid table is returned so serving reuses the calibrated index
    instead of retraining.

    ``n_centroids`` defaults to ~√corpus_count (the standard IVF cell
    heuristic: balances cell count against cell size), clamped to [2, 256].

    Returns ``(n_centroids, nprobe, measured_recall, centroids)``.
    """
    if not 0.0 < recall_target < 1.0:
        raise ValueError("recall_target must be in (0, 1)")
    if n_centroids is None:
        import math

        n_centroids = max(2, min(256, int(round(math.sqrt(corpus.count())))))
    if trained:
        cen = ivf_train_centroids(corpus, n_centroids, n_iter, id_col, vec_col)
    else:
        cen = ivf_centroid_array(corpus, n_centroids, id_col, vec_col)

    truth = cosine_topk(queries, corpus, k=k, id_col=id_col, vec_col=vec_col).select(
        "query_id", "neighbor_id"
    )
    cells = ivf_assign(corpus, cen, id_col, vec_col).select(
        F.col(id_col).cast("long").alias("neighbor_id"), "centroid_id"
    )
    # rank of every cell in each query's probe order (sim desc, cid asc —
    # the exact ivf_topk probe discipline), via one posexplode
    qp = with_unit_vector(queries.crossJoin(F.broadcast(cen)), vec_col).select(
        F.col(id_col).cast("long").alias("query_id"),
        F.posexplode(
            F.reverse(F.array_sort(_centroid_sims(F.col("_unit"), F.col("_centroids"))))
        ).alias("_pos", "_p"),
    ).select(
        "query_id",
        (-F.col("_p")["negcid"]).cast("long").alias("centroid_id"),
        (F.col("_pos") + 1).alias("_needed_nprobe"),
    )
    hist = (
        truth.join(cells, "neighbor_id")
        .join(qp, ["query_id", "centroid_id"])
        .groupBy("_needed_nprobe")
        .count()
        .collect()  # bounded: <= n_centroids rows
    )
    total = sum(r["count"] for r in hist)
    if total == 0:
        raise ValueError("no ground-truth pairs: query/corpus sample too small for calibration")
    cum = 0
    by_rank = {int(r["_needed_nprobe"]): int(r["count"]) for r in hist}
    nprobe, recall = n_centroids, 1.0
    for n in range(1, n_centroids + 1):
        cum += by_rank.get(n, 0)
        if cum / total >= recall_target:
            nprobe, recall = n, cum / total
            break
    return n_centroids, nprobe, recall, cen
