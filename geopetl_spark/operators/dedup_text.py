"""Document deduplication operators: exact, n-gram Jaccard, MinHash-LSH,
SimHash. The training-data-pipeline extension of the engine (SURVEY §2.7 gap
fill) — all pure DataFrame compositions, no UDFs, designed to scale:

* exact dedup      — one hash-groupBy (map-side combinable);
* n-gram Jaccard   — inverted-index self-join on each doc's rarest-first
                     shingle PREFIX (never a cross join; lossless prefix
                     filtering, so a shingle present in f docs no longer
                     emits O(f²) candidate rows), optionally capped by
                     ``max_shingle_df``; Jaccard itself is then computed
                     EXACTLY on the full per-doc shingle sets.
* MinHash-LSH      — shingle → k minhashes → b bands → band-bucket equi-join;
                     exact Jaccard computed for the LSH candidates ONLY
                     (set-intersect per candidate pair — the quadratic
                     shingle-pair space is never touched). The standard
                     sub-quadratic near-dup pipeline.
* SimHash          — 48-bit fingerprint via ONE words-explode + one groupBy
                     with 48 conditional sums (no bits×words row blowup);
                     banded join (pigeonhole on 4 chunks) + Hamming verify
                     via bit_count(xor).

Hash determinism: every hash bottoms out in md5 (cross-engine reproducible),
and all modular arithmetic stays far below 2^63 so ANSI overflow checks never
trip. Each operator is mirrored by an ANSI-SQL oracle in __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import word_ngrams
from ..functions.text import word_hash
from ..plans import gates
from ..plans.ckpt import materialize

# LSH parameters: k = bands * rows_per_band minhashes.
_MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; keeps a*x + b < 2^44


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate grouping by content hash: every doc gets its group's
    canonical (minimum) id and the group size; ``is_canonical`` marks the
    keeper. One groupBy-join, broadcast-friendly when dup groups are rare."""
    hashed = docs.select(id_col, F.md5(F.col(text_col)).alias("content_hash"))
    groups = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("dup_group"), F.count("*").alias("group_size")
    )
    return (
        hashed.join(groups, "content_hash")
        .select(
            id_col,
            "dup_group",
            "group_size",
            (F.col(id_col) == F.col("dup_group")).alias("is_canonical"),
        )
    )


def _shingles(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct n-gram word shingles per doc (exploded): the inverted index.

    Shingle construction runs through MLlib's JVM ``NGram`` transformer
    (single-space-joined word n-grams — byte-identical output to the
    ``transform``+``concat_ws`` expression, tested) because Catalyst
    evaluates higher-order-function lambdas interpreted, per element:
    measured 11.5 s -> 1.2 s for the sf0.1 shingle explode. Short docs
    (< n words) yield no shingles in both constructions."""
    from pyspark.ml.feature import NGram

    ws = docs.select(
        F.col(id_col).alias("_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_ws"),
    )
    ng = NGram(n=n, inputCol="_ws", outputCol="_ngrams").transform(ws)
    return ng.select("_id", F.explode(F.array_distinct(F.col("_ngrams"))).alias("shingle"))


def _verify_pairs(candidates: DataFrame, sets: DataFrame, threshold: float, broadcast: bool) -> DataFrame:
    """Exact Jaccard for candidate pairs ONLY: join each side to its full
    shingle set and set-intersect per pair. Cost ∝ |candidates|·doc_size,
    independent of the corpus-wide shingle-pair space. A broadcast hint on
    the (id-pair-only) candidate side keeps the heavy shingle-set relation
    from being exchanged twice — right whenever candidates fit in memory."""
    if broadcast:
        candidates = F.broadcast(candidates)
    sa = sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("_sa"), F.col("n_sh").alias("n_a"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("_sb"), F.col("n_sh").alias("n_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    Candidate generation uses **prefix filtering** (the AllPairs/PPJoin
    principle): under a global shingle order, two sets with
    ``J(A,B) >= t`` MUST share a shingle within each side's first
    ``|A| - ceil(t*|A|) + 1`` shingles, so only those prefix entries are
    indexed. Ordering the prefix by ascending document frequency puts the
    RAREST shingles in the index — the df-f quadratic bomb (one hot shingle
    emits f(f-1)/2 join rows) defuses itself, because hot shingles land at
    the back of every prefix. Unlike a df cap this is LOSSLESS: no pair at
    or above the threshold can be missed.

    ``max_shingle_df`` (optional, additive) additionally drops shingles with
    df above the cap from the index — insurance for adversarial corpora, at
    the cost of possibly missing a pair whose every shared PREFIX shingle is
    hot. Jaccard is always computed exactly on the FULL shingle sets of each
    candidate pair, so neither filter can change an emitted value.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6dp.

    Storage hygiene: the raw shingle EXPLODE is never persisted (at 100 TB
    it dwarfs cluster storage, and ``persist()`` would pin executor memory
    per call). What IS materialized — to process-temp parquet, guide §3.3 —
    is the per-doc aggregated (df, shingle) list table: corpus-shaped
    (distinct shingles per doc), consumed by four differently-keyed joins
    that would otherwise each re-run the full explode + dfreq pipeline.

    The df-table side of the prefix join and the candidate side of the
    verify join are broadcast-hinted when the docs relation is small (the
    ``ngram_broadcast`` size gate, :mod:`geopetl_spark.plans.gates`): the
    exploded shingle set then needs NO by-shingle exchange (its dominant
    local cost). The shingle vocabulary is bounded by the raw text volume,
    so the hint turns itself off at real corpus scale, where the vocabulary
    must stay partitioned.
    """
    sh = _shingles(docs, text_col, id_col, n)
    broadcast = gates.small_bytes(docs, "ngram_broadcast")
    # ONE df aggregation serves both the prefix order and the optional
    # hot-shingle cap; the join reuses dfreq's by-shingle exchange. The
    # per-doc prefix is one groupBy (sort_array + slice) instead of two
    # window evaluations — same (df asc, shingle asc) order, same
    # |prefix| = sz - ceil(t*sz) + 1 bound over the FULL set size.
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    if broadcast:
        dfreq = F.broadcast(dfreq)
    # Materialize the per-doc (df, shingle) lists ONCE (guide §3.3): the
    # four consumers below — index side a, index side b, verify sets sa,
    # verify sets sb — sit behind differently-keyed/broadcast joins, so
    # ReuseExchange never fires and the whole corpus pipeline (scan →
    # n-gram explode → dfreq join → sort-aggregate) would run 4× (and
    # its dfreq subtree 8×; confirmed in the r6 physical plan). The
    # checkpoint is bounded by the per-doc DISTINCT shingle sets (≈ n×
    # the raw text — corpus-shaped, never the pair space) and written to
    # process-temp disk, not pinned executor memory; one columnar write
    # + 4 cheap scans replaces 3 full re-evaluations at any scale.
    per_doc = materialize(
        sh.join(dfreq, "shingle")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct(F.col("_df"), F.col("shingle")))).alias("_lst")),
        "ngram_perdoc",
    )
    sz = F.size(F.col("_lst"))
    plen = sz - F.ceil(F.lit(float(threshold)) * sz) + F.lit(1)
    index = per_doc.select("_id", F.explode(F.slice(F.col("_lst"), F.lit(1), plen)).alias("_e"))
    if max_shingle_df is not None:
        index = index.filter(F.col("_e._df") <= max_shingle_df)
    index = index.select("_id", F.col("_e.shingle").alias("shingle"))
    # the verify side's full shingle sets come from the SAME per_doc
    # aggregation (its by-_id exchange is reused by AQE), not a second
    # explode + groupBy over the corpus — array order is irrelevant to
    # array_intersect, values unchanged
    sets = per_doc.select(
        "_id",
        F.transform(F.col("_lst"), lambda e: e["shingle"]).alias("_set"),
        F.size(F.col("_lst")).alias("n_sh"),
    )
    a = index.alias("a")
    b = index.alias("b")
    candidates = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(candidates, sets, threshold, broadcast)


def _minhash_sig_cols(n_hashes: int):
    """Column exprs for the k minhash values over an exploded shingle hash
    ``_x`` (already reduced mod the prime). h_i(x) = (a_i*x + b_i) mod P with
    small deterministic odd multipliers — products stay < 2^44."""
    return [
        F.min((F.lit(2 * i + 3) * F.col("_x") + F.lit(1000 + i)) % F.lit(_MINHASH_PRIME)).alias(f"mh{i}")
        for i in range(n_hashes)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH near-dup candidate generation, then exact-Jaccard
    verification of candidates only.

    With b=4 bands × r=4 rows the candidate threshold is ~(1/b)^(1/r) ≈ 0.71;
    pairs above ``threshold`` (default 0.5) that share at least one band are
    emitted after exact verification — the verification is a per-candidate
    set intersection against the full shingle sets, so at 100 TB the cost is
    |candidates|·doc_size; the quadratic shingle-pair space is never joined.
    The candidate side of the verify join is broadcast-hinted when the docs
    relation is small (small corpus => small candidate set; the
    ``minhash_broadcast`` size gate).
    """
    k = bands * rows_per_band
    sh = _shingles(docs, text_col, id_col, n)
    hashed = sh.withColumn(
        "_x", F.conv(F.substring(F.md5(F.col("shingle")), 1, 14), 16, 10).cast("long") % F.lit(_MINHASH_PRIME)
    )
    # ONE per-doc aggregation carries the k minhash mins AND the full
    # shingle set + size (the verify side's input): the corpus explode runs
    # once instead of twice, and materializing the result (guide §3.3)
    # keeps the two candidate sides + two verify sides of the joins below
    # from re-running it — same checkpoint economics as ngram_jaccard_pairs.
    # collect_list order is partition-dependent but array_intersect is
    # order-insensitive, so emitted values are unchanged.
    per_doc = materialize(
        hashed.groupBy("_id").agg(
            *_minhash_sig_cols(k),
            F.collect_list("shingle").alias("_set"),
            F.count("*").alias("n_sh"),
        ),
        "minhash_perdoc",
    )
    sigs = per_doc.select("_id", *[f"mh{i}" for i in range(k)])
    sets = per_doc.select("_id", "_set", "n_sh")

    # bands: concat each band's minhashes into one bucket key, explode
    band_keys = sigs.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(bi),
                        *[F.col(f"mh{bi * rows_per_band + ri}") for ri in range(rows_per_band)],
                    ).alias(f"band{bi}")
                    for bi in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    ka = band_keys.alias("ka")
    kb = band_keys.alias("kb")
    candidates = (
        ka.join(kb, (F.col("ka.band_key") == F.col("kb.band_key")) & (F.col("ka._id") < F.col("kb._id")))
        .select(F.col("ka._id").alias("id_a"), F.col("kb._id").alias("id_b"))
        .distinct()
    )

    return _verify_pairs(candidates, sets, threshold, gates.small_bytes(docs, "minhash_broadcast"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 48  # 48 bits keeps 2^j sums far from bigint overflow


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash per document from md5 word hashes.

    One explode (words only — never words×bits) and ONE groupBy carrying 48
    conditional-sum aggregates, one per bit; the bit shifts are literal so
    everything stays in whole-stage codegen and the aggregation is map-side
    combinable. The previous words×48 bit-explode shuffled 48× the rows for
    the same answer.
    """
    wh = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    ).withColumn("h", word_hash(F.col("w")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_s{j}")
        for j in range(_SIMHASH_BITS)
    ]
    agg = wh.groupBy("_id").agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for j in range(_SIMHASH_BITS):
        sim = sim + F.when(F.col(f"_s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select(F.col("_id").alias("doc_id"), sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banded join: the 48 bits split into ``max_hamming+1`` chunks; by
    pigeonhole, any pair within distance ``max_hamming`` agrees on at least
    one full chunk — candidates are equi-joined per chunk, verified with
    bit_count(xor). Sub-quadratic like the MinHash path.
    """
    n_chunks = max_hamming + 1
    chunk_bits = _SIMHASH_BITS // n_chunks
    # the self-join below broadcasts one side, so without a checkpoint the
    # words-explode + 48-conditional-sum aggregation runs twice (once per
    # side); the simhash table is 2 integers per doc — tiny at any scale
    sh = materialize(simhash(docs, text_col, id_col), "simhash")
    mask = (1 << chunk_bits) - 1
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(ci),
                        (F.shiftright(F.col("simhash"), ci * chunk_bits).bitwiseAND(F.lit(mask))).cast("string"),
                    )
                    for ci in range(n_chunks)
                ]
            )
        ).alias("chunk_key"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(b, (F.col("a.chunk_key") == F.col("b.chunk_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def contaminated_doc_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination — the eval-leakage guard every LLM data
    pipeline runs before training: flag every training doc sharing at
    least one ``n``-gram word shingle with the benchmark/eval set.

    Shape: benchmark shingles are DISTINCT'd (eval sets are KBs–MBs
    against a 100-TB corpus) and the corpus joins them with ONE
    shingle-key LEFT-SEMI equi-join — the corpus is touched once, no pair
    space, no threshold math. The benchmark side broadcast-hints itself
    through the ``decontaminate_broadcast`` size gate (off if the
    "benchmark" is actually large — the safe polarity). ``n=8``
    default matches common decontamination practice (wide shingles ≈
    verbatim leakage); lower ``n`` is aggressive/fuzzier.

    Returns the DISTINCT flagged ``id_col`` values. Reference parity: none
    (geopetl has no corpus tooling); training-pipeline extension per
    SURVEY §2.7.
    """
    bench_sh = _shingles(benchmark, text_col, id_col, n).select("shingle").distinct()
    # what broadcasts is the EXPLODED shingle relation, ~n× the raw
    # benchmark text (every word starts an n-word shingle), so the gate
    # weighs the benchmark at n× its size
    if gates.small_bytes(benchmark, "decontaminate_broadcast", scale=max(n, 1)):
        bench_sh = F.broadcast(bench_sh)
    doc_sh = _shingles(docs, text_col, id_col, n)
    return (
        doc_sh.join(bench_sh, "shingle", "left_semi")
        .select(F.col("_id").alias(id_col))
        .distinct()
    )
