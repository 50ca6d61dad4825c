"""Deterministic byte-pair-encoding (BPE): a real learned-merges tokenizer
for the ``tokens`` training-sequence path (input_hint), replacing the
md5-word-hash stand-in for callers that want linguistic subword units.

Architecture (the one real BPE trainers use, e.g. the original Sennrich
implementation and HF tokenizers):

* **training** — the corpus-sized work is ONE distributed aggregation
  (word → count); the merge loop then runs over the compact (word, count)
  vocabulary on the driver. At 100 TB the corpus never moves — only the
  aggregated vocabulary does, prunable with ``min_count``. Memory is
  O(distinct words), not O(corpus).
* **encoding** — an Arrow-batched ``mapInPandas`` pass with the merges
  table shipped in the closure (broadcast-equivalent: a few KB). Words are
  memoized per Python worker, so each distinct word is encoded once per
  partition regardless of corpus size. No per-row Python UDF calls — one
  Python invocation per Arrow batch.

Determinism contract (mirrored 1:1 by the DuckDB oracle in
``__spark_entry__``): merges apply in rank order; within a rank, occurrences
merge left-to-right non-overlapping, repeated until the rank no longer
applies (equivalent to single leftmost-merge iteration — a merged symbol
``a+b`` can never re-create its own pair to its left). Training tie-breaks:
highest pair count, then lexicographically smallest pair. Token ids index
the vocabulary ``['<unk>'] + sorted(alphabet) + [a+b per merge, in rank
order]``; symbols containing characters unseen at training time encode as
``<unk>`` (id 0).

The default merges table (``geopetl_spark/data/bpe_merges.json``) was
trained by :func:`train_bpe_merges` on the sf0.001 synthetic documents and
is committed as data — the "merges table shipped as data" contract.

Reference parity: geopetl has no tokenizer; this is the training-pipeline
extension (SURVEY §2.7), upgrading the engine's tokenization path from the
hash stand-in called out in round-2 review.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DATA_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "bpe_merges.json")

_WS = re.compile(r"\s+")


def _split_words(text: str) -> list[str]:
    """Whitespace word split matching the engine's ``words()`` expression
    and the oracle's ``string_split_regex(trim(text), '\\s+')`` with empties
    dropped."""
    if text is None:
        return []
    return [w for w in _WS.split(text.strip()) if w]


def _merge_pass(syms: list[str], a: str, b: str) -> list[str]:
    """One rank's merge: left-to-right, non-overlapping."""
    out: list[str] = []
    i = 0
    n = len(syms)
    ab = a + b
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 48,
    text_col: str = "text",
    min_count: int = 2,
    min_pair_count: int = 2,
    max_vocab: int | None = 1_000_000,
) -> tuple[list[tuple[str, str]], list[str]]:
    """Learn a BPE merges table from a document corpus.

    The corpus-scale step is the single word-count aggregation (map-side
    combinable groupBy); the merge loop runs on the driver over the compact
    vocabulary. Returns ``(merges, alphabet)`` — merges in rank order,
    alphabet the sorted set of characters seen in training.

    Driver memory is bounded TWICE, because on 100 TB of noisy web text the
    raw distinct-"word" count (typos, URLs, hex hashes) is 10⁸–10⁹:

    * ``min_count`` (default 2) drops the singleton tail inside the
      aggregation — hapaxes carry no repeated-pair signal;
    * ``max_vocab`` caps the vocabulary to the top-K words by
      (count desc, word asc) — the cap is applied as a distributed
      TakeOrdered BEFORE the collect, so the driver never sees more than K
      rows. Merge learning is frequency-greedy, so the dropped low-count
      tail is lossless for it in practice; characters appearing ONLY in
      dropped words encode as ``<unk>`` (the documented cap tradeoff).

    The merge loop itself is incremental: pair counts live in a dict +
    lazy max-heap and each merge touches only the words actually containing
    the merged pair (O(Σ|affected words|) per merge), not the whole
    vocabulary — the full-rescan loop this replaces was
    O(n_merges · Σ|word|). Tie-breaks (highest count, then
    lexicographically smallest pair) are unchanged and exact.
    """
    import heapq

    wc_df = (
        docs.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
    )
    if max_vocab is not None:
        wc_df = wc_df.orderBy(F.desc("c"), F.asc("w")).limit(max_vocab)
    wc = wc_df.collect()
    words: list[list[str]] = [list(r["w"]) for r in wc]
    counts: list[int] = [int(r["c"]) for r in wc]

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, tuple[str, str]]] = []

    def bump(p: tuple[str, str], delta: int, wi: int | None = None) -> None:
        nc = pair_counts.get(p, 0) + delta
        if nc <= 0:
            pair_counts.pop(p, None)
        else:
            pair_counts[p] = nc
            heapq.heappush(heap, (-nc, p))
        if wi is not None:
            pair_words.setdefault(p, set()).add(wi)

    for wi, (syms, c) in enumerate(zip(words, counts)):
        for i in range(len(syms) - 1):
            bump((syms[i], syms[i + 1]), c, wi)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        cur = pair_counts.get(best)
        if cur is None or cur != -negc:
            continue  # stale heap entry (lazy invalidation)
        if cur < min_pair_count:
            break  # valid pops arrive in decreasing-count order
        merges.append(best)
        a, b = best
        for wi in pair_words.pop(best, ()):
            syms = words[wi]
            if not any(
                syms[i] == a and syms[i + 1] == b for i in range(len(syms) - 1)
            ):
                continue  # stale membership: the pair was destroyed earlier
            c = counts[wi]
            for i in range(len(syms) - 1):
                bump((syms[i], syms[i + 1]), -c)
            new = _merge_pass(syms, a, b)
            words[wi] = new
            for i in range(len(new) - 1):
                bump((new[i], new[i + 1]), c, wi)
    alphabet = sorted({ch for r in wc for ch in r["w"]})
    dup = _merge_collisions(merges)
    if dup:
        # two distinct merges producing the same symbol string (e.g. 'a'+'bc'
        # and 'ab'+'c' -> 'abc') would make the vocabulary ambiguous and
        # break the pair-priority <-> rank-order equivalence proof. No
        # frequency-greedy run over real text has produced one, but the
        # contract is enforced, not assumed (encode's rank-scan fallback
        # covers externally-supplied collision tables).
        raise ValueError(
            f"BPE training produced colliding merged symbols {sorted(dup)!r}; "
            f"lower n_merges or raise min_pair_count"
        )
    return merges, alphabet


def _merge_collisions(merges: list[tuple[str, str]]) -> set[str]:
    """Symbol strings produced by MORE than one merge rule (normally empty:
    see train_bpe_merges; encode falls back to the sequential rank scan
    when a hand-built table carries one)."""
    seen: set[str] = set()
    dup: set[str] = set()
    for a, b in merges:
        s = a + b
        (dup if s in seen else seen).add(s)
    return dup


def load_merges(path: str | None = None) -> tuple[list[tuple[str, str]], list[str]]:
    """The shipped default merges table (trained on sf0.001 documents).
    Resolves through ``importlib.resources`` when the package is imported
    from a ``--py-files`` zip (executors on a real cluster — a plain
    ``__file__``-relative open raises NotADirectoryError there)."""
    if path is not None:
        with open(path) as fh:
            doc = json.load(fh)
    else:
        try:
            with open(_DATA_PATH) as fh:
                doc = json.load(fh)
        except (FileNotFoundError, NotADirectoryError):
            from importlib import resources

            doc = json.loads(
                resources.files("geopetl_spark").joinpath("data/bpe_merges.json").read_text()
            )
    return [tuple(m) for m in doc["merges"]], list(doc["alphabet"])


def build_vocab(merges: list[tuple[str, str]], alphabet: list[str]) -> list[str]:
    """Token-id order: ``<unk>``, then the sorted alphabet, then merged
    symbols in rank order. Index == token id."""
    return ["<unk>"] + list(alphabet) + [a + b for a, b in merges]


def encode_word(
    word: str,
    merges: list[tuple[str, str]],
    vocab_ids: dict[str, int],
    ranks: dict[tuple[str, str], int] | None = None,
) -> list[int]:
    """Greedy BPE encode of one word via pair-priority merging: repeatedly
    apply the LOWEST-rank pair present in the symbol sequence. Cost is
    O(applied merges · |word|) — independent of the merge-table size, which
    the previous all-ranks scan was linear in (wrong shape at a real 50k
    vocabulary; identical at the shipped 48).

    Equivalent to sequential rank-order application (the documented
    contract, mirrored by the SQL oracle) for every trainer-produced table:
    a pair involving a merged symbol ``a+b`` can only be LEARNED after rank
    r(a,b), so merging never creates a lower-rank pair behind the scan.
    The argument additionally requires merged-symbol strings to be UNIQUE —
    the trainer enforces that (:func:`_merge_collisions` raises), and
    :func:`bpe_encode` routes hand-built collision tables to
    :func:`encode_word_rankscan` instead. ``tests/test_bpe.py`` asserts the
    equivalence on the shipped table and a 5k-merge synthetic one. Pass a
    precomputed ``ranks`` map (pair → rank) when encoding many words
    against one table."""
    if ranks is None:
        ranks = {p: i for i, p in enumerate(merges)}
    syms = list(word)
    while len(syms) >= 2:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        syms = _merge_pass(syms, *merges[best])
    return [vocab_ids.get(s, 0) for s in syms]


def encode_word_rankscan(
    word: str, merges: list[tuple[str, str]], vocab_ids: dict[str, int]
) -> list[int]:
    """The literal documented contract: merges apply strictly in rank order,
    each rank's left-to-right non-overlapping pass repeated until the rank
    no longer applies. O(n_merges · |word|) — the safe path for
    externally-supplied tables whose merged-symbol strings collide (where
    the pair-priority shortcut's equivalence argument doesn't hold)."""
    syms = list(word)
    for a, b in merges:
        while len(syms) >= 2:
            new = _merge_pass(syms, a, b)
            if new == syms:
                break
            syms = new
    return [vocab_ids.get(s, 0) for s in syms]


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    alphabet: list[str] | None = None,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    cache_limit: int = 262_144,
) -> DataFrame:
    """Add ``out_col: array<int>`` — the document's BPE token-id sequence.

    Arrow-batched ``mapInPandas``; the merges table rides the closure and
    each Python worker memoizes word encodings, so cost is O(distinct words
    per partition), not O(tokens). The memo is BOUNDED by ``cache_limit``
    entries (default 256k ≈ tens of MB worst-case): an adversarial
    high-cardinality partition (URLs, hex hashes — every "word" distinct)
    would otherwise grow it without limit for the worker's lifetime. On
    overflow the memo resets — output is unaffected (the memo is a pure
    cache), only re-encode cost for later repeats. Tables with colliding
    merged symbols (impossible from this trainer, possible hand-built) are
    detected and routed to the sequential rank scan, whose semantics the
    contract documents. All other columns pass through."""
    from pyspark.sql import types as T

    if merges is None or alphabet is None:
        merges, alphabet = load_merges()
    vocab_ids = {s: i for i, s in enumerate(build_vocab(merges, alphabet))}
    ranks = {p: i for i, p in enumerate(merges)}
    use_rankscan = bool(_merge_collisions(merges))
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    )

    def encoder(batches):
        cache: dict[str, list[int]] = {}

        def enc_doc(text):
            toks: list[int] = []
            for w in _split_words(text):
                ids = cache.get(w)
                if ids is None:
                    if use_rankscan:
                        ids = encode_word_rankscan(w, merges, vocab_ids)
                    else:
                        ids = encode_word(w, merges, vocab_ids, ranks)
                    if len(cache) >= cache_limit:
                        cache.clear()
                    cache[w] = ids
                toks.extend(ids)
            return toks

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [enc_doc(t) for t in pdf[text_col]]
            yield pdf

    return df.mapInPandas(encoder, schema=out_schema)
