"""Byte-pair-encoding tokenization for training-data pipelines: learn a
merge table from the corpus, segment documents with it, and count real BPE
tokens (the budget unit sequence packing and data pricing actually use —
the regex estimate in textstats.token_counts is the cheap proxy).

Scale shape (Sennrich et al. 2016 algorithm, Spark-first split):
  * The corpus-sized work is ONE distributed aggregation: whitespace-word
    counts (`word_counts`), map-side combined, shuffling only (word,
    partial-count) pairs.
  * The fit then runs over the DISTINCT-word frequency table, which is
    sublinear in corpus size (Heaps' law: ~1M distinct words per 100 GB of
    web text, growing ~n^0.5) — it is collected under an enforced
    ``max_words`` cap and merged driver-side, exactly how the public BPE
    trainers (subword-nmt, HuggingFace tokenizers) operate single-node on
    a pre-aggregated vocabulary. The driver loop is O(merges * words),
    independent of corpus size.
  * Segmentation (`bpe_segment`) is an Arrow-batched mapInPandas with the
    merge ranks broadcast and per-word memoization — web text repeats
    words heavily, so the effective cost per batch is the distinct-word
    count, not the token count.

No contract oracle: BPE fitting is inherently iterative (each merge
depends on the counts AFTER the previous merge), outside single-pass SQL —
the correctness evidence is the pytest law suite (exact equality with an
independently written reference implementation, roundtrip reconstruction,
determinism under repartition/order) per SURVEY §5's law-test strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

# end-of-word sentinel (classic BPE): guarantees merges never cross word
# boundaries and segmentation is reversible
EOW = "\x17"  # ETB control char — cannot appear in space-split words


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed whitespace-word frequency table — the only corpus-sized
    job in BPE fitting."""
    return (df.select(F.explode(tokens(text_col)).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("cnt")))


def fit_bpe(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_words: int = 1_000_000,
    pre_counted: bool = False,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Deterministic:
    ties on pair frequency break lexicographically, so the merge table is
    a pure function of the word-frequency table (tested under
    repartition). ``pre_counted=True`` accepts a (word, cnt) table — fit
    once per corpus snapshot, reuse across runs.

    The word table is collected top-``max_words`` by (count desc, word) —
    bounded and deterministic; web-scale tails of hapax misspellings
    contribute ~0 to pair counts, which is why every public trainer caps
    or min-filters the vocabulary.
    """
    wc = df if pre_counted else word_counts(df, text_col)
    rows = (wc.orderBy(F.desc("cnt"), "word")
            .limit(max_words).collect())

    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        sym = tuple(r["word"]) + (EOW,)
        vocab[sym] = vocab.get(sym, 0) + int(r["cnt"])

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, cnt in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, cnt in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if (i + 1 < len(sym)
                        and sym[i] == best[0] and sym[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + cnt
        vocab = new_vocab
    return merges


def _segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word, lowest-rank-first (the standard encoder)."""
    sym = list(word) + [EOW]
    while len(sym) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(sym, sym[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment each document into BPE tokens: (id, tokens array<string>,
    bpe_tokens bigint). Arrow-batched mapInPandas; the merge table rides a
    broadcast and every batch memoizes per distinct word."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)})
    src = df.select(F.col(id_col), F.col(text_col))
    out_schema = f"{id_col} long, tokens array<string>, bpe_tokens long"

    def _run(batches):
        import pandas as pd
        ranks = bc.value
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            ids, toks, ns = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                out: list[str] = []
                for w in (text or "").split(" "):
                    if not w:
                        continue
                    seg = memo.get(w)
                    if seg is None:
                        seg = _segment_word(w, ranks)
                        memo[w] = seg
                    out.extend(seg)
                ids.append(i)
                toks.append(out)
                ns.append(len(out))
            yield pd.DataFrame(
                {id_col: ids, "tokens": toks, "bpe_tokens": ns})

    return src.mapInPandas(_run, out_schema)


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bpe_tokens) — the exact packing/budget input, replacing the
    regex estimate once a merge table exists."""
    return bpe_segment(df, merges, text_col, id_col) \
        .select(id_col, "bpe_tokens")
