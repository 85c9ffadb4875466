"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

These are first-class components of the 100 TB story (the documents table is
the web corpus after HTML->text): every one is pure Column API — JVM-side,
whole-stage-codegen'd, zero Python in the hot path — so the scan dominates.
The driver-contract queries (driver_contract.py) delegate here and each is
DuckDB-oracle-checked at sf=0.01.

Conventions: outputs are ints/strings only (no floats) so distributed results
are bit-stable; ratios are scaled ints (x100).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.literals import literal_array
from ..functions.text import token_windows, tokens

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "that"]


def lang_id(df: DataFrame, text_col: str = "text",
            id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """N-gram-free language-ID heuristic: english stopword ratio (token-exact).
    At web scale this is the cheap first-pass filter before any model-based
    LID; the `lang` column of the pages table is its batch output."""
    toks = tokens(text_col)
    stop_arr = literal_array(EN_STOPWORDS, "string")
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return df.select(
        *id_cols,
        F.size(toks).alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.when(n_stop * 20 >= F.size(toks), F.lit("en"))
        .otherwise(F.lit("other")).alias("lang_guess"),
    )


def quality_scores(df: DataFrame, text_col: str = "text",
                   id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Length / punctuation / mean-token-length stats as exact ints — the
    standard pre-training quality gates (length floors, symbol ratios)."""
    toks = tokens(text_col)
    total_len = F.aggregate(F.transform(toks, F.length),
                            F.lit(0), lambda acc, x: acc + x)
    return df.select(
        *id_cols,
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.floor(total_len * 100 / F.size(toks)).cast("bigint")
        .alias("avg_token_len_x100"),
        F.regexp_count(text_col, F.lit(r"[,;.!?]")).alias("n_punct"),
    )


# the Gopher paper's published stop-word requirement list (Rae et al. 2021,
# "Scaling Language Models": a document must contain at least 2 of these)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_filter(
    df: DataFrame, text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    min_words: int = 50, max_words: int = 100_000,
    min_mean_word_len_x100: int = 300, max_mean_word_len_x100: int = 1000,
    max_symbol_ratio_x100: int = 10, min_alpha_word_ratio_x100: int = 80,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The published Gopher document-quality rules (Rae et al. 2021, the
    standard public pre-training filter set), integer-stable per the module
    convention: word count in [50, 100k], mean word length in [3, 10]
    chars, symbol-to-word ratio (#, ASCII ... and unicode …) <= 0.1, >= 80%
    of words contain
    an alphabetic character, and >= 2 distinct words from the paper's
    8-stop-word list.

    Output: per-doc metrics plus ``passes`` (0/1) and ``failed`` — the
    comma-joined names of violated rules in fixed order (word_count,
    mean_word_len, symbol_ratio, alpha_words, stopwords) so downstream
    curation can report WHY documents fall out. Pure Column API, one
    codegen'd projection — no shuffle, no Python."""
    toks = tokens(text_col)
    n = F.size(toks)
    total_len = F.aggregate(F.transform(toks, F.length),
                            F.lit(0), lambda acc, x: acc + x)
    safe_n = F.greatest(n, F.lit(1))  # 0-token docs fail word_count anyway
    mean_x100 = F.floor(total_len * 100 / safe_n).cast("bigint")
    # symbol set per the paper: '#', ASCII '...', and the unicode ellipsis
    # '…' (ADVICE r4 — ellipsis-heavy docs must fail the same way)
    n_sym = (F.regexp_count(F.col(text_col), F.lit(r"#"))
             + F.regexp_count(F.col(text_col), F.lit(r"\.\.\."))
             + F.regexp_count(F.col(text_col), F.lit("…")))
    sym_x100 = F.floor(n_sym * 100 / safe_n).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_x100 = F.floor(n_alpha * 100 / safe_n).cast("bigint")
    stop_arr = literal_array(GOPHER_STOPWORDS, "string")
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))

    fails = F.filter(
        F.array(
            F.when((n < min_words) | (n > max_words), F.lit("word_count")),
            F.when((mean_x100 < min_mean_word_len_x100)
                   | (mean_x100 > max_mean_word_len_x100),
                   F.lit("mean_word_len")),
            F.when(sym_x100 > max_symbol_ratio_x100, F.lit("symbol_ratio")),
            F.when(alpha_x100 < min_alpha_word_ratio_x100,
                   F.lit("alpha_words")),
            F.when(stop_hits < min_stop_hits, F.lit("stopwords")),
        ),
        lambda x: x.isNotNull(),
    )
    return df.select(
        *id_cols,
        n.alias("n_words"),
        mean_x100.alias("mean_word_len_x100"),
        sym_x100.alias("symbol_ratio_x100"),
        alpha_x100.alias("alpha_word_ratio_x100"),
        stop_hits.cast("bigint").alias("stop_hits"),
        F.when(F.size(fails) == 0, F.lit(1)).otherwise(F.lit(0))
        .alias("passes"),
        F.concat_ws(",", fails).alias("failed"),
    )


# Gopher repetition-removal thresholds (Rae et al. 2021, Table A1), scaled
# x1000 like every ratio in this module. A document FAILS a rule when its
# metric exceeds the threshold (strictly greater).
GOPHER_REPETITION_THRESHOLDS: dict[str, int] = {
    "dup_line_frac": 300,
    "dup_line_char_frac": 200,
    "dup_para_frac": 300,
    "dup_para_char_frac": 200,
    "top_2gram": 200,
    "top_3gram": 180,
    "top_4gram": 160,
    "dup_5gram": 150,
    "dup_6gram": 140,
    "dup_7gram": 130,
    "dup_8gram": 120,
    "dup_9gram": 110,
    "dup_10gram": 100,
}

# item kinds flowing through the single explode: lines, paragraphs, and
# word n-grams for n = 2..10 (top-fraction rules use 2-4, dup rules 5-10)
_REP_NGRAM_NS = tuple(range(2, 11))


def gopher_repetition(
    df: DataFrame, text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    line_sep: str = "\n", para_sep: str = "\n\n",
    thresholds: dict[str, int] | None = None,
    hash_keys: bool = True,
) -> DataFrame:
    """The published Gopher repetition-removal rules (Rae et al. 2021,
    Table A1) — the other half of the filter set beside `gopher_filter`'s
    quality rules: duplicate line / paragraph fractions (count and
    character), top-{2,3,4}-gram character fractions, and duplicate
    {5..10}-gram character fractions, with per-rule failure attribution.

    Integer-stable definitions (deviations from the paper's prose are
    deliberate, deterministic, and mirrored exactly by the DuckDB oracle):

      * dup_line_frac / dup_para_frac — occurrences of units (lines split on
        ``line_sep``, paragraphs on ``para_sep``) whose within-doc count > 1,
        over total unit occurrences.
      * dup_line_char_frac / dup_para_char_frac — characters of those
        duplicate occurrences over length(text), capped at 1.0.
      * top_{n}gram (n=2..4) — max over n-grams occurring >= 2 times of
        count * chars(gram), over length(text) (the paper takes the single
        MOST FREQUENT n-gram; max coverage is tie-free and equals it in the
        non-degenerate case), capped at 1.0.
      * dup_{n}gram (n=5..10) — occurrence-weighted characters of n-grams
        occurring > 1 time, over length(text), capped at 1.0 (the paper
        de-overlaps covered characters; occurrence-weighting is the
        shuffle-free upper bound, so this filter is slightly stricter).

    All ratios x1000 (floor). ``passes`` = 1 iff no metric exceeds its
    threshold (GOPHER_REPETITION_THRESHOLDS); ``failed`` lists violated
    rules in fixed order. ``hash_keys`` shuffles xxhash64 keys instead of
    n-gram text (production default; False is the oracle-pairing mode,
    equivalence law-tested).

    Scale shape: one posexplode-free explode of a per-row item array
    (~(2 + sum(n) ) * tokens items per doc), then two aggregations both
    keyed by (doc, ...) — partial map-side combine applies and no key ever
    spans documents, so there is no corpus-wide skew by construction; the
    final pivot is a conditional aggregation on the doc key. Everything is
    Column API — zero Python in the hot path."""
    import re as _re

    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        th.update(thresholds)
    kinds = ["L", "P"] + [f"g{n}" for n in _REP_NGRAM_NS]

    src = df.select(
        *id_cols,
        F.length(text_col).alias("_n_chars"),
        tokens(text_col).alias("_toks"),
        F.split(F.col(text_col), _re.escape(line_sep)).alias("_lines"),
        F.split(F.col(text_col), _re.escape(para_sep)).alias("_paras"),
    )

    # the item stream is shared; only the key and length of a unit (line,
    # paragraph) and of an n-gram window depend on ``hash_keys``
    if hash_keys:
        # hash-chain keys (production default): per-token xxhash64 + length
        # are computed ONCE, then each n-gram key folds its window's token
        # hashes (seeded by n) and its char length is the window's token
        # lengths + (n-1) separators — no n-gram string is ever
        # materialized and the explode carries (kind, int64, int32) instead
        # of gram text. Grouping-equivalent to the raw-text path because
        # tokens are whitespace-free, so string-equal grams <=> token-tuple-
        # equal windows <=> hash-chain-equal keys (collisions aside, same
        # 64-bit exposure as an xxhash64-of-text key; equivalence
        # law-tested against hash_keys=False). False groups on the raw
        # text, which is how the DuckDB contract oracle pairs this operator
        # byte-for-byte.
        src = src.select(
            *id_cols, "_n_chars", "_lines", "_paras",
            F.transform("_toks", lambda x: F.xxhash64(x)).alias("_w"),
            F.transform("_toks", F.length).alias("_wl"))

        def unit_key(x):
            return F.xxhash64(x), F.length(x)

        def gram_key(w, i, n: int):
            return (
                F.aggregate(w, F.lit(n).cast("long"),
                            lambda acc, h: F.xxhash64(acc, h)),
                F.aggregate(F.slice("_wl", i, n), F.lit(n - 1),
                            lambda acc, x: acc + x))
    else:
        src = src.withColumnRenamed("_toks", "_w")

        def unit_key(x):
            return x, F.length(x)

        def gram_key(w, i, n: int):
            gram = F.concat_ws(" ", w)
            return gram, F.length(gram)

    def _item(kind: str, key, length):
        return F.struct(F.lit(kind).alias("kind"), key.alias("k"),
                        length.alias("l"))

    def _units(col: str, kind: str):
        return F.transform(col, lambda x: _item(kind, *unit_key(x)))

    def _grams(n: int):
        return token_windows(F.col("_w"), n,
                             lambda w, i: _item(f"g{n}", *gram_key(w, i, n)))

    items = F.concat(_units("_lines", "L"), _units("_paras", "P"),
                     *[_grams(n) for n in _REP_NGRAM_NS])
    ex = src.select(
        *id_cols, "_n_chars", F.explode(items).alias("it")
    ).select(
        *id_cols, "_n_chars",
        F.col("it.kind").alias("_kind"), F.col("it.k").alias("_k"),
        F.col("it.l").alias("_len"),
    )
    c1 = ex.groupBy(*id_cols, "_kind", "_k").agg(
        F.count("*").alias("_cnt"), F.min("_len").alias("_len"),
        F.min("_n_chars").alias("_n_chars"))
    cov = F.col("_cnt") * F.col("_len")
    dup = F.col("_cnt") > 1
    c2 = c1.groupBy(*id_cols, "_kind").agg(
        F.min("_n_chars").alias("_n_chars"),
        F.sum("_cnt").alias("_total_cnt"),
        F.coalesce(F.sum(F.when(dup, F.col("_cnt"))), F.lit(0))
        .alias("_dup_cnt"),
        F.coalesce(F.sum(F.when(dup, cov)), F.lit(0)).alias("_dup_chars"),
        F.coalesce(F.max(F.when(dup, cov)), F.lit(0)).alias("_top_cov"),
    )

    def _of(kind: str, col: str):
        return F.max(F.when(F.col("_kind") == kind, F.col(col)))

    wide = c2.groupBy(*id_cols).agg(
        F.min("_n_chars").alias("_n_chars"),
        *[F.coalesce(_of(k, c), F.lit(0)).alias(f"_{k}_{c[1:]}")
          for k in kinds for c in ("_total_cnt", "_dup_cnt", "_dup_chars",
                                   "_top_cov")],
    )
    safe_chars = F.greatest(F.col("_n_chars"), F.lit(1))

    def _cnt_frac(kind: str):
        return F.floor(
            F.col(f"_{kind}_dup_cnt") * 1000
            / F.greatest(F.col(f"_{kind}_total_cnt"), F.lit(1))
        ).cast("bigint")

    def _char_frac(col) -> F.Column:
        return F.least(
            F.floor(col * 1000 / safe_chars).cast("bigint"), F.lit(1000))

    metrics = {
        "dup_line_frac": _cnt_frac("L"),
        "dup_line_char_frac": _char_frac(F.col("_L_dup_chars")),
        "dup_para_frac": _cnt_frac("P"),
        "dup_para_char_frac": _char_frac(F.col("_P_dup_chars")),
        **{f"top_{n}gram": _char_frac(F.col(f"_g{n}_top_cov"))
           for n in (2, 3, 4)},
        **{f"dup_{n}gram": _char_frac(F.col(f"_g{n}_dup_chars"))
           for n in range(5, 11)},
    }
    m = wide.select(
        *id_cols,
        *[v.alias(f"{k}_x1000") for k, v in metrics.items()],
    )
    fails = F.filter(
        F.array(*[
            F.when(F.col(f"{k}_x1000") > th[k], F.lit(k))
            for k in metrics
        ]),
        lambda x: x.isNotNull(),
    )
    return m.select(
        *id_cols,
        *[f"{k}_x1000" for k in metrics],
        F.when(F.size(fails) == 0, F.lit(1)).otherwise(F.lit(0))
        .alias("passes"),
        F.concat_ws(",", fails).alias("failed"),
    )


def token_counts(df: DataFrame, text_col: str = "text",
                 id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex count ([A-Za-z]+ | digit | other
    symbol) — the cost estimator for LLM-bound corpora."""
    return df.select(
        *id_cols,
        F.size(tokens(text_col)).alias("ws_tokens"),
        F.regexp_count(text_col, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
        .alias("bpe_ish_tokens"),
    )


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token bag (a rolling-hash analog that is exactly reproducible in SQL)."""
    return df.select(
        *id_cols,
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col)))))
        .alias("fingerprint"),
    )


def shingles(df: DataFrame, k: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct k-token shingles per doc (the n-gram Jaccard / MinHash input):
    each k-token window joined by "_". Native transform — no UDF, no
    Python; the token array is a projected column (see token_windows)."""
    src = df.select(id_col, tokens(text_col).alias("_toks"))
    sh = token_windows(F.col("_toks"), k, lambda w, _: F.concat_ws("_", w))
    return src.select(id_col, F.explode(F.array_distinct(sh)).alias("shingle"))


def fit_lm_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
    pre_counted: bool = False,
) -> tuple[DataFrame, int]:
    """Fit the unigram cost model for ``lm_unigram_score``: returns
    ``(vocab_df, oov_cost)`` where vocab_df = (tok, tok_cost bigint), at
    most ``vocab_size`` rows (top tokens by (count desc, token) — bounded,
    broadcastable by construction), and oov_cost is the hapax cost. Fit it
    once on a reference corpus, then score any number of snapshots.
    ``pre_counted=True`` takes a (tok, cnt) frequency table instead of raw
    documents; the caller owns its persistence (the table is read twice,
    so pass a checkpointed one). One scalar driver action (the corpus
    token total)."""
    import math

    # the count table is vocabulary-sized, not corpus-sized — persist it so
    # the total below and the vocab cut share ONE aggregation pass (r6: the
    # lazy version re-ran the corpus explode+agg when the vocab frame was
    # broadcast by the scorer)
    cnt = df if pre_counted else (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False))
    total = cnt.agg(F.sum("cnt")).collect()[0][0]
    vocab = (
        cnt.orderBy(F.desc("cnt"), "tok").limit(vocab_size)
        .select("tok",
                (-F.floor(F.lit(1e6) * F.log(F.col("cnt") / F.lit(float(total)))))
                .cast("bigint").alias("tok_cost"))
    )
    return vocab, int(-math.floor(1e6 * math.log(1.0 / total)))


def lm_unigram_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    head_x1e6: int | None = None,
    tail_x1e6: int | None = None,
    model: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): per-document cross-entropy under a unigram LM fitted on the
    corpus itself, lower = more natural text. The public pipeline buckets
    documents into head/middle/tail by LM perplexity before training; this
    is that step with the KenLM 5-gram replaced by an exactly-reproducible
    unigram model (the sandbox has no model artifacts; the contract and
    scale shape are identical, the swap-in point is the per-token cost
    table).

    Integer-exact by construction (module convention): each vocab token's
    cost is ``-floor(1e6 * ln(count/total))`` computed ONCE in the vocab
    table, so the per-document sum is a bigint sum — order-independent and
    bit-stable across partitionings; ``ce_x1e6`` is the integer-div mean.
    Out-of-vocabulary tokens cost as hapax (count=1) — deterministic
    smoothing with no tuned constant.

    Scale shape (100 TB): token counting is one map-side-combinable
    groupBy; the top-``vocab_size`` cut sorts only the DISTINCT-token table
    (vocabulary-sized, not corpus-sized) and bounds the model at
    ``vocab_size`` rows, so the scoring join is a BROADCAST hash join; the
    per-(doc, token) pre-aggregation collapses the exploded token table
    before that join (k copies of a token in a doc hit the vocab once, not
    k times) and shares its doc-key shuffle with the final per-doc agg.
    Two scalar driver actions (total count, optional thresholds), both
    single-row by contract.

    ``head_x1e6`` / ``tail_x1e6`` are fixed score thresholds (the deployed
    CCNet shape: cutoffs are fitted offline on a sample, then applied as
    literals); when given, an ``lm_bucket`` column (head/middle/tail) is
    added with zero extra jobs.

    ``model`` = ``(vocab_df, oov_cost)`` from ``fit_lm_unigram`` scores with
    a PRE-FITTED model instead of refitting — the deployed CCNet shape (the
    LM is trained once on a reference corpus, e.g. Wikipedia, then applied
    to every crawl snapshot), and it turns scoring into a single-pass
    scan -> broadcast-join -> agg with no fit jobs at all."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    dcnt = tok.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    if model is not None:
        vocab, oov_cost = model
    else:
        # fit-on-self is inherently two-pass (fit, then score); the fit's
        # vocabulary-count table is checkpointed here so the total and the
        # vocab cut share one aggregation pass. The corpus-sized
        # (doc, token) table is deliberately NOT persisted: re-deriving it
        # (explode + map-side-combined agg) is cheaper at scale than
        # writing it to the checkpoint store (r6 A/B at sf0.1: within noise
        # either way).
        vocab, oov_cost = fit_lm_unigram(
            dcnt.groupBy("tok").agg(F.sum("c").alias("cnt"))
            .localCheckpoint(eager=False),
            vocab_size=vocab_size, pre_counted=True)
    out = (
        dcnt.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_tokens"),
             F.sum(F.col("c") * F.coalesce("tok_cost", F.lit(oov_cost)))
             .alias("cost_sum"))
        .select(id_col, F.col("n_tokens").cast("bigint"),
                F.expr("cost_sum div n_tokens").alias("ce_x1e6"))
    )
    if head_x1e6 is not None and tail_x1e6 is not None:
        out = out.withColumn(
            "lm_bucket",
            F.when(F.col("ce_x1e6") <= head_x1e6, F.lit("head"))
            .when(F.col("ce_x1e6") <= tail_x1e6, F.lit("middle"))
            .otherwise(F.lit("tail")))
    return out


def lm_bucket_thresholds(scored: DataFrame,
                         fracs: tuple[float, float] = (1 / 3, 2 / 3)
                         ) -> tuple[int, int]:
    """Fit the head/tail cutoffs for ``lm_unigram_score`` from a scored
    sample (the offline half of CCNet's bucketing): exact percentiles over
    the integer score, returned as ints to feed back as literals. One
    scalar action over the (doc-count-sized) score table."""
    r = scored.agg(
        F.expr(f"percentile(ce_x1e6, array({fracs[0]}, {fracs[1]}))")
    ).collect()[0][0]
    return int(r[0]), int(r[1])


# ---------------------------------------------------------------------------
# Stupid-backoff bigram LM (Brants et al. 2007, "Large Language Models in
# Machine Translation"): the web-scale scoring model — no discount mass to
# tune, counts only, which is exactly why Google used it at trillion-token
# scale. Upgrades the CCNet bucketing from unigram to contextual costs.

# -floor(1e6 * ln(0.4)): the published stupid-backoff penalty in this
# module's 1e6 fixed-point convention
import math as _math

BACKOFF_X1E6 = -_math.floor(1e6 * _math.log(0.4))


def _bigram_pairs(toks):
    """(w1, w2) structs of every adjacent token pair of ``toks``."""
    return token_windows(
        toks, 2, lambda w, _: F.struct(w[0].alias("w1"), w[1].alias("w2")))


def fit_lm_bigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
    bigram_size: int = 200_000,
) -> tuple[DataFrame, DataFrame, int]:
    """Fit the stupid-backoff bigram model: returns ``(bigram_df, vocab_df,
    oov_cost)`` where bigram_df = (w1, w2, bi_cost bigint) holds the top
    ``bigram_size`` bigrams by (count desc, w1, w2) with
    ``bi_cost = -floor(1e6 * ln(count(w1 w2) / count(w1)))``, and
    (vocab_df, oov_cost) is the ``fit_lm_unigram`` backoff model.

    Both model tables are bounded by construction (vocabulary- and
    parameter-sized, not corpus-sized), so scoring joins broadcast. The
    corpus-sized work is two map-side-combinable aggregations (unigram and
    bigram counts); everything after the two ``ln`` calls is bigint."""
    toks = df.select(tokens(text_col).alias("_t"))
    t = F.col("_t")
    # the unigram count table feeds BOTH the vocab fit and the bigram
    # denominator join below — checkpoint it (vocabulary-sized, bounded)
    # so the corpus-sized explode+agg runs once, not once per consumer (r6;
    # fit_lm_unigram reads it as is)
    uni = (toks.select(F.explode(t).alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("cnt"))
           .localCheckpoint(eager=False))
    vocab, oov_cost = fit_lm_unigram(uni, vocab_size=vocab_size,
                                     pre_counted=True)

    pairs = toks.select(F.explode(_bigram_pairs(t)).alias("p")) \
        .select("p.w1", "p.w2")
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    bigram = (
        c12.orderBy(F.desc("c12"), "w1", "w2").limit(bigram_size)
        .join(uni.select(F.col("tok").alias("w1"),
                         F.col("cnt").alias("c1")), "w1")
        .select("w1", "w2",
                (-F.floor(F.lit(1e6)
                          * F.log(F.col("c12") / F.col("c1"))))
                .cast("bigint").alias("bi_cost"))
    )
    return bigram, vocab, oov_cost


def lm_bigram_score(
    df: DataFrame,
    model: tuple[DataFrame, DataFrame, int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under the stupid-backoff bigram model:
    the first token costs its unigram price; every following token costs
    the bigram price when (w1, w2) is in the model, else
    ``BACKOFF_X1E6 + unigram(w2)`` (OOV backs off to the hapax cost).
    Output (id, n_tokens, ce_x1e6) in the module's bigint convention —
    order-independent and bit-stable.

    Plan: one explode into per-doc (w1, w2) pair counts + one per-doc
    first-token row, two BROADCAST joins against the bounded model tables,
    one doc-keyed aggregation. Nothing corpus-sized shuffles except
    (doc, partial-sum) pairs."""
    bigram, vocab, oov_cost = model
    src = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    t = F.col("_t")

    pairs = src.select(id_col, F.explode(_bigram_pairs(t)).alias("p")) \
        .select(id_col, "p.w1", "p.w2")
    pcnt = pairs.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("c"))
    uni2 = vocab.select(F.col("tok").alias("w2"),
                        F.col("tok_cost").alias("w2_cost"))
    pair_costs = (
        pcnt.join(F.broadcast(bigram), ["w1", "w2"], "left")
        .join(F.broadcast(uni2), "w2", "left")
        .select(
            id_col, "c",
            F.coalesce(
                F.col("bi_cost"),
                F.lit(BACKOFF_X1E6)
                + F.coalesce("w2_cost", F.lit(oov_cost))).alias("cost"))
    )
    first = (src.select(id_col, F.element_at(t, 1).alias("tok"),
                        F.size(t).cast("bigint").alias("n_tokens"))
             .join(F.broadcast(vocab), "tok", "left")
             .select(id_col, "n_tokens",
                     F.coalesce("tok_cost", F.lit(oov_cost))
                     .alias("first_cost")))
    agg = (pair_costs.groupBy(id_col)
           .agg(F.sum(F.col("c") * F.col("cost")).alias("pair_sum")))
    return (
        first.join(agg, id_col, "left")
        .select(
            id_col, "n_tokens",
            F.expr(
                "(first_cost + coalesce(pair_sum, 0)) div n_tokens")
            .cast("bigint").alias("ce_x1e6"))
    )


def exact_quantiles(
    df: DataFrame,
    cols: tuple[str, ...],
    qs_x100: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Exact discrete quantiles of integer metric columns -> (metric,
    q_x100, value): the corpus-profiling step that tunes per-corpus filter
    thresholds (every Gopher/length bound here is "corpus-tunable" — this
    is the tool that reads the corpus). Type-1 (lower discrete) quantile:
    the value at 1-based rank ceil(q*n), computed as (q*n + 99) div 100 in
    exact integer arithmetic; ties are harmless because the value AT a rank
    is well-defined whatever the tie order. Oracle-pairs exactly (all
    int64, identical rank formula).

    Scale note: exact quantiles globally sort each metric (one shuffle per
    melt, a window over it) — the VERIFICATION path. At 100 TB use
    `df.approxQuantile` / `percentile_approx` (Greenwald-Khanna, one pass,
    no global sort) and keep this as the small-sample cross-check; the
    melt makes one slim (metric, value) pass per column either way."""
    from pyspark.sql import Window

    melted = None
    for c in cols:
        part = df.select(F.lit(c).alias("metric"),
                         F.col(c).cast("long").alias("value"))
        melted = part if melted is None else melted.union(part)
    w = Window.partitionBy("metric").orderBy("value")
    ranked = melted.select(
        "metric", "value",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("metric")).alias("n"),
    )
    # ONE pass: explode the q literals per ranked row and keep rank hits —
    # per-q filters over the same window subtree would re-derive the melt
    # and the global per-metric sort once per quantile (the oracle's
    # unnest([...]) is the same shape)
    qarr = literal_array([int(q) for q in qs_x100], "bigint")
    return (
        ranked.select("metric", "value", "rk", "n",
                      F.explode(qarr).alias("q_x100"))
        .filter(F.col("rk") == F.expr("(q_x100 * n + 99) div 100"))
        .select("metric", "q_x100", "value")
    )


def topk_keywords(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF -> (id_col, term, tfidf_x1e6,
    rank): corpus exploration + entity-candidate suggestion for schema
    induction (which terms would a gazetteer want?). Smoothed
    idf = ln(N / df) over distinct-doc frequency; the per-(doc, term) score
    tf * idf is floored to int64 at 1e6 BEFORE ranking (the repo's fixed-
    point convention), ties broken lexicographically — fully deterministic
    and oracle-pairable (single product per pair; only ln's ulp exposed).

    Scale shape: tokenize -> explode -> (doc, term) counts (one shuffle,
    the classic wordcount), term document-frequency as a vocabulary-sized
    aggregation reused across all docs, per-doc top-k via a window
    partitioned BY DOC (each partition is one doc's distinct terms —
    bounded, no skew beyond document length)."""
    from pyspark.sql import Window

    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term").agg(F.count("*").alias("tf"))
        # lazy checkpoint: tf feeds BOTH the df aggregation and the score
        # join — without the cut the corpus-wide explode runs twice
        .localCheckpoint(eager=False)
    )
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col, "term",
            F.floor(
                F.lit(1e6) * F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df"))
            ).cast("long").alias("tfidf_x1e6"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf_x1e6"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def suggest_gopher_thresholds(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    lo_x100: int = 1,
    hi_x100: int = 99,
) -> dict:
    """Corpus-adaptive gopher_filter thresholds from exact quantiles ->
    kwargs dict for :func:`gopher_filter`. The paper's constants are tuned
    for web text; every real pipeline re-tunes them per corpus ("thresholds
    are corpus-tunable"), and this is the mechanized read: word-count
    bounds at the [lo, hi] percentile, mean-word-length bounds likewise,
    symbol/alpha/stop thresholds at the hi (or lo) tail so only genuine
    outliers fail. One exact_quantiles pass (one melt + per-metric sort);
    for a 100 TB corpus run it on a sample or swap in approxQuantile — the
    contract is just the returned dict.

    Deliberately returns DATA, not a filtered frame: the dict is logged /
    versioned next to the corpus so the curation run is reproducible."""
    m = df.select(
        *id_cols,
        F.size(tokens(text_col)).alias("n_words"),
        (F.aggregate(tokens(text_col), F.lit(0),
                     lambda a, x: a + F.length(x)) * 100
         / F.greatest(F.size(tokens(text_col)), F.lit(1)))
        .cast("long").alias("mean_word_len_x100"),
    )
    q = {(r["metric"], r["q_x100"]): r["value"]
         for r in exact_quantiles(
             m, cols=("n_words", "mean_word_len_x100"),
             qs_x100=(lo_x100, hi_x100)).collect()}
    return {
        "min_words": int(q[("n_words", lo_x100)]),
        "max_words": int(q[("n_words", hi_x100)]),
        "min_mean_word_len_x100": int(q[("mean_word_len_x100", lo_x100)]),
        "max_mean_word_len_x100": int(q[("mean_word_len_x100", hi_x100)]),
    }
