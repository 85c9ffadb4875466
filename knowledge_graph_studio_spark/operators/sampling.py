"""Deterministic corpus mixing: hash-gated stratified sampling with
up-sampling — the last step of a training-data pipeline, where cleaned and
deduplicated shards are blended to target domain/language/quality weights.

The gate is pure arithmetic on a content-independent hash of the document
id, so it is exact, reproducible across runs/cluster sizes/row order, and
shuffle-free: `sample_mix` is a single codegen'd projection + filter (plus
a row-explode only for strata whose rate exceeds 1). Nothing about the
plan changes at 100 TB — there is no state, no aggregation, no join; the
realized proportions converge to the targets by the law of large numbers
per stratum (tested), and EXACT reproducibility means a mixture spec is an
auditable artifact of a training run, unlike rand()-based sampling.

Rates are interpreted as expected copies per input row:
  rate = 0      -> stratum dropped
  0 < rate <= 1 -> Bernoulli-by-hash downsample (keep iff
                   hash(id) mod DENOM < rate*DENOM)
  rate > 1      -> floor(rate) guaranteed copies + one more for the
                   hash-gated fraction (epoch-style up-sampling; the
                   output `copy` column 0..k-1 disambiguates duplicates
                   for downstream shuffling/sharding)

hash_fn="xxhash64" is the production default (one 64-bit hash, JVM-side);
"md5_60" uses the top 60 bits of md5(cast(id as string)) — bit-identical
in DuckDB via cast('0x' || substr(md5(...), 1, 15) as bigint), which is how
the contract oracle reproduces the gate exactly (same trick as the
MinHash/SimHash oracles, driver_contract._minhash_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.literals import bounded_collect, literal_df
from ..functions.text import hash64, token_windows, tokens

# parts-per-million rate resolution: rates are snapped to integers so the
# gate compares integers (no float threshold can sit on a hash value)
MIX_DENOM = 1_000_000


def _gate_hash(id_col: str, hash_fn: str) -> F.Column:
    # xxhash64 hashes the raw id; md5_60 hashes its string form
    key = F.col(id_col) if hash_fn == "xxhash64" \
        else F.col(id_col).cast("string")
    return F.pmod(hash64(key, hash_fn), F.lit(MIX_DENOM))


def sample_mix(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Mix ``df`` to the per-stratum ``rates`` (expected copies per row).

    Returns the input columns plus ``copy`` (0..k-1 per surviving row).
    Strata absent from ``rates`` get ``default_rate``. Deterministic in
    (id, stratum, rates) only — see module docstring for the gate."""
    ppm = {k: int(round(r * MIX_DENOM)) for k, r in rates.items()}
    for k, v in ppm.items():
        if v < 0:
            raise ValueError(f"negative rate for stratum {k!r}")
    default_ppm = int(round(default_rate * MIX_DENOM))

    rate_col = F.lit(default_ppm)
    for k, v in sorted(ppm.items()):
        rate_col = F.when(F.col(stratum_col) == k, F.lit(v)).otherwise(rate_col)

    h = _gate_hash(id_col, hash_fn)
    copies = (
        F.floor(rate_col / MIX_DENOM).cast("int")
        + F.when(h < rate_col % MIX_DENOM, F.lit(1)).otherwise(F.lit(0))
    )
    with_copies = df.withColumn("_copies", copies).filter(F.col("_copies") > 0)
    # NB: the filter above also guards the Spark descending-sequence trap —
    # F.sequence(0, -1) yields [0, -1], not [] (see text.token_windows)
    return (
        with_copies
        .withColumn("copy", F.explode(F.sequence(F.lit(0),
                                                 F.col("_copies") - 1)))
        .drop("_copies")
    )


def mixture_report(
    df: DataFrame, mixed: DataFrame, stratum_col: str,
) -> DataFrame:
    """Realized vs input row counts per stratum (x1000 realized rate) — the
    audit table a mixture run logs beside its output."""
    inp = df.groupBy(stratum_col).agg(F.count("*").alias("n_in"))
    out = mixed.groupBy(stratum_col).agg(F.count("*").alias("n_out"))
    return (
        inp.join(out, stratum_col, "left")
        .select(
            stratum_col, "n_in",
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.floor(F.coalesce("n_out", F.lit(0)) * 1000 / F.col("n_in"))
            .cast("bigint").alias("realized_rate_x1000"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk): assign every document its exact token
# span inside the fixed-length training sequences a dataloader will cut.


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "n_tokens",
    key_col: str = "doc_id",
    shard_col: str | None = None,
    max_shards: int = 100_000,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in the
    global order ``(shard, key)`` and split every ``seq_len`` tokens into
    training sequences; each doc gets the integer span it occupies.

    Output adds to the input columns:
      ``cum_before``  exact tokens preceding the doc in the global order
      ``seq_id``      training sequence holding the doc's first token
      ``seq_offset``  offset of that first token inside seq_id
      ``seq_end_id``  sequence holding the doc's last token
      ``n_seqs_spanned``  how many sequences the doc touches (0 for empty)

    Scale design — the global prefix sum is the only coupling between
    documents, and a single unpartitioned window would serialize 100 TB
    through one task. It is decomposed exactly:

      1. per-shard token totals (one map-side-combined groupBy producing
         ``n_shards`` rows, collected — bounded by ``max_shards``, enforced);
      2. exclusive shard prefixes computed on the driver and broadcast back
         as a join on ``shard``;
      3. a window cumsum PARTITIONED BY shard, ordered by ``key``.

    ``shard_col`` must be monotone along the intended global order (crawl
    segment, date bucket, ``floor(doc_id / k)`` — anything whose sort order
    equals the order of its minimum keys); the operator orders output spans
    by (shard asc, key asc). With ``shard_col=None`` everything is one shard
    — correct, but the small-data path only (single-task window).

    Every step is integer arithmetic, so the layout is bit-reproducible
    across cluster sizes and row order — a packing spec is an auditable
    artifact of a training run. Rows with equal ``key`` are ordered by
    ``tiebreak_cols`` (a hash-derived key collides eventually at web-scale
    doc counts). The DuckDB contract oracle's one global window ordered by
    ``(shard, key)`` reproduces the layout — proving the decomposition
    exact — only when no two rows share a key: it applies no tiebreak.
    """
    from pyspark.sql import Window

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    shard = F.col(shard_col) if shard_col else F.lit(0)
    d = df.withColumn("_shard", shard.cast("bigint"))

    totals = bounded_collect(
        d.groupBy("_shard").agg(F.sum(tokens_col).cast("bigint").alias("_tot"))
        .orderBy("_shard"), max_shards)
    if totals is None:
        raise ValueError(
            f"more than max_shards={max_shards} shards; coarsen shard_col")
    prefix, acc = [], 0
    for r in totals:
        prefix.append((r["_shard"], acc))
        acc += r["_tot"] or 0
    prefix_df = F.broadcast(literal_df(df.sparkSession, prefix,
                                       "_shard bigint, _prefix bigint"))

    # tiebreak_cols break key ties deterministically: a hash-derived key
    # (e.g. curation's _pk = xxhash64(id, copy)) collides eventually at
    # web-scale doc counts, and an untied window order would make the
    # packed layout nondeterministic exactly there (ADVICE r5)
    w = (Window.partitionBy("_shard").orderBy(key_col, *tiebreak_cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    tok = F.col(tokens_col).cast("bigint")
    cum = (F.col("_prefix")
           + F.coalesce(F.sum(tokens_col).over(w), F.lit(0))).cast("bigint")
    out = (
        d.join(prefix_df, "_shard")
        .withColumn("cum_before", cum)
        .withColumn("seq_id", F.floor(F.col("cum_before") / seq_len))
        .withColumn("seq_offset", F.pmod(F.col("cum_before"), F.lit(seq_len)))
        .withColumn(
            "seq_end_id",
            F.when(tok > 0,
                   F.floor((F.col("cum_before") + tok - 1) / seq_len))
            .otherwise(F.col("seq_id")))
        .withColumn(
            "n_seqs_spanned",
            F.when(tok > 0, F.col("seq_end_id") - F.col("seq_id") + 1)
            .otherwise(F.lit(0)).cast("bigint"))
        .drop("_shard", "_prefix")
    )
    return out


def packing_report(
    packed: DataFrame, seq_len: int, tokens_col: str = "n_tokens",
) -> DataFrame:
    """One-row audit for a packing run: corpus totals, sequence count, tail
    padding, and how many docs straddle a sequence boundary (the attention
    -mask / doc-separator cost of concat-and-chunk)."""
    return packed.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(tokens_col).cast("bigint")).alias("total_tokens"),
        (F.floor(
            (F.coalesce(F.max(F.col("cum_before")
                              + F.col(tokens_col).cast("bigint")), F.lit(0))
             + seq_len - 1) / seq_len)).cast("bigint").alias("n_seqs"),
        F.sum(F.when(F.col("n_seqs_spanned") > 1, 1).otherwise(0))
        .cast("bigint").alias("docs_crossing"),
    ).withColumn(
        "tail_pad_tokens",
        (F.col("n_seqs") * seq_len - F.col("total_tokens")).cast("bigint"))


# ---------------------------------------------------------------------------
# DSIR-style data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): score every raw document by the
# log-likelihood ratio of a hashed-ngram bag-of-words model fit on a small
# target corpus vs the raw corpus, then keep the top-weighted documents.


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Explode each document into its hashed unigram+bigram occurrences
    (multiplicity kept — DSIR counts occurrences, not distinct ngrams).
    Returns (id, bucket). Pure Column API: split/transform/explode + one
    hash, no Python. ``md5_60`` buckets are bit-identical in DuckDB (the
    driver-contract family); ``xxhash64`` is the production default."""
    d = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    t = F.col("_t")
    bigrams = token_windows(t, 2, lambda w, _: F.concat_ws(" ", w))
    bucket = F.pmod(hash64("_ng", hash_fn), F.lit(n_buckets))
    return (d.select(id_col, F.explode(F.concat(t, bigrams)).alias("_ng"))
            .select(id_col, bucket.alias("bucket")))


def fit_dsir(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, int]:
    """Fit per-bucket importance weights ``w[b] = floor(1e6*ln p_target[b])
    - floor(1e6*ln p_raw[b])`` with add-1 smoothing, in the same 1e6
    fixed-point convention as the CCNet LM costs (textstats.fit_lm_unigram)
    — everything after the two ``ln`` calls is exact bigint arithmetic, so
    scores are bit-stable and the DuckDB oracle reproduces them.

    Returns ``(weights_df, default_w)``: weights_df = (bucket, w_x1e6) with
    at most ``n_buckets`` rows — bounded and broadcastable by construction —
    and ``default_w`` the weight of a bucket unseen in BOTH corpora.
    ``raw`` may be a sample of the corpus being scored (the DSIR paper fits
    on a fraction); smoothing covers buckets the sample missed."""
    import math

    def _counts(d: DataFrame, alias: str) -> DataFrame:
        # the fit only needs bucket counts — no id required, so a
        # text-only target corpus works
        x = d.select(F.col(text_col)).withColumn("_id", F.lit(0))
        return (hashed_ngram_buckets(x, text_col, "_id", n_buckets, hash_fn)
                .groupBy("bucket").agg(F.count("*").alias(alias)))

    tb = _counts(target, "_ct")
    rb = _counts(raw, "_cr")
    joined = tb.join(rb, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("_ct", F.lit(0)).alias("_ct"),
        F.coalesce("_cr", F.lit(0)).alias("_cr"),
    ).localCheckpoint(eager=False)
    # the checkpoint (bounded: <= n_buckets rows) makes the totals collect
    # below materialize the joined count table ONCE; the weights frame then
    # reads the persisted rows instead of re-running the two corpus-sized
    # n-gram aggregations when it is broadcast by dsir_scores (r6 — fit
    # previously cost 2 full passes over BOTH corpora)
    tot = joined.agg(F.sum("_ct"), F.sum("_cr")).collect()[0]
    tt, tr = int(tot[0] or 0) + n_buckets, int(tot[1] or 0) + n_buckets
    weights = joined.select(
        "bucket",
        (F.floor(F.lit(1e6) * F.log((F.col("_ct") + 1) / F.lit(float(tt))))
         - F.floor(F.lit(1e6) * F.log((F.col("_cr") + 1) / F.lit(float(tr)))))
        .cast("bigint").alias("w_x1e6"),
    )
    default_w = (math.floor(1e6 * math.log(1.0 / tt))
                 - math.floor(1e6 * math.log(1.0 / tr)))
    return weights, default_w


def dsir_scores(
    df: DataFrame,
    weights: DataFrame,
    default_w: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document DSIR importance score: sum of ``w[bucket]`` over the
    doc's hashed-ngram OCCURRENCES. One explode + one BROADCAST join against
    the (≤ n_buckets)-row weight table + one groupBy — the 100 TB plan is a
    scan with a map-side-combined aggregation; nothing corpus-sized
    shuffles except the (id, partial-sum) pairs."""
    b = hashed_ngram_buckets(df, text_col, id_col, n_buckets, hash_fn)
    return (
        b.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_ngrams"),
             F.sum(F.coalesce(F.col("w_x1e6"), F.lit(default_w)))
             .cast("bigint").alias("score_x1e6"))
    )


def dsir_select(
    scored: DataFrame,
    n: int,
    id_col: str = "doc_id",
    temperature: float = 0.0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Keep the ``n`` highest-importance documents. ``temperature=0`` is the
    deterministic top-n by (score desc, id) — a TakeOrdered, no full sort.
    ``temperature>0`` adds hash-seeded Gumbel noise (``g = -ln(-ln(u))``
    with ``u`` derived from the id hash), the paper's importance RESAMPLING
    — still exactly reproducible across runs/cluster sizes because the
    noise is a pure function of the id, unlike rand()."""
    key = F.col("score_x1e6").cast("double") / 1e6
    if temperature > 0:
        h = _gate_hash(id_col, hash_fn)
        u = (h.cast("double") + 0.5) / MIX_DENOM
        key = key + F.lit(float(temperature)) * (-F.log(-F.log(u)))
    return (scored.withColumn("_key", key)
            .orderBy(F.desc("_key"), id_col).limit(n).drop("_key"))


# ---------------------------------------------------------------------------
# Leakage-safe corpus splitting: train/val/test assignment where near-dup
# CLUSTERS move as a unit, so no template family straddles the eval split.


def leakage_safe_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    clusters: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Assign every document a ``split`` label with the given weights,
    hash-gated on its DUPLICATE-CLUSTER key rather than its own id:
    members of one near-dup cluster always land in the same split, closing
    the train/eval leakage hole that per-document random splits leave open
    (a near-copy of an eval document in train).

    ``clusters`` is a (member, component) frame — ``dedup.neardup_clusters``
    output, or any grouping (exact-dup md5 groups, url groups). Docs absent
    from it are singletons and split on their own id; a LEFT join +
    coalesce keeps the cluster table proportional to the duplicated subset.

    Weights are snapped to ppm with the LAST split (by sorted name)
    absorbing the rounding residual, so the ranges exactly tile
    [0, MIX_DENOM) and assignment is total: reproducible across runs, row
    order and cluster sizes, and bit-identical in DuckDB under the md5_60
    family. One broadcast-or-shuffle join (Spark's choice by cluster-table
    size) + one codegen'd projection — no other state.
    """
    total = sum(weights.values())
    if not weights or abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    names = sorted(weights)
    ppm = {k: int(round(weights[k] * MIX_DENOM)) for k in names}
    ppm[names[-1]] += MIX_DENOM - sum(ppm.values())  # absorb rounding

    d = df
    if clusters is not None:
        c = clusters.select(F.col("member").alias(id_col),
                            F.col("component").alias("_split_key"))
        d = (d.join(c, id_col, "left")
             .withColumn("_split_key",
                         F.coalesce("_split_key", F.col(id_col))))
    else:
        d = d.withColumn("_split_key", F.col(id_col))

    h = _gate_hash("_split_key", hash_fn)
    expr, lo = None, 0
    for k in names:
        hi = lo + ppm[k]
        cond = h < F.lit(hi)
        expr = F.when(cond, F.lit(k)) if expr is None \
            else expr.when(cond, F.lit(k))
        lo = hi
    return d.withColumn("split", expr).drop("_split_key")


def materialize_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "tokens",
    key_col: str = "doc_id",
    shard_col: str | None = None,
    max_shards: int = 100_000,
) -> DataFrame:
    """Emit the actual fixed-length training sequences: documents' token
    arrays (from ``tokenize.bpe_segment`` or a plain split) are laid out in
    ``pack_sequences`` order and re-grouped into rows of exactly
    ``seq_len`` tokens (the final row holds the tail). Output:
    ``(seq_id, n_tokens, tokens array<string>)``.

    This is the one genuinely corpus-sized shuffle of the packing story —
    re-laying tokens across document boundaries HAS to move every token
    once, keyed by ``seq_id``. The key space is uniform by construction
    (every sequence holds exactly ``seq_len`` tokens), so there is no skew;
    everything upstream reuses the exact two-phase prefix sum, and the
    layout is bit-reproducible at any cluster size. Reconstruction is
    law-tested: concatenating the sequences in order equals concatenating
    the documents in pack order.
    """
    d = df.withColumn("_n_tokens", F.size(F.col(tokens_col)).cast("bigint"))
    packed = pack_sequences(d, seq_len, tokens_col="_n_tokens",
                            key_col=key_col, shard_col=shard_col,
                            max_shards=max_shards)
    tok = packed.select(
        F.col("cum_before"),
        F.posexplode(F.col(tokens_col)).alias("_pos", "_tok"))
    placed = tok.select(
        # integer div, not float: double rounding could misplace a token
        # at a sequence boundary once global positions pass 2^53
        F.expr(f"(cum_before + _pos) div {seq_len}")
        .cast("bigint").alias("seq_id"),
        F.pmod(F.col("cum_before") + F.col("_pos"), F.lit(seq_len))
        .cast("int").alias("_off"),
        "_tok")
    return (
        placed.groupBy("seq_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("_off", "_tok"))),
            lambda s: s["_tok"]).alias("tokens"))
        .select("seq_id",
                F.size("tokens").cast("bigint").alias("n_tokens"),
                "tokens")
    )
