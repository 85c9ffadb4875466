"""Deduplication operators for web-scale training-data pipelines.

Four families, each a standard technique re-expressed Spark-native:
  * exact            hash-groupBy (driver_contract.q_dedup_exact)
  * n-gram Jaccard   inverted-index shingle join (driver_contract.q_dedup_ngram_jaccard)
  * MinHash + LSH    shingle -> k minhashes -> banded bucket join (here)
  * SimHash          64-bit sign-of-weighted-bit-sums signature (here)

Everything is native Column API — xxhash64 for all hashing (JVM-side,
deterministic across runs/executors), no Python in the hot path.

Shared pieces (each decision lives in one function):
  * token_shingles        the shingler (textstats.shingles, id as doc_id)
  * collapse_verbatim /   verbatim-duplicate collapse to one representative
    expand_rep_pairs      per content key, and the re-expansion of
                          representative pairs to member pairs (also used by
                          the vector near-dup operators in similarity.py)
  * _verified_jaccard     the verified-pair core of minhash_neardup_pairs
                          and ngram_jaccard_pairs: one hashed shingle index,
                          one df cap, one size table, one Jaccard finish;
                          only the candidate step differs
  * banded_hamming_pairs  the banded-hamming engine of simhash_neardup_pairs
                          and the perceptual-hash families

Scale notes:
  * MinHash signatures are k=64 per-group MIN aggregates over the shingle
    inverted index — one shuffle on doc_id, map-side partial min.
  * LSH banding emits (band_id, band_hash) keys; candidate pairs come from
    within-bucket pair expansion with a bucket-size cap (giant buckets =
    boilerplate/template text at web scale; capping them is standard practice
    and the cap is explicit + logged, not silent).
  * Near-dup verification joins candidates back to exact Jaccard — candidates
    only, never all-pairs.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.literals import bounded_collect, literal_df
from ..functions.text import hash64, tokens
from . import textstats

_LOG = logging.getLogger(__name__)


def token_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   k: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct k-token shingles per doc —
    textstats.shingles with the id renamed to ``doc_id``. A doc emits at
    least one shingle exactly when ``size(split(text, " ")) >= k``."""
    return textstats.shingles(df, k=k, text_col=text_col, id_col=id_col).select(
        F.col(id_col).alias("doc_id"), "shingle")


def cap_shingle_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Hot-shingle guard: drop shingles whose document frequency exceeds
    ``max_df``. A shingle shared by f docs creates ~f^2/2 candidate pairs in
    any inverted-index join — one boilerplate/template shingle at web scale
    is a quadratic skew bomb. Dropping ultra-common shingles barely moves
    Jaccard for genuine near-dups (a boilerplate shingle inflates
    intersection and union together) and is standard stop-shingle practice.

    Not silent: the hot set is probed in ONE pass over the frequency
    aggregation, bounded at LITERAL_DF_MAX_ROWS + 1 rows, its stats logged,
    and the filter applied as a broadcast LEFT ANTI against the collected
    literal. A hot set past the bound never reaches the driver: its count
    and worst df come from one 2-scalar aggregation and the filter falls
    back to the lazy broadcast build (more aggregation passes, but a
    bounded plan and driver)."""
    from ..functions.literals import LITERAL_DF_MAX_ROWS

    hot = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > max_df))
    # ordered, so the bound is one top-k job: a bare limit() collect runs
    # incremental take jobs over growing partition subsets
    rows = bounded_collect(hot.orderBy(F.desc("df")), LITERAL_DF_MAX_ROWS)
    if rows is None:
        n, worst = hot.agg(F.count("*"), F.max("df")).first()
        _LOG.warning(
            "cap_shingle_df: dropping %d shingles with df > %d (worst df "
            "%d) through a broadcast join: over the %d-row literal bound",
            n, max_df, worst, LITERAL_DF_MAX_ROWS)
        return sh.join(F.broadcast(hot.select("shingle")),
                       "shingle", "left_anti")
    if rows:
        _LOG.warning(
            "cap_shingle_df: dropping %d shingles with df > %d (worst df %d)",
            len(rows), max_df, rows[0]["df"])
    else:
        _LOG.info("cap_shingle_df: cap %d did not bind", max_df)
    # typed as the shingle column (a 64-bit hash family or a string)
    hot_lit = literal_df(
        sh.sparkSession, [(r["shingle"],) for r in rows],
        T.StructType([sh.schema["shingle"]]))
    return sh.join(F.broadcast(hot_lit), "shingle", "left_anti")


def duplicate_rate(df: DataFrame, content_col: str, cells: int = 4,
                   min_sample: int = 1000) -> float:
    """Cheap verbatim-duplicate-rate probe (VERDICT r3 #3): hash the content
    column once and measure 1 - distinct/count over a CONTENT-CLOSED sample
    — the cell ``hash % cells == 0``. Sampling by content hash keeps every
    member of a duplicate group together, so the cell's duplicate rate is an
    unbiased estimate of the corpus rate (a row-wise Bernoulli sample would
    split groups across the boundary and underestimate ~1/cells-fold).
    Falls back to the full table when the cell is too small to read.

    r6: ONE probe job in the common case, with a 2-exchange plan — the
    previous count_distinct formulation planned an Expand + 3 exchanges
    (measured 1.5 s of pure stage latency on a 2,000-row probe). Cell
    membership is a function of the hash, so grouping by
    (in_cell, hash-or-sentinel) shuffles ONLY the cell's distinct hashes
    (non-cell rows fold to one sentinel row per map task — the same
    shuffle profile as the old cell-only pass), and one tiny second
    aggregation over the grouped frame yields cell count, cell distinct
    and the full count together. Only when the cell IS too small does a
    second (tiny-table by definition) job compute the full distinct. The
    returned estimate is numerically identical to the two-pass version in
    both branches."""
    s = df.select(F.xxhash64(content_col).alias("_h"))
    in_cell = F.pmod("_h", F.lit(cells)) == 0
    g = s.groupBy(
        in_cell.alias("_f"),
        F.when(in_cell, F.col("_h")).otherwise(F.lit(0)).alias("_k"),
    ).agg(F.count("*").alias("c"))
    row = g.agg(
        F.sum(F.when(F.col("_f"), F.col("c"))).alias("n"),
        F.count(F.when(F.col("_f"), 1)).alias("d"),
        F.sum("c").alias("n_all"),
    ).collect()[0]
    n, d = row["n"] or 0, row["d"]
    if n < min_sample:
        n = row["n_all"] or 0
        d = s.agg(F.count_distinct("_h").alias("d")).collect()[0]["d"]
    if not n:
        return 0.0
    return 1.0 - d / n


# Duplicate rate at or above which the verbatim collapse pays for itself:
# below it the collapse is a constant ~0.3-0.9s/query overhead for nothing
# (the r3 bench regressions on the duplicate-free SF corpora); above it,
# k verbatim copies inflate bucket pair expansion k^2-fold (BENCH_sf16:
# 2.6-4.7x wall degradation at 16x tiling). The probe costs one slim hash
# pass over ~1/4 of the data — far below either side of that trade.
AUTO_COLLAPSE_MIN_DUP_RATE = 0.02


def resolve_collapse(df: DataFrame, collapse_exact, content_col: str,
                     threshold: float = AUTO_COLLAPSE_MIN_DUP_RATE) -> bool:
    """Resolve a ``collapse_exact`` knob that may be True/False/"auto".
    "auto" probes the sampled duplicate rate and collapses only when it can
    bind (>= threshold)."""
    if collapse_exact == "auto":
        return duplicate_rate(df, content_col) >= threshold
    return bool(collapse_exact)


def collapse_verbatim(df: DataFrame, id_col: str, key: F.Column,
                      cols: list[str]):
    """Collapse verbatim-identical content to one representative (min id)
    per content ``key`` (a Column over ``df``) before bucket-based pair
    generation. Returns (reps, mem):
    reps — one row per distinct content: (id_col=rep id, *cols, _n members);
    mem — (_rep, _mid) membership for expand_rep_pairs.

    Rationale (BENCH_sf16): crawls repeat documents verbatim; k copies land
    in identical buckets, multiplying within-bucket pair expansion by k^2
    and pushing buckets over the max_bucket drop guard — collapsing first
    shrinks buckets back to distinct-content size AND makes duplicate
    recall exact instead of bucket-dependent."""
    # slim (id, key) frame computed once and shared by the rep election and
    # the membership join; rep content is fetched back by id join — never
    # materialize or re-hash the content column twice
    ck = df.select(F.col(id_col).alias("_mid"), key.alias("_ck")) \
           .localCheckpoint(eager=False)
    grp = ck.groupBy("_ck").agg(
        F.min("_mid").alias("_rep"), F.count("*").alias("_n"))
    reps = grp.join(df.select(F.col(id_col).alias("_rep"), *cols), "_rep") \
        .select(F.col("_rep").alias(id_col), *cols, "_n")
    mem = ck.join(grp.select("_ck", "_rep"), "_ck").select("_rep", "_mid")
    return reps, mem


def expand_rep_pairs(rep_pairs: DataFrame, mem: DataFrame,
                     dup_reps: DataFrame, a_col: str, b_col: str,
                     intra: Sequence[F.Column] = ()) -> DataFrame:
    """Representative pairs -> member pairs (``a_col`` < ``b_col``).
    Cross-content pairs come from two membership joins and carry the other
    columns of ``rep_pairs`` (identical content per member). Intra-content
    pairs (identical content => always near-dup) come from the ``_rep``
    self-join of the members of ``dup_reps`` (_rep, ...) with the ``intra``
    columns, evaluated over ``dup_reps``; callers pass only groups whose
    content the uncollapsed path could pair at all (>= 1 shingle, non-null
    text, nonzero vector)."""
    payload = [c for c in rep_pairs.columns if c not in (a_col, b_col)]
    cross = (
        rep_pairs
        .join(mem.select(F.col("_rep").alias(a_col),
                         F.col("_mid").alias("_ia")), a_col)
        .join(mem.select(F.col("_rep").alias(b_col),
                         F.col("_mid").alias("_ib")), b_col)
        .select(F.least("_ia", "_ib").alias(a_col),
                F.greatest("_ia", "_ib").alias(b_col), *payload))
    dup = dup_reps.select("_rep", *intra)
    dup_mem = mem.join(dup, "_rep")
    x, y = dup_mem.alias("x"), dup_mem.alias("y")
    intra_pairs = (
        x.join(y, (F.col("x._rep") == F.col("y._rep"))
               & (F.col("x._mid") < F.col("y._mid")))
        .select(F.col("x._mid").alias(a_col), F.col("y._mid").alias(b_col),
                *[F.col(f"x.{c}") for c in dup.columns[1:]]))
    return cross.unionByName(intra_pairs)


MINHASH_P = (1 << 31) - 1


def minhash_params(num_hashes: int = 64) -> list[tuple[int, int]]:
    """The deterministic universal-hash family (a_i, b_i) over the Mersenne
    prime MINHASH_P — module-level so the DuckDB oracle can embed the same
    constants (driver_contract)."""
    p = MINHASH_P
    params = []
    s = 0x9E3779B9
    for _ in range(num_hashes):
        s = (s * 1103515245 + 12345) % (1 << 31)
        a = s % (p - 1) + 1
        s = (s * 1103515245 + 12345) % (1 << 31)
        b = s % p
        params.append((a, b))
    return params


def minhash_signatures(shingles: DataFrame, num_hashes: int = 64,
                       hash_fn: str = "xxhash64",
                       pre_hashed: bool = False) -> DataFrame:
    """(doc_id, sig: array<bigint>[num_hashes]) — universal-hash minhash
    family over the Mersenne prime p = 2^31 - 1:
    sig[i] = min over shingles of (a_i * h + b_i) mod p, h = hash mod p.

    The base hash is computed ONCE per shingle row; the k variants are three
    integer ops each (JVM codegen, products < 2^62 so ANSI-safe), not k string
    hashes. One groupBy with k parallel MIN aggregates — map-side combinable.
    ``hash_fn``: "xxhash64" (production default) or "md5_60" (bit-identical
    in DuckDB — the oracle-checkable family, see functions/text.hash64).
    ``pre_hashed=True`` takes a frame whose ``shingle`` column already holds
    ``hash64(shingle, hash_fn)`` values (the verified-pair path shares
    one checkpointed hashed shingle index between banding and verification —
    ``pmod`` of the stored hash is bit-identical to hashing here)."""
    p = MINHASH_P
    params = minhash_params(num_hashes)
    base = shingles.select(
        "doc_id", F.pmod(F.col("shingle") if pre_hashed
                         else hash64("shingle", hash_fn),
                         F.lit(p)).alias("_h"))
    aggs = [
        F.min(F.pmod(F.col("_h") * F.lit(a) + F.lit(b), F.lit(p))).alias(f"_m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = base.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id",
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def lsh_bands(signatures: DataFrame, bands: int = 16, rows: int = 4,
              band_key: str = "xxhash64") -> DataFrame:
    """Band the signature: (doc_id, band_id, band_hash). bands*rows must equal
    the signature length. ``band_key``: "xxhash64" compresses the band to a
    long (cheapest shuffle key, production default); "concat" keeps the raw
    joined string — equality semantics are identical and the string form is
    reproducible in SQL (the oracle family)."""
    def _key(b):
        joined = F.concat_ws(
            "_",
            F.transform(F.slice(F.col("sig"), b * rows + 1, rows),
                        lambda x: x.cast("string")))
        return (F.xxhash64(joined) if band_key == "xxhash64"
                else joined).alias("band_hash")

    out = signatures.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_id"), _key(b))
                      for b in range(bands)])
        ).alias("bb"),
    )
    return out.select("doc_id", "bb.band_id", "bb.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    shingle_k: int = 3,
    max_bucket: int = 200,
    collapse_exact: bool = False,
    hash_fn: str = "xxhash64",
    band_key: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs (da < db) via MinHash LSH.

    Buckets larger than ``max_bucket`` are dropped (web-scale template-text
    guard; at SF nothing approaches the cap). ``collapse_exact`` dedups
    byte-identical texts first and re-expands pairs afterward (see
    collapse_verbatim) — the production default for crawl corpora; pass
    "auto" to probe the duplicate rate first and collapse only when it can
    bind (resolve_collapse — VERDICT r3 #3: the collapse is pure overhead
    on duplicate-free corpora).
    ``hash_fn``/``band_key``: "md5_60"/"concat" switch both hash stages to
    the SQL-reproducible family (oracle pairing); bucketing semantics are
    unchanged."""
    assert bands * rows == num_hashes
    collapse_exact = resolve_collapse(df, collapse_exact, text_col)
    if collapse_exact:
        reps, mem = collapse_verbatim(df, id_col, F.md5(text_col), [text_col])
        rep_pairs = minhash_lsh_candidates(
            reps, id_col, text_col, num_hashes, bands, rows, shingle_k,
            max_bucket, collapse_exact=False,
            hash_fn=hash_fn, band_key=band_key)
        # intra pairs only for content the banding could see at all: >= 1
        # shingle, i.e. >= shingle_k tokens (see token_shingles)
        dup = reps.filter(
            (F.col("_n") >= 2)
            & (F.size(tokens(text_col)) >= shingle_k)) \
            .select(F.col(id_col).alias("_rep"))
        return expand_rep_pairs(rep_pairs, mem, dup, "da", "db")
    sh = token_shingles(df, id_col, text_col, k=shingle_k)
    sig = minhash_signatures(sh, num_hashes=num_hashes, hash_fn=hash_fn)
    return _lsh_bucket_pairs(sig, bands, rows, max_bucket, band_key)


def _lsh_bucket_pairs(sig: DataFrame, bands: int, rows: int,
                      max_bucket: int, band_key: str) -> DataFrame:
    """Signatures -> banded buckets -> distinct within-bucket (da < db)
    pairs, with oversized buckets dropped (the shared tail of
    minhash_lsh_candidates and _verified_jaccard)."""
    banded = lsh_bands(sig, bands=bands, rows=rows, band_key=band_key)
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("members"),
                    lambda a, i: F.transform(
                        F.slice(F.col("members"), i + 2,
                                F.greatest(F.size("members") - i - 1, F.lit(0))),
                        lambda b: F.struct(a.alias("da"), b.alias("db")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.da", "p.db").distinct()


def minhash_neardup_pairs(
    df: DataFrame, jaccard_threshold: float = 0.5,
    max_shingle_df: int = 1000, collapse_exact: bool = False, *,
    id_col: str = "doc_id", text_col: str = "text", shingle_k: int = 3,
    num_hashes: int = 64, bands: int = 16, rows: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard (candidates-only join,
    the scale-correct version of the all-pairs oracle). The verification join
    goes back through the raw shingle index, so it gets the same hot-shingle
    document-frequency cap as the exact path (cap_shingle_df — logged, not
    silent); sizes are computed over the capped shingle universe so Jaccard
    stays consistent. Banding and verification share ONE checkpointed
    xxhash64 shingle index (_verified_jaccard); the LSH parameters are those
    of minhash_lsh_candidates.

    ``collapse_exact`` collapses byte-identical texts BEFORE both banding and
    verification: representatives are verified once and the verdict is
    expanded to members afterward (k verbatim copies would otherwise inflate
    the verification join k^2-fold). Intra-duplicate pairs are emitted with
    Jaccard exactly 1 (common == union == the rep's capped shingle count,
    skipped when that is 0 — a shingle-less doc can never verify in the
    uncollapsed path either). Note the shingle df cap then counts document
    frequency over DISTINCT content, not copies — the more meaningful
    reading on a duplicated corpus (a template shared by k mirror copies is
    not k times hotter). "auto" probes the duplicate rate first
    (resolve_collapse)."""
    assert bands * rows == num_hashes
    return _verified_pairs(df, jaccard_threshold, max_shingle_df,
                           collapse_exact, id_col, text_col, shingle_k,
                           lsh=(num_hashes, bands, rows, max_bucket))


def ngram_jaccard_pairs(
    df: DataFrame,
    jaccard_threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    collapse_exact: bool = False,
) -> DataFrame:
    """EXACT n-gram-shingle Jaccard near-dup pairs (da < db, with common /
    union_size counts) via an inverted-index self-join on the 64-bit shingle
    hash — never O(n^2) docs — behind the hot-shingle document-frequency cap
    (cap_shingle_df; see driver_contract.q_dedup_ngram_jaccard for the full
    plan commentary: hash-before-cap, one pre-cap localCheckpoint, the cap's
    broadcast LEFT ANTI stays above it for the plan gate).

    ``collapse_exact`` collapses byte-identical texts first and expands the
    verified pairs back (same construction as minhash_neardup_pairs): k
    verbatim copies otherwise multiply the posting-list self-join k^2-fold.
    EXACT pairs stay exact — identical content has Jaccard 1 by definition;
    the df cap then counts document frequency over distinct content rather
    than copies (the more meaningful reading on a duplicated corpus);
    "auto" probes the duplicate rate first (resolve_collapse)."""
    return _verified_pairs(df, jaccard_threshold, max_shingle_df,
                           collapse_exact, id_col, text_col, shingle_k,
                           lsh=None)


def _verified_pairs(df: DataFrame, jaccard_threshold: float,
                    max_shingle_df: int | None, collapse_exact, id_col: str,
                    text_col: str, shingle_k: int,
                    lsh: tuple[int, int, int, int] | None) -> DataFrame:
    """The collapse branch shared by minhash_neardup_pairs and
    ngram_jaccard_pairs around _verified_jaccard."""
    if not resolve_collapse(df, collapse_exact, text_col):
        return _verified_jaccard(df, jaccard_threshold, max_shingle_df,
                                 id_col, text_col, shingle_k, lsh)[0]
    reps, mem = collapse_verbatim(df, id_col, F.md5(text_col), [text_col])
    rep_out, rep_sh = _verified_jaccard(reps, jaccard_threshold,
                                        max_shingle_df, id_col, text_col,
                                        shingle_k, lsh)
    # intra-duplicate sizes come from the capped index the core verified
    # against (no re-shingling); the inner join skips shingle-less content
    rep_sz = rep_sh.groupBy(F.col("doc_id").alias("_rep")) \
        .agg(F.count("*").alias("_nsh"))
    dup = reps.filter(F.col("_n") >= 2) \
        .select(F.col(id_col).alias("_rep")).join(rep_sz, "_rep")
    return expand_rep_pairs(
        rep_out, mem, dup, "da", "db",
        [F.col("_nsh").alias("common"), F.col("_nsh").alias("union_size")])


def _verified_jaccard(df: DataFrame, jaccard_threshold: float,
                      max_shingle_df: int | None, id_col: str, text_col: str,
                      shingle_k: int, lsh: tuple[int, int, int, int] | None,
                      ) -> tuple[DataFrame, DataFrame]:
    """Verified-pair core: ``(pairs, capped_sh)`` where pairs are
    (da, db, common, union_size) with common >= jaccard_threshold * union
    over the capped (doc_id, xxhash64 shingle) index ``capped_sh``.

    The index is built once — 64-bit hash key first (cheaper join compare,
    collision odds ~m^2/2^65), then ONE pre-cap localCheckpoint:
    compute-once without a CacheManager leak (see
    driver_contract.q_dedup_ngram_jaccard). Only the candidate step
    differs: ``lsh=(num_hashes, bands, rows, max_bucket)`` takes candidate
    pairs from MinHash LSH buckets over the same (uncapped) index —
    ``pmod(stored_hash, p)`` is bit-identical to hashing inside
    minhash_signatures — and joins them to the index; ``lsh=None`` counts
    common shingles of every pair sharing one (posting-list self-join)."""
    sh = (token_shingles(df, id_col, text_col, k=shingle_k)
          .select("doc_id", F.xxhash64("shingle").alias("shingle"))
          .localCheckpoint(eager=False))
    if lsh is not None:
        num_hashes, bands, rows, max_bucket = lsh
        sig = minhash_signatures(sh, num_hashes=num_hashes, pre_hashed=True)
        cands = _lsh_bucket_pairs(sig, bands, rows, max_bucket, "xxhash64")
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("da"), "shingle")
    b = sh.select(F.col("doc_id").alias("db"), "shingle")
    if lsh is not None:
        joined = cands.join(a, "da").join(b, ["db", "shingle"])
    else:
        joined = a.join(b, "shingle").filter(F.col("da") < F.col("db"))
    common = joined.groupBy("da", "db").agg(F.count("*").alias("common"))
    out = (
        common.join(sz.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(sz.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .withColumn("union_size", F.col("na") + F.col("nb") - F.col("common"))
        .filter(F.col("common") >= F.lit(jaccard_threshold) * F.col("union_size"))
    )
    return out.select("da", "db", "common", "union_size"), sh


def simhash_neardup_pairs(
    df: DataFrame, max_hamming: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
    band_bits: int = 15, bits: int = 60, hash_fn: str = "xxhash64",
    max_bucket: int = 1000, collapse_exact: bool = False,
) -> DataFrame:
    """(da, db, hamming) pairs whose simhash signatures differ in at most
    ``max_hamming`` bits — banded blocking + exact verification through
    banded_hamming_pairs over simhash_signatures.

    Recall guarantee by pigeonhole: with n_bands = bits/band_bits bands, two
    signatures within hamming n_bands-1 leave at least one band untouched,
    so they collide in >= 1 bucket — the default 4x15 over 60 bits makes
    max_hamming <= 3 EXACT, not approximate. Buckets above ``max_bucket``
    are dropped (the simhash analog of the hot-shingle guard). Verification
    is one bit_count(xor) per candidate — no token data moves, only 8-byte
    signatures. Bands match simhash_buckets' whenever bits % band_bits == 0
    (signatures of <= 63 bits are non-negative, so the unsigned shift
    equals the signed one).

    ``collapse_exact``: identical texts have identical signatures, so k
    verbatim copies multiply every bucket they touch by k — collapse to
    representatives first and expand after, intra-duplicate pairs at
    hamming 0 (same construction as the other dedup families); "auto"
    probes the duplicate rate first (resolve_collapse)."""
    assert max_hamming <= bits // band_bits - 1, \
        "banding only guarantees recall for hamming <= n_bands - 1"
    collapse_exact = resolve_collapse(df, collapse_exact, text_col)
    if collapse_exact:
        reps, mem = collapse_verbatim(df, id_col, F.md5(text_col), [text_col])
        rep_out = simhash_neardup_pairs(
            reps, max_hamming, id_col, text_col, band_bits, bits, hash_fn,
            max_bucket, collapse_exact=False)
        # null-text groups have no signature (explode of split(null) is
        # empty), so the uncollapsed path can never pair them — exclude
        # them from intra expansion too
        dup = reps.filter((F.col("_n") >= 2) & F.col(text_col).isNotNull()) \
            .select(F.col(id_col).alias("_rep"))
        return expand_rep_pairs(rep_out, mem, dup, "da", "db",
                                [F.lit(0).cast("int").alias("hamming")])
    sig = simhash_signatures(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    return banded_hamming_pairs(
        sig, sig_col="simhash", max_hamming=max_hamming,
        band_bits=band_bits, bits=bits, max_bucket=max_bucket,
    ).select(F.col("a").alias("da"), F.col("b").alias("db"), "hamming")


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 63, hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash over whitespace tokens: bit j of the signature is set iff
    sum over tokens of sign((hash(token) >> j) & 1) is positive.
    Default 63 bits of xxhash64 to stay in a signed bigint; pass
    bits=60, hash_fn="md5_60" for the SQL-oracle-reproducible family.

    Shape: explode tokens -> hash once -> ONE groupBy with per-bit
    literal-shift SUM aggregates (map-side combinable — the scale-correct
    form; a nested array fold would re-walk the token array bits-times per
    row and can't partial-aggregate)."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("_t"),
    ).select("doc_id", hash64("_t", hash_fn).alias("h"))
    sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                       F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"_b{j}")
            for j in range(bits)
        ]
    )
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"_b{j}") > 0, F.lit(1 << j).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.alias("simhash"))


def simhash_buckets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    band_bits: int = 16, bits: int = 63, hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash, band_id, band_key): docs sharing any band of the
    simhash are near-dup candidates (hamming-distance blocking)."""
    sig = simhash_signatures(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    n_bands = bits // band_bits + (1 if bits % band_bits else 0)
    bandcol = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright(F.col("simhash"), b * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1)).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
    )
    return sig.select("doc_id", "simhash", bandcol.alias("bb")).select(
        "doc_id", "simhash", "bb.band_id", "bb.band_key"
    )


def neardup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    method: str = "minhash",
    **kw,
) -> DataFrame:
    """Fuzzy-duplicate CLUSTER RESOLUTION: verified near-dup pairs ->
    connected components -> ``(member, component)`` with component = the
    cluster's min ``id_col``. This is the keep-one-per-group step public
    curation pipelines run after pair generation (the RefinedWeb/FineWeb
    "fuzzy dedup" stage): transitive closure groups A,B,C whenever A~B and
    B~C even if A and C never pair directly, so one representative survives
    per template family instead of one per pairwise match.

    ``pairs`` may be any (da, db, ...) verified-pair frame (ngram Jaccard,
    minhash-verified, simhash); when None it is generated by ``method``
    ("minhash" — the 100 TB default, bucketed + capped, never all-pairs;
    "ngram" — exact, for corpora that fit the inverted-index join; "simhash")
    with ``**kw`` passed through to the generator (jaccard_threshold,
    text_col, collapse_exact, ...; a name the generator does not take
    raises TypeError).

    Scale shape: CC is linking.connected_components — iterative DataFrame
    min-label joins, O(cluster diameter) rounds with lineage truncated per
    round. Near-dup clusters are template families (stars/cliques), so the
    loop converges in ~2-3 rounds; the join key is the member id, never the
    component id, so a million-copy template does not concentrate on one
    task. Docs with no near-dup pair appear in NO row (singletons are
    implicit), keeping the label table proportional to the DUPLICATED subset
    of the corpus, not the corpus.

    Below DRIVER_CC_MAX_PAIRS verified pairs the closure runs as
    driver-side union-find instead (linking.pair_components, the same
    bounded probe + fallback canonical_mapping uses): the iterative loop
    costs ~4 driver-synchronized rounds (join + agg + signature probe each),
    which dominates wall clock whenever the pair table is small — and a
    SMALL pair table is the common case, because pairs are proportional to
    the duplicated subset, not the corpus. Labels are identical by
    construction (both sides label each component by its min member;
    parity law-tested in tests/test_linking.py)."""
    from .linking import pair_components

    if pairs is None:
        gen = {
            "minhash": minhash_neardup_pairs,
            "ngram": ngram_jaccard_pairs,
            "simhash": simhash_neardup_pairs,
        }[method]
        pairs = gen(df, id_col=id_col, **kw)
    return pair_components(pairs, src="da", dst="db")


def neardup_dedup(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    mode: str = "drop",
    method: str = "minhash",
    clusters: DataFrame | None = None,
    **kw,
) -> DataFrame:
    """Corpus after fuzzy dedup: keep the min-``id_col`` member of every
    near-dup cluster (see neardup_clusters), pass singletons through.

    ``mode="drop"`` (default) returns ``df`` minus the non-representative
    members — ONE left-anti join on the id against the (small,
    duplicates-only) cluster table. ``mode="tag"`` returns ``df`` with
    ``component`` (own id for singletons) and ``is_neardup_copy`` columns
    instead of dropping, for audit/funnel runs. ``clusters`` short-circuits
    recomputation when the caller already resolved them."""
    cc = clusters if clusters is not None else neardup_clusters(
        df, pairs=pairs, id_col=id_col, method=method, **kw)
    if mode == "tag":
        lab = cc.select(F.col("member").alias(id_col), "component")
        return (
            df.join(lab, id_col, "left")
            .withColumn("component", F.coalesce("component", F.col(id_col)))
            .withColumn("is_neardup_copy",
                        F.col("component") != F.col(id_col))
        )
    dups = (cc.filter(F.col("member") != F.col("component"))
            .select(F.col("member").alias(id_col)))
    return df.join(dups, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Incremental crawl dedup: "have we already got this document?" against a
# historical corpus, as a Bloom-style k-probe membership test. The crawl
# cadence case: yesterday's 100 TB is indexed once; today's delta is checked
# against it without ever joining content.


def _bloom_probe_array(content_col: str, m_bits: int, k: int,
                       hash_fn: str) -> F.Column:
    """Array of k probe positions in [0, m_bits) for a document's content.
    Probes hash a fixed-width digest of the content (not the content k
    times), so probe cost is one full-text hash + k cheap hashes."""
    if hash_fn == "xxhash64":
        digest = F.xxhash64(F.col(content_col))
        probes = [F.xxhash64(digest, F.lit(i)) for i in range(k)]
    else:
        digest = F.md5(F.col(content_col))
        probes = [hash64(F.concat(digest, F.lit(f"#{i}")), hash_fn)
                  for i in range(k)]
    return F.array(*[F.pmod(p, F.lit(m_bits)) for p in probes])


def bloom_index_positions(
    history: DataFrame,
    content_col: str = "text",
    m_bits: int = 1 << 27,
    k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The distinct set-bit positions of the history corpus's Bloom filter —
    at most min(k*|history|, m_bits) longs. Persist THIS (one narrow
    column, partitioned by pos) as the incremental-dedup index; rebuilding
    it per run re-reads the whole history, which is the thing the index
    exists to avoid."""
    return (history
            .select(F.explode(
                _bloom_probe_array(content_col, m_bits, k, hash_fn))
                .alias("pos"))
            .distinct())


def seen_before(
    new_docs: DataFrame,
    history_positions: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 27,
    k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Flag documents whose content was (probably) already in the history
    corpus: ``seen = 1`` iff ALL k probe positions are set in the history
    Bloom index. Exact-duplicate recall is 1.0 by construction (identical
    content -> identical probes); false-positive rate is the standard
    ``(1 - e^(-k*n/m))^k`` — deterministic given the hash family, so runs
    are reproducible and the contract oracle reproduces the md5_60 family
    bit-for-bit.

    Returns (id, n_probes, n_hits, seen). One strategy: explode the new
    docs' distinct probes and LEFT-join the positions table on ``pos``,
    then count hits per doc. Nothing is collected, so it works at any
    m_bits; AQE broadcasts the index side when its statistics say it is
    small (a persisted parquet index carries them)."""
    ex = new_docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            _bloom_probe_array(content_col, m_bits, k, hash_fn))).alias("pos"))
    hit = history_positions.select("pos").withColumn("_hit", F.lit(1))
    agg = (ex.join(hit, "pos", "left")
           .groupBy(id_col)
           .agg(F.count("*").cast("int").alias("n_probes"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("int").alias("n_hits")))
    return agg.withColumn(
        "seen", (F.col("n_hits") == F.col("n_probes")).cast("int"))


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    max_hamming: int = 3,
    band_bits: int = 16,
    bits: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """Generic banded-hamming pairing over fixed-width integer signatures:
    (a, b, hamming) pairs within ``max_hamming`` bits, EXACT for
    ``max_hamming <= bits/band_bits - 1`` by pigeonhole (two signatures
    that close leave at least one band untouched and collide there).
    The blocking/verify engine shared by the text SimHash and the
    image/audio perceptual-hash families — only (id, 8-byte signature)
    tuples ever shuffle, and buckets above ``max_bucket`` are dropped
    (the hot-bucket guard)."""
    n_bands = bits // band_bits
    assert max_hamming <= n_bands - 1, \
        "banding only guarantees recall for hamming <= n_bands - 1"
    banded = sigs.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftrightunsigned(F.col(sig_col), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1)).alias("band_key"))
            for b in range(n_bands)])).alias("b")
    ).select("_id", "_sig", "b.band_id", "b.band_key")
    sized = (banded.groupBy("band_id", "band_key")
             .agg(F.count("*").alias("_n"))
             .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
             .select("band_id", "band_key"))
    m = banded.join(sized, ["band_id", "band_key"])
    x = m.select("band_id", "band_key", F.col("_id").alias("a"),
                 F.col("_sig").alias("_sa"))
    y = m.select("band_id", "band_key", F.col("_id").alias("b"),
                 F.col("_sig").alias("_sb"))
    return (x.join(y, ["band_id", "band_key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b",
                    F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def clustering_metrics(
    assign: DataFrame,
    pred_col: str = "pred",
    truth_col: str = "truth",
    id_col: str = "id",
) -> DataFrame:
    """Pairwise clustering evaluation -> ONE row (tp, fp, fn,
    precision_x1e6, recall_x1e6, f1_x1e6): how well a predicted duplicate
    clustering (fuzzy dedup, entity resolution) recovers a ground-truth
    one, in the standard pairwise-counting formulation. ``assign`` has one
    row per item with its predicted and true cluster labels (singletons
    included, labeled by themselves).

    Pair counts come from C(n,2) over group SIZES — three aggregations
    (pred, truth, pred x truth), never a materialized pair table, so a
    10^12-item evaluation costs three shuffles of at most |items| rows.
    All arithmetic is int64 (C(n,2) = n*(n-1) div 2; ratios in the 1e6
    fixed point with div), so the result is exact, partition-invariant and
    oracle-pairable. Bound (ADVICE r5): int64 pair counts are exact while
    every SINGLE group stays under ~4.29e9 items (n*(n-1) < 2^63) and the
    summed pair count under ~9.2e18; a larger group silently wraps under
    non-ANSI arithmetic while the DuckDB oracle widens to HUGEINT. Row
    COUNTS up to 10^12 are fine — it is a >=4-billion-member duplicate
    GROUP that would overflow, far past any real clustering's group sizes
    (cap upstream generators, e.g. max_bucket, if evaluating adversarial
    labelings). ``id_col`` enforces one row per item
    (dropDuplicates) so accidental duplicate assignment rows cannot
    double-count pairs. Zero-denominator conventions: a metric with an
    empty denominator reports 1e6 (vacuously perfect), matching the usual
    ER convention for 'no pairs predicted / none to find'."""
    assign = assign.dropDuplicates([id_col])
    # lazy checkpoint: three independent aggregations read `assign`, whose
    # upstream may be expensive (e.g. a connected-components closure) —
    # without the cut it is derived three times
    assign = assign.localCheckpoint(eager=False)

    def _pairs(cols: list[str]):
        return (
            assign.groupBy(*cols).agg(F.count("*").alias("n"))
            .agg(F.coalesce(F.sum(F.expr("n * (n - 1) div 2")),
                            F.lit(0)).cast("long").alias("p"))
        )

    tp_df = _pairs([pred_col, truth_col]).withColumnRenamed("p", "tp")
    pp_df = _pairs([pred_col]).withColumnRenamed("p", "pp")
    tt_df = _pairs([truth_col]).withColumnRenamed("p", "tt")
    one = tp_df.crossJoin(pp_df).crossJoin(tt_df)
    fp = F.col("pp") - F.col("tp")
    fn = F.col("tt") - F.col("tp")
    def _ratio(num: str, den: str):
        return F.when(F.col(den) > 0, F.expr(f"(1000000 * {num}) div {den}")) \
                .otherwise(F.lit(1_000_000)).cast("long")
    return one.select(
        "tp", fp.cast("long").alias("fp"), fn.cast("long").alias("fn"),
        _ratio("tp", "pp").alias("precision_x1e6"),
        _ratio("tp", "tt").alias("recall_x1e6"),
        F.when((F.col("pp") + F.col("tt")) > 0,
               F.expr("(1000000 * 2 * tp) div (pp + tt)"))
        .otherwise(F.lit(1_000_000)).cast("long").alias("f1_x1e6"),
    )
