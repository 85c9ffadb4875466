"""End-to-end corpus curation: the composed training-data pipeline the
individual operators exist for, in the order public pipelines run them
(C4/CCNet-style cleaning -> Gopher filtering -> dedup -> decontamination ->
PII redaction -> mixture):

  0. domain_filter vs a blocklist (UT1/C4 stage-0 URL filter) — when
     blocked_domains is given
  1. canonicalize_urls + keep one doc per canonical URL (min id, or the
     NEWEST capture when ts_col names a warc_ts-style snapshot column)
  2. strip_boilerplate (line-frequency cleaning)
  3. span_dedup (C4 repeated-span removal)
  3b. exact_substring_dedup (ExactSubstr keep-first k-token windows)
                                           — when substr_dedup_k is given
  4. exact dedup (md5 groups, keep min id) — before the Gopher filters:
     output-equivalent (per-doc rules give identical verdicts to identical
     texts) and the n-gram filter stages then see only distinct texts
  5. gopher_filter (quality rules)         — drop failing docs
  6. gopher_repetition (repetition rules)  — drop failing docs
  7. fuzzy dedup (near-dup pairs -> connected components -> keep min id
     per cluster; dedup.neardup_dedup)     — when fuzzy_dedup=True
  8. CCNet LM bucketing (lm_unigram_score with a pre-fitted model; drop
     the 'tail' bucket)                    — when lm_model is given
  9. decontaminate vs a heldout eval set   — drop contaminated docs
 10. redact_pii (rewrite text)
 11. DSIR data selection (fit_dsir/dsir_select vs a target corpus)
                                           — when dsir_target+dsir_top_n given
 12. sample_mix (deterministic mixture)    — when rates are given
 13. pack_sequences (concat-and-chunk layout into fixed-length training
     sequences, hash-shuffled order)       — when pack_seq_len is given

Every stage is one of the oracle-paired operators from cleaning/, textstats/,
sampling/ (this module adds NO new semantics — it is the composition, so its
correctness evidence is the per-stage contract entries plus the composition
laws in tests/test_curation.py). The plan stays Spark-shaped end to end:
stage outputs are DataFrames, nothing collects, and the only driver actions
are the optional funnel counts.

Stages 0-3b, 4-10 and 11-13 are three stage groups (clean, filter, select);
curate_corpus composes them and run_curation_job materializes and commits
each one. At 100 TB you run this as one job per stage group with
materialization between groups (the funnel IS the audit log). In-process
the same boundary exists as a non-eager localCheckpoint per stage (see the
sealing-policy comment above _seal): each stage embeds its input's plan on
both sides of an id-join, so an unsealed lazy composition would duplicate
the upstream DAG exponentially across the ~10 stages.
"""

from __future__ import annotations

import inspect
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from ..io.catalog import RunManifest, write_counted
from ..session import ensure_width
from .cleaning import (
    canonicalize_urls, decontaminate, span_dedup, strip_boilerplate,
)
from .sampling import sample_mix
from .textstats import gopher_filter, gopher_repetition


# Every stage output is sealed with a lazy localCheckpoint: each stage embeds
# its input's plan at least twice (clean side + passthrough side of the
# id-join), so a fully lazy ~10-stage composition grows ONE flat DAG
# exponentially (measured: 168 s for the sf0.1 funnel vs ~20 s sealed).
# Sealing less often measured slower (r6, sf0.1 bench funnel: per-stage
# 13.2 s, only multi-pass stage inputs 18.1 s, every 2nd stage 20.4 s) — the
# funnel is stage-cost-bound, and unsealed chains duplicate post-exchange
# work.
def _seal(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False)


def _rewrite(clean: DataFrame, src: DataFrame, id_col: str,
             text_col: str) -> DataFrame:
    # swap in clean_text, preserving any extra columns from src
    return (src.drop(text_col)
            .join(clean.select(id_col, F.col("clean_text").alias(text_col)),
                  id_col))


def _clean_group(
    cur: DataFrame, stages: dict, id_col: str, text_col: str, *,
    url_col: str | None = None,
    blocked_domains: DataFrame | None = None,
    ts_col: str | None = None,
    boilerplate_max_df_frac: float = 0.05,
    substr_dedup_k: int | None = None,
) -> DataFrame:
    """Stages 0-3b: domain blocklist, url dedup, boilerplate, span dedup,
    ExactSubstr. The rewriting cleaners are not idempotent on their own
    output (line frequencies shift after a strip), so this group runs once
    per corpus."""
    if url_col is not None:
        if blocked_domains is not None:
            # stage 0 of public pipelines (C4 badlist, RefinedWeb/UT1):
            # suffix-matched blocklist on the RAW url, before any text work
            from .cleaning import domain_filter
            cur = _seal(domain_filter(cur, blocked_domains, url_col=url_col,
                                      id_col=id_col))
            stages["domain_filter"] = cur
        c = canonicalize_urls(cur, url_col)
        if ts_col is not None:
            # crawl-snapshot semantics (url, warc_ts): keep the NEWEST
            # capture of each resource, tie-broken to min id
            w = Window.partitionBy("canonical_url").orderBy(
                F.col(ts_col).desc(), F.col(id_col))
            cur = _seal(c.withColumn("_rk", F.row_number().over(w))
                        .filter("_rk = 1").drop("_rk", "canonical_url"))
        else:
            w_first = F.min(F.col(id_col)).over(
                Window.partitionBy("canonical_url"))
            cur = _seal(c.withColumn("_keep", w_first == F.col(id_col))
                        .filter("_keep").drop("_keep", "canonical_url"))
        stages["url_dedup"] = cur

    cur = _seal(_rewrite(strip_boilerplate(
        cur, id_col=id_col, text_col=text_col,
        max_df_frac=boilerplate_max_df_frac), cur, id_col, text_col))
    stages["boilerplate"] = cur
    cur = _seal(_rewrite(span_dedup(cur, id_col=id_col, text_col=text_col),
                         cur, id_col, text_col))
    stages["span_dedup"] = cur

    if substr_dedup_k is not None:
        # ExactSubstr (Lee et al.): keep-first repeated k-token substring
        # removal — runs after the line/span cleaners so window keys see
        # boilerplate-free text
        from .cleaning import exact_substring_dedup
        cur = _seal(_rewrite(exact_substring_dedup(
            cur, k=substr_dedup_k, id_col=id_col, text_col=text_col), cur,
            id_col, text_col))
        stages["substr_dedup"] = cur
    return cur


def _filter_group(
    cur: DataFrame, stages: dict, id_col: str, text_col: str, *,
    gopher: bool = True,
    gopher_kwargs: dict | None = None,
    repetition_kwargs: dict | None = None,
    fuzzy_dedup: bool = False,
    fuzzy_kwargs: dict | None = None,
    lm_model: tuple[DataFrame, int] | None = None,
    lm_drop_bucket: str = "tail",
    lm_thresholds: tuple[int, int] | None = None,
    eval_df: DataFrame | None = None,
    decontaminate_n: int = 13,
) -> DataFrame:
    """Stages 4-10: exact dedup, Gopher quality + repetition, fuzzy dedup,
    LM bucketing, decontamination, PII redaction."""
    # BEFORE the Gopher filters, deliberately: both rule sets are pure
    # per-doc functions of the (cleaned) text, so every member of an
    # identical-text group gets the same verdict and the kept min-id
    # representative is the same doc in either order — the final set is
    # provably identical (law-tested in tests/test_curation.py). The cheap
    # hash groupBy first means the n-gram-explode filter stages see only
    # DISTINCT texts: on a crawl-shaped x64 corpus (98.4% verbatim
    # duplicates) gopher_repetition measured 181.9 s of a 231.6 s funnel
    # when it ran pre-dedup — dedup-first removes that work by the
    # duplicate factor.
    keepers = (cur.groupBy(F.md5(text_col).alias("_h"))
               .agg(F.min(id_col).alias(id_col)).select(id_col))
    cur = _seal(cur.join(keepers, id_col, "left_semi"))
    stages["exact_dedup"] = cur

    if gopher:
        # thresholds are corpus-tunable in every public pipeline; the
        # defaults are the paper's web-text settings
        gq = gopher_filter(cur, text_col=text_col, id_cols=(id_col,),
                           **(gopher_kwargs or {}))
        cur = _seal(cur.join(gq.filter("passes = 1").select(id_col),
                             id_col, "left_semi"))
        stages["gopher_quality"] = cur
        gr = gopher_repetition(cur, text_col=text_col, id_cols=(id_col,),
                               **(repetition_kwargs or {}))
        cur = _seal(cur.join(gr.filter("passes = 1").select(id_col),
                             id_col, "left_semi"))
        stages["gopher_repetition"] = cur

    if fuzzy_dedup:
        from .dedup import neardup_dedup
        # after the exact pass only NEAR (non-identical) duplicates remain;
        # neardup_dedup's generators keep their verbatim collapse off
        # (collapse_exact=False) because exact dedup already ran
        cur = _seal(neardup_dedup(cur, id_col=id_col, text_col=text_col,
                                  **(fuzzy_kwargs or {})))
        stages["fuzzy_dedup"] = cur

    if lm_model is not None:
        # CCNet LM bucketing after dedup: score with the PRE-FITTED model
        # (fit once on a reference corpus via fit_lm_unigram — 2-tuple — or
        # fit_lm_bigram for contextual stupid-backoff costs — 3-tuple),
        # fit cutoffs on this corpus unless given, keep everything outside
        # the dropped bucket (default: drop 'tail', the lowest tercile)
        from .textstats import (lm_bigram_score, lm_bucket_thresholds,
                                lm_unigram_score)
        if len(lm_model) == 3:
            scored0 = lm_bigram_score(cur, lm_model, text_col=text_col,
                                      id_col=id_col)
        else:
            scored0 = lm_unigram_score(cur, text_col=text_col,
                                       id_col=id_col, model=lm_model)
        head, tail = lm_thresholds or lm_bucket_thresholds(scored0)
        scored = scored0.withColumn(
            "lm_bucket",
            F.when(F.col("ce_x1e6") <= head, F.lit("head"))
            .when(F.col("ce_x1e6") <= tail, F.lit("middle"))
            .otherwise(F.lit("tail")))
        cur = _seal(cur.join(
            scored.filter(F.col("lm_bucket") != lm_drop_bucket)
            .select(id_col), id_col, "left_semi"))
        stages["lm_filtered"] = cur

    if eval_df is not None:
        cur = _seal(decontaminate(cur, eval_df, n=decontaminate_n,
                                  text_col=text_col, id_col=id_col,
                                  mode="drop"))
        stages["decontaminated"] = cur

    # r6: redaction is a pure codegen regexp projection (cleaning.
    # redacted_text_col) — rewrite the text IN PLACE instead of the old
    # drop-join-on-id round trip (one join + exchange fewer; the column
    # order replicates the old join output: id first, extras, text last)
    from .cleaning import redacted_text_col
    cur = _seal(cur.select(
        id_col,
        *[c for c in cur.columns if c not in (id_col, text_col)],
        redacted_text_col(text_col).alias(text_col)))
    stages["pii_redacted"] = cur
    return cur


def _select_group(
    cur: DataFrame, stages: dict, id_col: str, text_col: str, *,
    dsir_target: DataFrame | None = None,
    dsir_top_n: int | None = None,
    dsir_kwargs: dict | None = None,
    mix_rates: dict[str, float] | None = None,
    stratum_col: str | None = None,
    pack_seq_len: int | None = None,
    pack_shards: int = 128,
) -> DataFrame:
    """Stages 11-13: DSIR selection, mixture, sequence packing."""
    if dsir_target is not None and dsir_top_n is not None:
        # DSIR data selection (Xie et al. 2023): fit hashed-ngram
        # importance weights against the target corpus with the CLEANED
        # docs as the raw distribution, keep the top-n. Runs before the
        # mixture so up-sampling copies don't distort the raw fit.
        from .sampling import dsir_scores, dsir_select, fit_dsir
        kw = dict(text_col=text_col, id_col=id_col, **(dsir_kwargs or {}))
        weights, w0 = fit_dsir(dsir_target, cur, **kw)
        picked = dsir_select(
            dsir_scores(cur, weights, w0, **kw), dsir_top_n, id_col=id_col)
        cur = _seal(cur.join(picked.select(id_col), id_col, "left_semi"))
        stages["dsir_selected"] = cur

    if mix_rates is not None:
        if stratum_col is None or stratum_col not in cur.columns:
            raise ValueError("mix_rates needs a stratum_col present in docs")
        cur = _seal(sample_mix(cur, mix_rates, stratum_col, id_col=id_col))
        stages["mixed"] = cur

    if pack_seq_len is not None:
        # final stage: lay the curated corpus out as fixed-length training
        # sequences. The packing key is xxhash64(id, copy) — unique even
        # after up-sampling, and the hash order shuffles the corpus so
        # neighboring training sequences are decorrelated; sharding by the
        # key's high bits is monotone by construction, so the two-phase
        # prefix sum reproduces one global order at any cluster size.
        from .sampling import pack_sequences
        copy = F.col("copy") if "copy" in cur.columns else F.lit(0)
        # arithmetic right-shift = exact monotone floor-division by 2^s,
        # so shard order equals key order (pack_shards rounds up to a
        # power of two)
        shift = 64 - max(1, (pack_shards - 1).bit_length())
        d = (cur.withColumn("_pk", F.xxhash64(F.col(id_col), copy))
             .withColumn("n_tokens",
                         F.size(tokens(text_col)).cast("bigint"))
             .withColumn("_shard", F.shiftright(F.col("_pk"), shift)))
        # (id, copy) tiebreak: 64-bit _pk collisions are expected at
        # web-scale doc counts and would otherwise leave intra-shard order
        # nondeterministic, breaking the bit-reproducible layout (ADVICE r5)
        tiebreak = (id_col, "copy") if "copy" in cur.columns else (id_col,)
        cur = pack_sequences(d, pack_seq_len, shard_col="_shard",
                             key_col="_pk",
                             tiebreak_cols=tiebreak).drop("_shard")
        stages["packed"] = cur
    return cur


_GROUPS = (_clean_group, _filter_group, _select_group)


def _group_params(params: dict) -> list[dict]:
    """``params`` split by the group that takes each name. An unknown name
    raises ValueError: dropping it silently would run a different
    configuration than the caller asked for (ADVICE r5)."""
    names = [{p.name for p in inspect.signature(g).parameters.values()
              if p.kind is p.KEYWORD_ONLY} for g in _GROUPS]
    unknown = set(params).difference(*names)
    if unknown:
        raise ValueError(f"unknown curation parameters {sorted(unknown)}; "
                         f"known: {sorted(set().union(*names))}")
    return [{k: v for k, v in params.items() if k in n} for n in names]


def curate_corpus(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", **params) -> dict[str, DataFrame]:
    """Run the full curation pipeline; returns ``{"docs": final_df,
    "stages": {name: df}}`` with every intermediate stage inspectable.

    ``params`` are the keyword parameters of :func:`_clean_group`,
    :func:`_filter_group` and :func:`_select_group`. The final df carries
    (id_col, text_col [, stratum_col, copy]) with text fully cleaned and
    redacted. Use :func:`curation_funnel` on ``stages`` for the per-stage
    attrition report."""
    # widen a narrow input ONCE up front: a small corpus scans as 1-2
    # partitions and every fan-out stage (n-gram explode, shingles) would
    # run its map work near-serial regardless of core count (measured:
    # gopher_repetition 8.0 s 1-wide vs 1.7 s 8-wide on sf0.1). No-op when
    # the input already meets cluster width — always true at scale.
    stages: dict[str, DataFrame] = {"input": ensure_width(docs)}
    cur = stages["input"]
    for group, kw in zip(_GROUPS, _group_params(params)):
        cur = group(cur, stages, id_col, text_col, **kw)
    return {"docs": cur, "stages": stages}


def curation_funnel(stages: dict[str, DataFrame]) -> list[tuple[str, int]]:
    """Per-stage row counts in pipeline order — the attrition audit a
    curation run logs. One count job per stage (driver actions by design:
    this is the report, not the pipeline)."""
    return [(name, df.count()) for name, df in stages.items()]


def run_curation_job(
    spark,
    docs: DataFrame,
    workdir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> dict:
    """Resumable curation: the module docstring's "one job per stage group
    with materialization between groups" made real. Three groups, each
    written to parquet and committed to the RunManifest; a killed job
    restarts from the last committed group, reading its table instead of
    recomputing (the same contract as pipeline.build_graph_resumable):

      group 0  "cleaned"   domain blocklist, url dedup, boilerplate,
                           span dedup, ExactSubstr
      group 1  "filtered"  exact dedup, Gopher quality+repetition, fuzzy
                           dedup, LM bucketing, decontamination, PII
                           redaction
      group 2  "selected"  DSIR selection, mixture, sequence packing

    ``kwargs`` is the ``curate_corpus`` surface. Staged output equals the
    single-shot ``curate_corpus`` output exactly (law-tested): every stage
    is deterministic, so materialization points cannot change the result.
    Group row counts are observed on the writes (io.catalog.write_counted);
    a committed group's count comes from its manifest record. Tests kill a
    run by patching ``RunManifest.commit``."""
    manifest = RunManifest(workdir, run_id="curate0")
    done = {r["partition_id"]: r for r in manifest.records()
            if r["stage"] == "curation_group" and r["status"] == "committed"}
    cur, counts = docs, {}
    for gid, (group, kw) in enumerate(zip(_GROUPS, _group_params(kwargs))):
        path = f"{workdir}/group={gid}"
        if gid in done:
            counts[gid] = done[gid]["rows"]
        else:
            t0 = time.time()
            counts[gid] = write_counted(
                group(ensure_width(cur), {}, id_col, text_col, **kw), path)
            manifest.commit("curation_group", gid, t0, rows=counts[gid])
        cur = spark.read.parquet(path)
    return {"docs": cur, "group_rows": counts, "workdir": workdir}
