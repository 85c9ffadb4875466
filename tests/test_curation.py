"""Composition laws for the end-to-end curation pipeline: each stage's
effect is visible in the funnel, planted artifacts are removed by exactly
the stage that owns them, and the output is deterministic."""

from pyspark.sql import functions as F

from knowledge_graph_studio_spark.operators.curation import (
    curate_corpus, curation_funnel,
)

GOOD = ("the words be to of and that have with " +
        " ".join(f"w{i}x" for i in range(60)))


def _corpus(spark):
    rows = []
    for i in range(8):
        # well-formed docs with planted boilerplate lines around them
        rows.append((i, f"NAV bar\n{GOOD} uniq{i}\nFOOTER line", "en",
                     f"http://ex.com/p/{i}"))
    # 8: duplicate of doc 0's content (exact dup after cleaning)
    rows.append((8, "NAV bar\n" + GOOD + " uniq0\nFOOTER line", "en",
                 "http://ex.com/other"))
    # 9: crawl variant of doc 1's URL (url-level dup, unique text)
    rows.append((9, f"NAV bar\n{GOOD} uniq9\nFOOTER line", "en",
                 "HTTP://EX.COM/p/1?utm_source=x"))
    # 10: fails gopher quality (too short)
    rows.append((10, "tiny doc", "en", "http://ex.com/t"))
    # 11: passes the quality rules but fails repetition (2-gram spam)
    rows.append((11, "the be to of and that have with "
                 + ("buynow verygoodprice " * 30).strip(),
                 "en", "http://ex.com/s"))
    # 12: contaminated with the eval 13-gram
    rows.append((12, GOOD + " contaminated alpha beta gamma delta epsilon "
                 "zeta eta theta iota kappa lam mu nu", "en",
                 "http://ex.com/c"))
    # 13: contains PII, otherwise clean
    rows.append((13, GOOD + " uniq13 mail bob@example.com now", "de",
                 "http://ex.com/m"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string")


def _eval_df(spark):
    return spark.createDataFrame(
        [("contaminated alpha beta gamma delta epsilon zeta eta theta "
          "iota kappa lam mu",)], "text string")


def test_curate_corpus_stage_attribution(spark):
    out = curate_corpus(
        _corpus(spark), url_col="url", eval_df=_eval_df(spark),
        decontaminate_n=13, boilerplate_max_df_frac=0.2)
    funnel = dict(curation_funnel(out["stages"]))
    assert funnel["input"] == 14
    assert funnel["url_dedup"] == 13          # doc 9 folded into doc 1's url
    # exact dedup now runs BEFORE the Gopher filters (output-equivalent;
    # the filters see only distinct texts)
    assert funnel["exact_dedup"] == funnel["span_dedup"] - 1            # 8
    assert funnel["gopher_quality"] == funnel["exact_dedup"] - 1  # doc 10
    assert funnel["gopher_repetition"] == funnel["gopher_quality"] - 1  # 11
    assert funnel["decontaminated"] == funnel["gopher_repetition"] - 1  # 12
    ids = {r["doc_id"] for r in out["docs"].select("doc_id").collect()}
    assert ids == {0, 1, 2, 3, 4, 5, 6, 7, 13}
    by_id = {r["doc_id"]: r["text"] for r in out["docs"].collect()}
    # boilerplate lines stripped everywhere; PII token substituted
    assert "NAV bar" not in by_id[0] and "FOOTER" not in by_id[0]
    assert "<EMAIL>" in by_id[13] and "bob@example.com" not in by_id[13]


def test_exact_dedup_commutes_with_gopher(spark):
    """The dedup-before-Gopher reorder law: per-doc filters give identical
    verdicts to identical texts, so filter(dedup(d)) and dedup(filter(d))
    keep exactly the same doc ids. Exercised with duplicate groups on both
    sides of the quality rules."""
    from knowledge_graph_studio_spark.operators.textstats import (
        gopher_filter)

    good = ("the words be to of and that have with " * 4).strip()
    rows = [(i, good + f" tail{i % 3}") for i in range(9)]  # 3 dup groups
    rows += [(20, "tiny doc"), (21, "tiny doc"), (22, "tiny doc")]  # failing
    d = spark.createDataFrame(rows, "doc_id long, text string")

    def dedup(df):
        keep = (df.groupBy(F.md5("text").alias("_h"))
                .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
        return df.join(keep, "doc_id", "left_semi")

    def gq(df):
        flt = gopher_filter(df, min_words=10, min_stop_hits=1)
        return df.join(flt.filter("passes = 1").select("doc_id"),
                       "doc_id", "left_semi")

    a = {r["doc_id"] for r in gq(dedup(d)).collect()}
    b = {r["doc_id"] for r in dedup(gq(d)).collect()}
    assert a == b == {0, 1, 2}


def test_curate_corpus_mixture_stage(spark):
    out = curate_corpus(
        _corpus(spark), url_col="url", mix_rates={"en": 1.0, "de": 0.0},
        stratum_col="lang", boilerplate_max_df_frac=0.2)
    langs = {r["lang"] for r in out["docs"].collect()}
    assert langs == {"en"}
    assert "copy" in out["docs"].columns


def test_curate_corpus_deterministic(spark):
    a = sorted(map(tuple, curate_corpus(
        _corpus(spark), url_col="url",
        boilerplate_max_df_frac=0.2)["docs"].collect()))
    b = sorted(map(tuple, curate_corpus(
        _corpus(spark).repartition(7), url_col="url",
        boilerplate_max_df_frac=0.2)["docs"].collect()))
    assert a == b


def test_curate_corpus_fuzzy_dedup_stage(spark):
    """With fuzzy_dedup=True a NEAR (non-identical) duplicate that survives
    the exact pass is removed by the cluster stage, and the funnel shows
    exactly that one extra drop. The docs here carry DISTINCT 60-token
    bodies (cross-doc Jaccard ~ 0.05 through the shared stop-word prefix)
    so only the planted near-copy pairs at J >= 0.8."""
    rows = []
    for i in range(6):
        body = "the words be to of and that have with " + " ".join(
            f"d{i}w{j}" for j in range(60))
        rows.append((i, body, "en", f"http://ex.com/f/{i}"))
    # 14: near-copy of doc 2 (one token mutated -> J ~ 0.9, not exact)
    rows.append((14, rows[2][1].replace("d2w59", "mutated"), "en",
                 "http://ex.com/near"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string")
    out = curate_corpus(
        docs, url_col="url", boilerplate_max_df_frac=0.2, fuzzy_dedup=True,
        fuzzy_kwargs={"method": "ngram", "jaccard_threshold": 0.8})
    funnel = dict(curation_funnel(out["stages"]))
    assert funnel["exact_dedup"] == 7          # nothing byte-identical
    assert funnel["fuzzy_dedup"] == 6          # exactly the near-copy
    ids = {r["doc_id"] for r in out["docs"].select("doc_id").collect()}
    assert 2 in ids and 14 not in ids


def test_curate_corpus_lm_filter_stage(spark):
    """With a pre-fitted LM model the tail bucket is dropped after dedup;
    a gibberish doc (all tokens OOV vs the reference model) must land in
    tail and be removed, while the well-formed docs survive."""
    from knowledge_graph_studio_spark.operators.textstats import (
        fit_lm_unigram)

    base = _corpus(spark).filter("doc_id < 8")
    gib = spark.createDataFrame(
        [(50, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10", "en",
          "http://ex.com/g")], "doc_id long, text string, lang string, url string")
    model = fit_lm_unigram(base)          # reference corpus = the good docs
    out = curate_corpus(
        base.unionByName(gib), url_col="url", gopher=False,
        boilerplate_max_df_frac=0.2, lm_model=model)
    funnel = dict(curation_funnel(out["stages"]))
    ids = {r["doc_id"] for r in out["docs"].select("doc_id").collect()}
    assert 50 not in ids, funnel
    assert funnel["lm_filtered"] < funnel["exact_dedup"]
    assert {0, 1}.issubset(ids)


def test_curate_corpus_domain_blocklist_stage(spark):
    docs = _corpus(spark).withColumn(
        "url", F.when(F.col("doc_id") == 3,
                      F.lit("http://sub.spam.net/x")).otherwise(F.col("url")))
    blocked = spark.createDataFrame([("spam.net",)], "domain string")
    out = curate_corpus(docs, url_col="url", eval_df=_eval_df(spark),
                        blocked_domains=blocked)
    stage = out["stages"]["domain_filter"]
    assert 3 not in {r["doc_id"] for r in stage.select("doc_id").collect()}
    # the blocked doc never reaches later stages
    assert 3 not in {r["doc_id"]
                     for r in out["docs"].select("doc_id").collect()}
    funnel = dict(curation_funnel(out["stages"]))
    assert funnel["domain_filter"] == funnel["input"] - 1


def test_curate_corpus_url_keep_latest(spark):
    # two captures of the same canonical url: ts_col keeps the NEWER one
    # (doc 9 is the utm-variant of doc 1's url)
    docs = _corpus(spark).withColumn(
        "warc_ts", F.to_timestamp(
            F.when(F.col("doc_id") == 9, F.lit("2026-02-01 00:00:00"))
            .otherwise(F.lit("2026-01-01 00:00:00"))))
    out = curate_corpus(docs, url_col="url", eval_df=_eval_df(spark),
                        ts_col="warc_ts")
    kept = {r["doc_id"] for r in
            out["stages"]["url_dedup"].select("doc_id").collect()}
    assert 9 in kept and 1 not in kept
    # default (no ts_col) keeps the min-id capture
    out2 = curate_corpus(docs.drop("warc_ts"), url_col="url",
                         eval_df=_eval_df(spark))
    kept2 = {r["doc_id"] for r in
             out2["stages"]["url_dedup"].select("doc_id").collect()}
    assert 1 in kept2 and 9 not in kept2


def test_curate_corpus_dsir_and_packing_stages(spark):
    """The funnel can end in a DSIR-selected, sequence-packed training
    corpus: selection keeps the most target-like docs, packing lays the
    survivors out as contiguous fixed-length sequences."""
    d = _corpus(spark)
    target = d.filter("doc_id <= 2").select("text")
    out = curate_corpus(
        d, url_col="url", eval_df=_eval_df(spark),
        boilerplate_max_df_frac=0.2,
        dsir_target=target, dsir_top_n=5,
        dsir_kwargs={"n_buckets": 512},
        pack_seq_len=32, pack_shards=8,
    )
    stages = out["stages"]
    assert "dsir_selected" in stages and "packed" in stages
    assert stages["dsir_selected"].count() == 5
    packed = out["docs"].collect()
    assert len(packed) == 5
    # spans are contiguous: sorted cum_before gaps equal the token counts
    spans = sorted((r["cum_before"], r["n_tokens"]) for r in packed)
    cum = 0
    for start, n in spans:
        assert start == cum
        cum += n
    # deterministic under repartition
    out2 = curate_corpus(
        d.repartition(5), url_col="url", eval_df=_eval_df(spark),
        boilerplate_max_df_frac=0.2,
        dsir_target=target, dsir_top_n=5,
        dsir_kwargs={"n_buckets": 512},
        pack_seq_len=32, pack_shards=8,
    )
    a = sorted(map(tuple, packed))
    b = sorted(map(tuple, out2["docs"].collect()))
    assert a == b


def test_curate_corpus_bigram_lm_stage(spark):
    """A 3-tuple lm_model routes through the stupid-backoff bigram scorer;
    the structurally-broken doc lands in the dropped tail bucket."""
    from knowledge_graph_studio_spark.operators.textstats import (
        fit_lm_bigram)

    from knowledge_graph_studio_spark.operators.textstats import (
        lm_bigram_score)

    d = _corpus(spark)
    model = fit_lm_bigram(d, vocab_size=100, bigram_size=200)
    # explicit thresholds bracketing the score spread OF THE CLEANED DOCS
    # (the stage scores post-boilerplate text; the fixture's near-identical
    # docs tie at fitted terciles, so the test passes literals — the
    # deployed CCNet shape anyway)
    pre = curate_corpus(d, url_col="url", boilerplate_max_df_frac=0.2)
    cleaned = pre["stages"]["exact_dedup"]
    scores = sorted(r["ce_x1e6"]
                    for r in lm_bigram_score(cleaned, model).collect())
    mid = scores[len(scores) // 2]
    out = curate_corpus(d, url_col="url", boilerplate_max_df_frac=0.2,
                        lm_model=model,
                        lm_thresholds=(scores[0], mid - 1))
    assert "lm_filtered" in out["stages"]
    kept = out["stages"]["lm_filtered"].count()
    before = out["stages"]["exact_dedup"].count()
    assert 0 < kept < before  # docs above the tail cutoff were dropped


def test_curate_corpus_substr_dedup_stage(spark):
    """substr_dedup_k wires ExactSubstr into the funnel: a passage shared
    across docs survives only in its first occurrence."""
    d = _corpus(spark)
    out = curate_corpus(d, url_col="url", boilerplate_max_df_frac=0.2,
                        substr_dedup_k=10)
    assert "substr_dedup" in out["stages"]
    texts = {r["doc_id"]: r["text"] for r in out["docs"].collect()}
    # the GOOD prefix repeats across docs 0..7; exactly one copy survives
    marker = "w0x w1x w2x"
    holders = [i for i, t in texts.items() if marker in t]
    assert len(holders) == 1


def test_run_curation_job_staged_equals_monolithic_and_resumes(
        spark, tmp_path, fail_after_commit):
    """The 3-group materialized runner produces exactly the single-shot
    curate_corpus output, and a killed job resumes from the last committed
    group without recomputing it."""
    import pytest

    from knowledge_graph_studio_spark.io.catalog import RunManifest
    from knowledge_graph_studio_spark.operators.curation import (
        run_curation_job,
    )

    d = _corpus(spark)
    target = d.filter("doc_id <= 2").select("text")
    kw = dict(url_col="url", eval_df=_eval_df(spark),
              boilerplate_max_df_frac=0.2,
              dsir_target=target, dsir_top_n=5,
              dsir_kwargs={"n_buckets": 512}, pack_seq_len=32)
    mono = sorted(map(tuple, curate_corpus(d, **kw)["docs"].collect()))

    wd = str(tmp_path / "job")
    with fail_after_commit("curation_group", 0), \
            pytest.raises(RuntimeError, match="injected failure"):
        run_curation_job(spark, d, wd, **kw)
    recs0 = {r["partition_id"]: r for r in RunManifest(wd, "curate0").records()
             if r["stage"] == "curation_group"}
    assert set(recs0) == {0}
    # restart completes; group 0's original commit record is preserved
    out = run_curation_job(spark, d, wd, **kw)
    staged = sorted(map(tuple, out["docs"].collect()))
    assert staged == mono
    recs1 = {r["partition_id"]: r for r in RunManifest(wd, "curate0").records()
             if r["stage"] == "curation_group"}
    assert set(recs1) == {0, 1, 2}
    assert recs1[0]["committed_at"] == recs0[0]["committed_at"]
    # idempotent re-run: all groups read back, nothing recomputed
    again = run_curation_job(spark, d, wd, **kw)
    assert sorted(map(tuple, again["docs"].collect())) == staged
