"""operators/textstats + functions/literals unit checks."""

from pyspark.sql import functions as F

from knowledge_graph_studio_spark.functions.literals import literal_df
from knowledge_graph_studio_spark.operators.textstats import (
    fingerprints, lang_id, quality_scores, shingles, token_counts,
)


def _docs(spark):
    return spark.createDataFrame(
        [("d1", "the cat sat on the mat, and that is that."),
         ("d2", "zyx wvu tsr qpo nml")],
        ["doc_id", "text"])


def test_lang_id_stopword_ratio(spark):
    out = {r["doc_id"]: r for r in lang_id(_docs(spark)).collect()}
    assert out["d1"]["lang_guess"] == "en"
    assert out["d2"]["lang_guess"] == "other"
    assert out["d2"]["n_stopwords"] == 0


def test_quality_and_token_counts_are_ints(spark):
    q = {r["doc_id"]: r for r in quality_scores(_docs(spark)).collect()}
    assert q["d1"]["n_punct"] == 2  # ',' and the final '.'
    t = {r["doc_id"]: r for r in token_counts(_docs(spark)).collect()}
    assert t["d2"]["ws_tokens"] == 5
    assert t["d2"]["bpe_ish_tokens"] == 5


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "gamma beta alpha alpha")],
        ["doc_id", "text"])
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprints(df).collect()}
    assert fp["a"] == fp["b"]


def test_shingles_distinct_per_doc(spark):
    df = spark.createDataFrame([("a", "x y z x y z x y")], ["doc_id", "text"])
    rows = {r["shingle"] for r in shingles(df, k=3).collect()}
    assert rows == {"x_y_z", "y_z_x", "z_x_y"}


def test_literal_df_values_and_single_task(spark):
    df = literal_df(spark, [("a", 1), ("b", 2)], "k string, v int")
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [("a", 1), ("b", 2)]
    assert df.rdd.getNumPartitions() == 1
    # joins like any other DF
    big = spark.range(5).withColumn("k", F.lit("a"))
    assert big.join(F.broadcast(df), "k").count() == 5


def test_gopher_symbol_ratio_counts_unicode_ellipsis(spark):
    from knowledge_graph_studio_spark.operators.textstats import gopher_filter

    base = "the words be to of and that have with " + " ".join(
        f"w{i}x" for i in range(50))
    df = spark.createDataFrame(
        [(0, base), (1, base + " " + "…" * 12)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert got[0]["symbol_ratio_x100"] == 0
    # 12 ellipses over ~60 words = 20% > the 10% Gopher cap (ADVICE r4)
    assert got[1]["symbol_ratio_x100"] > 10
    assert "symbol_ratio" in got[1]["failed"]


def test_gopher_repetition_rule_families(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        gopher_repetition,
    )

    df = spark.createDataFrame([
        (0, "dup line\ndup line\nuniq a b c d e f g h"),
        (1, "para one x\n\npara one x\n\ntail y"),
        (2, "buy now " * 15 + "end z"),
        (3, "a b c d e f g h i j k l m n o p q r s t"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    # doc 0: 2 of 3 lines are duplicates -> 666 > 300 threshold
    assert got[0]["dup_line_frac_x1000"] == 666
    assert "dup_line_frac" in got[0]["failed"] and got[0]["passes"] == 0
    # doc 1: duplicated paragraph trips BOTH para rules (and, via the empty
    # lines the \n\n split leaves, the line rules)
    assert got[1]["dup_para_frac_x1000"] > 300
    assert "dup_para_frac" in got[1]["failed"]
    assert "dup_para_char_frac" in got[1]["failed"]
    # doc 2: 15x-repeated 2-gram trips top-{2,3,4} and every dup-n rule
    assert got[2]["top_2gram_x1000"] > 200
    assert got[2]["dup_5gram_x1000"] == 1000  # capped occurrence-weighted
    for n in range(5, 11):
        assert f"dup_{n}gram" in got[2]["failed"]
    # doc 3: all-unique tokens pass everything
    assert got[3]["passes"] == 1 and got[3]["failed"] == ""


def test_gopher_repetition_short_and_empty_docs(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        gopher_repetition,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "a b")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    # sub-n-gram docs produce zero metrics (no crash on the descending-
    # sequence guard) and pass
    for i in range(3):
        assert got[i]["passes"] == 1, got[i]
        assert got[i]["dup_10gram_x1000"] == 0


def test_gopher_repetition_hash_and_raw_keys_agree(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        gopher_repetition,
    )

    df = spark.createDataFrame([
        (0, "dup line\ndup line\nuniq a b c d e f g h"),
        (1, "para one x\n\npara one x\n\ntail y"),
        (2, "buy now " * 15 + "end z"),
    ], "doc_id long, text string")
    a = sorted(map(tuple, gopher_repetition(df, hash_keys=True).collect()))
    b = sorted(map(tuple, gopher_repetition(df, hash_keys=False).collect()))
    assert a == b


def test_gopher_repetition_plan_has_no_join(spark):
    # n_chars rides the explode as a pre-aggregated column: the plan is one
    # explode + three doc-keyed aggregations — no join anywhere
    from knowledge_graph_studio_spark.operators.textstats import (
        gopher_repetition,
    )

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (gopher_repetition(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# CCNet-style LM unigram scoring
# ---------------------------------------------------------------------------

def _lm_docs(spark):
    # "common common common rare": 'common' dominates the corpus, 'rare*'
    # tokens are hapaxes
    rows = [(i, "common " * 9 + f"rare{i}") for i in range(8)]
    rows.append((100, "common common common common"))       # frequent-only
    rows.append((200, "rareA rareB rareC rareD"))           # hapax-only
    return spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string")


def test_lm_unigram_score_ordering_and_oov(spark):
    """Lower cross-entropy for frequent-token text; a hapax-only doc under
    a vocab cut scores exactly the OOV (hapax) cost — and since OOV cost ==
    hapax in-vocab cost by construction, the cut doesn't change its score."""
    import math

    from knowledge_graph_studio_spark.operators.textstats import (
        lm_unigram_score)

    docs = _lm_docs(spark)
    s = {r["doc_id"]: r["ce_x1e6"]
         for r in lm_unigram_score(docs, vocab_size=1).collect()}
    assert s[100] < s[0] < s[200]
    # total = 8*10 + 4 + 4 = 88; hapax/OOV cost = -floor(1e6*ln(1/88))
    assert s[200] == -math.floor(1e6 * math.log(1 / 88))
    # vocab_size=1 keeps only 'common'; every rare token goes through OOV,
    # which costs the same as its in-vocab hapax entry would -> identical
    # scores with the full vocab
    full = {r["doc_id"]: r["ce_x1e6"]
            for r in lm_unigram_score(docs, vocab_size=1000).collect()}
    assert s == full


def test_lm_unigram_score_partition_invariant_and_buckets(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        lm_bucket_thresholds, lm_unigram_score)

    # graded common/rare mixes -> 9 distinct score levels, so the fitted
    # terciles produce three non-empty buckets
    docs = spark.createDataFrame(
        [(i, " ".join(["common"] * i + [f"r{i}_{j}" for j in range(10 - i)]))
         for i in range(1, 10)], "doc_id long, text string")
    a = sorted(map(tuple, lm_unigram_score(docs).collect()))
    b = sorted(map(tuple, lm_unigram_score(docs.repartition(7)).collect()))
    assert a == b  # integer costs -> bit-stable under any partitioning

    scored = lm_unigram_score(docs)
    head, tail = lm_bucket_thresholds(scored)
    assert head <= tail
    bucketed = lm_unigram_score(docs, head_x1e6=head, tail_x1e6=tail)
    by_bucket = {}
    for r in bucketed.collect():
        by_bucket.setdefault(r["lm_bucket"], []).append(r["ce_x1e6"])
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_lm_unigram_prefitted_model_matches_refit(spark):
    """Scoring with a model pre-fitted on the same corpus must equal the
    refit path (the deployed shape: fit once on a reference corpus, apply
    per snapshot), and a model fitted elsewhere transfers — text unseen by
    the reference all costs OOV."""
    from knowledge_graph_studio_spark.operators.textstats import (
        fit_lm_unigram, lm_unigram_score)

    docs = _lm_docs(spark)
    model = fit_lm_unigram(docs)
    a = sorted(map(tuple, lm_unigram_score(docs).collect()))
    b = sorted(map(tuple, lm_unigram_score(docs, model=model).collect()))
    assert a == b

    other = spark.createDataFrame([(1, "zz yy xx")], "doc_id long, text string")
    s = lm_unigram_score(other, model=model).collect()[0]
    assert s["ce_x1e6"] == model[1]  # every token OOV -> exactly oov_cost


# --- stupid-backoff bigram LM ----------------------------------------------


def _py_bigram_lm(texts, vocab_size, bigram_size):
    """Independent reference: fit + score stupid-backoff in pure python."""
    import math
    from collections import Counter

    uni, bi = Counter(), Counter()
    for t in texts:
        toks = t.split(" ")
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    total = sum(uni.values())
    vocab = dict(sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))
                 [:vocab_size])
    costs = {w: -math.floor(1e6 * math.log(c / total))
             for w, c in vocab.items()}
    oov = -math.floor(1e6 * math.log(1 / total))
    top_bi = dict(sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))
                  [:bigram_size])
    bi_costs = {p: -math.floor(1e6 * math.log(c / uni[p[0]]))
                for p, c in top_bi.items()}
    backoff = -math.floor(1e6 * math.log(0.4))
    out = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        s = costs.get(toks[0], oov)
        for a, b in zip(toks, toks[1:]):
            s += bi_costs.get((a, b),
                              backoff + costs.get(b, oov))
        out[i] = (len(toks), s // len(toks))
    return out


_BI_CORPUS = [
    "the cat sat on the mat",
    "the cat sat on the hat",
    "the dog ran to the cat",
    "a dog and a cat and a rat",
    "unseen tokens only here",
    "w",
]


def _bi_docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BI_CORPUS)],
        "doc_id long, text string")


def test_lm_bigram_matches_python_reference(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        fit_lm_bigram, lm_bigram_score)

    d = _bi_docs(spark)
    for vs, bs in ((1000, 1000), (5, 4)):
        model = fit_lm_bigram(d, vocab_size=vs, bigram_size=bs)
        got = {r["doc_id"]: (r["n_tokens"], r["ce_x1e6"])
               for r in lm_bigram_score(d, model).collect()}
        assert got == _py_bigram_lm(_BI_CORPUS, vs, bs)


def test_lm_bigram_context_beats_unigram_on_predictable_text(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        fit_lm_bigram, lm_bigram_score, lm_unigram_score)

    # highly predictable bigram structure: the bigram model should price
    # the in-pattern doc lower relative to a shuffled-token doc, where the
    # unigram model cannot tell them apart
    texts = ["a b a b a b a b a b"] * 5 + ["b b a a b a a b b a"]
    d = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                              "doc_id long, text string")
    model = fit_lm_bigram(d, vocab_size=10, bigram_size=10)
    bi = {r["doc_id"]: r["ce_x1e6"]
          for r in lm_bigram_score(d, model).collect()}
    un = {r["doc_id"]: r["ce_x1e6"]
          for r in lm_unigram_score(d, vocab_size=10).collect()}
    assert un[0] == un[5]          # unigram is bag-of-words blind
    assert bi[0] < bi[5]           # bigram sees the broken structure


def test_lm_bigram_partition_invariant(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        fit_lm_bigram, lm_bigram_score)

    d = _bi_docs(spark)
    model = fit_lm_bigram(d, vocab_size=100, bigram_size=100)
    a = sorted(map(tuple, lm_bigram_score(d, model).collect()))
    b = sorted(map(tuple,
                   lm_bigram_score(d.repartition(5), model).collect()))
    assert a == b


def test_fit_lm_bigram_checkpoints_count_table_once(spark, monkeypatch):
    """fit_lm_bigram checkpoints its unigram count table and hands it to
    fit_lm_unigram(pre_counted=True), which stores no second copy."""
    from knowledge_graph_studio_spark.operators.textstats import (
        fit_lm_bigram)

    d = _bi_docs(spark)
    cls = type(d)  # the session's concrete DataFrame class
    calls = []
    orig = cls.localCheckpoint

    def counting(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    fit_lm_bigram(d, vocab_size=100, bigram_size=100)
    assert len(calls) == 1


def test_exact_quantiles_reference(spark):
    import math

    from knowledge_graph_studio_spark.operators.textstats import (
        exact_quantiles)

    vals = [7, 1, 9, 3, 3, 5, 11, 2, 8, 10, 4]          # n = 11
    df = spark.createDataFrame([(v, v * 10) for v in vals], "a long, b long")
    got = {(r["metric"], r["q_x100"]): r["value"]
           for r in exact_quantiles(df, ("a", "b"),
                                    qs_x100=(50, 90, 99)).collect()}
    sa, sb = sorted(vals), sorted(v * 10 for v in vals)
    for q in (50, 90, 99):
        rk = math.ceil(q * len(vals) / 100)
        assert got[("a", q)] == sa[rk - 1]
        assert got[("b", q)] == sb[rk - 1]
    # cross-check vs Spark's approx at exactness-forcing tolerance
    exact_p50 = df.approxQuantile("a", [0.5], 0.0)[0]
    assert got[("a", 50)] == exact_p50


def test_topk_keywords_reference(spark):
    import math
    from collections import Counter

    from knowledge_graph_studio_spark.operators.textstats import (
        topk_keywords)

    texts = {
        1: "apple apple banana core",
        2: "banana core core core dig",
        3: "apple core elm fig fig fig",
    }
    df = spark.createDataFrame(sorted(texts.items()),
                               "doc_id long, text string")
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf_x1e6"])
           for r in topk_keywords(df, k=2).collect()}

    tfs = {i: Counter(t.split()) for i, t in texts.items()}
    dfreq = Counter(t for c in tfs.values() for t in c)
    n = len(texts)
    want = {}
    for i, c in tfs.items():
        scored = sorted(
            ((math.floor(1e6 * tf * math.log(n / dfreq[t])), t)
             for t, tf in c.items()),
            key=lambda st: (-st[0], st[1]))
        for rk, (s, t) in enumerate(scored[:2], 1):
            want[(i, rk)] = (t, s)
    assert got == want
    # ubiquitous terms (df == n) score exactly 0 and rank last
    assert all(t != "core" or s == 0 for (_, _), (t, s) in got.items())


def test_suggest_gopher_thresholds_adapts_and_filters(spark):
    from knowledge_graph_studio_spark.operators.textstats import (
        gopher_filter, suggest_gopher_thresholds)

    # corpus of ~20-word docs, plus one tiny and one huge outlier
    rows = [(i, ("the be to of and a in that have i " * 2).strip())
            for i in range(50)]
    rows += [(100, "tiny"), (101, "word " * 5000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = suggest_gopher_thresholds(df, lo_x100=5, hi_x100=95)
    # the suggested band brackets the typical doc and excludes the outliers
    assert kw["min_words"] <= 20 <= kw["max_words"]
    assert kw["max_words"] < 5000 and kw["min_words"] > 1
    flt = gopher_filter(df, min_stop_hits=1, **kw)
    kept = {r["doc_id"] for r in flt.filter("passes = 1").collect()}
    assert 100 not in kept and 101 not in kept
    assert set(range(50)) <= kept
