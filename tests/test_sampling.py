"""Corpus-mixing laws: exact reproducibility, hash-gate proportion
convergence, up-sampling copy semantics, and the shuffle-free plan."""

from pyspark.sql import functions as F

from knowledge_graph_studio_spark.operators.sampling import (
    MIX_DENOM, mixture_report, sample_mix,
)


def _corpus(spark, n=6000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("zh").alias("lang"),
    )


def test_sample_mix_is_deterministic(spark):
    d = _corpus(spark, 2000)
    rates = {"en": 0.4, "de": 1.3, "zh": 0.0}
    a = sorted(map(tuple, sample_mix(d, rates, "lang").collect()))
    b = sorted(map(tuple, sample_mix(
        d.repartition(13), rates, "lang").collect()))
    assert a == b  # row order / partitioning never changes the sample


def test_sample_mix_proportions_converge(spark):
    d = _corpus(spark, 6000)  # 2000 per stratum
    rates = {"en": 0.5, "de": 1.5, "zh": 0.0}
    rep = {r["lang"]: r for r in
           mixture_report(d, sample_mix(d, rates, "lang"), "lang").collect()}
    assert abs(rep["en"]["realized_rate_x1000"] - 500) < 50
    assert abs(rep["de"]["realized_rate_x1000"] - 1500) < 50
    assert rep["zh"]["n_out"] == 0


def test_sample_mix_upsample_copy_semantics(spark):
    d = _corpus(spark, 300).filter("lang = 'en'")
    out = sample_mix(d, {"en": 2.25}, "lang").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    # every kept doc has copies 0..k-1 with k in {2, 3}
    for doc, copies in by_doc.items():
        assert sorted(copies) == list(range(len(copies)))
        assert len(copies) in (2, 3)
    total = sum(len(c) for c in by_doc.values())
    assert abs(total / d.count() - 2.25) < 0.2


def test_sample_mix_default_rate_and_unknown_stratum(spark):
    d = _corpus(spark, 300)
    out = sample_mix(d, {"en": 1.0}, "lang", default_rate=0.0)
    assert set(r["lang"] for r in out.collect()) == {"en"}
    out2 = sample_mix(d, {}, "lang", default_rate=1.0)
    assert out2.count() == 300


def test_sample_mix_md5_gate_matches_module_constant(spark):
    # the md5_60 gate must equal the documented arithmetic (oracle parity)
    d = _corpus(spark, 500)
    got = sample_mix(d, {"en": 0.5}, "lang", hash_fn="md5_60")
    import hashlib

    kept = {r["doc_id"] for r in got.collect()}
    for i in range(0, 500, 3):  # en stratum
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % MIX_DENOM
        assert (i in kept) == (h < MIX_DENOM // 2)


def test_sample_mix_plan_is_shuffle_free(spark):
    d = _corpus(spark, 300)
    plan = (sample_mix(d, {"en": 1.5, "de": 0.5}, "lang")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


# --- sequence packing ------------------------------------------------------

from knowledge_graph_studio_spark.operators.sampling import (  # noqa: E402
    pack_sequences, packing_report,
)


def _tok_corpus(spark, n=500):
    # deterministic token counts incl. zero-token and boundary-straddling docs
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 17 == 0, 0)
        .otherwise((F.col("id") * 37 % 190) + 1).alias("n_tokens"),
        F.floor(F.col("id") / 50).alias("shard"),
    )


def _py_pack(rows, seq_len):
    # pure-python oracle: global concat order, exact spans
    out, cum = {}, 0
    for doc_id, n in sorted(rows):
        seq_id, off = cum // seq_len, cum % seq_len
        end = (cum + n - 1) // seq_len if n > 0 else seq_id
        out[doc_id] = (cum, seq_id, off, end, end - seq_id + 1 if n else 0)
        cum += n
    return out


def test_pack_sequences_matches_python_oracle(spark):
    d = _tok_corpus(spark, 500)
    rows = [(r["doc_id"], r["n_tokens"]) for r in d.collect()]
    want = _py_pack(rows, 128)
    got = pack_sequences(d, 128, shard_col="shard").collect()
    assert len(got) == 500
    for r in got:
        assert (r["cum_before"], r["seq_id"], r["seq_offset"],
                r["seq_end_id"], r["n_seqs_spanned"]) == want[r["doc_id"]], r


def test_pack_sequences_sharded_equals_single_shard(spark):
    # the two-phase prefix-sum decomposition == the one-window global law
    d = _tok_corpus(spark, 400)
    a = {r["doc_id"]: r["cum_before"]
         for r in pack_sequences(d, 64, shard_col="shard").collect()}
    b = {r["doc_id"]: r["cum_before"]
         for r in pack_sequences(d.drop("shard"), 64).collect()}
    assert a == b


def test_pack_sequences_deterministic_under_repartition(spark):
    d = _tok_corpus(spark, 300)
    a = sorted(map(tuple, pack_sequences(d, 100, shard_col="shard").collect()))
    b = sorted(map(tuple, pack_sequences(
        d.repartition(7), 100, shard_col="shard").collect()))
    assert a == b


def test_pack_sequences_key_collisions_deterministic(spark):
    """Colliding keys (equal key_col, distinct ids — a hash key's 64-bit
    collision) are ordered by tiebreak_cols: the layout equals the
    (key, id) reference and does not depend on partitioning."""
    d = spark.range(120).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).alias("key"),
        ((F.col("id") * 37 % 90) + 1).alias("n_tokens"),
        F.floor(F.col("id") % 4 / 2).alias("shard"))
    rows = [(r["key"], r["doc_id"], r["n_tokens"]) for r in d.collect()]
    want = _py_pack([(key * 1000 + i, n) for key, i, n in rows], 50)

    def layout(frame):
        return sorted(
            (r["doc_id"], r["cum_before"], r["seq_id"], r["seq_offset"],
             r["seq_end_id"], r["n_seqs_spanned"])
            for r in pack_sequences(frame, 50, key_col="key",
                                    shard_col="shard",
                                    tiebreak_cols=("doc_id",)).collect())

    a = layout(d)
    assert a == layout(d.repartition(7)) == layout(d.repartition(3, "key"))
    assert a == sorted((i, *want[key * 1000 + i]) for key, i, _ in rows)


def test_packing_report(spark):
    d = _tok_corpus(spark, 200)
    packed = pack_sequences(d, 128, shard_col="shard")
    rep = packing_report(packed, 128).collect()[0]
    total = sum(r["n_tokens"] for r in d.collect())
    assert rep["n_docs"] == 200
    assert rep["total_tokens"] == total
    assert rep["n_seqs"] == (total + 127) // 128
    assert rep["tail_pad_tokens"] == rep["n_seqs"] * 128 - total
    crossing = sum(1 for r in packed.collect() if r["n_seqs_spanned"] > 1)
    assert rep["docs_crossing"] == crossing
    # empty docs exist in the fixture and span zero sequences
    assert any(r["n_seqs_spanned"] == 0 for r in packed.collect())


def test_pack_sequences_shard_cap(spark):
    d = _tok_corpus(spark, 100)
    import pytest
    with pytest.raises(ValueError, match="max_shards"):
        pack_sequences(d, 64, shard_col="doc_id", max_shards=10)


# --- DSIR importance weighting ---------------------------------------------

import math

from knowledge_graph_studio_spark.operators.sampling import (  # noqa: E402
    dsir_scores, dsir_select, fit_dsir, hashed_ngram_buckets,
)


def _texts(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string")


def _py_dsir(target, raw, score_docs, n_buckets):
    # pure-python oracle with the same md5_60 bucketing + 1e6 fixed point
    import hashlib

    def ngrams(t):
        toks = t.split(" ")
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(ng):
        return int(hashlib.md5(ng.encode()).hexdigest()[:15], 16) % n_buckets

    def counts(docs):
        c = {}
        for t in docs:
            for ng in ngrams(t):
                b = bucket(ng)
                c[b] = c.get(b, 0) + 1
        return c

    ct, cr = counts(target), counts(raw)
    tt = sum(ct.values()) + n_buckets
    tr = sum(cr.values()) + n_buckets
    w = {b: (math.floor(1e6 * math.log((ct.get(b, 0) + 1) / tt))
             - math.floor(1e6 * math.log((cr.get(b, 0) + 1) / tr)))
         for b in set(ct) | set(cr)}
    w0 = (math.floor(1e6 * math.log(1.0 / tt))
          - math.floor(1e6 * math.log(1.0 / tr)))
    out = {}
    for i, t in enumerate(score_docs):
        ngs = ngrams(t)
        out[i] = (len(ngs), sum(w.get(bucket(ng), w0) for ng in ngs))
    return out


def test_dsir_scores_match_python_oracle(spark):
    target = ["the cat sat", "the dog sat on the mat", "cat and dog"]
    raw = target + ["stock market crash", "buy cheap pills now now now",
                    "the market", "x", ""]
    t_df, r_df = _texts(spark, target), _texts(spark, raw)
    weights, w0 = fit_dsir(t_df, r_df, n_buckets=64, hash_fn="md5_60")
    got = {r["doc_id"]: (r["n_ngrams"], r["score_x1e6"])
           for r in dsir_scores(r_df, weights, w0, n_buckets=64,
                                hash_fn="md5_60").collect()}
    want = _py_dsir(target, raw, raw, 64)
    assert got == want


def test_dsir_target_like_docs_score_higher(spark):
    target = ["the cat sat on the mat"] * 3
    raw = ["the cat sat on the mat", "buy cheap pills now",
           "stock market crash today"]
    weights, w0 = fit_dsir(_texts(spark, target), _texts(spark, raw),
                           n_buckets=256)
    scored = {r["doc_id"]: r["score_x1e6"]
              for r in dsir_scores(_texts(spark, raw), weights, w0,
                                   n_buckets=256).collect()}
    assert scored[0] > scored[1] and scored[0] > scored[2]
    top = dsir_select(
        dsir_scores(_texts(spark, raw), weights, w0, n_buckets=256),
        1).collect()
    assert top[0]["doc_id"] == 0


def test_dsir_deterministic_and_gumbel_reproducible(spark):
    raw = [f"tok{i} tok{i % 7} filler words here" for i in range(200)]
    r_df = _texts(spark, raw)
    weights, w0 = fit_dsir(r_df.limit(20), r_df, n_buckets=128)
    s1 = dsir_scores(r_df, weights, w0, n_buckets=128)
    s2 = dsir_scores(r_df.repartition(9), weights, w0, n_buckets=128)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    g1 = dsir_select(s1, 10, temperature=0.5).collect()
    g2 = dsir_select(s2, 10, temperature=0.5).collect()
    assert [r["doc_id"] for r in g1] == [r["doc_id"] for r in g2]
    # temperature changes the pick (noise is actually applied)
    t0 = [r["doc_id"] for r in dsir_select(s1, 10).collect()]
    t9 = [r["doc_id"] for r in dsir_select(s1, 10, temperature=50.0).collect()]
    assert t0 != t9


def test_dsir_weight_join_is_broadcast(spark):
    r_df = _texts(spark, ["a b c"] * 10)
    weights, w0 = fit_dsir(r_df, r_df, n_buckets=32)
    plan = (dsir_scores(r_df, weights, w0, n_buckets=32)
            ._jdf.queryExecution().executedPlan().toString())
    # the corpus-sized scoring join must be broadcast, and it is the ONLY
    # join: the fit's full-outer join of the two <=n_buckets-row count
    # tables is materialized once behind fit_dsir's checkpoint (r6), so
    # the scoring plan reads the persisted weight rows instead of
    # re-deriving both corpus aggregations
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed weight table


# --- leakage-safe splitting ------------------------------------------------

from knowledge_graph_studio_spark.operators.sampling import (  # noqa: E402
    leakage_safe_split,
)


def test_leakage_safe_split_clusters_move_as_unit(spark):
    # template families of 4 near-identical docs each
    rows, cid = [], 0
    for fam in range(200):
        for m in range(4):
            rows.append((fam * 10 + m, fam * 10))
        cid += 1
    docs = spark.createDataFrame([(i,) for i, _ in rows], "doc_id long")
    clusters = spark.createDataFrame(rows, "member long, component long")
    out = leakage_safe_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, clusters=clusters)
    by_fam = {}
    for r in out.collect():
        by_fam.setdefault(r["doc_id"] // 10, set()).add(r["split"])
    assert all(len(s) == 1 for s in by_fam.values())  # no family straddles
    # proportions converge at the FAMILY level
    fams = {f: next(iter(s)) for f, s in by_fam.items()}
    n_train = sum(1 for v in fams.values() if v == "train")
    assert abs(n_train / 200 - 0.8) < 0.1


def test_leakage_safe_split_singletons_and_determinism(spark):
    docs = spark.range(3000).select(F.col("id").alias("doc_id"))
    out = leakage_safe_split(docs, {"train": 0.9, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 3000 - 0.9) < 0.03
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, leakage_safe_split(
        docs.repartition(11), {"train": 0.9, "test": 0.1}).collect()))
    assert a == b
    # total assignment: every doc gets exactly one split
    assert sum(counts.values()) == 3000


def test_leakage_safe_split_weight_validation(spark):
    import pytest
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(docs, {"train": 0.5, "test": 0.2})
    # thirds: ppm rounding residual absorbed, assignment still total
    out = leakage_safe_split(
        docs, {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}).collect()
    assert len(out) == 10 and all(r["split"] in "abc" for r in out)


def test_leakage_safe_split_with_real_neardup_clusters(spark):
    from knowledge_graph_studio_spark.operators.dedup import neardup_clusters

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    rows = []
    for fam in range(12):
        fam_text = base + f" fam{fam}"
        for m in range(3):  # 3 near-identical members (1-token tail edit)
            rows.append((fam * 10 + m, fam_text + f" tail{m}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = neardup_clusters(docs, method="ngram",
                                jaccard_threshold=0.7, shingle_k=3)
    out = leakage_safe_split(
        docs, {"train": 0.5, "test": 0.5}, clusters=clusters)
    by_fam = {}
    for r in out.collect():
        by_fam.setdefault(r["doc_id"] // 10, set()).add(r["split"])
    assert all(len(s) == 1 for s in by_fam.values())


# --- sequence materialization ----------------------------------------------

from knowledge_graph_studio_spark.operators.sampling import (  # noqa: E402
    materialize_sequences,
)


def _tok_arrays(spark, n=120):
    # docs with variable-length token arrays incl. empty docs
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 11 == 0, F.array().cast("array<string>"))
        .otherwise(F.transform(
            F.sequence(F.lit(1), (F.col("id") * 7 % 23) + 1),
            lambda i: F.concat(F.lit("t"), F.col("id"), F.lit("_"), i)))
        .alias("tokens"),
        F.floor(F.col("id") / 30).alias("shard"),
    )


def test_materialize_sequences_reconstruction_law(spark):
    d = _tok_arrays(spark, 120)
    seqs = materialize_sequences(d, 32, shard_col="shard") \
        .orderBy("seq_id").collect()
    got = [t for r in seqs for t in r["tokens"]]
    want = [t for r in d.orderBy("doc_id").collect() for t in r["tokens"]]
    assert got == want  # concat of sequences == concat of docs in order
    # every sequence is exactly seq_len except the tail
    for r in seqs[:-1]:
        assert r["n_tokens"] == 32
    assert 0 < seqs[-1]["n_tokens"] <= 32
    assert [r["seq_id"] for r in seqs] == list(range(len(seqs)))


def test_materialize_sequences_deterministic_and_matches_packing(spark):
    from knowledge_graph_studio_spark.operators.sampling import (
        pack_sequences,
    )

    d = _tok_arrays(spark, 90)
    a = {r["seq_id"]: tuple(r["tokens"])
         for r in materialize_sequences(d, 16, shard_col="shard").collect()}
    b = {r["seq_id"]: tuple(r["tokens"])
         for r in materialize_sequences(
             d.repartition(7), 16, shard_col="shard").collect()}
    assert a == b
    # doc spans from pack_sequences agree with where tokens actually landed
    packed = pack_sequences(
        d.withColumn("n_tokens", F.size("tokens")), 16,
        shard_col="shard").collect()
    for r in packed:
        if r["n_tokens"] == 0:
            continue
        first_tok = r["tokens"][0]
        assert a[r["seq_id"]][r["seq_offset"]] == first_tok


def test_pack_sequences_window_is_shard_partitioned(spark):
    # the prefix-sum window must be PARTITIONED (per shard) — a global
    # single-task window would serialize the corpus
    d = _tok_corpus(spark, 200)
    plan = (pack_sequences(d, 64, shard_col="shard")
            ._jdf.queryExecution().executedPlan().toString())
    import re
    wins = [l for l in plan.splitlines() if "Window" in l]
    assert wins and all("_shard" in w for w in wins)
    # shard totals + window repartition; broadcast prefix join adds no
    # corpus-sized exchange
    assert plan.count("Exchange hashpartitioning") <= 2
