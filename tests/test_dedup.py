"""Dedup operator laws: MinHash-LSH recall vs exact Jaccard, verified-pair
precision, SimHash locality, exact dedup."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_studio_spark.operators.dedup import (
    cap_shingle_df, minhash_lsh_candidates, minhash_neardup_pairs,
    simhash_signatures, token_shingles,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


def _exact_jaccard_pairs(spark, docs, threshold):
    sh = token_shingles(docs)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("da"), "shingle")
    b = sh.select(F.col("doc_id").alias("db"), "shingle")
    common = (
        a.join(b, ["shingle"]).filter(F.col("da") < F.col("db"))
        .groupBy("da", "db").agg(F.count("*").alias("common"))
    )
    j = (
        common.join(sz.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(sz.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .withColumn("j", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
    )
    return {(r["da"], r["db"]) for r in j.filter(F.col("j") >= threshold).collect()}


def test_minhash_signatures_pre_hashed_parity(spark, docs):
    """The shared-index fast path (r6): signatures computed from a
    pre-hashed (doc_id, xxhash64(shingle)) frame are bit-identical to
    signatures computed from the raw shingle strings — pmod of the stored
    hash is the same base the in-line hash produces, so the verified-pair
    path may band and verify over ONE checkpointed index."""
    from knowledge_graph_studio_spark.operators.dedup import (
        minhash_signatures,
    )

    raw = token_shingles(docs)
    hashed = raw.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    a = {r["doc_id"]: tuple(r["sig"])
         for r in minhash_signatures(raw).collect()}
    b = {r["doc_id"]: tuple(r["sig"])
         for r in minhash_signatures(hashed, pre_hashed=True).collect()}
    assert a == b


def test_minhash_lsh_recall_vs_exact(spark, docs):
    exact = _exact_jaccard_pairs(spark, docs, 0.7)
    assert exact, "fixture should contain near-duplicate docs"
    cands = {(r["da"], r["db"])
             for r in minhash_lsh_candidates(docs).collect()}
    missed = exact - cands
    recall = 1 - len(missed) / len(exact)
    # 16 bands x 4 rows: P(candidate | J=0.7) = 1-(1-0.7^4)^16 ~ 0.99
    assert recall >= 0.95, f"LSH recall {recall} (missed {missed})"


def test_minhash_collapse_exact_equivalence(spark, docs):
    """collapse_exact dedups verbatim-duplicate texts before banding and
    re-expands pairs; on a corpus tiled with exact copies (the web-crawl
    shape) the result must equal the uncollapsed path's — identical texts
    share every band, so both paths see the same collisions as long as no
    bucket crosses the drop cap (ensured by the fixture size)."""
    base = docs.filter("doc_id < 30").select("doc_id", "text")
    tiled = base.unionByName(
        base.select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    ).unionByName(
        base.select((F.col("doc_id") + 9000).alias("doc_id"), "text")
    )
    plain = {(r["da"], r["db"])
             for r in minhash_lsh_candidates(tiled).collect()}
    collapsed = {(r["da"], r["db"])
                 for r in minhash_lsh_candidates(
                     tiled, collapse_exact=True).collect()}
    assert plain == collapsed, (
        f"only_plain={sorted(plain - collapsed)[:5]} "
        f"only_collapsed={sorted(collapsed - plain)[:5]}")
    # duplicate triples of every base doc with >= 1 shingle must be present
    some = [r["doc_id"] for r in base.filter(
        F.size(F.split("text", " ")) >= 3).limit(5).collect()]
    for d in some:
        assert (d, d + 5000) in collapsed and (d, d + 9000) in collapsed


def test_minhash_verified_collapse_equivalence(spark, docs):
    """Collapse-aware verification: rep-level verify + expansion must emit
    the same (da, db, common, union_size) rows as verifying the full tiled
    corpus (no shingle approaches the df cap at this fixture size, so the
    per-copy vs per-content df readings coincide), with intra-duplicate rows
    at Jaccard exactly 1."""
    base = docs.filter("doc_id < 30").select("doc_id", "text")
    tiled = base.unionByName(
        base.select((F.col("doc_id") + 5000).alias("doc_id"), "text"))
    plain = {tuple(r) for r in minhash_neardup_pairs(
        tiled, jaccard_threshold=0.5).collect()}
    collapsed = {tuple(r) for r in minhash_neardup_pairs(
        tiled, jaccard_threshold=0.5, collapse_exact=True).collect()}
    assert plain == collapsed, (
        f"only_plain={sorted(plain - collapsed)[:4]} "
        f"only_collapsed={sorted(collapsed - plain)[:4]}")
    intra = [r for r in collapsed if r[1] == r[0] + 5000]
    assert intra, "expected intra-duplicate pairs"
    for da, db, common, union in intra:
        assert common == union, "duplicate pair must verify at Jaccard 1"


def test_ngram_operator_matches_contract_query(spark, docs):
    """dedup.ngram_jaccard_pairs must emit exactly the rows of the
    oracle-paired contract query (same shingle semantics, threshold 0.5) —
    the operator is the reusable form of the DuckDB-verified path."""
    from knowledge_graph_studio_spark.driver_contract import (
        q_dedup_ngram_jaccard,
    )
    from knowledge_graph_studio_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    contract = {tuple(r) for r in q_dedup_ngram_jaccard(spark, SF).collect()}
    for collapse in (False, True):
        ops = {tuple(r) for r in ngram_jaccard_pairs(
            docs, 0.5, collapse_exact=collapse).collect()}
        assert ops == contract, f"collapse={collapse}"


def test_ngram_jaccard_collapse_equivalence(spark, docs):
    """Exact n-gram Jaccard with duplicate collapse must emit the same
    (da, db, common, union_size) rows as the direct inverted-index join on
    a verbatim-tiled corpus (no shingle near the df cap here)."""
    from knowledge_graph_studio_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    base = docs.filter("doc_id < 30").select("doc_id", "text")
    tiled = base.unionByName(
        base.select((F.col("doc_id") + 5000).alias("doc_id"), "text"))
    plain = {tuple(r) for r in ngram_jaccard_pairs(tiled, 0.5).collect()}
    collapsed = {tuple(r) for r in ngram_jaccard_pairs(
        tiled, 0.5, collapse_exact=True).collect()}
    assert plain == collapsed, (
        f"only_plain={sorted(plain - collapsed)[:4]} "
        f"only_collapsed={sorted(collapsed - plain)[:4]}")
    assert any(r[1] == r[0] + 5000 for r in collapsed)


def test_simhash_neardup_exact_within_band_guarantee(spark, docs):
    """Banded blocking is EXACT for hamming <= n_bands - 1 (pigeonhole):
    the operator's pairs must equal brute-force all-pairs hamming <= 3."""
    from knowledge_graph_studio_spark.operators.dedup import (
        simhash_neardup_pairs, simhash_signatures,
    )

    d = docs.select("doc_id", "text")
    sig = simhash_signatures(d, bits=60, hash_fn="md5_60")
    a = sig.select(F.col("doc_id").alias("da"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("db"), F.col("simhash").alias("sb"))
    brute = {
        (r["da"], r["db"], r["h"])
        for r in a.crossJoin(b).filter(F.col("da") < F.col("db"))
        .select("da", "db",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("h"))
        .filter(F.col("h") <= 3).collect()
    }
    banded = {
        (r["da"], r["db"], r["hamming"])
        for r in simhash_neardup_pairs(
            d, max_hamming=3, band_bits=15, bits=60,
            hash_fn="md5_60").collect()
    }
    assert banded == brute, (
        f"missed={sorted(brute - banded)[:3]} extra={sorted(banded - brute)[:3]}")
    assert brute, "fixture should contain hamming<=3 signature pairs"


def test_simhash_neardup_collapse_equivalence(spark, docs):
    """Collapse expansion must reproduce the uncollapsed banded pairs on a
    verbatim-tiled corpus (intra-duplicates at hamming 0), and null-text
    duplicates — which have no signature — must stay excluded."""
    from knowledge_graph_studio_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    base = docs.filter("doc_id < 40").select("doc_id", "text")
    tiled = base.unionByName(
        base.select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    ).unionByName(spark.createDataFrame(
        [(9000, None), (9001, None)], "doc_id long, text string"))
    plain = {tuple(r) for r in simhash_neardup_pairs(
        tiled, hash_fn="md5_60").collect()}
    collapsed = {tuple(r) for r in simhash_neardup_pairs(
        tiled, hash_fn="md5_60", collapse_exact=True).collect()}
    assert plain == collapsed
    assert all((9000, 9001) != (r[0], r[1]) for r in collapsed)
    assert any(r[2] == 0 for r in collapsed), "expected hamming-0 duplicates"


def test_collapse_skips_shingleless_duplicates(spark):
    """Duplicated EMPTY or sub-k-token texts have no shingles: the
    uncollapsed inverted-index/banding joins can never emit them, so the
    collapse expansion must not fabricate intra pairs for them either."""
    from knowledge_graph_studio_spark.operators.dedup import (
        minhash_lsh_candidates, minhash_neardup_pairs, ngram_jaccard_pairs,
    )

    rows = ([(i, "") for i in range(3)]            # empty duplicates
            + [(10 + i, "two tokens") for i in range(3)]  # < k tokens
            + [(20 + i, "a real document with plenty of shingled tokens here")
               for i in range(3)]                  # real duplicates
            + [(30, None), (31, None)])            # null texts (md5 -> null)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (minhash_lsh_candidates, minhash_neardup_pairs,
               ngram_jaccard_pairs):
        kw = ({"jaccard_threshold": 0.5}
              if fn is not minhash_lsh_candidates else {})
        plain = {(r["da"], r["db"]) for r in fn(df, **kw).collect()}
        collapsed = {(r["da"], r["db"])
                     for r in fn(df, collapse_exact=True, **kw).collect()}
        assert plain == collapsed, fn.__name__
        assert (20, 21) in collapsed and (0, 1) not in collapsed \
            and (10, 11) not in collapsed, fn.__name__


def test_minhash_verified_pairs_match_exact(spark, docs):
    exact = _exact_jaccard_pairs(spark, docs, 0.5)
    verified = {(r["da"], r["db"])
                for r in minhash_neardup_pairs(docs, jaccard_threshold=0.5).collect()}
    # verification step makes precision exact; recall bounded by LSH
    assert verified <= exact
    assert len(verified) >= 0.95 * len(exact)


def test_minhash_kwarg_typo_raises(spark, docs):
    """LSH parameters are explicit keywords: a misspelled one raises
    instead of silently running with the default banding."""
    from knowledge_graph_studio_spark.operators.dedup import neardup_clusters

    with pytest.raises(TypeError, match="num_hash"):
        minhash_neardup_pairs(docs, num_hash=128)
    with pytest.raises(TypeError, match="num_hash"):
        neardup_clusters(docs, method="minhash", num_hash=128)


def test_cap_shingle_df_kills_template_skew(spark):
    """A template shingle shared by every doc (web boilerplate) must be
    dropped by the cap, collapsing the f^2 candidate explosion, while a
    genuine near-dup pair still verifies."""
    template = "all rights reserved copyright"  # 4 tokens -> 2 3-shingles
    rows = [(i, f"{template} unique{i} filler{i} words{i} " * 3)
            for i in range(40)]
    # one genuine near-dup pair sharing real content
    rows += [(100, "spark shuffle partitions broadcast join skew salt " * 6),
             (101, "spark shuffle partitions broadcast join skew salt " * 6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = token_shingles(docs).persist()
    capped = cap_shingle_df(sh, max_df=10)
    # the template shingles (df=40 > 10) are gone; per-doc shingles remain
    hot = {r["shingle"] for r in
           sh.groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > 10).collect()}
    assert hot, "fixture must contain hot shingles"
    left = {r["shingle"] for r in capped.select("shingle").distinct().collect()}
    assert not (hot & left)
    # inverted-index join over the capped index: template docs produce no
    # pairs; the genuine pair survives
    a = capped.select(F.col("doc_id").alias("da"), "shingle")
    b = capped.select(F.col("doc_id").alias("db"), "shingle")
    pairs = {(r["da"], r["db"]) for r in
             a.join(b, "shingle").filter(F.col("da") < F.col("db"))
             .select("da", "db").distinct().collect()}
    assert pairs == {(100, 101)}
    # and the full verified path (capped verification join) agrees
    verified = {(r["da"], r["db"]) for r in
                minhash_neardup_pairs(docs, jaccard_threshold=0.5,
                                      max_shingle_df=10).collect()}
    assert verified == {(100, 101)}
    sh.unpersist()


def test_cap_shingle_df_overflow_matches_literal_path(spark, monkeypatch,
                                                     caplog):
    """A hot set past the literal bound takes the broadcast-join path and
    drops exactly the shingles the literal path drops."""
    from knowledge_graph_studio_spark.functions import literals

    rows = [(i, f"all rights reserved copyright unique{i} words{i} " * 2)
            for i in range(30)]
    sh = token_shingles(spark.createDataFrame(rows, ["doc_id", "text"]))
    sh = sh.localCheckpoint()

    def capped_rows():
        return sorted(cap_shingle_df(sh, max_df=5).collect())

    literal = capped_rows()
    monkeypatch.setattr(literals, "LITERAL_DF_MAX_ROWS", 1)
    with caplog.at_level("WARNING"):
        overflow = capped_rows()
    assert overflow == literal
    assert len(literal) < sh.count()
    msgs = [r.getMessage() for r in caplog.records]
    assert any("over the 1-row literal bound" in m and "worst df 30" in m
               for m in msgs), msgs


def test_simhash_locality(spark):
    base = "the quick brown fox jumps over the lazy dog " * 12
    rows = [
        (0, base),
        (1, base),                      # identical
        (2, base.replace("lazy", "sleepy")),  # near-dup
        (3, "completely different words about spark shuffle partitions " * 12),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert sig[0] == sig[1]
    assert hamming(sig[0], sig[2]) <= 12
    assert hamming(sig[0], sig[3]) > 12


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")],
        ["doc_id", "text"],
    )
    out = (
        df.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("dup_count"))
    )
    rows = {r["keeper_doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows == {1: 2, 3: 1}


def test_resolve_collapse_auto_probe(spark):
    """VERDICT r3 #3: collapse_exact="auto" probes the sampled duplicate
    rate (content-closed hash-cell sample) and collapses only when it can
    bind."""
    from knowledge_graph_studio_spark.operators.dedup import (
        duplicate_rate, resolve_collapse,
    )

    rows = [(i, f"document {i} body with its own token{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert duplicate_rate(df, "text") == 0.0
    assert resolve_collapse(df, "auto", "text") is False
    tiled = df.unionByName(
        df.select((F.col("doc_id") + 1000).alias("doc_id"), "text"))
    assert duplicate_rate(tiled, "text") >= 0.4
    assert resolve_collapse(tiled, "auto", "text") is True
    # explicit booleans pass through unprobed
    assert resolve_collapse(df, True, "text") is True
    assert resolve_collapse(tiled, False, "text") is False


def test_collapse_cap_semantics_superset_on_duplicated_corpus(spark):
    """ADVICE r3: when the collapse is ACTIVE, max_bucket counts
    REPRESENTATIVES while the uncollapsed path (and the DuckDB oracles)
    count raw copies. On a corpus where k verbatim copies overflow the cap,
    the uncollapsed path DROPS the bucket (losing the duplicate pairs) while
    the collapsed path keeps one representative and restores the exact
    duplicate pairs through membership expansion — i.e. the collapsed output
    is a documented SUPERSET at the cap boundary, never a subset."""
    from knowledge_graph_studio_spark.operators.dedup import (
        minhash_lsh_candidates, simhash_neardup_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, text) for i in range(30)] + [
        (100 + i, f"unrelated document number {i} with its own tokens x{i}")
        for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dup_pairs = {(a, b) for a in range(30) for b in range(30) if a < b}
    for fn in (minhash_lsh_candidates, simhash_neardup_pairs):
        plain = {(r["da"], r["db"])
                 for r in fn(df, max_bucket=10,
                             collapse_exact=False).collect()}
        collapsed = {(r["da"], r["db"])
                     for r in fn(df, max_bucket=10,
                                 collapse_exact=True).collect()}
        assert plain <= collapsed, fn.__name__
        # exact duplicates recovered by the collapse...
        assert dup_pairs <= collapsed, fn.__name__
        # ...and provably LOST by the capped uncollapsed path
        assert not (dup_pairs & plain), fn.__name__


# ---------------------------------------------------------------------------
# Fuzzy-dedup cluster resolution (neardup_clusters / neardup_dedup)
# ---------------------------------------------------------------------------

def _chain_docs(spark):
    """A~B and B~C at 3-gram Jaccard >= 0.5 but J(A, C) = 0.25 < 0.5 — a
    transitive chain with NO direct A-C pair — plus an unrelated singleton.
    (12-token windows shifted by 3: 7 of 10+10-7=13 shingles shared.)"""
    w = lambda lo, hi, p="w": " ".join(f"{p}{i}" for i in range(lo, hi + 1))
    return spark.createDataFrame(
        [(10, w(1, 12)), (20, w(4, 15)), (30, w(7, 18)), (40, w(1, 12, "z"))],
        "doc_id long, text string")


def test_neardup_clusters_transitive_chain(spark):
    """Transitivity is the whole point of the cluster step: A,B,C must land
    in ONE component labeled min(id) even though (A, C) never pairs, and the
    singleton must be absent (label table stays proportional to the
    duplicated subset, not the corpus)."""
    from knowledge_graph_studio_spark.operators.dedup import (
        neardup_clusters, ngram_jaccard_pairs)

    docs = _chain_docs(spark)
    pairs = {(r["da"], r["db"]) for r in
             ngram_jaccard_pairs(docs, jaccard_threshold=0.5).collect()}
    assert pairs == {(10, 20), (20, 30)}, pairs  # chain shape, no A-C edge
    cc = {(r["member"], r["component"])
          for r in neardup_clusters(docs, method="ngram").collect()}
    assert cc == {(10, 10), (20, 10), (30, 10)}


def test_neardup_clusters_driver_and_distributed_paths_agree(spark,
                                                            monkeypatch):
    """Long ids beyond int32: the driver union-find's literal frame and the
    distributed connected components (DRIVER_CC_MAX_PAIRS=0) give the same
    rows, and member/component keep the id column's type."""
    from knowledge_graph_studio_spark.operators import linking
    from knowledge_graph_studio_spark.operators.dedup import neardup_clusters

    big = 2 ** 40
    docs = _chain_docs(spark).select(
        (F.col("doc_id") + big).alias("doc_id"), "text")

    def clusters():
        cc = neardup_clusters(docs, method="ngram")
        assert [f.dataType.simpleString() for f in cc.schema] == \
            ["bigint", "bigint"]
        return sorted(tuple(r) for r in cc.collect())

    want = [(big + 10, big + 10), (big + 20, big + 10), (big + 30, big + 10)]
    assert clusters() == want
    monkeypatch.setattr(linking, "DRIVER_CC_MAX_PAIRS", 0)
    assert clusters() == want


def test_neardup_dedup_drop_and_tag_modes(spark):
    from knowledge_graph_studio_spark.operators.dedup import neardup_dedup

    docs = _chain_docs(spark)
    kept = {r["doc_id"]
            for r in neardup_dedup(docs, method="ngram").collect()}
    assert kept == {10, 40}  # one representative per cluster + singleton

    tagged = {r["doc_id"]: (r["component"], r["is_neardup_copy"])
              for r in neardup_dedup(docs, method="ngram",
                                     mode="tag").collect()}
    assert tagged == {10: (10, False), 20: (10, True), 30: (10, True),
                      40: (40, False)}  # singleton keeps its own id
    # tag mode preserves the corpus
    assert len(tagged) == 4


def test_neardup_clusters_generator_equivalence(spark):
    """The production scale path (minhash-verified pairs) must resolve the
    same clusters as the exact ngram path on planted high-J near-dups
    (J ~ 0.9 => LSH candidate probability 1 - (1-0.9^4)^16 ~ 1-4e-8, and
    the xxhash64 seeds make the outcome deterministic)."""
    from knowledge_graph_studio_spark.operators.dedup import neardup_clusters

    rows = []
    for b in range(5):
        toks = [f"d{b}t{i}" for i in range(20)]
        rows.append((100 * b, " ".join(toks)))
        rows.append((100 * b + 1, " ".join(toks[:-1] + ["MUT"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["member"], r["component"]) for r in neardup_clusters(
        docs, method="ngram", collapse_exact=False).collect()}
    mh = {(r["member"], r["component"]) for r in neardup_clusters(
        docs, method="minhash", collapse_exact=False).collect()}
    assert exact == {(100 * b, 100 * b) for b in range(5)} | \
                    {(100 * b + 1, 100 * b) for b in range(5)}
    assert mh == exact


# --- Bloom-style incremental crawl dedup -----------------------------------


def _bloom_corpora(spark):
    """History of 200 docs; new batch = 100 fresh + 30 replays of history
    content (planted true duplicates)."""
    hist = spark.createDataFrame(
        [(i, f"history document {i} body text {i * 7}") for i in range(200)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000 + i, f"new document {i} fresh content {i * 13}")
         for i in range(100)]
        + [(2000 + i, f"history document {i} body text {i * 7}")
           for i in range(30)],
        "doc_id long, text string")
    return hist, new


def test_seen_before_recall_and_fp_bound(spark):
    from knowledge_graph_studio_spark.operators.dedup import (
        bloom_index_positions, seen_before,
    )

    hist, new = _bloom_corpora(spark)
    idx = bloom_index_positions(hist, m_bits=1 << 16, k=5)
    out = {r["doc_id"]: r["seen"]
           for r in seen_before(new, idx, m_bits=1 << 16, k=5).collect()}
    # no false negatives: every replayed doc is flagged
    assert all(out[2000 + i] == 1 for i in range(30))
    # false positives bounded: expected fpp ~ (1-e^(-5*1000/65536))^5 ~ 2e-6
    fps = sum(out[1000 + i] for i in range(100))
    assert fps <= 2


def test_seen_before_probe_collisions_counted_once(spark):
    from knowledge_graph_studio_spark.operators.dedup import (
        bloom_index_positions, seen_before,
    )

    hist, new = _bloom_corpora(spark)
    # m=64: probe-position collisions within a doc are near-certain; the
    # law is n_probes = |distinct positions| <= k and seen iff all present
    idx = bloom_index_positions(hist, m_bits=64, k=6)
    for r in seen_before(new, idx, m_bits=64, k=6).collect():
        assert 1 <= r["n_probes"] <= 6
        assert 0 <= r["n_hits"] <= r["n_probes"]
        assert r["seen"] == int(r["n_hits"] == r["n_probes"])


def test_clustering_metrics_pairwise_reference(spark):
    from itertools import combinations

    from knowledge_graph_studio_spark.operators.dedup import (
        clustering_metrics)

    #      id: 1  2  3  4  5  6  7
    pred =   [1, 1, 1, 4, 4, 6, 7]
    truth =  [1, 1, 3, 3, 4, 6, 6]
    df = spark.createDataFrame(
        list(zip(range(1, 8), pred, truth)), "id long, pred long, truth long")
    row = clustering_metrics(df, id_col="id").collect()[0]

    items = list(zip(range(1, 8), pred, truth))
    same_p = {(a, b) for (a, pa, _), (b, pb, _)
              in combinations(items, 2) if pa == pb}
    same_t = {(a, b) for (a, _, ta), (b, _, tb)
              in combinations(items, 2) if ta == tb}
    tp = len(same_p & same_t)
    assert (row["tp"], row["fp"], row["fn"]) == (
        tp, len(same_p) - tp, len(same_t) - tp)
    assert row["precision_x1e6"] == 1_000_000 * tp // len(same_p)
    assert row["recall_x1e6"] == 1_000_000 * tp // len(same_t)
    assert row["f1_x1e6"] == 1_000_000 * 2 * tp // (len(same_p) + len(same_t))


def test_clustering_metrics_degenerate_conventions(spark):
    from knowledge_graph_studio_spark.operators.dedup import (
        clustering_metrics)

    # all singletons on both sides: zero pairs anywhere -> vacuously perfect
    df = spark.createDataFrame(
        [(i, i, i) for i in range(5)], "id long, pred long, truth long")
    row = clustering_metrics(df, id_col="id").collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (0, 0, 0)
    assert (row["precision_x1e6"], row["recall_x1e6"], row["f1_x1e6"]) == (
        1_000_000, 1_000_000, 1_000_000)
    # identical non-trivial clusterings: perfect scores, tp > 0
    df2 = spark.createDataFrame(
        [(i, i % 2, i % 2) for i in range(6)], "id long, pred long, truth long")
    row2 = clustering_metrics(df2, id_col="id").collect()[0]
    assert row2["tp"] == 6 and row2["fp"] == 0 and row2["fn"] == 0
    assert row2["f1_x1e6"] == 1_000_000
