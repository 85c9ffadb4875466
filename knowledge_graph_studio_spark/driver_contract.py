"""Driver-contract query battery: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the driver's
TPC-H-ish tables (/root/testdata/sf*/): the reference's MQL query surface
(§2.6 Q1-Q18), the merge/linking laws re-expressed relationally, and the
large-scale training-data ops (dedup, similarity search, text analysis).

Contract rules honored here:
  * every aggregate/computed column is aliased identically in Spark and SQL;
  * outputs avoid raw floats (integer cents / counts / md5 strings) so the
    driver's order-insensitive value-hash is bit-stable across engines;
  * queries marked ``# rows-only`` have no SQL oracle — only the genuinely
    non-SQL-expressible remain (float-geometry ANN over numpy hyperplanes,
    and ops over the synthetic-pages corpus DuckDB cannot regenerate); the
    driver records the weaker rows-only check, and pytest covers their laws.
    Iterative CC, SimHash and the full MinHash+LSH chain ARE oracle-paired
    (recursive-CTE closure; the md5_60 hash family both engines compute
    bit-identically).

Scale notes are inline per query: what broadcasts, what shuffles, what the
plan must push down.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.literals import literal_array, literal_df
from .functions.text import hash64
from .functions.vector import cosine_col

# deterministic gazetteer over the driver's `documents` vocabulary
GAZ_TERMS = [
    "spark", "join", "filter", "window", "merge", "sort", "hash", "stream",
    "vector", "query", "table", "customer",
]
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "that"]

_T = Callable[[SparkSession, str], DataFrame]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Widen narrow scans of the TEXT/VECTOR tables up to cluster width
    # (session.ensure_width): they are single small files whose scans yield
    # ONE partition at any split size, and their consumers fan out per
    # token (shingles, n-gram explodes, per-dim vector math), so the
    # heaviest map stage would run serial regardless of cores (measured
    # 4.6x on gopher_repetition). The columnar analytic tables (lineitem,
    # orders, ...) are deliberately NOT widened: their queries are
    # codegen'd scan+agg/join with no per-row amplification, so a full-
    # table repartition shuffle costs more than the width buys. At 100 TB
    # every scan exceeds cluster width and the gate is an exact no-op.
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        from .session import ensure_width

        return ensure_width(df)
    return df


def _cents(col) -> F.Column:
    """Money as exact integer cents: round(x*100) -> bigint; identical in
    DuckDB as CAST(round(x*100) AS BIGINT). Keeps FP out of value hashes."""
    return F.round(F.col(col) * 100).cast("bigint")


def _tokens(col="text"):
    return F.split(F.col(col), " ")


# --------------------------------------------------------------------------- #
# §2.6 relational operators (Q1-Q18 analogs)
# --------------------------------------------------------------------------- #

def q_filter_predicate(spark, sf):
    """Q1 ($match: $in + $regex + range; graph_service.py:1520-1542).
    Scale: pure scan-side — predicates push to parquet (PushedFilters)."""
    o = _read(spark, sf, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_orderpriority").rlike("^(1|2)")
        & (F.col("o_totalprice") > 1000.0)
    ).select("o_orderkey", "o_custkey", "o_orderpriority")


def q_fk_join_hydration(spark, sf):
    """Q2/Q12 ($lookup chain triple->head/tail nodes; graph_service.py:1572-1587).
    Scale: nation/region are broadcast (small dims) — no shuffle of customer."""
    c = _read(spark, sf, "customer")
    n = F.broadcast(_read(spark, sf, "nation"))
    r = F.broadcast(_read(spark, sf, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


def q_explode_tokens(spark, sf):
    """Q3 ($unwind; crud/graph.py:257-258): token explode + count."""
    d = _read(spark, sf, "documents")
    return (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token").agg(F.count("*").alias("cnt"))
    )


def q_project_reshape(spark, sf):
    """Q4 ($project/$addFields/$slice/$arrayElemAt; graph_service.py:1588-1634,
    chunk-slice-8 :1762-1768): array slice, size, string reshape."""
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(_tokens(), 1, 3)).alias("first3"),
        F.size(_tokens()).alias("n_tokens"),
        F.upper("lang").alias("lang_uc"),
        F.element_at(_tokens(), 1).alias("first_token"),
    )


def q_group_agg(spark, sf):
    """Q5 ($group with $first/count; crud/graph.py:99-107): per-customer order
    stats. Scale: map-side partial agg; integer cents keep hashes stable."""
    o = _read(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(_cents("o_totalprice")).alias("total_cents"),
        F.max("o_orderdate").alias("last_order"),
        F.min("o_orderstatus").alias("first_status"),
    )


def q_facet_count_page(spark, sf):
    """Q6 ($facet rows+totalCount single pass; crud/graph.py:186-199):
    window count(*) over () + sort/skip/limit."""
    c = _read(spark, sf, "customer")
    return (
        c.withColumn("total_count", F.count("*").over(Window.partitionBy()))
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(10).limit(30)
        .select("c_custkey", "c_name", "total_count")
    )


def q_sort_skip_limit(spark, sf):
    """Q7 ($sort/$skip/$limit; utilities/routers.py:25-90)."""
    e = _read(spark, sf, "events")
    return (
        e.orderBy(F.desc("ts"), F.asc("event_id"))
        .offset(5).limit(50)
        .select("event_id", "event_type")
    )


def q_topk_cosine(spark, sf):
    """Q8/Q9 ($vectorSearch numCandidates/limit; crud/chunks.py:64-100,
    graph_service.py:1650-1779): exact brute-force cosine top-k=20 against the
    vec_id=0 query vector. Scale: query vec broadcast via scalar subquery;
    TakeOrderedAndProject avoids a global sort. Int output only."""
    e = _read(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    scored = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q)).select(
        "vec_id", "label",
        cosine_col(F.col("embedding"), F.col("qvec")).alias("score")
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(20)
        .select("vec_id", "label")
    )


def q_semi_join_filter(spark, sf):
    """Q11 structured subgraph prefilter (graph_service.py:1492-1546):
    ids-by-type filter then semi-join. Broadcast the small id set."""
    n = _read(spark, sf, "nation")
    c = _read(spark, sf, "customer")
    o = _read(spark, sf, "orders")
    asia = F.broadcast(
        n.join(F.broadcast(_read(spark, sf, "region").filter("r_name = 'ASIA'")),
               F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
    )
    cust = c.join(asia, c.c_nationkey == asia.n_nationkey, "left_semi")
    return (
        o.join(F.broadcast(cust.select("c_custkey")),
               o.o_custkey == F.col("c_custkey"), "left_semi")
        .filter("o_orderstatus = 'O'")
        .select("o_orderkey", "o_custkey")
    )


def q_anti_join_validate(spark, sf):
    """E7 triple-vs-pattern validation (graph_service.py:2613-2670) as a
    left-anti join against a broadcast literal pattern set."""
    p = _read(spark, sf, "part")
    pats = F.broadcast(literal_df(
        spark,
        [("Brand#1", "ECONOMY"), ("Brand#2", "STANDARD"), ("Brand#3", "SMALL")],
        "p_brand string, p_type string",
    ))
    return (
        p.join(pats, ["p_brand", "p_type"], "left_anti")
        .select("p_partkey", "p_brand", "p_type")
    )


def q_fuzzy_pairs(spark, sf):
    """Q10/L7 fuzzy duplicate candidates ($search maxEdits=1 analog,
    graph_service.py:2184-2231): equal-length levenshtein<=1 pairs.

    Blocking is the SymSpell/FastSS deletion neighborhood — exact for one
    edit: two strings within lev 1 share a key in (deletion-variants ∪ self)
    (substitution: delete the differing char from both; indel: the longer's
    variant equals the shorter). O(n * len) keys, equi-join on key, exact
    levenshtein only on candidates — linear where any prefix/length blocking
    degenerates to O(n^2) on TPC-H's constant-prefix 'Customer#...' names."""
    c = _read(spark, sf, "customer").select("c_custkey", "c_name")
    variants = F.array_distinct(
        F.concat(
            F.array(F.col("c_name")),
            F.transform(
                F.sequence(F.lit(1), F.length("c_name")),
                lambda i: F.concat(
                    F.col("c_name").substr(F.lit(1), i - 1),
                    F.col("c_name").substr(i + 1, F.length("c_name")),
                ),
            ),
        )
    )
    keyed = c.select(
        "c_custkey", "c_name", F.length("c_name").alias("len"),
        F.explode(variants).alias("key"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.key") == F.col("b.key"))
               & (F.col("a.len") == F.col("b.len"))
               & (F.col("a.c_custkey") < F.col("b.c_custkey")))
        .select(F.col("a.c_custkey").alias("custkey_a"),
                F.col("b.c_custkey").alias("custkey_b"),
                F.col("a.c_name").alias("na"), F.col("b.c_name").alias("nb"))
        .dropDuplicates(["custkey_a", "custkey_b"])
    )
    return (
        cand.filter(F.levenshtein("na", "nb") <= 1)
        .select("custkey_a", "custkey_b")
    )


def q_window_rank(spark, sf):
    """§2.7 windows (replace the reference's Python sorts,
    graph_service.py:2289-2343): top-3 customers by balance per nation."""
    c = _read(spark, sf, "customer")
    n = F.broadcast(_read(spark, sf, "nation"))
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "rnk")
    )


def q_setunion_tags(spark, sf):
    """Q5 tag set-union ($push + $reduce $setUnion; routers/workspaces.py:145-189):
    per-source sorted distinct langs as one string."""
    d = _read(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("lang"))).alias("langs"),
        F.count("*").alias("n_docs"),
    )


def q_pricing_summary(spark, sf):
    """TPC-H Q1-shaped scan+agg headline (bench workhorse). Integer cents."""
    li = _read(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("sum_qty_x100"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                  .cast("bigint")).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_revenue(spark, sf):
    """Join+agg+top-k headline: top-10 customers by lineitem revenue.
    Scale: orders->customer broadcast at small SF, shuffle-hash beyond; AQE
    picks at runtime."""
    li = _read(spark, sf, "lineitem")
    o = _read(spark, sf, "orders")
    c = _read(spark, sf, "customer")
    rev = (
        li.withColumn("rev_cents",
                      F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                      .cast("bigint"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum("rev_cents").alias("revenue_cents"))
    )
    return rev.orderBy(F.desc("revenue_cents"), F.asc("c_custkey")).limit(10)


def q_windowed_events(spark, sf):
    """Tumbling 1h event rollup (batch twin of the streaming path in
    streaming/ingest.py): date_trunc + group. Integer cents."""
    e = _read(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(_cents("value")).alias("value_cents"),
        )
    )


# --------------------------------------------------------------------------- #
# Training-data ops: dedup / similarity / text analysis (documents, embeddings)
# --------------------------------------------------------------------------- #

def q_dedup_exact(spark, sf):
    """Exact dedup: md5(text) groups, keeper = min(doc_id) (hash-groupBy;
    scale: one shuffle on the 128-bit hash, no skew by construction)."""
    d = _read(spark, sf, "documents")
    return (
        d.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"),
             F.count("*").alias("dup_count"))
    )


def _shingles(df, k: int = 3):
    """distinct k-token shingles per doc (operators/textstats.shingles)."""
    from .operators.textstats import shingles

    return shingles(df, k=k)


def q_dedup_ngram_jaccard(spark, sf):
    """N-gram (3-token shingle) Jaccard near-dup pairs, J >= 0.5 — EXACT,
    via operators/dedup.ngram_jaccard_pairs: inverted-index join on the
    64-bit shingle hash (never O(n^2) docs) behind the hot-shingle
    document-frequency cap (broadcast LEFT ANTI, dropped shingles logged,
    plan-gated in tests/test_plan_quality.py), with collapse_exact="auto"
    — the production default: a sampled duplicate-rate probe collapses
    byte-identical texts to one representative before the posting-list
    self-join ONLY when duplicates exist (BENCH_sf16: 43.5s -> 9.3s at 16x
    with identical output; on this duplicate-free SF the probe skips the
    collapse and its constant overhead, VERDICT r3 #3).
    The cap (1000) is far above the sf0.01 max df (7), so it never binds
    here and the cap-free DuckDB oracle still matches; at web scale it is
    the guard against the f^2 template-shingle pair explosion."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _read(spark, sf, "documents")
    return ngram_jaccard_pairs(d, jaccard_threshold=0.5, max_shingle_df=1000,
                               collapse_exact="auto")


def _neardup_pairs(spark, sf):
    """Shared pair frame for the fuzzy-dedup cluster entries: the EXACT
    ngram-Jaccard pairs (same args as q_dedup_ngram_jaccard, whose own entry
    value-checks them) so the DuckDB oracle can re-derive the pair set; the
    production scale path feeds minhash_neardup_pairs into the same cluster
    operators (generator equivalence on planted fixtures is asserted in
    tests/test_dedup.py)."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _read(spark, sf, "documents")
    return d, ngram_jaccard_pairs(d, jaccard_threshold=0.5,
                                  max_shingle_df=1000, collapse_exact="auto")


def q_neardup_clusters(spark, sf):
    """Fuzzy-duplicate cluster resolution (dedup.neardup_clusters): verified
    near-dup pairs -> connected components -> (member, component=min doc_id).
    The keep-one-per-group step every public curation pipeline runs after
    pair generation; transitivity (A~B, B~C groups A,B,C without an A-C
    pair) is exactly what pairwise entries cannot check, and the DuckDB
    oracle re-derives it with a recursive-CTE transitive closure — so the
    distributed min-label loop is value-checked on real near-dup structure,
    not just the sparse kg_connected_components graph."""
    from .operators.dedup import neardup_clusters

    d, pairs = _neardup_pairs(spark, sf)
    return neardup_clusters(d, pairs=pairs)


def q_neardup_dedup(spark, sf):
    """Surviving doc ids after fuzzy dedup (dedup.neardup_dedup drop mode):
    documents minus every non-min member of a near-dup cluster — the actual
    corpus-shrinking step, one left-anti join against the duplicates-only
    cluster table."""
    from .operators.dedup import neardup_dedup

    d, pairs = _neardup_pairs(spark, sf)
    return neardup_dedup(d, pairs=pairs).select("doc_id")


def q_embedding_neardup(spark, sf):
    """Embedding-cosine near-dup pairs (cos >= 0.4): exact distributed
    block-pair GEMM (operators/similarity.cosine_allpairs — no driver
    collect; cosine_neardup_lsh is the sub-quadratic approximate path)."""
    from .operators.similarity import cosine_allpairs

    e = _read(spark, sf, "embeddings").select("vec_id", "embedding")
    # collapse stays EXACT (identical vectors are cosine-1 pairs by
    # definition) — the same all-pairs DuckDB oracle verifies that; "auto"
    # skips it (and its constant cost) on duplicate-free corpora
    return cosine_allpairs(e, threshold=0.4, collapse_exact="auto")


def q_gopher_rules(spark, sf):
    """Gopher document-quality rules (textstats.gopher_filter): the
    published public filter set with per-rule failure attribution; every
    metric and the failed-rule string are value-checked against DuckDB's
    independent list-function reimplementation."""
    from .operators.textstats import gopher_filter

    return gopher_filter(_read(spark, sf, "documents"))


def q_gopher_repetition(spark, sf):
    """Gopher repetition-removal rules (textstats.gopher_repetition): pages
    constructed from `documents` plant each failure family — duplicated
    lines (doc_id%4==0), duplicated paragraphs (==1), a 15x-repeated 2-gram
    (==2, which also trips every dup-n-gram rule), and natural document
    text (==3). The oracle rebuilds the SAME pages and re-derives all 13
    metrics through an independent DuckDB list-function pipeline (generated
    at import from the shared threshold/n-gram constants), so the whole
    explode -> per-doc count -> pivot mechanism is value-checked, not
    self-paired."""
    from .operators.textstats import gopher_repetition

    d = _read(spark, sf, "documents").select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    sev = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 4
    page = (
        F.when(m == 0, F.concat(
            F.lit("a"), i, F.lit(" b c\n"),
            F.lit("dup line "), sev, F.lit("\n"),
            F.lit("dup line "), sev, F.lit("\nz"), i))
        .when(m == 1, F.concat(
            F.lit("para one "), i, F.lit("\n\n"),
            F.lit("para one "), i, F.lit("\n\n"), F.lit("tail "), i))
        .when(m == 2, F.concat(F.lit("buy now " * 15), F.lit("end "), i))
        .otherwise(F.substring("text", 1, 120))
    )
    # raw-text keys so DuckDB groups on the same values; hash_keys=True is
    # the production default (8-byte shuffle keys, equivalence law-tested)
    return gopher_repetition(d.select("doc_id", page.alias("text")),
                             hash_keys=False)


def q_boilerplate_strip(spark, sf):
    """CCNet/C4-style line-level boilerplate removal (operators/cleaning.
    strip_boilerplate): pages are built from `documents` with three planted
    boilerplate lines (a nav bar + footer on every page, a cookie banner in
    20% of pages) around a unique content line; lines with document
    frequency > 5% must go. The oracle reproduces the SAME generic pipeline
    (line df -> anti join -> ordered reassembly) in SQL, so the Spark plan's
    broadcast-anti-join + posexplode regroup is value-checked end-to-end."""
    from .operators.cleaning import strip_boilerplate

    d = _read(spark, sf, "documents").select("doc_id", "text")
    pages = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("NAV home about contact"),
            F.substring("text", 1, 80),
            F.concat(F.lit("Cookie notice site "),
                     (F.col("doc_id") % 5).cast("string")),
            F.lit("COPYRIGHT footer"),
        ).alias("text"),
    )
    return strip_boilerplate(pages, max_df_frac=0.05).select(
        "doc_id", "clean_text", "n_kept", "n_dropped")


def q_span_dedup(spark, sf):
    """C4-style repeated-span removal (operators/cleaning.span_dedup): 25%
    of the constructed pages embed the same 3-line span between unique
    lines; every occurrence of a span that appears more than once must go
    (lead-window spans -> global frequency -> covered-position anti join).
    The oracle computes the GROUND-TRUTH survivor text arithmetically — by
    construction the planted span is the only repeated one — so the whole
    windowed-span mechanism is checked against an independent expectation."""
    from .operators.cleaning import span_dedup

    d = _read(spark, sf, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    planted = F.col("doc_id") % 4 == 1
    pages = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("u"), i, F.lit("a")),
            F.when(planted, F.lit("SPAN one"))
            .otherwise(F.concat(F.lit("v"), i, F.lit("b"))),
            F.when(planted, F.lit("SPAN two"))
            .otherwise(F.concat(F.lit("v"), i, F.lit("c"))),
            F.when(planted, F.lit("SPAN three"))
            .otherwise(F.concat(F.lit("v"), i, F.lit("d"))),
            F.concat(F.lit("w"), i, F.lit("e")),
        ).alias("text"),
    )
    return span_dedup(pages).select(
        "doc_id", "clean_text", "n_kept", "n_dropped")


def q_decontaminate(spark, sf):
    """Benchmark decontamination (cleaning.decontaminate): the heldout eval
    set is a 10-token slice (tokens 3..12) of every 10th document, so those
    source documents are contaminated BY CONSTRUCTION (plus any doc that
    coincidentally shares a 5-gram with a slice — the small synthetic vocab
    makes collisions real, and the oracle counts the same ones). Broadcast
    semi-join of the bounded eval shingle set; raw-text shingle keys here so
    DuckDB pairs the join exactly (xxhash64-key mode law-tested equal)."""
    from .operators.cleaning import decontaminate

    d = _read(spark, sf, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 10 == 3).select(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 3, 10))
        .alias("text"))
    return decontaminate(d, ev, n=5, hash_shingles=False)


def q_url_canonicalize(spark, sf):
    """URL canonicalization + URL-level dedup grouping (operators/cleaning.
    canonical_url_col / url_dedup_groups): four crawl variants of each
    resource (plain, uppercased host, default port + utm param, fragment +
    mixed params) must collapse onto the GROUND-TRUTH canonical the oracle
    computes directly from doc_id arithmetic — the regex normalization chain
    is checked against an independent expectation, not against itself."""
    from .operators.cleaning import url_dedup_groups

    d = _read(spark, sf, "documents").select("doc_id")
    k = (F.col("doc_id") % 50).cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("http://example.com/p/"), k))
        .when(m == 1, F.concat(F.lit("HTTP://EXAMPLE.COM/p/"), k))
        .when(m == 2, F.concat(F.lit("http://example.com:80/p/"), k,
                               F.lit("?utm_source=email")))
        .otherwise(F.concat(F.lit("http://example.com/p/"), k,
                            F.lit("?utm_campaign=x&ref=1#frag")))
    )
    return url_dedup_groups(d.select(url.alias("url")))


def q_lm_unigram_score(spark, sf):
    """CCNet-style LM quality bucketing (textstats.lm_unigram_score):
    per-doc cross-entropy under a corpus-fitted unigram model, integer-
    exact by construction (per-token cost = -floor(1e6*ln(count/total))
    computed once in the vocab table, bigint sums after), bucketed by the
    deployed-shape fixed thresholds. vocab_size=20 < the sf0.01 vocabulary
    (31 distinct tokens), so the OOV hapax-smoothing path BINDS here
    (guarded in test_contract_structure.py); the thresholds split sf0.01
    into three non-empty buckets."""
    from .operators.textstats import lm_unigram_score

    d = _read(spark, sf, "documents")
    return lm_unigram_score(d, vocab_size=20,
                            head_x1e6=5_400_000, tail_x1e6=5_800_000)


def q_redact_pii(spark, sf):
    """PII redaction (cleaning.redact_pii): pages plant one family each —
    an email (doc_id%4==0), a NANP phone (==1), an IPv4 literal beside a
    'v1.2.3' version-string decoy (==2), and clean text (==3). The oracle
    computes the GROUND-TRUTH redacted text arithmetically (no regex on the
    DuckDB side at all), so the whole Java-regex chain — including the
    decoy NOT being over-redacted — is checked against an independent
    expectation."""
    from .operators.cleaning import redact_pii

    d = _read(spark, sf, "documents").select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    d4 = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    page = (
        F.when(m == 0, F.concat(F.lit("contact user"), i,
                                F.lit("@example.com see "),
                                F.substring("text", 1, 40)))
        .when(m == 1, F.concat(F.lit("call (555) 123-"), d4, F.lit(" soon")))
        .when(m == 2, F.concat(F.lit("server 10.0."),
                               (F.col("doc_id") % 256).cast("string"),
                               F.lit("."),
                               (F.col("doc_id") % 100).cast("string"),
                               F.lit(" build v1.2.3 ok")))
        .otherwise(F.substring("text", 1, 80))
    )
    return redact_pii(d.select("doc_id", page.alias("text")))


def _domain_urls(spark, sf):
    """Shared fixture for the domain-operator entries: crawl-shaped URLs
    whose host and registered domain are pure doc_id arithmetic, so the
    oracle states the GROUND TRUTH directly instead of re-running the
    parsing. Hosts h{id%3}.dom{id%5}.(com|co.uk) exercise both the default
    last-2-label rule and the second-level public-suffix (co.uk) rule."""
    d = _read(spark, sf, "documents").select("doc_id")
    tld = F.when(F.col("doc_id") % 2 == 0, ".com").otherwise(".co.uk")
    url = F.concat(
        F.lit("http://h"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".dom"), (F.col("doc_id") % 5).cast("string"), tld,
        F.lit("/p/"), F.col("doc_id").cast("string"))
    return d.select("doc_id", url.alias("url"))


def q_domain_stats(spark, sf):
    """Per-registered-domain aggregation (cleaning.domain_stats): doc and
    distinct-host counts per registrable domain, with co.uk hosts folding
    to their last THREE labels (bbc.co.uk shape) and .com hosts to two.
    The oracle computes the registered domain arithmetically from doc_id —
    the whole host-parse + suffix-fold chain is checked against an
    independent expectation."""
    from .operators.cleaning import domain_stats

    return domain_stats(_domain_urls(spark, sf))


def q_domain_filter(spark, sf):
    """Domain blocklist filter (cleaning.domain_filter, tag mode): UT1/
    RefinedWeb-style suffix semantics over the arithmetic crawl URLs. The
    blocklist mixes a registered-domain entry (dom0.com — blocks all its
    hosts), a second-level-suffix entry (dom3.co.uk), and a HOST-level
    entry (h1.dom2.com — blocks only that subdomain), plus a decoy
    (om1.com) that must NOT catch dom1.com by mere string-suffix match."""
    from .operators.cleaning import domain_filter

    blocked = literal_df(
        spark,
        [("dom0.com",), ("dom3.co.uk",), ("h1.dom2.com",), ("om1.com",)],
        "domain string")
    return domain_filter(_domain_urls(spark, sf), blocked, mode="tag")


def q_domain_cap(spark, sf):
    """Deterministic per-domain cap (cleaning.domain_cap): keep the 7
    lowest doc_ids per registered domain — the keep-min-id convention of
    exact dedup, reproduced in the oracle as a row_number window over the
    arithmetic ground-truth domain."""
    from .operators.cleaning import domain_cap

    return domain_cap(_domain_urls(spark, sf), 7)


def q_sample_mix(spark, sf):
    """Deterministic corpus mixing (sampling.sample_mix): languages get
    {en: 1.5x up-sampled, de: 0.5, fr: 0.25, es: keep, zh: drop}. md5_60
    gate here so DuckDB reproduces the hash arithmetic bit-for-bit
    (production default is xxhash64; determinism + proportion convergence
    law-tested in tests/test_sampling.py)."""
    from .operators.sampling import sample_mix

    d = _read(spark, sf, "documents").select("doc_id", "lang")
    return sample_mix(
        d, {"en": 1.5, "de": 0.5, "fr": 0.25, "es": 1.0, "zh": 0.0},
        stratum_col="lang", hash_fn="md5_60")


def q_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing (sampling.pack_sequences): docs in
    doc_id order, whitespace token counts, seq_len=512, sharded by
    floor(doc_id/64) (monotone, so the global order is plain doc_id). The
    oracle computes the SAME layout with one global window cumsum — equality
    proves the two-phase (shard totals + driver prefix + per-shard window)
    decomposition exact."""
    from .operators.sampling import pack_sequences

    d = _read(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.floor(F.col("doc_id") / 64).alias("shard"),
    )
    return pack_sequences(d, 512, shard_col="shard").select(
        "doc_id", "n_tokens", "cum_before", "seq_id",
        F.col("seq_offset").cast("bigint").alias("seq_offset"),
        "seq_end_id", "n_seqs_spanned")


def q_exact_substr_dedup(spark, sf):
    """ExactSubstr dedup (cleaning.exact_substring_dedup, Lee et al.
    keep-first semantics): every fourth document gets a planted 10-token
    shared passage appended, so its three fully-inside k=8 windows repeat
    corpus-wide; the globally-first occurrence keeps them, every other
    copy loses the merged span. Raw window keys (byte-identical in SQL)."""
    from .operators.cleaning import exact_substring_dedup

    d = _read(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(" "),
                        F.lit(_PROMO))).otherwise(F.col("text"))
        .alias("text"))
    return exact_substring_dedup(d, k=8, hash_fn="raw")


_PROMO = " ".join(f"promo{i}" for i in range(10))


def q_materialize_seqs(spark, sf):
    """Packed-sequence materialization (sampling.materialize_sequences):
    whitespace tokens laid out at seq_len=256 in doc_id order; each output
    row is one training sequence, fingerprinted as md5 over the
    space-joined tokens so the oracle compares content without array-type
    hashing concerns. DuckDB rebuilds the layout from ONE global window
    cumsum + per-token global positions."""
    from .operators.sampling import materialize_sequences

    d = _read(spark, sf, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("tokens"),
        F.floor(F.col("doc_id") / 64).alias("shard"))
    seqs = materialize_sequences(d, 256, shard_col="shard")
    return seqs.select(
        "seq_id", "n_tokens",
        F.md5(F.concat_ws(" ", "tokens")).alias("seq_md5"))


def q_lm_bigram_score(spark, sf):
    """Stupid-backoff bigram LM score (textstats.fit_lm_bigram +
    lm_bigram_score): vocab 20 / top-64 bigrams refit on the table, first
    token at unigram cost, the rest at bigram cost with the published 0.4
    backoff penalty onto the unigram (OOV = hapax). Same 1e6 fixed-point
    ln convention as the CCNet entry; the oracle refits in SQL with the
    backoff constant generated from the module's BACKOFF_X1E6."""
    from .operators.textstats import fit_lm_bigram, lm_bigram_score

    d = _read(spark, sf, "documents")
    model = fit_lm_bigram(d, vocab_size=20, bigram_size=64)
    return lm_bigram_score(d, model)


def q_leakage_split(spark, sf):
    """Leakage-safe train/val/test split (sampling.leakage_safe_split):
    even doc_ids form synthetic 5-member clusters (component = doc_id
    rounded down to 10), odd ids are singletons; 80/10/10 weights over the
    md5_60 gate. The oracle re-derives the coalesced cluster key and the
    sorted-name ppm ranges (test < train < val) bit-for-bit."""
    from .operators.sampling import leakage_safe_split

    d = _read(spark, sf, "documents").select("doc_id")
    clusters = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("member"),
        (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(10)))
        .alias("component"))
    return leakage_safe_split(
        d, {"train": 0.8, "val": 0.1, "test": 0.1},
        clusters=clusters, hash_fn="md5_60")


def q_bloom_seen(spark, sf):
    """Incremental crawl dedup (dedup.bloom_index_positions + seen_before):
    history = every third document, new batch = the rest; m=4096 bits, k=4
    probes over the md5 content digest — the md5_60 probe family is
    bit-identical in DuckDB, so hits/false-positives reproduce exactly."""
    from .operators.dedup import bloom_index_positions, seen_before

    d = _read(spark, sf, "documents").select("doc_id", "text")
    hist = d.filter(F.col("doc_id") % 3 == 0)
    new = d.filter(F.col("doc_id") % 3 != 0)
    idx = bloom_index_positions(hist, m_bits=4096, k=4, hash_fn="md5_60")
    return seen_before(new, idx, m_bits=4096, k=4, hash_fn="md5_60")


def q_dsir_scores(spark, sf):
    """DSIR importance scores (sampling.fit_dsir + dsir_scores): target =
    the English documents, raw = the whole table, 1024 md5_60 hashed
    unigram+bigram buckets, weights in the 1e6 fixed-point ln convention
    (same as the CCNet LM costs — both engines do the ln in IEEE double on
    identical integer inputs, everything downstream is bigint). The oracle
    refits the same model in SQL."""
    from .operators.sampling import dsir_scores, fit_dsir

    d = _read(spark, sf, "documents").select("doc_id", "text", "lang")
    weights, w0 = fit_dsir(d.filter(F.col("lang") == "en"), d,
                           n_buckets=1024, hash_fn="md5_60")
    return dsir_scores(d, weights, w0, n_buckets=1024, hash_fn="md5_60")


def q_lang_id(spark, sf):
    """Language-ID heuristic (operators/textstats.lang_id)."""
    from .operators.textstats import lang_id

    return lang_id(_read(spark, sf, "documents"))


def q_quality_score(spark, sf):
    """Quality scoring (operators/textstats.quality_scores)."""
    from .operators.textstats import quality_scores

    return quality_scores(_read(spark, sf, "documents"))


def q_token_count(spark, sf):
    """Token counting (operators/textstats.token_counts)."""
    from .operators.textstats import token_counts

    return token_counts(_read(spark, sf, "documents"))


def q_fingerprint(spark, sf):
    """Document fingerprint (operators/textstats.fingerprints)."""
    from .operators.textstats import fingerprints

    return fingerprints(_read(spark, sf, "documents"))


_BM25_QUERY = "fast hash join spark merge"
_BM25_K = 15
_BM25_K1 = 1.2
_BM25_B = 0.75
_RRF_K0 = 60
_RRF_POOL = 50
_RRF_K = 10


def q_bm25_topk(spark, sf):
    """Okapi BM25 lexical retrieval (plans/query.bm25_topk — the Q13
    relevance upgrade): per-(doc,term) contributions floored to int64 at 1e6
    resolution before the per-doc sum (exact, order-free aggregate), oracle-
    paired against the same formula in DuckDB from shared constants."""
    from .plans.query import bm25_topk

    return bm25_topk(_read(spark, sf, "documents"), _BM25_QUERY,
                     k=_BM25_K, k1=_BM25_K1, b=_BM25_B)


_SNIPPET_WINDOW = 25
_QUANTILES_X100 = (50, 90, 99)
_KEYWORDS_K = 5
_SESSION_GAP_SEC = 900
_RETENTION_PERIOD_DAYS = 2
_FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def q_event_funnel(spark, sf):
    """Ordered funnel conversion (operators/events.funnel): first-occurrence
    anchors, strictly-after chaining, one user-keyed shuffle per step."""
    from .operators.events import funnel

    return funnel(_read(spark, sf, "events"), list(_FUNNEL_STEPS))


def q_retention_cohorts(spark, sf):
    """Cohort retention triangle (operators/events.retention_cohorts) over
    the events table; 2-day periods so the fixture's time span yields a
    multi-row triangle. All-int64, oracle-paired."""
    from .operators.events import retention_cohorts

    return retention_cohorts(_read(spark, sf, "events"),
                             period_days=_RETENTION_PERIOD_DAYS)


def q_sessionize(spark, sf):
    """Gap-based sessionization of the events table
    (operators/events.sessionize): microsecond-exact int64 windows,
    oracle-paired bit-for-bit."""
    from .operators.events import sessionize

    return sessionize(_read(spark, sf, "events"),
                      gap_sec=_SESSION_GAP_SEC)


def q_topk_keywords(spark, sf):
    """Per-doc TF-IDF keyword extraction (operators/textstats.topk_keywords)
    — fixed-point scores floored before ranking, oracle-paired."""
    from .operators.textstats import topk_keywords

    return topk_keywords(_read(spark, sf, "documents"), k=_KEYWORDS_K)


def q_corpus_quantiles(spark, sf):
    """Corpus profiling (operators/textstats.exact_quantiles): exact
    discrete quantiles of per-doc token/char counts — the threshold-tuning
    read every corpus-specific filter config comes from."""
    from .operators.textstats import exact_quantiles, token_counts

    d = _read(spark, sf, "documents")
    m = token_counts(d).join(d.select("doc_id", "n_chars"), "doc_id")
    return exact_quantiles(
        m, cols=("ws_tokens", "bpe_ish_tokens", "n_chars"),
        qs_x100=_QUANTILES_X100)


def q_best_snippet(spark, sf):
    """Snippet/highlight extraction (plans/query.best_snippet): the best
    query-term window per document, all-integer argmax inside codegen'd
    array expressions — zero shuffle, oracle-paired exactly."""
    from .plans.query import best_snippet

    return best_snippet(_read(spark, sf, "documents"), _BM25_QUERY,
                        window=_SNIPPET_WINDOW)


def q_hybrid_rrf_topk(spark, sf):
    """Hybrid retrieval: reciprocal-rank fusion (plans/query.rrf_fuse) of
    the BM25 lexical top-50 and the exact-cosine vector top-50 (the
    topk_cosine derivation, vec_id 0 as the query; vec_id aligns with
    doc_id in the fixture). Integer contributions 1e6 div (k0+rank), so
    the fused scores oracle-pair exactly."""
    from .plans.query import bm25_topk, rrf_fuse

    d = _read(spark, sf, "documents")
    lex = bm25_topk(d, _BM25_QUERY, k=_RRF_POOL, k1=_BM25_K1, b=_BM25_B)
    wl = Window.orderBy(F.desc("score_x1e6"), F.asc("doc_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("rank"))

    e = _read(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        cosine_col(F.col("embedding"), F.col("qvec")).alias("score"))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(_RRF_POOL)
    wv = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    vecr = top.select("doc_id", F.row_number().over(wv).alias("rank"))

    return rrf_fuse([lexr, vecr], k0=_RRF_K0, k=_RRF_K, id_col="doc_id")


# --------------------------------------------------------------------------- #
# KG-analog extraction ops over `documents` (oracle-checkable E1/E2/E11/L2/Q18)
# --------------------------------------------------------------------------- #

def _mentions(spark, sf):
    d = _read(spark, sf, "documents")
    gaz = literal_array(GAZ_TERMS, "string")
    return (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .filter(F.array_contains(gaz, F.col("token")))
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count("*").alias("cnt"))
    )


def q_kg_mentions(spark, sf):
    """E1/E11 mention detection + Contains counts (utilities/common.py:99-198):
    token-exact gazetteer matching, counts per (doc, term)."""
    return _mentions(spark, sf)


def q_kg_cooccurrence(spark, sf):
    """E2-analog schema-guided triples: gazetteer terms co-occurring in a doc
    -> (head, 'cooccurs_with', tail) with support = # docs. Inverted-index
    self-join on doc_id (bounded by |gazetteer| per doc)."""
    m = _mentions(spark, sf).select("doc_id", "term")
    a = m.select("doc_id", F.col("term").alias("head"))
    b = m.select("doc_id", F.col("term").alias("tail"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("head") < F.col("tail"))
        .groupBy("head", "tail")
        .agg(F.count("*").alias("support"))
        .withColumn("relation", F.lit("cooccurs_with"))
        .select("head", "relation", "tail", "support")
    )


def _nearest_partner_edges(spark, sf):
    """Sparse multi-component graph shared by the CC and k-hop entries (and
    replayed by both oracles): each term's single nearest co-occurrence
    partner by (support, name) — the full cooc graph is near-complete and
    would make both entries degenerate."""
    t = q_kg_cooccurrence(spark, sf)
    sym = t.select(F.col("head").alias("a"), F.col("tail").alias("b"),
                   "support").union(
        t.select(F.col("tail").alias("a"), F.col("head").alias("b"),
                 "support"))
    w = Window.partitionBy("a").orderBy("support", "b")
    return (sym.withColumn("rk", F.row_number().over(w))
            .filter("rk = 1")
            .select(F.col("a").alias("src"), F.col("b").alias("dst")))


def q_kg_connected_components(spark, sf):
    """The north rule's connected-components dedup (iterative DataFrame
    joins, linking.connected_components) oracle-paired: CC over each term's
    single nearest co-occurrence partner (a sparse multi-component functional
    graph — the full cooc graph is complete and would collapse to one
    component). The DuckDB oracle computes the same min-label components via
    a recursive-CTE transitive closure, so the distributed label-propagation
    loop is value-checked end-to-end, not just law-tested in pytest."""
    from .operators.linking import connected_components

    return connected_components(
        _nearest_partner_edges(spark, sf)).select("member", "component")


_PAGERANK_ITERS = 5
_PAGERANK_DAMPING = 85  # percent
_PAGERANK_SCALE = 10**12
# The full sf0.01 cooc graph is COMPLETE (12 nodes, all pairwise) — on it
# PageRank is uniform and every neighborhood fully clustered, which would
# make those entries vacuous (caught by test_contract_structure). The
# support-thresholded subgraph has degree spread 2..11 with partial
# clustering, so ranks/counts discriminate a broken loop.
_COOC_MIN_SUPPORT = 318


def q_kg_pagerank(spark, sf):
    """Entity-salience PageRank over the support-thresholded co-occurrence
    graph (the iterative-DataFrame-join analogue of kg_connected_components,
    linking.pagerank): integer-exact arithmetic makes the distributed loop
    value-checkable against a DuckDB oracle with the iterations unrolled as
    chained CTEs generated from the same constants."""
    from .operators.linking import pagerank

    t = q_kg_cooccurrence(spark, sf).filter(
        F.col("support") >= _COOC_MIN_SUPPORT)
    return pagerank(
        t.select(F.col("head").alias("src"), F.col("tail").alias("dst")),
        n_iter=_PAGERANK_ITERS, damping_pct=_PAGERANK_DAMPING,
        scale=_PAGERANK_SCALE)


def q_kg_pagerank_weighted(spark, sf):
    """Support-weighted PageRank over the FULL co-occurrence graph: the
    topology is complete (uniform unweighted ranks — see _COOC_MIN_SUPPORT),
    so every rank difference here is produced by the weight splitting alone,
    making this the discriminating test of the weighted mass division."""
    from .operators.linking import pagerank

    t = q_kg_cooccurrence(spark, sf)
    return pagerank(
        t.select(F.col("head").alias("src"), F.col("tail").alias("dst"),
                 "support"),
        n_iter=_PAGERANK_ITERS, damping_pct=_PAGERANK_DAMPING,
        scale=_PAGERANK_SCALE, weight_col="support")


def q_cluster_eval(spark, sf):
    """Pairwise P/R/F1 of the fuzzy near-dup clustering against exact-md5
    duplicate truth (dedup.clustering_metrics): C(n,2) over group sizes,
    never a pair table; items outside any near-dup cluster count as
    singletons labeled by themselves."""
    from .operators.dedup import clustering_metrics

    d = _read(spark, sf, "documents")
    nc = q_neardup_clusters(spark, sf)
    th = d.select("doc_id", F.md5("text").alias("_h"))
    tlab = th.groupBy("_h").agg(F.min("doc_id").alias("_t"))
    assign = (
        th.join(tlab, "_h")
        .join(nc, th["doc_id"] == nc["member"], "left")
        .select(F.col("doc_id").alias("id"),
                F.coalesce("component", "doc_id").alias("pred"),
                F.col("_t").alias("truth"))
    )
    return clustering_metrics(assign, pred_col="pred", truth_col="truth",
                              id_col="id")


def q_kg_triangles(spark, sf):
    """Per-node triangle count + local clustering coefficient over the
    co-occurrence graph (linking.triangle_counts: degree-ordered orientation
    + wedge join + closing semi-join). Pure integer arithmetic -> the DuckDB
    oracle replays the identical orientation and (2e6*T) // (deg*(deg-1))."""
    from .operators.linking import triangle_counts

    t = q_kg_cooccurrence(spark, sf).filter(
        F.col("support") >= _COOC_MIN_SUPPORT)
    return triangle_counts(
        t.select(F.col("head").alias("src"), F.col("tail").alias("dst")))


_KHOP_SEEDS = ["spark"]
_KHOP_MAX = 2


def q_kg_khop(spark, sf):
    """K-hop BFS expansion around a seed entity (plans/query.khop_distances:
    level-synchronous frontier joins) — oracle-paired against a depth-bounded
    recursive CTE taking min(dist)."""
    from .plans.query import khop_distances

    return khop_distances(_nearest_partner_edges(spark, sf),
                          _KHOP_SEEDS, max_hops=_KHOP_MAX)


# graph_diff fixture: two thresholded cooc graphs over disjoint doc windows
# — chosen (probed in DuckDB) so the diff exercises added AND removed AND
# changed on both nodes and edges (window, window_end, min_support)
_DIFF_OLD = (0, 8, 6)
_DIFF_NEW = (8, 16, 7)


def q_kg_graph_diff(spark, sf):
    """Versioned-graph changelog (plans/admin.graph_diff -> table_diff): one
    full-outer key join + null-safe column comparison per table, emitting
    only the delta (added/removed/changed). The audit companion of
    pipeline.update_graph_incremental's committed versions."""
    from .plans.admin import graph_diff

    m = _mentions(spark, sf)

    def side(lo, hi, minsup):
        mm = m.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        a = mm.select("doc_id", F.col("term").alias("head"))
        b = mm.select("doc_id", F.col("term").alias("tail"))
        e = (a.join(b, "doc_id").filter(F.col("head") < F.col("tail"))
             .groupBy("head", "tail").agg(F.count("*").alias("support"))
             .filter(F.col("support") >= minsup))
        ends = e.select(F.col("head").alias("name"), "support").union(
            e.select(F.col("tail").alias("name"), "support"))
        nd = ends.groupBy("name").agg(
            F.count("*").alias("degree"),
            F.sum("support").alias("support_sum"))
        return nd, e

    on, oe = side(*_DIFF_OLD)
    nn, ne = side(*_DIFF_NEW)
    return graph_diff(on, nn, oe, ne,
                      node_keys=["name"], edge_keys=["head", "tail"])


def q_kg_node_degree(spark, sf):
    """L2-analog node table over the co-occurrence graph: degree + support."""
    t = q_kg_cooccurrence(spark, sf)
    ends = t.select(F.col("head").alias("name"), "support").union(
        t.select(F.col("tail").alias("name"), "support"))
    return ends.groupBy("name").agg(
        F.count("*").alias("degree"),
        F.sum("support").alias("support_sum"),
    )


def q_compress_triples(spark, sf):
    """Q18 triple compression (utilities/common.py:52-96): group (head,
    relation) -> sorted comma-joined distinct tails."""
    t = q_kg_cooccurrence(spark, sf)
    return t.groupBy("head", "relation").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("tail"))).alias("tails"),
        F.count("*").alias("n_tails"),
    )


def _cooc_edges(spark, sf):
    """Co-occurrence triples shaped as an edges table (for E10/V2/Q9 entries)."""
    t = q_kg_cooccurrence(spark, sf)
    return t.select(
        F.concat_ws("|", "head", "relation", "tail").alias("edge_id"),
        "head", F.lit("term").alias("head_type"),
        F.col("relation").alias("rel_type"),
        "tail", F.lit("term").alias("tail_type"),
    )


def q_kg_verbalize(spark, sf):
    """E10 triple verbalization (services/crud/triple.py:179-262) through the
    real Arrow-batched verbalizer, oracle-checked: with single-token terms and
    relation 'cooccurs_with' the exact output is
    '<head> which is a term cooccurs with <tail>, a term'."""
    from .functions.embeddings import verbalize_edges

    return verbalize_edges(_cooc_edges(spark, sf)).select(
        "head", "tail", "verbalized")


def _hashed_query_vector(query: str, dim: int = 1024):
    """Driver-side sparse (bucket, value) vector for a constant query string
    under the md5_60 hashing-trick family — the same arithmetic the Spark
    Column expressions and the DuckDB oracle apply to edge texts, computed
    once here and embedded as literals in BOTH (shared constants, like
    minhash_params)."""
    import hashlib
    import re as _re

    qv: dict[int, int] = {}
    for tok in _re.findall(r"[a-z0-9]+", query.lower()):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        qv[h % dim] = qv.get(h % dim, 0) + (1 if (h >> 59) & 1 else -1)
    qv = {b: v for b, v in qv.items() if v}
    nq = sum(v * v for v in qv.values())
    return sorted(qv.items()), nq


_TOPK_QUERY = "spark which is a term cooccurs with join, a term"
_TOPK_DIM = 1024


def q_kg_triple_topk_hashed(spark, sf):
    """Q9 triple vector top-k, VALUE-VERIFIED end-to-end: verbalized cooc
    edges embedded with the md5_60 hashing-trick family as sparse INTEGER
    bucket counts (pure Column ops — token -> bucket = md5_60 % dim, sign =
    bit 59), cosine from exact integer dot/norms so the double arithmetic
    (one multiply, one sqrt, one divide over exact ints) is IEEE-identical
    in DuckDB, top-10 with deterministic tie-break. The float V2 embedder
    path stays covered by kg_triple_topk (rows-only) and the embedder
    determinism tests."""
    qv, nq = _hashed_query_vector(_TOPK_QUERY, _TOPK_DIM)
    t = q_kg_cooccurrence(spark, sf)
    verb = t.select(
        "head", "tail",
        F.concat(F.col("head"), F.lit(" which is a term cooccurs with "),
                 F.col("tail"), F.lit(", a term")).alias("text"))
    tok = verb.select(
        "head", "tail",
        F.explode(F.expr(
            "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("tok"))
    h = hash64("tok", "md5_60")
    kv = tok.select(
        "head", "tail", F.pmod(h, F.lit(_TOPK_DIM)).alias("bucket"),
        F.when(F.shiftright(h, 59).bitwiseAND(F.lit(1)) == 1,
               F.lit(1)).otherwise(F.lit(-1)).alias("s"))
    vec = kv.groupBy("head", "tail", "bucket").agg(F.sum("s").alias("v"))
    na = vec.groupBy("head", "tail").agg(F.sum(F.col("v") * F.col("v")).alias("na"))
    q_df = F.broadcast(literal_df(spark, qv, "bucket int, qv int"))
    dot = (vec.join(q_df, "bucket")
           .groupBy("head", "tail")
           .agg(F.sum(F.col("v") * F.col("qv")).alias("dot")))
    scored = dot.join(na, ["head", "tail"]).withColumn(
        "score",
        F.col("dot").cast("double")
        / F.sqrt((F.col("na") * F.lit(nq)).cast("double")))
    return (scored.orderBy(F.desc("score"), F.asc("head"), F.asc("tail"))
            .limit(10).select("head", "tail"))


def q_kg_query_text_hashed(spark, sf):
    """Entry C TEXT path value-verified stage by stage through the REAL plan
    operators: Q11 structured_filter (broadcast OR-semi-join) -> hashed-
    embedding cosine top-8 over the verbalized survivors (md5_60 integer
    buckets, IEEE-identical scoring — same family as kg_triple_topk_hashed)
    -> Q13 relevance_filter (the real token-overlap operator) -> Q12
    hydrate_triples. The float-embedder + ANN-index variant of this path
    stays covered by kg_query_text (rows-only) and the recall tests."""
    from .plans.query import hydrate_triples, relevance_filter, structured_filter

    qv, nq = _hashed_query_vector(_TOPK_QUERY, _TOPK_DIM)
    nodes, edges = _cooc_graph(spark, sf)
    filtered = structured_filter(
        nodes, edges, entities=["term"],
        values=["spark", "join", "sort", "vector", "hash", "window"],
        relations=["cooccurs_with"])
    verb = filtered.withColumn(
        "verbalized",
        F.concat(F.col("head"), F.lit(" which is a term cooccurs with "),
                 F.col("tail"), F.lit(", a term")))
    tok = verb.select(
        "edge_id",
        F.explode(F.expr(
            "regexp_extract_all(lower(verbalized), '[a-z0-9]+', 0)"))
        .alias("tok"))
    h = hash64("tok", "md5_60")
    kv = tok.select(
        "edge_id", F.pmod(h, F.lit(_TOPK_DIM)).alias("bucket"),
        F.when(F.shiftright(h, 59).bitwiseAND(F.lit(1)) == 1,
               F.lit(1)).otherwise(F.lit(-1)).alias("s"))
    vec = kv.groupBy("edge_id", "bucket").agg(F.sum("s").alias("v"))
    na = vec.groupBy("edge_id").agg(F.sum(F.col("v") * F.col("v")).alias("na"))
    q_df = F.broadcast(literal_df(spark, qv, "bucket int, qv int"))
    dot = (vec.join(q_df, "bucket")
           .groupBy("edge_id").agg(F.sum(F.col("v") * F.col("qv")).alias("dot")))
    scored = (verb.join(dot, "edge_id").join(na, "edge_id")
              .withColumn("score",
                          F.col("dot").cast("double")
                          / F.sqrt((F.col("na") * F.lit(nq)).cast("double"))))
    top = (scored.orderBy(F.desc("score"), F.asc("head"), F.asc("tail"))
           .limit(8))
    relevant = relevance_filter(top, _TOPK_QUERY)
    return hydrate_triples(relevant, nodes).select(
        F.col("head_node.name").alias("head"),
        F.col("relation.name").alias("relation"),
        F.col("tail_node.name").alias("tail"),
    )


# --------------------------------------------------------------------------- #
# Rows-only entries (non-SQL-expressible: pipeline over synthetic pages, LSH)
# --------------------------------------------------------------------------- #

def q_kg_triple_topk(spark, sf):  # rows-only
    """V2 + Q9: embed co-occurrence edges at 1024-d, brute-force cosine top-10
    for a fixed query (exact; determinism asserted by the embedder tests)."""
    from .functions.embeddings import embed_edges
    from .plans.query import similarity_search

    emb = embed_edges(_cooc_edges(spark, sf))
    return similarity_search(
        emb, "spark which is a term cooccurs with join, a term", k=10
    ).select("head", "tail")


def _cooc_graph(spark, sf):
    """(nodes, edges) in the engine's table shapes over the token-exact
    co-occurrence graph — the SQL-reproducible stand-in graph the Entry C
    contract entries run the REAL plan operators against."""
    t = q_kg_cooccurrence(spark, sf)
    empty_props = F.from_json(F.lit("{}"), "map<string,array<string>>")
    empty_chunks = F.array().cast("array<string>")
    names = (t.select(F.col("head").alias("name"))
             .union(t.select(F.col("tail").alias("name"))).distinct())
    nodes = names.select(
        F.xxhash64("name").alias("node_id"), "name",
        F.lit("term").alias("type"),
        empty_props.alias("properties"), empty_chunks.alias("chunks"))
    edges = t.select(
        F.xxhash64("head", "relation", "tail").alias("edge_id"),
        F.xxhash64("head").alias("head_id"),
        F.xxhash64("tail").alias("tail_id"),
        "head", F.col("relation").alias("rel_type"), "tail",
        empty_props.alias("properties"), empty_chunks.alias("chunks"))
    return nodes, edges


def q_kg_query_structured(spark, sf):
    """Entry C structured query through the REAL plan operators (Q11
    structured_filter: broadcast OR-semi-join prefilter; Q12 hydrate_triples:
    nested head/relation/tail structs) — oracle-paired (VERDICT r2 #7): the
    graph is the token-exact co-occurrence graph over `documents`, so DuckDB
    reproduces the whole query as CTE + IN filters. The same operators over
    the full synthetic-crawl pipeline stay covered by kg_query_text (rows-
    only) and tests/test_query_plan.py."""
    from .plans.query import hydrate_triples, structured_filter

    nodes, edges = _cooc_graph(spark, sf)
    filtered = structured_filter(nodes, edges, entities=["term"],
                                 values=["spark", "customer"],
                                 relations=["cooccurs_with"])
    return hydrate_triples(filtered, nodes).select(
        F.col("head_node.name").alias("head"),
        F.col("relation.name").alias("relation"),
        F.col("tail_node.name").alias("tail"),
    )

def q_kg_chapters(spark, sf):
    """C5 chapter aggregator (utilities/processors.py:279-338) over a
    deterministic 'book' derived from documents: 3 books (doc_id mod 3),
    every 10th doc contributes a 'CHAPTER c<k>' header line, other docs are
    content lines. The operator is the running-window header propagation in
    operators/chunking.aggregate_chapters; DuckDB reproduces it with
    last_value(... ignore nulls)."""
    from .operators.chunking import aggregate_chapters

    d = _read(spark, sf, "documents")
    lines = d.select(
        (F.col("doc_id") % 3).alias("book_id"),
        F.col("doc_id").alias("line_no"),
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.lit("CHAPTER c"),
                        (F.col("doc_id") / 10).cast("long").cast("string")))
        .otherwise(F.col("text")).alias("line"),
    )
    return aggregate_chapters(lines).select(
        "book_id", "chapter",
        F.concat_ws("\n", "lines").alias("lines_joined"),
        "n_lines", "first_line_no",
    )


def q_kg_query_text(spark, sf):  # rows-only
    """Entry C TEXT query end-to-end through the ANN planner (VERDICT r2 #1):
    build the graph, embed edges (V2), build the precomputed LSH index
    (plans/query.EdgeAnnIndex), and run query_graph with ann_exact_max_rows=0
    so the indexed path — probe keys computed driver-side, bounded candidate
    set, exact scoring of candidates only — is what executes. Deterministic:
    seeded planes, id-ordered candidate cap, exact final scoring."""
    from .functions.embeddings import embed_edges
    from .pipeline import build_graph
    from .plans.query import EdgeAnnIndex, QueryParameters, query_graph
    from .sources.pages import synthetic_pages

    out = build_graph(spark, synthetic_pages(spark, 200, seed=42), fuzzy=False)
    emb = embed_edges(out["edges"]).localCheckpoint(eager=False)
    idx = EdgeAnnIndex.build(emb, n_planes=4, n_tables=24)
    res = query_graph(
        out["nodes"], out["edges"],
        QueryParameters(content="who runs Globex?", relations=["runs"],
                        limit=16),
        edges_embedded=emb, ann_index=idx, ann_exact_max_rows=0)
    return res["triples"].select(
        F.col("head_node.name").alias("head"),
        F.col("relation.name").alias("relation"),
        F.col("tail_node.name").alias("tail"),
    )


def _pipeline_pages(spark, sf):
    """Deterministic Common-Crawl-shaped pages table (BASELINE.json
    input_hint columns) derived from `documents.doc_id` by pure column
    arithmetic, so DuckDB can regenerate the exact same corpus and the
    FLAGSHIP pipeline entries below become oracle-paired (VERDICT r3 #2).

    Per doc d (lang 'de', filtered, when d%11==0):
      s1:            "Alice{d%7} runs Corp{d%5}."
      s2 (d%3==0):   "Alice{(d+1)%7} runs Megacorp."      <- hot entity
      s3 (d%4==0):   "Alice{(d+2)%7} runs Corpex{d%5}."   <- L1 alias rewrite
      s4 (d%5==0):   "Corp{d%5} is located in City{d%3}."
    wrapped in real HTML with text=NULL, so html_to_text, the chunker, the
    sentence splitter, the gazetteer regex and the trigger matcher all
    actually run (the page is < 1024 chars -> exactly one chunk, id url:0)."""
    d = _read(spark, sf, "documents").select("doc_id")
    a = (F.col("doc_id") % 7).cast("string")
    a2 = ((F.col("doc_id") + 1) % 7).cast("string")
    a3 = ((F.col("doc_id") + 2) % 7).cast("string")
    c = (F.col("doc_id") % 5).cast("string")
    city = (F.col("doc_id") % 3).cast("string")
    body = F.concat(
        F.lit("Alice"), a, F.lit(" runs Corp"), c, F.lit("."),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" Alice"), a2, F.lit(" runs Megacorp.")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit(" Alice"), a3, F.lit(" runs Corpex"), c,
                        F.lit(".")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" Corp"), c, F.lit(" is located in City"),
                        city, F.lit(".")))
        .otherwise(F.lit("")),
    )
    html = F.concat(F.lit("<html><body><p>"), body,
                    F.lit("</p></body></html>"))
    return d.select(
        F.concat(F.lit("https://p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2025-06-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("de"))
        .otherwise(F.lit("en")).alias("lang"),
    )


def _pipeline_schema():
    """Schema + gazetteer + L1 rules matching _pipeline_pages' surfaces."""
    from .schema_model import (
        KGSchema, MergeNodesRule, SchemaEntity, SchemaPattern, SchemaRelation,
    )

    schema = KGSchema(
        entities=[SchemaEntity("person"), SchemaEntity("company"),
                  SchemaEntity("city")],
        relations=[SchemaRelation("runs"), SchemaRelation("located in")],
        patterns=[
            SchemaPattern("person", "runs", "company", triggers=("runs",)),
            SchemaPattern("company", "located in", "city",
                          triggers=("located in",)),
        ],
    )
    gaz: dict[str, tuple[str, str]] = {}
    for j in range(7):
        gaz[f"alice{j}"] = (f"Alice{j}", "person")
    for k in range(5):
        gaz[f"corp{k}"] = (f"Corp{k}", "company")
        gaz[f"corpex{k}"] = (f"Corpex{k}", "company")
    gaz["megacorp"] = ("Megacorp", "company")
    for m in range(3):
        gaz[f"city{m}"] = (f"City{m}", "city")
    rules = [MergeNodesRule((f"Corpex{k}",), f"Corp{k}", "company")
             for k in range(5)]
    return schema, gaz, rules


def _pipeline_graph(spark, sf):
    from .pipeline import build_graph

    schema, gaz, rules = _pipeline_schema()
    return build_graph(spark, _pipeline_pages(spark, sf), schema=schema,
                       gazetteer=gaz, rules=rules, fuzzy=False)


def q_kg_pipeline_nodes(spark, sf):
    """Flagship KG construction — nodes output, ORACLE-PAIRED: the REAL
    pipeline (html_to_text -> chunking -> sentence split -> gazetteer regex
    -> schema-guided pattern triples -> L1 broadcast alias rewrite -> L2
    fused salted node aggregation) runs over the deterministic pages table
    of _pipeline_pages, and DuckDB independently reconstructs the expected
    node table from the same doc_id arithmetic + the L2 merge laws
    (set-union chunks, endpoint mention_count, distinct chunk_count)."""
    out = _pipeline_graph(spark, sf)
    # chunks is array_sort'ed by the merge law, so the joined string is
    # deterministic; the driver's pandas canonicalizer cannot hash lists.
    return out["nodes"].select(
        "name", "type", F.concat_ws(",", "chunks").alias("chunks"),
        "mention_count", "chunk_count")


def q_kg_pipeline_edges(spark, sf):
    """Flagship KG construction — edges output, ORACLE-PAIRED (see
    q_kg_pipeline_nodes): DuckDB reconstructs the L4 chunk law
    chunks = sort(distinct(intersect(head.chunks, tail.chunks) ∪ own))
    with node-chunk joins over the arithmetic triple table."""
    out = _pipeline_graph(spark, sf)
    return out["edges"].select(
        "head", "rel_type", "tail",
        F.concat_ws(",", "chunks").alias("chunks"))


def q_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup candidates (scale path for q_dedup_ngram_jaccard)
    — ORACLE-PAIRED via the md5_60 hash family and string band keys: the
    universal-hash minhash (64 mins over (a_i*h+b_i) mod 2^31-1), the
    banding, the bucket pairing AND the collapse expansion are all
    value-checked against DuckDB (the production default stays
    xxhash64/hashed band keys — only the hash family differs). Recall vs
    exact Jaccard is additionally asserted in tests/test_dedup.py."""
    from .operators.dedup import minhash_lsh_candidates

    d = _read(spark, sf, "documents")
    # collapse_exact="auto": collapse only when the duplicate-rate probe
    # says it can bind (verbatim copies otherwise inflate band buckets
    # k^2-fold — see BENCH_sf16 / dedup.py). CAP-SEMANTICS NOTE (ADVICE r3):
    # when the collapse IS active, max_bucket counts REPRESENTATIVES while
    # this oracle models raw copies, so on duplicated corpora the collapsed
    # path may legitimately emit a superset of the oracle at the cap
    # boundary; on the duplicate-free SF data the probe skips the collapse
    # and the pairing is exact (tests/test_dedup.py asserts the duplicated-
    # fixture superset relation).
    return minhash_lsh_candidates(d, collapse_exact="auto",
                                  hash_fn="md5_60", band_key="concat")


def q_simhash(spark, sf):
    """SimHash signatures + hamming-blocking bands — ORACLE-PAIRED via the
    md5_60 hash family: the top 60 bits of standard MD5 are bit-identical
    between Spark and DuckDB, so signature, band ids and band keys are
    value-checked end-to-end (the production default stays xxhash64 — same
    plan, faster hash; only the hash family differs)."""
    from .operators.dedup import simhash_buckets

    d = _read(spark, sf, "documents")
    return simhash_buckets(d, band_bits=15, bits=60, hash_fn="md5_60")


def q_ann_lsh_topk(spark, sf):  # rows-only
    """LSH-bucketed approximate top-k (scale path for q_topk_cosine)."""
    from .operators.similarity import ann_lsh_topk

    e = _read(spark, sf, "embeddings")
    q = e.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "embedding")
    return ann_lsh_topk(e.filter("vec_id <> 0"), q, k=20).select("qid", "vec_id")


def q_ann_ivf_topk(spark, sf):  # rows-only
    """IVF coarse-cell approximate top-k (second ANN scale path; recall vs
    brute force asserted in tests/test_similarity.py). n_probe=12/16 cells
    is the retuned default (VERDICT r3 #6): the synthetic embeddings are
    near-uniform on the sphere — the WORST case for coarse quantization, so
    recall@10 >= 0.9 at sf0.1 needs probing ~3/4 of the cells (measured
    0.925 by tools/ann_recall.py; clustered real corpora need far fewer —
    the Lloyd-refined centroids then align cells with clusters)."""
    from .operators.similarity import ann_ivf_topk

    e = _read(spark, sf, "embeddings")
    q = e.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "embedding")
    return ann_ivf_topk(e.filter("vec_id <> 0"), q, k=20,
                        n_cells=16, n_probe=12).select("qid", "vec_id")


def q_ann_lsh_candidates_hashed(spark, sf):
    """ANN LSH CANDIDATE stage, oracle-paired (VERDICT r4 #4): the
    integer-hyperplane twin bucketer (similarity.lsh_bucket_keys_int —
    md5-derived int planes over quantized vectors, bit-for-bit SQL-
    reproducible) feeds the same candidate mechanism EdgeAnnIndex uses:
    bucket-membership join against the query's keys, candidates RANKED BY
    COLLISION COUNT with an id tie-break, capped at 64. The float
    re-scoring stays rows-only in ann_lsh_topk; this entry value-checks
    membership + ranking + cap."""
    from .operators.similarity import lsh_bucket_keys_int

    e = _read(spark, sf, "embeddings")
    # bucket once over the whole table (the 2048-literal fold plan is
    # planning-heavy — build it a single time), split below the checkpoint
    allb = lsh_bucket_keys_int(e).localCheckpoint(eager=False)
    vb = allb.filter("vec_id <> 0")
    qb = allb.filter("vec_id = 0").select("table_id", "bucket")
    cand = (vb.join(F.broadcast(qb), ["table_id", "bucket"])
            .groupBy("vec_id").agg(F.count("*").alias("n_collisions")))
    return (cand.orderBy(F.desc("n_collisions"), F.asc("vec_id"))
            .limit(64))


def q_ann_ivf_candidates_hashed(spark, sf):
    """ANN IVF CANDIDATE stage, oracle-paired: integer-centroid twin
    assignment (similarity.ivf_assign_int — exact int dot / sqrt(int
    norms), one IEEE-identical double divide, cell-id tie-break). Vectors
    hard-assign to their best cell; the query probes its 4 best; the
    candidate set is the cell-membership join — exactly ann_ivf_topk's
    coarse quantization shape with the float centroids swapped for
    SQL-reproducible ones."""
    from .operators.similarity import ivf_assign_int

    e = _read(spark, sf, "embeddings")
    v = ivf_assign_int(e.filter("vec_id <> 0"), n_probe=1)
    q = ivf_assign_int(e.filter("vec_id = 0"), n_probe=4).select("cell")
    return v.join(F.broadcast(q), "cell").select("vec_id", "cell")


def q_embedding_neardup_lsh(spark, sf):
    """The sub-quadratic scale path for embedding near-dup: LSH buckets +
    per-bucket GEMM, exact in-bucket verification (similarity.
    cosine_neardup_lsh). Approximate in general (recall tests in
    tests/test_similarity.py); at this SF with these params the fixed-seed
    recall is 1.0 (verified), so it is safely paired with the same exact
    oracle as embedding_neardup."""
    from .operators.similarity import cosine_neardup_lsh

    e = _read(spark, sf, "embeddings").select("vec_id", "embedding")
    # collapse_exact="auto": verbatim duplicates collapse to one
    # representative before bucketing only when the duplicate-rate probe
    # fires (k copies otherwise multiply bucket GEMM cost by k^2 —
    # BENCH_sf16 measured 12x). Cap-semantics note (ADVICE r3): an ACTIVE
    # collapse counts max_bucket over representatives, the oracle over raw
    # copies — divergence is only possible on duplicated corpora where the
    # collapsed path may emit a superset at the cap boundary; here the probe
    # skips the collapse and the pairing is exact.
    return cosine_neardup_lsh(e, threshold=0.4, n_planes=2, n_tables=16,
                              collapse_exact="auto")


def q_simhash_neardup(spark, sf):
    """SimHash near-dup pairs (banded hamming blocking + exact bit_count
    verification, EXACT for hamming <= n_bands-1 by pigeonhole) — oracle-
    paired on the md5_60 family: DuckDB reproduces the signatures, the
    banding, the bucket join and bit_count(xor) verbatim."""
    from .operators.dedup import simhash_neardup_pairs

    d = _read(spark, sf, "documents")
    # "auto" collapse + the same cap-semantics caveat as minhash_lsh above
    return simhash_neardup_pairs(d, max_hamming=3, band_bits=15, bits=60,
                                 hash_fn="md5_60", collapse_exact="auto")


def q_match_improvement(spark, sf):
    """Q17 match improvement's distributed scan (plans/query.match_candidates;
    utilities/builders.py:439-577 contract): inventory names matching the
    query-extracted terms by exact / edit-distance-1 / token containment."""
    from .plans.query import match_candidates

    inv = _read(spark, sf, "part").select(F.col("p_name").alias("name"))
    # one term per match mode: exact, edit-distance-1 (deletion), token
    return match_candidates(inv, ["red widget", "blue bol", "gizmo"])


def q_regex_search(spark, sf):
    """Q1 $regex: the reference's case-insensitive name search
    (routers/graphs.py:143-166 `$regex` + `$options: "i"`). Native rlike —
    stays inside whole-stage codegen; on a regex that is a literal prefix
    Catalyst rewrites to StartsWith and pushes it to the scan."""
    d = _read(spark, sf, "documents")
    return d.filter(
        F.col("text").rlike("(?i)spark [a-z]+ (join|shuffle)")
    ).select("doc_id")


def q_kg_workspace_tags(spark, sf):
    """Workspace tag set-union over a REAL chunks table carrying the
    reference's tags/user_metadata columns (with_chunk_metadata +
    workspace_tags; routers/workspaces.py:145-189). Tags derived
    deterministically per row so DuckDB can reproduce the union."""
    from .operators.chunking import with_chunk_metadata, workspace_tags

    d = _read(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("text").alias("content"))
    tags_col = F.create_map(
        F.lit("w1"),
        F.array(F.concat(F.lit("t"),
                         (F.col("url").cast("long") % 7).cast("string"))))
    chunks = with_chunk_metadata(d, workspace="w1", created_by="u1",
                                 tags=tags_col)
    return workspace_tags(chunks, "w1").select(
        "workspace", F.concat_ws(",", "tags").alias("tags"))


# --------------------------------------------------------------------------- #
# Registry + oracle SQL
# --------------------------------------------------------------------------- #

# --------------------------------------------------------------------------- #
# QUERIES ordering = the driver's verification window (VERDICT r5 #1).
#
# The driver writes CORRECTNESS rows for the FIRST 50 entries of this dict,
# so insertion order decides which entries get a hard driver signal each
# round. ROTATION POLICY (documented so every entry gets a driver row at
# least every other round): order entries by driver-verification recency,
# LEAST recently verified first —
#   r6 window (positions 1-50): the 33 entries with no CORRECTNESS_r05 row
#     (the 13 never driver-checked graph/event-analytics entries, the
#     flagship kg_pipeline_nodes/edges, and the 18 entries displaced from
#     the r5 window) followed by the 17 oldest r5-green entries.
#   positions 51-83: the remaining 33 r5-green entries — they rotate INTO
#     the window next round.
# Reordering never changes a query or its oracle; each name keeps its
# function and ORACLE_SQL text.
# --------------------------------------------------------------------------- #

QUERIES: dict[str, _T] = {
    # --- never driver-checked before r6 (r5 wave, positions 51-83 then) ---
    "corpus_quantiles": q_corpus_quantiles,
    "topk_keywords": q_topk_keywords,
    "sessionize": q_sessionize,
    "retention_cohorts": q_retention_cohorts,
    "event_funnel": q_event_funnel,
    "cluster_eval": q_cluster_eval,
    "kg_pagerank": q_kg_pagerank,
    "kg_pagerank_weighted": q_kg_pagerank_weighted,
    "kg_triangles": q_kg_triangles,
    "kg_khop": q_kg_khop,
    "kg_graph_diff": q_kg_graph_diff,
    "ann_lsh_candidates_hashed": q_ann_lsh_candidates_hashed,
    "ann_ivf_candidates_hashed": q_ann_ivf_candidates_hashed,
    # --- flagship pipeline + entries displaced out of the r5 window ---
    "kg_pipeline_nodes": q_kg_pipeline_nodes,
    "kg_pipeline_edges": q_kg_pipeline_edges,
    "fingerprint": q_fingerprint,
    "kg_mentions": q_kg_mentions,
    "kg_cooccurrence": q_kg_cooccurrence,
    "kg_node_degree": q_kg_node_degree,
    "kg_connected_components": q_kg_connected_components,
    "compress_triples": q_compress_triples,
    "kg_verbalize": q_kg_verbalize,
    "kg_triple_topk": q_kg_triple_topk,
    "kg_triple_topk_hashed": q_kg_triple_topk_hashed,
    "kg_query_structured": q_kg_query_structured,
    "kg_query_text": q_kg_query_text,
    "kg_query_text_hashed": q_kg_query_text_hashed,
    "kg_chapters": q_kg_chapters,
    "minhash_lsh": q_minhash_lsh,
    "simhash": q_simhash,
    "simhash_neardup": q_simhash_neardup,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    # --- rotation: the 17 oldest r5-green entries fill the window ---
    "filter_predicate": q_filter_predicate,
    "fk_join_hydration": q_fk_join_hydration,
    "explode_tokens": q_explode_tokens,
    "project_reshape": q_project_reshape,
    "group_agg": q_group_agg,
    "facet_count_page": q_facet_count_page,
    "sort_skip_limit": q_sort_skip_limit,
    "topk_cosine": q_topk_cosine,
    "semi_join_filter": q_semi_join_filter,
    "anti_join_validate": q_anti_join_validate,
    "fuzzy_pairs": q_fuzzy_pairs,
    "window_rank": q_window_rank,
    "setunion_tags": q_setunion_tags,
    "pricing_summary": q_pricing_summary,
    "top_revenue": q_top_revenue,
    "windowed_events": q_windowed_events,
    "dedup_exact": q_dedup_exact,
    # --- positions 51-83: r5-green, rotate into the window next round ---
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "neardup_clusters": q_neardup_clusters,
    "neardup_dedup": q_neardup_dedup,
    "embedding_neardup": q_embedding_neardup,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "kg_workspace_tags": q_kg_workspace_tags,
    "regex_search": q_regex_search,
    "match_improvement": q_match_improvement,
    "gopher_rules": q_gopher_rules,
    "gopher_repetition": q_gopher_repetition,
    "boilerplate_strip": q_boilerplate_strip,
    "span_dedup": q_span_dedup,
    "url_canonicalize": q_url_canonicalize,
    "domain_stats": q_domain_stats,
    "domain_filter": q_domain_filter,
    "domain_cap": q_domain_cap,
    "decontaminate": q_decontaminate,
    "sample_mix": q_sample_mix,
    "pack_sequences": q_pack_sequences,
    "dsir_scores": q_dsir_scores,
    "bloom_seen": q_bloom_seen,
    "leakage_split": q_leakage_split,
    "lm_bigram_score": q_lm_bigram_score,
    "materialize_seqs": q_materialize_seqs,
    "exact_substr_dedup": q_exact_substr_dedup,
    "redact_pii": q_redact_pii,
    "lm_unigram_score": q_lm_unigram_score,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "bm25_topk": q_bm25_topk,
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
    "best_snippet": q_best_snippet,
}

_GAZ_SQL = ",".join(f"'{t}'" for t in GAZ_TERMS)
_STOP_SQL = ",".join(f"'{s}'" for s in EN_STOPWORDS)

_MENTIONS_CTE = f"""
with toks as (
  select doc_id, unnest(string_split(text, ' ')) as token from documents
), mentions as (
  select doc_id, token as term, count(*) as cnt
  from toks where token in ({_GAZ_SQL})
  group by doc_id, token
)"""

_COOC_CTE = _MENTIONS_CTE + """
, cooc as (
  select a.term as head, 'cooccurs_with' as relation, b.term as tail,
         count(*) as support
  from mentions a join mentions b
    on a.doc_id = b.doc_id and a.term < b.term
  group by a.term, b.term
)"""

ORACLE_SQL: dict[str, str] = {
    "filter_predicate": """
        select o_orderkey, o_custkey, o_orderpriority from orders
        where o_orderstatus in ('F','O')
          and regexp_matches(o_orderpriority, '^(1|2)')
          and o_totalprice > 1000.0""",
    "fk_join_hydration": """
        select c_custkey, c_name, n_name, r_name
        from customer
        left join nation on c_nationkey = n_nationkey
        left join region on n_regionkey = r_regionkey""",
    "explode_tokens": """
        select token, count(*) as cnt
        from (select unnest(string_split(text,' ')) as token from documents)
        group by token""",
    "project_reshape": """
        select doc_id,
               array_to_string(list_slice(string_split(text,' '),1,3),' ') as first3,
               len(string_split(text,' ')) as n_tokens,
               upper(lang) as lang_uc,
               string_split(text,' ')[1] as first_token
        from documents""",
    "group_agg": """
        select o_custkey,
               count(*) as n_orders,
               cast(sum(cast(round(o_totalprice*100) as bigint)) as bigint) as total_cents,
               max(o_orderdate) as last_order,
               min(o_orderstatus) as first_status
        from orders group by o_custkey""",
    "facet_count_page": """
        select c_custkey, c_name, total_count from (
          select c_custkey, c_name, c_acctbal,
                 count(*) over () as total_count
          from customer)
        order by c_acctbal desc, c_custkey asc limit 30 offset 10""",
    "sort_skip_limit": """
        select event_id, event_type from events
        order by ts desc, event_id asc limit 50 offset 5""",
    "topk_cosine": """
        with q as (select embedding::DOUBLE[] as qvec from embeddings where vec_id = 0)
        select vec_id, label from embeddings, q
        where vec_id <> 0
        order by list_cosine_similarity(embedding::DOUBLE[], qvec) desc, vec_id asc
        limit 20""",
    "semi_join_filter": """
        select o_orderkey, o_custkey from orders
        where o_orderstatus = 'O' and o_custkey in (
          select c_custkey from customer where c_nationkey in (
            select n_nationkey from nation where n_regionkey in (
              select r_regionkey from region where r_name = 'ASIA')))""",
    "anti_join_validate": """
        select p_partkey, p_brand, p_type from part p
        where not exists (
          select 1 from (values ('Brand#1','ECONOMY'),('Brand#2','STANDARD'),
                                ('Brand#3','SMALL')) v(b, t)
          where v.b = p.p_brand and v.t = p.p_type)""",
    "fuzzy_pairs": """
        select a.c_custkey as custkey_a, b.c_custkey as custkey_b
        from customer a join customer b
          on len(a.c_name) = len(b.c_name)
         and a.c_custkey < b.c_custkey
        where levenshtein(a.c_name, b.c_name) <= 1""",
    "window_rank": """
        select n_name, c_custkey, rnk from (
          select n_name, c_custkey,
                 row_number() over (partition by n_name
                                    order by c_acctbal desc, c_custkey asc) as rnk
          from customer join nation on c_nationkey = n_nationkey)
        where rnk <= 3""",
    "setunion_tags": """
        select source,
               string_agg(distinct lang, ',' order by lang) as langs,
               count(*) as n_docs
        from documents group by source""",
    "pricing_summary": """
        select l_returnflag, l_linestatus,
               cast(sum(cast(round(l_quantity*100) as bigint)) as bigint) as sum_qty_x100,
               cast(sum(cast(round(l_extendedprice*100) as bigint)) as bigint) as sum_base_cents,
               cast(sum(cast(round(l_extendedprice*(1-l_discount)*100) as bigint)) as bigint) as sum_disc_cents,
               count(*) as count_order
        from lineitem where l_shipdate <= timestamp '1998-09-01'
        group by l_returnflag, l_linestatus""",
    "top_revenue": """
        select c_custkey, c_name,
               cast(sum(cast(round(l_extendedprice*(1-l_discount)*100) as bigint)) as bigint) as revenue_cents
        from lineitem
        join orders on l_orderkey = o_orderkey
        join customer on o_custkey = c_custkey
        group by c_custkey, c_name
        order by revenue_cents desc, c_custkey asc limit 10""",
    "windowed_events": """
        select date_trunc('hour', ts) as hour_start, event_type,
               count(*) as cnt,
               cast(sum(cast(round(value*100) as bigint)) as bigint) as value_cents
        from events group by 1, 2""",
    "dedup_exact": """
        select md5(text) as text_hash,
               min(doc_id) as keeper_doc_id,
               count(*) as dup_count
        from documents group by md5(text)""",
    "dedup_ngram_jaccard": """
        with tok as (select doc_id, string_split(text,' ') as toks from documents),
        sh as (
          select distinct doc_id,
                 unnest([toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3]
                         for i in range(greatest(len(toks)-2,0))]) as shingle
          from tok),
        sz as (select doc_id, count(*) as n from sh group by doc_id),
        pairs as (
          select a.doc_id as da, b.doc_id as db, count(*) as common
          from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
          group by a.doc_id, b.doc_id)
        select da, db, common, (sa.n + sb.n - common) as union_size
        from pairs join sz sa on da = sa.doc_id join sz sb on db = sb.doc_id
        where common * 2 >= (sa.n + sb.n - common)""",
    "embedding_neardup": """
        select a.vec_id as va, b.vec_id as vb
        from embeddings a join embeddings b on a.vec_id < b.vec_id
        where list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",
    "embedding_neardup_lsh": """
        select a.vec_id as va, b.vec_id as vb
        from embeddings a join embeddings b on a.vec_id < b.vec_id
        where list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",
    "kg_workspace_tags": """
        select 'w1' as workspace,
               array_to_string(list_sort(list(distinct 't' || (doc_id % 7)::varchar)), ',') as tags
        from documents""",
    "regex_search": """
        select doc_id from documents
        where regexp_matches(text, 'spark [a-z]+ (join|shuffle)', 'i')""",
    "match_improvement": """
        select distinct p_name as name from part
        where lower(p_name) in ('red widget', 'blue bol', 'gizmo')
           or levenshtein(lower(p_name), 'red widget') <= 1
           or levenshtein(lower(p_name), 'blue bol') <= 1
           or levenshtein(lower(p_name), 'gizmo') <= 1
           or list_contains(string_split(lower(p_name), ' '), 'red widget')
           or list_contains(string_split(lower(p_name), ' '), 'blue bol')
           or list_contains(string_split(lower(p_name), ' '), 'gizmo')""",
    "lang_id": f"""
        with t as (select doc_id, string_split(text,' ') as toks from documents)
        select doc_id, len(toks) as n_tokens,
               len(list_filter(toks, x -> x in ({_STOP_SQL}))) as n_stopwords,
               case when len(list_filter(toks, x -> x in ({_STOP_SQL}))) * 20 >= len(toks)
                    then 'en' else 'other' end as lang_guess
        from t""",
    "quality_score": """
        with t as (select doc_id, text, string_split(text,' ') as toks from documents)
        select doc_id,
               len(text) as n_chars,
               len(toks) as n_tokens,
               cast(floor(list_sum(list_transform(toks, x -> len(x))) * 100.0 / len(toks)) as bigint)
                 as avg_token_len_x100,
               len(regexp_extract_all(text, '[,;.!?]')) as n_punct
        from t""",
    "token_count": """
        select doc_id,
               len(string_split(text,' ')) as ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) as bpe_ish_tokens
        from documents""",
    "fingerprint": """
        select doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) as fingerprint
        from documents""",
    "kg_mentions": _MENTIONS_CTE + """
        select doc_id, term, cnt from mentions""",
    "kg_cooccurrence": _COOC_CTE + """
        select head, relation, tail, support from cooc""",
    "kg_query_structured": _COOC_CTE + """
        select head, relation, tail from cooc
        where head in ('spark','customer') or tail in ('spark','customer')""",
    "kg_chapters": r"""
        with lines as (
          select doc_id % 3 as book_id, doc_id as line_no,
                 case when doc_id % 10 = 0
                      then 'CHAPTER c' || cast(doc_id // 10 as varchar)
                      else text end as line
          from documents
        ), marked as (
          select book_id, line_no, line,
                 regexp_extract(line, '(?i)^CHAPTER\s+(\w+)', 1) as hdr
          from lines
        ), assigned as (
          select book_id, line_no, line, hdr,
                 coalesce(
                   last_value(case when hdr <> '' then 'CHAPTER ' || upper(hdr) end
                              ignore nulls)
                     over (partition by book_id order by line_no
                           rows between unbounded preceding and current row),
                   'PROLOGUE') as chapter
          from marked
        ), content as (
          select book_id, chapter,
                 string_agg(line, chr(10) order by line_no) as lines_joined,
                 count(*) as n_lines,
                 min(line_no) as first_line_no
          from assigned where hdr = ''
          group by book_id, chapter
        ), keys as (
          -- empty-chapter parity (processors.py:309-324): every header mints
          -- a key even with zero content lines, and PROLOGUE always exists
          select distinct book_id, 'CHAPTER ' || upper(hdr) as chapter
          from marked where hdr <> ''
          union
          select distinct book_id, 'PROLOGUE' as chapter from lines
        )
        select k.book_id, k.chapter,
               coalesce(c.lines_joined, '') as lines_joined,
               coalesce(c.n_lines, 0) as n_lines,
               c.first_line_no
        from keys k left join content c
          on c.book_id = k.book_id and c.chapter = k.chapter""",
    "kg_node_degree": _COOC_CTE + """
        , ends as (
          select head as name, support from cooc
          union all
          select tail as name, support from cooc)
        select name, count(*) as degree,
               cast(sum(support) as bigint) as support_sum
        from ends group by name""",
    "kg_connected_components": _COOC_CTE + """
        , sym as (
          select head as a, tail as b, support from cooc
          union all
          select tail as a, head as b, support from cooc
        ), nearest as (
          select a, b from (
            select a, b,
                   row_number() over (partition by a order by support, b) as rk
            from sym) t where rk = 1
        ), e as (
          select a as src, b as dst from nearest
          union
          select b as src, a as dst from nearest
        ), reach as (
          with recursive r(src, dst) as (
            select src, src from e
            union
            select r.src, e.dst from r join e on r.dst = e.src
          )
          select * from r
        )
        select src as member, min(dst) as component
        from reach group by src""",
    "compress_triples": _COOC_CTE + """
        select head, relation,
               string_agg(distinct tail, ',' order by tail) as tails,
               count(*) as n_tails
        from cooc group by head, relation""",
    "kg_verbalize": _COOC_CTE + """
        select head, tail,
               head || ' which is a term cooccurs with ' || tail || ', a term'
                 as verbalized
        from cooc""",
}


def flagship_entry(spark: SparkSession) -> DataFrame:
    """Driver smoke check: KG-analog construction over the driver's sf0.001
    documents table — mentions -> co-occurrence triples -> compressed graph."""
    return q_kg_cooccurrence(spark, "/root/testdata/sf0.001")


def _simhash_oracle_sql(bits: int = 60, band_bits: int = 15) -> str:
    """SimHash oracle over the md5_60 family — generated from the same
    parameters the Spark query uses, so the two can never drift."""
    sums = ",\n          ".join(
        f"sum(case when (h >> {j}) & 1 = 1 then 1 else -1 end) as b{j}"
        for j in range(bits))
    sig = " + ".join(
        f"(case when b{j} > 0 then (CAST(1 AS BIGINT) << {j}) else 0 end)"
        for j in range(bits))
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    bands = ", ".join(str(b) for b in range(n_bands))
    return f"""
        with toks as (
          select doc_id,
                 CAST(concat('0x', substr(md5(unnest(string_split(text, ' '))), 1, 15)) AS BIGINT) as h
          from documents
        ), sums as (
          select doc_id,
          {sums}
          from toks group by doc_id
        ), sig as (
          select doc_id, {sig} as simhash from sums
        )
        select doc_id, simhash, band_id,
               (simhash >> (band_id * {band_bits})) & {mask} as band_key
        from sig
        cross join (select unnest([{bands}]) as band_id) bands"""


def _minhash_oracle_sql(num_hashes: int = 64, bands: int = 16,
                        rows: int = 4, max_bucket: int = 200) -> str:
    """MinHash+LSH oracle — the (a_i, b_i) universal-hash constants come
    from operators.dedup.minhash_params, the same function the Spark
    operator uses, so the SQL is regenerated on import and cannot
    desynchronize from the engine."""
    from .operators.dedup import MINHASH_P, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n          ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) as s{i}"
        for i, (a, b) in enumerate(params))
    band_keys = ",\n          ".join(
        "concat_ws('_', "
        + ", ".join(f"CAST(s{rows * b + j} AS VARCHAR)" for j in range(rows))
        + f") as k{b}"
        for b in range(bands))
    band_rows = "\n          union all\n          ".join(
        f"select doc_id, {b} as band_id, k{b} as band_hash from keys"
        for b in range(bands))
    return f"""
        with toks as (
          select doc_id, string_split(text, ' ') as l
          from documents where text is not null
        ), sh as (
          select distinct doc_id, array_to_string(l[i:i+2], '_') as shingle
          from toks, unnest(range(1, greatest(len(l) - 1, 1))) as t(i)
        ), hashed as (
          select doc_id,
                 CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                 % {MINHASH_P} as h
          from sh
        ), sums as (
          select doc_id,
          {mins}
          from hashed group by doc_id
        ), keys as (
          select doc_id,
          {band_keys}
          from sums
        ), banded as (
          {band_rows}
        ), sized as (
          select band_id, band_hash, count(*) as n
          from banded group by band_id, band_hash
          having count(*) between 2 and {max_bucket}
        )
        select distinct a.doc_id as da, b.doc_id as db
        from banded a
        join sized s on a.band_id = s.band_id and a.band_hash = s.band_hash
        join banded b on a.band_id = b.band_id and a.band_hash = b.band_hash
                     and a.doc_id < b.doc_id"""


# embeddings table dimensionality (driver-generated parquet; the Spark-side
# twins discover it from the data — a driver change would surface as a
# hash mismatch here, not silently)
_ANN_INT_DIM = 64
_MD5_60 = ("(cast(('0x' || substr(md5({key}), 1, 15)) as bigint) % 15) - 7")


def _ann_lsh_candidates_oracle_sql(n_planes: int = 4, n_tables: int = 8,
                                   dim: int = _ANN_INT_DIM,
                                   scale: int = 1000, cap: int = 64) -> str:
    """DuckDB re-derivation of q_ann_lsh_candidates_hashed, generated from
    the same family constants as similarity.lsh_bucket_keys_int /
    _int_plane_val (md5('t_j_i') top-60-bits % 15 - 7)."""
    plane = _MD5_60.format(
        key="cast(t as varchar) || '_' || cast(j as varchar)"
            " || '_' || cast(i as varchar)")
    return f"""
    with comp as (
      select vec_id, i,
             cast(round(cast(embedding[i] as double) * {scale}) as bigint)
               as r
      from embeddings, generate_series(1, {dim}) g(i)
    ), grid as (
      select t, j, i, {plane} as p
      from generate_series(0, {n_tables - 1}) g1(t),
           generate_series(0, {n_planes - 1}) g2(j),
           generate_series(1, {dim}) g3(i)
    ), dots as (
      select c.vec_id, g.t, g.j, sum(c.r * g.p) as s
      from comp c join grid g on g.i = c.i
      group by c.vec_id, g.t, g.j
    ), buckets as (
      select vec_id, t,
             sum(case when s > 0 then cast(1 as bigint) << j else 0 end)
               as bucket
      from dots group by vec_id, t
    ), cand as (
      select v.vec_id, count(*) as n_collisions
      from buckets v
      join buckets q on q.vec_id = 0 and v.t = q.t and v.bucket = q.bucket
      where v.vec_id <> 0
      group by v.vec_id
    )
    select vec_id, n_collisions from cand
    order by n_collisions desc, vec_id asc limit {cap}"""


def _ann_ivf_candidates_oracle_sql(n_cells: int = 16, n_probe: int = 4,
                                   dim: int = _ANN_INT_DIM,
                                   scale: int = 1000) -> str:
    """DuckDB re-derivation of q_ann_ivf_candidates_hashed (integer
    centroids keyed 'c_<cell>_<i>', int dot / sqrt(int norms) score — one
    IEEE-identical double divide, cell-id tie-break)."""
    cent = _MD5_60.format(
        key="'c_' || cast(c as varchar) || '_' || cast(i as varchar)")
    return f"""
    with comp as (
      select vec_id, i,
             cast(round(cast(embedding[i] as double) * {scale}) as bigint)
               as r
      from embeddings, generate_series(1, {dim}) g(i)
    ), cent as (
      select c, i, {cent} as p
      from generate_series(0, {n_cells - 1}) gc(c),
           generate_series(1, {dim}) gi(i)
    ), cnorm as (
      select c, sum(p * p) as nc from cent group by c
    ), vnorm as (
      select vec_id, sum(r * r) as nr from comp group by vec_id
    ), dots as (
      select comp.vec_id, cent.c, sum(comp.r * cent.p) as dot
      from comp join cent on cent.i = comp.i
      group by comp.vec_id, cent.c
    ), scored as (
      select d.vec_id, d.c,
             cast(d.dot as double)
             / sqrt(cast(cn.nc * greatest(vn.nr, 1) as double)) as score
      from dots d
      join cnorm cn on cn.c = d.c
      join vnorm vn on vn.vec_id = d.vec_id
    ), ranked as (
      select vec_id, c,
             row_number() over (partition by vec_id
                                order by score desc, c asc) as rk
      from scored
    ), vcell as (
      select vec_id, c as cell from ranked where rk <= 1 and vec_id <> 0
    ), qcell as (
      select c as cell from ranked where rk <= {n_probe} and vec_id = 0
    )
    select v.vec_id, v.cell from vcell v join qcell q on q.cell = v.cell"""


ORACLE_SQL["ann_lsh_candidates_hashed"] = _ann_lsh_candidates_oracle_sql()
ORACLE_SQL["ann_ivf_candidates_hashed"] = _ann_ivf_candidates_oracle_sql()

ORACLE_SQL["simhash"] = _simhash_oracle_sql()
ORACLE_SQL["minhash_lsh"] = _minhash_oracle_sql()


def _pagerank_oracle_sql(
    n_iter: int = _PAGERANK_ITERS,
    damping: int = _PAGERANK_DAMPING,
    scale: int = _PAGERANK_SCALE,
) -> str:
    """kg_pagerank oracle: the distributed iterative loop unrolled as chained
    CTEs s0..s{n_iter}, generated from the SAME constants the Spark side
    uses. Every quantity is int64 with integer division in the identical
    order (rank // deg per edge, then base + (damping * sum) // 100), so the
    two engines agree bit-for-bit — no float accumulation order to diverge.
    DuckDB's sum(BIGINT) widens to HUGEINT, hence the explicit bigint casts."""
    sql = _COOC_CTE + f"""
        , sym as (
          select head as u, tail as v from cooc
            where support >= {_COOC_MIN_SUPPORT}
          union
          select tail as u, head as v from cooc
            where support >= {_COOC_MIN_SUPPORT}
        ), deg as (
          select u, count(*) as deg from sym group by u
        ), cst as (
          select cast({scale} // count(*) as bigint) as init,
                 cast((({scale} // count(*)) * {100 - damping}) // 100
                      as bigint) as base
          from deg
        ), oe as (
          select sym.u, sym.v, deg.deg from sym join deg on deg.u = sym.u
        ), s0 as (
          select u as member, cst.init as "rank" from deg cross join cst
        )"""
    for i in range(1, n_iter + 1):
        sql += f"""
        , c{i} as (
          select oe.v as member,
                 cast(sum(r."rank" // oe.deg) as bigint) as s
          from oe join s{i - 1} r on oe.u = r.member
          group by oe.v
        ), s{i} as (
          select d.u as member,
                 cast(cst.base + ({damping} * coalesce(c.s, 0)) // 100
                      as bigint) as "rank"
          from deg d cross join cst
          left join c{i} c on c.member = d.u
        )"""
    return sql + f"""
        select member, "rank" from s{n_iter}"""


ORACLE_SQL["kg_pagerank"] = _pagerank_oracle_sql()


def _pagerank_weighted_oracle_sql(
    n_iter: int = _PAGERANK_ITERS,
    damping: int = _PAGERANK_DAMPING,
    scale: int = _PAGERANK_SCALE,
) -> str:
    """kg_pagerank_weighted oracle: the weighted recurrence
    base + (damping * sum((rank * w) // wsum)) // 100 unrolled, identical
    int64 order to linking.pagerank(weight_col=...)."""
    sql = _COOC_CTE + f"""
        , symw as (
          select head as u, tail as v, cast(support as bigint) as w from cooc
          union all
          select tail as u, head as v, cast(support as bigint) as w from cooc
        ), sym as (
          select u, v, cast(sum(w) as bigint) as w from symw group by u, v
        ), wsum as (
          select u, cast(sum(w) as bigint) as wsum from sym group by u
        ), cst as (
          select cast({scale} // count(*) as bigint) as init,
                 cast((({scale} // count(*)) * {100 - damping}) // 100
                      as bigint) as base
          from wsum
        ), oe as (
          select sym.u, sym.v, sym.w, wsum.wsum
          from sym join wsum on wsum.u = sym.u
        ), s0 as (
          select u as member, cst.init as "rank" from wsum cross join cst
        )"""
    for i in range(1, n_iter + 1):
        sql += f"""
        , c{i} as (
          select oe.v as member,
                 cast(sum((r."rank" * oe.w) // oe.wsum) as bigint) as s
          from oe join s{i - 1} r on oe.u = r.member
          group by oe.v
        ), s{i} as (
          select d.u as member,
                 cast(cst.base + ({damping} * coalesce(c.s, 0)) // 100
                      as bigint) as "rank"
          from wsum d cross join cst
          left join c{i} c on c.member = d.u
        )"""
    return sql + f"""
        select member, "rank" from s{n_iter}"""


ORACLE_SQL["kg_pagerank_weighted"] = _pagerank_weighted_oracle_sql()


def _graph_diff_oracle_sql() -> str:
    """kg_graph_diff oracle: both thresholded window graphs + node tables,
    full-outer joins with IS DISTINCT FROM comparisons, delta rows only —
    generated from the same window/threshold constants as the Spark side."""
    (olo, ohi, ot), (nlo, nhi, nt) = _DIFF_OLD, _DIFF_NEW
    return _MENTIONS_CTE + f"""
    , oldm as (
      select * from mentions where doc_id >= {olo} and doc_id < {ohi}
    ), newm as (
      select * from mentions where doc_id >= {nlo} and doc_id < {nhi}
    ), olde as (
      select a.term as head, b.term as tail, count(*) as support
      from oldm a join oldm b on a.doc_id = b.doc_id and a.term < b.term
      group by a.term, b.term having count(*) >= {ot}
    ), newe as (
      select a.term as head, b.term as tail, count(*) as support
      from newm a join newm b on a.doc_id = b.doc_id and a.term < b.term
      group by a.term, b.term having count(*) >= {nt}
    ), oldn as (
      select name, count(*) as degree,
             cast(sum(support) as bigint) as support_sum
      from (select head as name, support from olde
            union all select tail as name, support from olde)
      group by name
    ), newn as (
      select name, count(*) as degree,
             cast(sum(support) as bigint) as support_sum
      from (select head as name, support from newe
            union all select tail as name, support from newe)
      group by name
    ), ndiff as (
      select 'node' as kind,
             case when o.name is null then 'added'
                  when n.name is null then 'removed'
                  when o.degree is distinct from n.degree
                    or o.support_sum is distinct from n.support_sum
                    then 'changed' end as change,
             coalesce(n.name, o.name) as key
      from newn n full outer join oldn o on n.name = o.name
    ), ediff as (
      select 'edge' as kind,
             case when o.head is null then 'added'
                  when n.head is null then 'removed'
                  when o.support is distinct from n.support
                    then 'changed' end as change,
             concat_ws('|', coalesce(n.head, o.head),
                            coalesce(n.tail, o.tail)) as key
      from newe n full outer join olde o
        on n.head = o.head and n.tail = o.tail
    )
    select kind, change, key from (
      select * from ndiff union all select * from ediff
    ) where change is not null"""


ORACLE_SQL["kg_graph_diff"] = _graph_diff_oracle_sql()


def _bm25_scored_cte(
    query: str = _BM25_QUERY, k1: float = _BM25_K1, b: float = _BM25_B,
) -> str:
    """The BM25 oracle's CTE chain up to per-doc integer scores (table
    `scoreagg`: doc_id, score_x1e6) — shared by the bm25_topk oracle and the
    hybrid RRF fusion oracle. Identical formula, identical fixed-point floor
    BEFORE the sum as the Spark side. Every float constant is interpolated
    via repr() so both engines parse the same shortest-round-trip literal;
    mixed decimal/double promotion in DuckDB lands on the same doubles
    because each decimal constant converts correctly-rounded. Only ln's
    last ulp could diverge (the lm_unigram_score exposure)."""
    import re as _re

    terms = sorted(set(_re.findall(r"[a-z0-9]+", query.lower())))
    tlist = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    k1p1 = repr(k1 + 1.0)
    return f"""
    with d as (
      select doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') as toks
      from documents
    ), base as (
      select doc_id, len(toks) as dl,
             list_filter(toks, x -> list_contains({tlist}, x)) as qt
      from d
    ), stats as (
      select count(*) as n, cast(sum(dl) as bigint) as sumdl from base
    ), post as (
      select doc_id, dl, unnest(qt) as term from base where len(qt) > 0
    ), tfs as (
      select doc_id, dl, term, count(*) as tf
      from post group by doc_id, dl, term
    ), dfs as (
      select term, count(*) as df from tfs group by term
    ), scored as (
      select t.doc_id,
             cast(floor(
               {repr(1e6)}
               * ln({repr(1.0)} + (cast(s.n as double) - f.df + {repr(0.5)})
                                  / (f.df + {repr(0.5)}))
               * (cast(t.tf as double) * {k1p1})
               / (cast(t.tf as double)
                  + {repr(k1)} * ({repr(1.0)} - {repr(b)}
                     + {repr(b)} * cast(t.dl as double)
                       / (cast(s.sumdl as double) / cast(s.n as double))))
             ) as bigint) as c
      from tfs t join dfs f using (term) cross join stats s
    ), scoreagg as (
      select doc_id, cast(sum(c) as bigint) as score_x1e6
      from scored group by doc_id
    )"""


def _bm25_oracle_sql(k: int = _BM25_K) -> str:
    return _bm25_scored_cte() + f"""
    select doc_id, score_x1e6 from scoreagg
    order by score_x1e6 desc, doc_id
    limit {k}"""


ORACLE_SQL["bm25_topk"] = _bm25_oracle_sql()


def _hybrid_rrf_oracle_sql(
    k0: int = _RRF_K0, pool: int = _RRF_POOL, k: int = _RRF_K,
) -> str:
    """hybrid_rrf_topk oracle: BM25 scoreagg CTE (shared constants) +
    the topk_cosine ordering, each ranked by row_number over the identical
    (score desc, id) order, fused with the same integer contribution."""
    return _bm25_scored_cte() + f"""
    , lexr as (
      select doc_id,
             row_number() over (order by score_x1e6 desc, doc_id) as rank
      from scoreagg
      order by score_x1e6 desc, doc_id
      limit {pool}
    ), qv as (
      select embedding::DOUBLE[] as qvec from embeddings where vec_id = 0
    ), vtop as (
      select vec_id as doc_id,
             list_cosine_similarity(embedding::DOUBLE[], qvec) as score
      from embeddings, qv
      where vec_id <> 0
      order by score desc, vec_id asc
      limit {pool}
    ), vecr as (
      select doc_id,
             row_number() over (order by score desc, doc_id) as rank
      from vtop
    ), contrib as (
      select doc_id, 1000000 // ({k0} + rank) as c from lexr
      union all
      select doc_id, 1000000 // ({k0} + rank) as c from vecr
    )
    select doc_id, cast(sum(c) as bigint) as rrf_x1e6
    from contrib group by doc_id
    order by rrf_x1e6 desc, doc_id
    limit {k}"""


ORACLE_SQL["hybrid_rrf_topk"] = _hybrid_rrf_oracle_sql()


def _best_snippet_oracle_sql(
    query: str = _BM25_QUERY, window: int = _SNIPPET_WINDOW,
) -> str:
    """best_snippet oracle: every window scored by unnest(range(...)), the
    argmax replayed as row_number over (hits desc, start asc). Inclusive
    DuckDB list slicing toks[i:i+w-1] == Spark slice(toks, i, w)."""
    import re as _re

    terms = sorted(set(_re.findall(r"[a-z0-9]+", query.lower())))
    tlist = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    return f"""
    with d as (
      select doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') as toks
      from documents
    ), wnd as (
      select doc_id, toks, least({window}, len(toks)) as w
      from d where len(toks) > 0
    ), cand as (
      select doc_id, toks, w,
             unnest(range(1, len(toks) - w + 2)) as i
      from wnd
    ), scored as (
      select doc_id, toks, w, i,
             len(list_filter(toks[i:i+w-1],
                             x -> list_contains({tlist}, x))) as h
      from cand
    ), ranked as (
      select doc_id, h, i, toks, w,
             row_number() over (partition by doc_id
                                order by h desc, i asc) as rk
      from scored
    )
    select doc_id, cast(h as bigint) as n_hits, cast(i as bigint) as start_tok,
           array_to_string(toks[i:i+w-1], ' ') as snippet
    from ranked where rk = 1"""


ORACLE_SQL["best_snippet"] = _best_snippet_oracle_sql()

ORACLE_SQL["sessionize"] = f"""
    with e as (
      select user_id, event_id, epoch_us(ts) as ts_us from events
    ), marked as (
      select user_id, event_id, ts_us,
             case when lag(ts_us) over w is null
                    or ts_us - lag(ts_us) over w > {_SESSION_GAP_SEC * 1_000_000}
                  then 1 else 0 end as new_s
      from e
      window w as (partition by user_id order by ts_us, event_id)
    ), sess as (
      select user_id, ts_us,
             sum(new_s) over (partition by user_id
                              order by ts_us, event_id
                              rows between unbounded preceding
                                   and current row) as session_idx
      from marked
    )
    select user_id, cast(session_idx as bigint) as session_idx,
           cast(count(*) as bigint) as n_events,
           min(ts_us) as start_us, max(ts_us) as end_us,
           max(ts_us) - min(ts_us) as duration_us
    from sess group by user_id, session_idx"""

def _cluster_eval_oracle_sql() -> str:
    """cluster_eval oracle: the neardup_clusters oracle (recursive-CTE
    closure) nested as a subquery for the predicted labels, exact-md5
    groups as truth, identical C(n,2)/fixed-point integer math."""
    nc = ORACLE_SQL["neardup_clusters"]
    return f"""
    with pred_t as (
      select * from ( {nc} ) _nc
    ), th as (
      select doc_id, md5(text) as h from documents
    ), tlab as (
      select h, min(doc_id) as t from th group by h
    ), assign as (
      select th.doc_id as id,
             coalesce(p.component, th.doc_id) as pred,
             tlab.t as truth
      from th
      join tlab using (h)
      left join pred_t p on p.member = th.doc_id
    ), tpg as (
      select pred, truth, count(*) as n from assign group by pred, truth
    ), tpv as (
      select cast(coalesce(sum(n * (n - 1) // 2), 0) as bigint) as tp
      from tpg
    ), ppg as (
      select pred, count(*) as n from assign group by pred
    ), ppv as (
      select cast(coalesce(sum(n * (n - 1) // 2), 0) as bigint) as pp
      from ppg
    ), ttg as (
      select truth, count(*) as n from assign group by truth
    ), ttv as (
      select cast(coalesce(sum(n * (n - 1) // 2), 0) as bigint) as tt
      from ttg
    )
    select tp,
           cast(pp - tp as bigint) as fp,
           cast(tt - tp as bigint) as fn,
           cast(case when pp > 0 then (1000000 * tp) // pp
                     else 1000000 end as bigint) as precision_x1e6,
           cast(case when tt > 0 then (1000000 * tp) // tt
                     else 1000000 end as bigint) as recall_x1e6,
           cast(case when pp + tt > 0 then (1000000 * 2 * tp) // (pp + tt)
                     else 1000000 end as bigint) as f1_x1e6
    from tpv cross join ppv cross join ttv"""


def _event_funnel_oracle_sql(steps: tuple = _FUNNEL_STEPS) -> str:
    """event_funnel oracle: the strictly-after min-anchor chain unrolled as
    one CTE per step, counts unioned — generated from the shared step
    list."""
    sql = """
    with e as (
      select user_id as u, event_type as et, epoch_us(ts) as t from events
    )"""
    for i, step in enumerate(steps):
        if i == 0:
            sql += f"""
    , s0 as (
      select u, min(t) as ta from e where et = '{step}' group by u
    )"""
        else:
            sql += f"""
    , s{i} as (
      select e.u, min(e.t) as ta
      from e join s{i - 1} p on p.u = e.u
      where e.et = '{step}' and e.t > p.ta
      group by e.u
    )"""
    selects = [
        f"""select cast({i} as bigint) as step_idx, '{step}' as step,
               (select cast(count(*) as bigint) from s{i}) as n_users"""
        for i, step in enumerate(steps)
    ]
    return sql + "\n    " + "\n    union all\n    ".join(selects)


ORACLE_SQL["event_funnel"] = _event_funnel_oracle_sql()

ORACLE_SQL["retention_cohorts"] = f"""
    with up as (
      select distinct user_id as u,
             (ts::date - DATE '1970-01-01') // {_RETENTION_PERIOD_DAYS} as p
      from events
    ), cohort as (
      select u, min(p) as c from up group by u
    )
    select cast(c as bigint) as cohort,
           cast(p - c as bigint) as periods_since,
           cast(count(distinct up.u) as bigint) as n_users
    from up join cohort using (u)
    group by c, p - c"""

ORACLE_SQL["topk_keywords"] = f"""
    with tf as (
      select doc_id, term, count(*) as tf from (
        select doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as term
        from documents
      ) group by doc_id, term
    ), dfs as (
      select term, count(*) as df from tf group by term
    ), nd as (
      select count(distinct doc_id) as n from documents
    ), scored as (
      select tf.doc_id, tf.term,
             cast(floor(1000000.0 * cast(tf.tf as double)
                        * ln(cast(nd.n as double) / dfs.df))
                  as bigint) as tfidf_x1e6
      from tf join dfs using (term) cross join nd
    )
    select doc_id, term, tfidf_x1e6, cast(rank as bigint) as rank from (
      select doc_id, term, tfidf_x1e6,
             row_number() over (partition by doc_id
                                order by tfidf_x1e6 desc, term asc) as rank
      from scored
    ) where rank <= {_KEYWORDS_K}"""

ORACLE_SQL["corpus_quantiles"] = f"""
    with m as (
      select doc_id,
             cast(len(string_split(text, ' ')) as bigint) as ws_tokens,
             cast(len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) as bigint)
               as bpe_ish_tokens,
             cast(n_chars as bigint) as n_chars
      from documents
    ), melted as (
      select 'ws_tokens' as metric, ws_tokens as value from m
      union all
      select 'bpe_ish_tokens' as metric, bpe_ish_tokens as value from m
      union all
      select 'n_chars' as metric, n_chars as value from m
    ), ranked as (
      select metric, value,
             row_number() over (partition by metric order by value) as rk,
             count(*) over (partition by metric) as n
      from melted
    )
    select metric, cast(q as bigint) as q_x100, value
    from ranked, unnest([{", ".join(map(str, _QUANTILES_X100))}]) t(q)
    where rk = (q * n + 99) // 100"""

ORACLE_SQL["kg_khop"] = _COOC_CTE + f"""
    , sym as (
      select head as a, tail as b, support from cooc
      union all
      select tail as a, head as b, support from cooc
    ), nearest as (
      select a, b from (
        select a, b,
               row_number() over (partition by a order by support, b) as rk
        from sym) t where rk = 1
    ), e as (
      select a as src, b as dst from nearest
      union
      select b as src, a as dst from nearest
    ), reach as (
      with recursive r(member, dist) as (
        select unnest([{", ".join(f"'{s}'" for s in _KHOP_SEEDS)}]), 0
        union
        select e.dst, r.dist + 1
        from r join e on e.src = r.member
        where r.dist < {_KHOP_MAX}
      )
      select * from r
    )
    select member, cast(min(dist) as bigint) as dist
    from reach group by member"""

ORACLE_SQL["kg_triangles"] = _COOC_CTE + f"""
    , e as (
      select distinct least(head, tail) as u, greatest(head, tail) as v
      from cooc where head <> tail and support >= {_COOC_MIN_SUPPORT}
    ), degs as (
      select member, count(*) as degree from (
        select u as member from e union all select v from e
      ) group by member
    ), o as (
      -- degree-ordered orientation, identical tie-break to the Spark side
      select case when du.degree < dv.degree
                    or (du.degree = dv.degree and e.u < e.v)
                  then e.u else e.v end as a,
             case when du.degree < dv.degree
                    or (du.degree = dv.degree and e.u < e.v)
                  then e.v else e.u end as b,
             case when du.degree < dv.degree
                    or (du.degree = dv.degree and e.u < e.v)
                  then dv.degree else du.degree end as db
      from e
      join degs du on du.member = e.u
      join degs dv on dv.member = e.v
    ), wedges as (
      select w1.a, w1.b as x, w1.db as dx, w2.b as y, w2.db as dy
      from o w1 join o w2 on w1.a = w2.a
      where w1.db < w2.db or (w1.db = w2.db and w1.b < w2.b)
    ), tri as (
      select w.a, w.x, w.y from wedges w
      where exists (select 1 from o where o.a = w.x and o.b = w.y)
    ), per as (
      select member, count(*) as triangles from (
        select a as member from tri
        union all select x from tri
        union all select y from tri
      ) group by member
    )
    select d.member, d.degree,
           cast(coalesce(p.triangles, 0) as bigint) as triangles,
           cast(case when d.degree >= 2
                then (2000000 * coalesce(p.triangles, 0))
                     // (d.degree * (d.degree - 1))
                else 0 end as bigint) as clustering_x1e6
    from degs d left join per p on p.member = d.member"""


def _topk_hashed_oracle_sql() -> str:
    """Q9 hashed top-k oracle — the query-vector literals and norm come from
    _hashed_query_vector, identical to the Spark side."""
    qv, nq = _hashed_query_vector(_TOPK_QUERY, _TOPK_DIM)
    vals = ", ".join(f"({b}, {v})" for b, v in qv)
    return _COOC_CTE + f"""
        , verb as (
          select head, tail,
                 head || ' which is a term cooccurs with ' || tail || ', a term' as text
          from cooc
        ), tok as (
          select head, tail,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as tok
          from verb
        ), kv as (
          select head, tail,
                 CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) as h
          from tok
        ), vec as (
          select head, tail, h % {_TOPK_DIM} as bucket,
                 sum(case when (h >> 59) & 1 = 1 then 1 else -1 end) as v
          from kv group by head, tail, bucket
        ), na as (
          select head, tail, sum(v * v) as na from vec group by head, tail
        ), q(bucket, qv) as (values {vals}),
        dot as (
          select vec.head, vec.tail, sum(vec.v * q.qv) as dot
          from vec join q using (bucket) group by vec.head, vec.tail
        )
        select d.head, d.tail
        from dot d join na using (head, tail)
        order by CAST(dot AS DOUBLE) / sqrt(CAST(na * {nq} AS DOUBLE)) desc,
                 head, tail
        limit 10"""


ORACLE_SQL["kg_triple_topk_hashed"] = _topk_hashed_oracle_sql()


def _query_text_hashed_oracle_sql() -> str:
    """Entry C text-path oracle: structured IN-filter, hashed top-8 (same
    vector literals as the Spark side), token-overlap relevance, hydration
    back to (head, relation, tail)."""
    qv, nq = _hashed_query_vector(_TOPK_QUERY, _TOPK_DIM)
    vals = ", ".join(f"({b}, {v})" for b, v in qv)
    rel_tokens = ", ".join(
        f"'{t}'" for t in sorted(set(
            _TOPK_QUERY.lower().replace(",", " ").replace("?", " ").split())))
    flt = "'spark', 'join', 'sort', 'vector', 'hash', 'window'"
    return _COOC_CTE + f"""
        , filtered as (
          select head, tail from cooc
          where head in ({flt}) or tail in ({flt})
        ), verb as (
          select head, tail,
                 head || ' which is a term cooccurs with ' || tail || ', a term' as text
          from filtered
        ), tok as (
          select head, tail,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as tok
          from verb
        ), kv as (
          select head, tail,
                 CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) as h
          from tok
        ), vec as (
          select head, tail, h % {_TOPK_DIM} as bucket,
                 sum(case when (h >> 59) & 1 = 1 then 1 else -1 end) as v
          from kv group by head, tail, bucket
        ), na as (
          select head, tail, sum(v * v) as na from vec group by head, tail
        ), q(bucket, qv) as (values {vals}),
        dot as (
          select vec.head, vec.tail, sum(vec.v * q.qv) as dot
          from vec join q using (bucket) group by vec.head, vec.tail
        ), top as (
          select d.head, d.tail
          from dot d join na using (head, tail)
          order by CAST(dot AS DOUBLE) / sqrt(CAST(na * {nq} AS DOUBLE)) desc,
                   head, tail
          limit 8
        )
        select t.head, 'cooccurs_with' as relation, t.tail
        from top t join verb using (head, tail)
        where len(list_intersect(
                list_distinct(string_split(lower(verb.text), ' ')),
                [{rel_tokens}])) >= 1"""


ORACLE_SQL["kg_query_text_hashed"] = _query_text_hashed_oracle_sql()


def _simhash_neardup_oracle_sql(max_hamming: int = 3, bits: int = 60,
                                band_bits: int = 15,
                                max_bucket: int = 1000) -> str:
    """Banded-hamming oracle built on the simhash oracle's signature CTEs."""
    base = _simhash_oracle_sql(bits=bits, band_bits=band_bits)
    return f"""
        with banded as ({base}
        ), sized as (
          select band_id, band_key from banded
          group by band_id, band_key
          having count(*) between 2 and {max_bucket}
        )
        select distinct a.doc_id as da, b.doc_id as db,
               bit_count(xor(a.simhash, b.simhash)) as hamming
        from banded a
        join sized s on a.band_id = s.band_id and a.band_key = s.band_key
        join banded b on a.band_id = b.band_id and a.band_key = b.band_key
                     and a.doc_id < b.doc_id
        where bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


ORACLE_SQL["simhash_neardup"] = _simhash_neardup_oracle_sql()


# --------------------------------------------------------------------------- #
# Flagship pipeline oracles (VERDICT r3 #2): DuckDB reconstructs the expected
# triples from the same doc_id arithmetic _pipeline_pages encodes in HTML
# (post-L1: the Corpex{k} alias is already rewritten to Corp{k}), then applies
# the L2/L4 merge laws independently — Spark runs the REAL extraction +
# aggregation operators end-to-end and must land on identical values.
# --------------------------------------------------------------------------- #

_PIPELINE_CTE = """
    with docs as (
      select doc_id from documents where doc_id % 11 <> 0
    ), t as (
      select 'https://p/' || cast(doc_id as varchar) || ':0' as chunk_id,
             'Alice' || cast(doc_id % 7 as varchar) as head,
             'person' as head_type, 'runs' as relation,
             'Corp' || cast(doc_id % 5 as varchar) as tail,
             'company' as tail_type
      from docs
      union all
      select 'https://p/' || cast(doc_id as varchar) || ':0',
             'Alice' || cast((doc_id + 1) % 7 as varchar), 'person', 'runs',
             'Megacorp', 'company'
      from docs where doc_id % 3 = 0
      union all
      select 'https://p/' || cast(doc_id as varchar) || ':0',
             'Alice' || cast((doc_id + 2) % 7 as varchar), 'person', 'runs',
             'Corp' || cast(doc_id % 5 as varchar), 'company'
      from docs where doc_id % 4 = 0
      union all
      select 'https://p/' || cast(doc_id as varchar) || ':0',
             'Corp' || cast(doc_id % 5 as varchar), 'company', 'located in',
             'City' || cast(doc_id % 3 as varchar), 'city'
      from docs where doc_id % 5 = 0
    ), ends as (
      select head as name, head_type as type, chunk_id from t
      union all
      select tail as name, tail_type as type, chunk_id from t
    ), node_chunks as (
      select distinct name, type, chunk_id from ends
    )
"""

ORACLE_SQL["kg_pipeline_nodes"] = _PIPELINE_CTE + """
    , nagg as (
      select name, type,
             string_agg(chunk_id, ',' order by chunk_id) as chunks,
             count(*) as chunk_count
      from node_chunks group by name, type
    ), ment as (
      select name, type, count(*) as mention_count
      from ends group by name, type
    )
    select n.name, n.type, n.chunks, m.mention_count, n.chunk_count
    from nagg n join ment m on m.name = n.name and m.type = n.type"""

ORACLE_SQL["gopher_rules"] = """
    with m as (
      select doc_id,
        len(string_split(text, ' ')) as n_words,
        cast(floor(list_aggregate(list_transform(string_split(text, ' '),
                                                 x -> length(x)), 'sum')
                   * 100.0 / greatest(len(string_split(text, ' ')), 1))
             as bigint) as mean_word_len_x100,
        cast(floor((len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\\.\\.\\.'))
                    + len(regexp_extract_all(text, '…'))) * 100.0
                   / greatest(len(string_split(text, ' ')), 1))
             as bigint) as symbol_ratio_x100,
        cast(floor(len(list_filter(string_split(text, ' '),
                                   x -> regexp_matches(x, '[A-Za-z]')))
                   * 100.0 / greatest(len(string_split(text, ' ')), 1))
             as bigint) as alpha_word_ratio_x100,
        cast(len(list_intersect(list_distinct(string_split(text, ' ')),
                 ['the','be','to','of','and','that','have','with']))
             as bigint) as stop_hits
      from documents
    ), rules as (
      select *, list_filter([
          case when n_words < 50 or n_words > 100000
               then 'word_count' end,
          case when mean_word_len_x100 < 300 or mean_word_len_x100 > 1000
               then 'mean_word_len' end,
          case when symbol_ratio_x100 > 10 then 'symbol_ratio' end,
          case when alpha_word_ratio_x100 < 80 then 'alpha_words' end,
          case when stop_hits < 2 then 'stopwords' end
        ], x -> x is not null) as fails
      from m
    )
    select doc_id, n_words, mean_word_len_x100, symbol_ratio_x100,
           alpha_word_ratio_x100, stop_hits,
           case when len(fails) = 0 then 1 else 0 end as passes,
           coalesce(array_to_string(fails, ','), '') as failed
    from rules"""

def _gopher_repetition_oracle_sql() -> str:
    """DuckDB reimplementation of q_gopher_repetition, GENERATED from the
    same constants the Spark operator uses (GOPHER_REPETITION_THRESHOLDS,
    _REP_NGRAM_NS) so the two sides can never drift: same constructed
    pages, then an independent list-function metric pipeline."""
    from .operators.textstats import (
        GOPHER_REPETITION_THRESHOLDS as TH, _REP_NGRAM_NS as NS,
    )

    ngram_items = "\n".join(f"""
      union all
      select doc_id, 'g{n}' as kind,
             unnest(case when len(toks) >= {n}
                    then list_transform(generate_series(1, len(toks)-{n - 1}),
                         i -> array_to_string(toks[i:i+{n - 1}], ' '))
                    else [] end) as key
      from src""" for n in NS)
    kinds = ["L", "P"] + [f"g{n}" for n in NS]
    wide_cols = ",\n".join(
        f"        coalesce(max(case when kind='{k}' then {c} end),0)"
        f" as {k}_{c}"
        for k in kinds for c in ("total_cnt", "dup_cnt", "dup_chars",
                                 "top_cov"))

    def cnt_frac(kind: str) -> str:
        return (f"cast(floor({kind}_dup_cnt * 1000.0"
                f" / greatest({kind}_total_cnt, 1)) as bigint)")

    def char_frac(expr: str) -> str:
        return (f"least(cast(floor({expr} * 1000.0"
                f" / greatest(n_chars, 1)) as bigint), 1000)")

    metrics = {
        "dup_line_frac": cnt_frac("L"),
        "dup_line_char_frac": char_frac("L_dup_chars"),
        "dup_para_frac": cnt_frac("P"),
        "dup_para_char_frac": char_frac("P_dup_chars"),
        **{f"top_{n}gram": char_frac(f"g{n}_top_cov") for n in (2, 3, 4)},
        **{f"dup_{n}gram": char_frac(f"g{n}_dup_chars")
           for n in NS if n >= 5},
    }
    metric_cols = ",\n".join(f"        {sql} as {name}_x1000"
                             for name, sql in metrics.items())
    fail_items = ",\n".join(
        f"          case when {name}_x1000 > {TH[name]}"
        f" then '{name}' end" for name in metrics)
    out_cols = ", ".join(f"{name}_x1000" for name in metrics)
    return f"""
    with pages as (
      select doc_id,
        case cast(doc_id % 4 as integer)
          when 0 then 'a' || cast(doc_id as varchar) || ' b c' || chr(10)
                      || 'dup line ' || cast(doc_id % 7 as varchar) || chr(10)
                      || 'dup line ' || cast(doc_id % 7 as varchar)
                      || chr(10) || 'z' || cast(doc_id as varchar)
          when 1 then 'para one ' || cast(doc_id as varchar)
                      || chr(10) || chr(10)
                      || 'para one ' || cast(doc_id as varchar)
                      || chr(10) || chr(10) || 'tail ' || cast(doc_id as varchar)
          when 2 then repeat('buy now ', 15) || 'end ' || cast(doc_id as varchar)
          else substr(text, 1, 120)
        end as text
      from documents
    ), src as (
      select doc_id, text, length(text) as n_chars,
             string_split(text, ' ') as toks
      from pages
    ), items as (
      select doc_id, 'L' as kind,
             unnest(string_split(text, chr(10))) as key from src
      union all
      select doc_id, 'P', unnest(string_split(text, chr(10)||chr(10)))
      from src{ngram_items}
    ), c1 as (
      select doc_id, kind, key, count(*) as cnt
      from items group by doc_id, kind, key
    ), c2 as (
      select doc_id, kind,
        sum(cnt) as total_cnt,
        coalesce(sum(case when cnt > 1 then cnt end), 0) as dup_cnt,
        coalesce(sum(case when cnt > 1 then cnt*length(key) end), 0)
          as dup_chars,
        coalesce(max(case when cnt > 1 then cnt*length(key) end), 0)
          as top_cov
      from c1 group by doc_id, kind
    ), wide as (
      select doc_id,
{wide_cols}
      from c2 group by doc_id
    ), metrics as (
      select w.doc_id,
{metric_cols}
      from wide w join (select doc_id, n_chars from src) s
        on s.doc_id = w.doc_id
    ), rules as (
      select *, list_filter([
{fail_items}
        ], x -> x is not null) as fails
      from metrics
    )
    select doc_id, {out_cols},
           case when len(fails) = 0 then 1 else 0 end as passes,
           coalesce(array_to_string(fails, ','), '') as failed
    from rules"""


ORACLE_SQL["gopher_repetition"] = _gopher_repetition_oracle_sql()

ORACLE_SQL["boilerplate_strip"] = """
    with lines as (
      select doc_id, 1 as pos, 'NAV home about contact' as line
      from documents
      union all
      select doc_id, 2, substr(text, 1, 80) from documents
      union all
      select doc_id, 3, 'Cookie notice site ' || cast(doc_id % 5 as varchar)
      from documents
      union all
      select doc_id, 4, 'COPYRIGHT footer' from documents
    ), hot as (
      select line from lines group by line
      having count(distinct doc_id)
             > 0.05 * (select count(*) from documents)
    ), kept as (
      select l.doc_id, l.pos, l.line
      from lines l anti join hot h on l.line = h.line
    ), agg as (
      select doc_id, string_agg(line, chr(10) order by pos) as clean_text,
             count(*) as n_kept
      from kept group by doc_id
    ), tot as (
      select doc_id, count(*) as n_lines from lines group by doc_id
    )
    select t.doc_id, coalesce(a.clean_text, '') as clean_text,
           coalesce(a.n_kept, 0) as n_kept,
           t.n_lines - coalesce(a.n_kept, 0) as n_dropped
    from tot t left join agg a on a.doc_id = t.doc_id"""

# ground-truth survivors computed straight from doc_id arithmetic: the
# planted 3-line span is the ONLY repeated span by construction (all other
# lines embed the doc_id), so 25% of pages keep exactly their first and
# last lines and the rest keep all five
ORACLE_SQL["span_dedup"] = """
    select doc_id,
      case when doc_id % 4 = 1
           then 'u' || cast(doc_id as varchar) || 'a' || chr(10)
                || 'w' || cast(doc_id as varchar) || 'e'
           else 'u' || cast(doc_id as varchar) || 'a' || chr(10)
                || 'v' || cast(doc_id as varchar) || 'b' || chr(10)
                || 'v' || cast(doc_id as varchar) || 'c' || chr(10)
                || 'v' || cast(doc_id as varchar) || 'd' || chr(10)
                || 'w' || cast(doc_id as varchar) || 'e'
      end as clean_text,
      cast(case when doc_id % 4 = 1 then 2 else 5 end as bigint) as n_kept,
      cast(case when doc_id % 4 = 1 then 3 else 0 end as bigint) as n_dropped
    from documents"""

# same 5-gram shingle pipeline over the same eval slices, re-derived with
# DuckDB list functions (shingle separator '_' matches textstats.shingles)
ORACLE_SQL["decontaminate"] = """
    with toks as (
      select doc_id, string_split(text, ' ') as t from documents
    ), ev_sh as (
      select distinct shingle from (
        select unnest(case when len(et) >= 5
               then list_transform(generate_series(1, len(et)-4),
                    i -> array_to_string(et[i:i+4], '_'))
               else [] end) as shingle
        from (select t[3:12] as et from toks where doc_id % 10 = 3))
    ), doc_sh as (
      select distinct doc_id, shingle from (
        select doc_id,
               unnest(case when len(t) >= 5
               then list_transform(generate_series(1, len(t)-4),
                    i -> array_to_string(t[i:i+4], '_'))
               else [] end) as shingle
        from toks)
    ), hits as (
      select doc_id, count(*) as n_hits
      from doc_sh join ev_sh using (shingle) group by doc_id
    )
    select d.doc_id, coalesce(h.n_hits, 0) as n_hits,
           case when coalesce(h.n_hits, 0) > 0 then 1 else 0 end
             as contaminated
    from documents d left join hits h on h.doc_id = d.doc_id"""

# ground-truth redaction computed straight from doc_id arithmetic — the
# Spark regex chain must land on it (and must NOT touch the v1.2.3 decoy)
ORACLE_SQL["redact_pii"] = """
    select doc_id,
      case cast(doc_id % 4 as integer)
        when 0 then 'contact <EMAIL> see ' || substr(text, 1, 40)
        when 1 then 'call <PHONE> soon'
        when 2 then 'server <IP> build v1.2.3 ok'
        else substr(text, 1, 80)
      end as redacted,
      cast(case when doc_id % 4 = 0 then 1 else 0 end as int) as n_emails,
      cast(case when doc_id % 4 = 1 then 1 else 0 end as int) as n_phones,
      cast(case when doc_id % 4 = 2 then 1 else 0 end as int) as n_ips
    from documents"""

# ExactSubstr re-derived in SQL: same planted passage, raw window keys,
# row_number keep-first (equals Spark's min(struct) on (doc, pos)),
# interval merge via the same gaps-and-islands arithmetic
ORACLE_SQL["exact_substr_dedup"] = """
    with t as (
      select doc_id,
             string_split(
               case when doc_id % 4 = 0
                    then text || ' ' ||
                         'promo0 promo1 promo2 promo3 promo4 ' ||
                         'promo5 promo6 promo7 promo8 promo9'
                    else text end, ' ') as l
      from documents
    ), wins as (
      select doc_id, i - 1 as pos,
             array_to_string(l[i:i+7], chr(1)) as key
      from t, unnest(range(1, len(l) - 6)) as r(i)
    ), grp as (
      select key, count(*) as n from wins group by key
    ), firsts as (
      select key, doc_id, pos,
             row_number() over (partition by key
                                order by doc_id, pos) as rn
      from wins
    ), rem as (
      select f.doc_id, f.pos as s, f.pos + 7 as e
      from firsts f join grp g using (key)
      where g.n >= 2 and f.rn > 1
    ), isl as (
      select doc_id, s, e,
        case when s > coalesce(max(e) over (
               partition by doc_id order by s
               rows between unbounded preceding and 1 preceding), -2) + 1
             then 1 else 0 end as brk
      from rem
    ), isl2 as (
      select doc_id, s, e,
             sum(brk) over (partition by doc_id order by s
                            rows between unbounded preceding
                            and current row) as isl_id
      from isl
    ), merged as (
      select doc_id, min(s) as s, max(e) as e
      from isl2 group by doc_id, isl_id
    ), cov as (
      select doc_id, unnest(generate_series(s, e)) as pos from merged
    ), units as (
      select doc_id, i - 1 as pos, l[i] as unit
      from t, unnest(range(1, len(l) + 1)) as r(i)
    ), kept as (
      select u.doc_id, u.pos, u.unit
      from units u left join cov c
        on u.doc_id = c.doc_id and u.pos = c.pos
      where c.pos is null
    ), agg as (
      select doc_id, string_agg(unit, ' ' order by pos) as clean_text,
             cast(count(*) as bigint) as n_kept
      from kept group by doc_id
    )
    select t.doc_id,
           coalesce(a.clean_text, '') as clean_text,
           cast(coalesce(a.n_kept, 0) as bigint) as n_kept,
           cast(len(t.l) - coalesce(a.n_kept, 0) as bigint) as n_dropped
    from t left join agg a on t.doc_id = a.doc_id"""

# the packed-sequence layout rebuilt from one global window cumsum +
# per-token global positions; sequences fingerprinted by ordered md5
ORACLE_SQL["materialize_seqs"] = """
    with t as (
      select doc_id, string_split(text, ' ') as l from documents
    ), c as (
      select doc_id, l,
             cast(coalesce(sum(len(l)) over (
               order by doc_id
               rows between unbounded preceding and 1 preceding), 0)
             as bigint) as cum
      from t
    ), tok as (
      select c.cum + i - 1 as gpos, l[i] as tok
      from c, unnest(range(1, len(l) + 1)) as p(i)
    ), s as (
      select gpos // 256 as seq_id, gpos % 256 as off, tok from tok
    )
    select seq_id, cast(count(*) as bigint) as n_tokens,
           md5(string_agg(tok, ' ' order by off)) as seq_md5
    from s group by seq_id"""

# the stupid-backoff bigram model refit in SQL — vocab/bigram tables,
# costs, backoff penalty and the first-token/pair split all re-derived;
# the 0.4 penalty constant is generated from textstats.BACKOFF_X1E6 so the
# SQL cannot desynchronize from the engine
def _lm_bigram_oracle_sql(vocab_size: int = 20, bigram_size: int = 64) -> str:
    from .operators.textstats import BACKOFF_X1E6

    return f"""
    with toks as (
      select doc_id, string_split(text, ' ') as l from documents
    ), ucnt as (
      select tok, cast(count(*) as bigint) as cnt
      from (select unnest(l) as tok from toks) group by tok
    ), tot as (
      select cast(sum(cnt) as bigint) as total from ucnt
    ), vocab as (
      select tok, cast(-floor(1e6 * ln(cnt / t.total)) as bigint) as tok_cost
      from (select tok, cnt from ucnt
            order by cnt desc, tok limit {vocab_size}) v, tot t
    ), oov as (
      select cast(-floor(1e6 * ln(1.0 / total)) as bigint) as c from tot
    ), dp as (
      select doc_id, l[i] as w1, l[i + 1] as w2
      from toks, unnest(range(1, len(l))) as t(i)
    ), bcnt as (
      select w1, w2, count(*) as c12 from dp group by w1, w2
    ), bigram as (
      select b.w1, b.w2,
             cast(-floor(1e6 * ln(b.c12 / u.cnt)) as bigint) as bi_cost
      from (select * from bcnt
            order by c12 desc, w1, w2 limit {bigram_size}) b
      join ucnt u on b.w1 = u.tok
    ), dpc as (
      select doc_id, w1, w2, cast(count(*) as bigint) as c
      from dp group by 1, 2, 3
    ), pc as (
      select d.doc_id, d.c,
             coalesce(bg.bi_cost,
                      {BACKOFF_X1E6} + coalesce(v.tok_cost, o.c)) as cost
      from dpc d
      left join bigram bg on d.w1 = bg.w1 and d.w2 = bg.w2
      left join vocab v on d.w2 = v.tok
      cross join oov o
    ), fst as (
      select t.doc_id, cast(len(t.l) as bigint) as n_tokens,
             coalesce(v.tok_cost, o.c) as first_cost
      from toks t left join vocab v on t.l[1] = v.tok cross join oov o
    ), agg as (
      select doc_id, sum(c * cost) as pair_sum from pc group by doc_id
    )
    select f.doc_id, f.n_tokens,
           cast((f.first_cost + coalesce(a.pair_sum, 0)) // f.n_tokens
                as bigint) as ce_x1e6
    from fst f left join agg a on f.doc_id = a.doc_id"""


ORACLE_SQL["lm_bigram_score"] = _lm_bigram_oracle_sql()

# the leakage-safe split re-derived in SQL: same coalesced cluster key,
# same md5_60 gate, same sorted-name ppm ranges (test|train|val)
ORACLE_SQL["leakage_split"] = """
    with c as (
      select doc_id, doc_id - (doc_id % 10) as key
      from documents where doc_id % 2 = 0
    ), k as (
      select d.doc_id, coalesce(c.key, d.doc_id) as key
      from documents d left join c on d.doc_id = c.doc_id
    ), g as (
      select doc_id,
        cast(('0x' || substr(md5(cast(key as varchar)), 1, 15)) as bigint)
          % 1000000 as h
      from k
    )
    select doc_id,
           case when h < 100000 then 'test'
                when h < 900000 then 'train'
                else 'val' end as split
    from g"""

# the Bloom probe family re-derived in SQL: same md5 digest, same k=4
# "#i"-salted md5_60 probes mod 4096, same distinct-positions AND rule —
# hits AND false positives reproduce bit-for-bit
ORACLE_SQL["bloom_seen"] = """
    with h as (
      select md5(text) as digest from documents where doc_id % 3 = 0
    ), hp as (
      select distinct
        cast(concat('0x', substr(md5(digest || '#' || i), 1, 15)) as bigint)
          % 4096 as pos
      from h, unnest([0, 1, 2, 3]) as t(i)
    ), n as (
      select doc_id, md5(text) as digest
      from documents where doc_id % 3 <> 0
    ), np as (
      select distinct doc_id,
        cast(concat('0x', substr(md5(digest || '#' || i), 1, 15)) as bigint)
          % 4096 as pos
      from n, unnest([0, 1, 2, 3]) as t(i)
    ), agg as (
      select np.doc_id,
             cast(count(*) as int) as n_probes,
             cast(sum(case when hp.pos is not null then 1 else 0 end) as int)
               as n_hits
      from np left join hp on np.pos = hp.pos
      group by np.doc_id
    )
    select doc_id, n_probes, n_hits,
           cast(n_hits = n_probes as int) as seen
    from agg"""

# the DSIR model refit in SQL: same md5_60 unigram+bigram buckets, same
# add-1 smoothing, same floor(1e6*ln) fixed point; target (en) is a subset
# of raw, so every scored bucket exists in the raw count table and the
# unseen-bucket default weight never fires
ORACLE_SQL["dsir_scores"] = """
    with toks as (
      select doc_id, lang, string_split(text, ' ') as l from documents
    ), ng as (
      select doc_id, lang, unnest(l) as ng from toks
      union all
      select doc_id, lang, array_to_string(l[i:i+1], ' ') as ng
      from toks, unnest(range(1, len(l))) as t(i)
    ), b as (
      select doc_id, lang,
             cast(concat('0x', substr(md5(ng), 1, 15)) as bigint) % 1024
               as bucket
      from ng
    ), tc as (
      select bucket, count(*) as ct from b where lang = 'en' group by bucket
    ), rc as (
      select bucket, count(*) as cr from b group by bucket
    ), tot as (
      select (select count(*) from b where lang = 'en') + 1024 as tt,
             (select count(*) from b) + 1024 as tr
    ), w as (
      select rc.bucket,
             cast(floor(1e6 * ln((coalesce(ct, 0) + 1) / tt))
                  - floor(1e6 * ln((cr + 1) / tr)) as bigint) as w
      from rc left join tc using (bucket) cross join tot
    )
    select b.doc_id,
           cast(count(*) as bigint) as n_ngrams,
           cast(sum(w.w) as bigint) as score_x1e6
    from b join w using (bucket)
    group by b.doc_id"""

# the packing layout re-derived with ONE global window cumsum: the Spark
# side's sharded two-phase prefix sum must land on identical spans
ORACLE_SQL["pack_sequences"] = """
    with t as (
      select doc_id,
             cast(len(string_split(text, ' ')) as bigint) as n_tokens
      from documents
    ), c as (
      select doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) over (
               order by doc_id
               rows between unbounded preceding and 1 preceding), 0)
             as bigint) as cum_before
      from t
    )
    select doc_id, n_tokens, cum_before,
           cum_before // 512 as seq_id,
           cum_before % 512 as seq_offset,
           case when n_tokens > 0
                then (cum_before + n_tokens - 1) // 512
                else cum_before // 512 end as seq_end_id,
           case when n_tokens > 0
                then (cum_before + n_tokens - 1) // 512
                     - cum_before // 512 + 1
                else 0 end as n_seqs_spanned
    from c"""

# the md5_60 gate re-derived in SQL: same hash, same ppm thresholds, same
# floor + fractional-Bernoulli copy count, same 0..k-1 copy explosion
ORACLE_SQL["sample_mix"] = """
    with g as (
      select doc_id, lang,
        cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))
             as bigint) % 1000000 as h,
        case lang when 'en' then 1500000 when 'de' then 500000
                  when 'fr' then 250000 when 'es' then 1000000
                  when 'zh' then 0 else 0 end as ppm
      from documents
    ), c as (
      select doc_id, lang,
             ppm // 1000000
             + case when h < ppm % 1000000 then 1 else 0 end as copies
      from g
    )
    select doc_id, lang, unnest(generate_series(0, copies - 1)) as copy
    from c where copies > 0"""

# ground-truth canonical computed straight from doc_id arithmetic — the
# Spark side must land on it through the regex normalization chain
ORACLE_SQL["url_canonicalize"] = """
    with u as (
      select doc_id,
        case cast(doc_id % 4 as integer)
          when 0 then 'http://example.com/p/' || cast(doc_id % 50 as varchar)
          when 1 then 'HTTP://EXAMPLE.COM/p/' || cast(doc_id % 50 as varchar)
          when 2 then 'http://example.com:80/p/'
                      || cast(doc_id % 50 as varchar) || '?utm_source=email'
          else 'http://example.com/p/' || cast(doc_id % 50 as varchar)
               || '?utm_campaign=x&ref=1#frag'
        end as url,
        'http://example.com/p/' || cast(doc_id % 50 as varchar)
          || case when doc_id % 4 = 3 then '?ref=1' else '' end as canon
      from documents
    )
    select canon as canonical_url, count(*) as n_variants,
           min(url) as first_variant
    from u group by canon"""

# arithmetic crawl-URL fixture shared by the domain entries: host and
# registered domain stated as GROUND TRUTH from doc_id, never re-parsed
_DOMAIN_CTE = """
    with u as (
      select doc_id,
        'http://h' || cast(doc_id % 3 as varchar)
          || '.dom' || cast(doc_id % 5 as varchar)
          || case when doc_id % 2 = 0 then '.com' else '.co.uk' end
          || '/p/' || cast(doc_id as varchar) as url,
        'h' || cast(doc_id % 3 as varchar)
          || '.dom' || cast(doc_id % 5 as varchar)
          || case when doc_id % 2 = 0 then '.com' else '.co.uk' end as host,
        'dom' || cast(doc_id % 5 as varchar)
          || case when doc_id % 2 = 0 then '.com' else '.co.uk' end as dom
      from documents
    )"""

ORACLE_SQL["domain_stats"] = _DOMAIN_CTE + """
    select dom as registered_domain, count(*) as n_docs,
           count(distinct host) as n_hosts
    from u group by dom"""

# blocklist ground truth: dom0.com (registered), dom3.co.uk (second-level
# suffix), h1.dom2.com (host-only), om1.com (string-suffix decoy: no hit)
ORACLE_SQL["domain_filter"] = _DOMAIN_CTE + """
    select doc_id, url,
      cast(case
        when doc_id % 2 = 0 and doc_id % 5 = 0 then 1
        when doc_id % 2 = 1 and doc_id % 5 = 3 then 1
        when doc_id % 2 = 0 and doc_id % 5 = 2 and doc_id % 3 = 1 then 1
        else 0 end as int) as blocked
    from u"""

ORACLE_SQL["domain_cap"] = _DOMAIN_CTE + """
    select doc_id, url from (
      select doc_id, url,
             row_number() over (partition by dom order by doc_id) as rk
      from u
    ) where rk <= 7"""

ORACLE_SQL["kg_pipeline_edges"] = _PIPELINE_CTE + """
    , ekeys as (
      select distinct head, head_type, relation, tail, tail_type from t
    ), inter as (
      select k.head, k.head_type, k.relation, k.tail, k.tail_type, h.chunk_id
      from ekeys k
      join node_chunks h on h.name = k.head and h.type = k.head_type
      join node_chunks tt on tt.name = k.tail and tt.type = k.tail_type
                         and tt.chunk_id = h.chunk_id
    ), allc as (
      select head, head_type, relation, tail, tail_type, chunk_id from t
      union
      select head, head_type, relation, tail, tail_type, chunk_id from inter
    )
    select head, relation as rel_type, tail,
           string_agg(chunk_id, ',' order by chunk_id) as chunks
    from allc group by head, head_type, relation, tail, tail_type"""


_NGRAM_PAIR_CC_CTE = """
    with tok as (select doc_id, string_split(text,' ') as toks from documents),
    sh as (
      select distinct doc_id,
             unnest([toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3]
                     for i in range(greatest(len(toks)-2,0))]) as shingle
      from tok),
    sz as (select doc_id, count(*) as n from sh group by doc_id),
    cand as (
      select a.doc_id as da, b.doc_id as db, count(*) as common
      from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
      group by a.doc_id, b.doc_id),
    jpairs as (
      select da, db
      from cand join sz sa on da = sa.doc_id join sz sb on db = sb.doc_id
      where common * 2 >= (sa.n + sb.n - common)),
    e as (
      select da as src, db as dst from jpairs
      union
      select db as src, da as dst from jpairs),
    reach as (
      with recursive r(src, dst) as (
        select src, src from e
        union
        select r.src, e.dst from r join e on r.dst = e.src
      )
      select * from r)"""

# Fuzzy-dedup cluster resolution: the same ngram-Jaccard pair derivation as
# the dedup_ngram_jaccard oracle (tok/sh/sz literals kept textually in sync),
# then a recursive-CTE transitive closure — so the distributed min-label CC
# loop is value-checked on real near-dup structure including transitivity
# (A~B, B~C => one cluster even with no direct A-C pair).
ORACLE_SQL["neardup_clusters"] = _NGRAM_PAIR_CC_CTE + """
    select src as member, min(dst) as component
    from reach group by src"""

ORACLE_SQL["neardup_dedup"] = _NGRAM_PAIR_CC_CTE + """
    , cc as (
      select src as member, min(dst) as component
      from reach group by src)
    select doc_id from documents
    where doc_id not in (select member from cc where member <> component)"""


# CCNet-style LM score: the oracle refits the same unigram model (top-20
# vocab by (count desc, token), costs -floor(1e6*ln(cnt/total)), OOV =
# hapax cost) and re-derives the integer-division mean and the literal
# bucket thresholds — both engines do the ln in IEEE double on identical
# inputs, and every downstream step is bigint arithmetic.
ORACLE_SQL["lm_unigram_score"] = """
    with tok as (select doc_id, unnest(string_split(text,' ')) as tok
                 from documents),
    dcnt as (select doc_id, tok, count(*) as c from tok group by 1, 2),
    cnt as (select tok, cast(sum(c) as bigint) as cnt from dcnt group by tok),
    tot as (select cast(sum(cnt) as bigint) as total from cnt),
    vocab as (
      select tok, cast(-floor(1e6 * ln(cnt / t.total)) as bigint) as tok_cost
      from (select tok, cnt from cnt order by cnt desc, tok limit 20) v,
           tot t),
    oov as (select cast(-floor(1e6 * ln(1.0 / total)) as bigint) as c
            from tot),
    scored as (
      select d.doc_id, cast(sum(d.c) as bigint) as n_tokens,
             cast(sum(d.c * coalesce(v.tok_cost, o.c)) // sum(d.c) as bigint)
               as ce_x1e6
      from dcnt d left join vocab v on d.tok = v.tok cross join oov o
      group by d.doc_id)
    select doc_id, n_tokens, ce_x1e6,
           case when ce_x1e6 <= 5400000 then 'head'
                when ce_x1e6 <= 5800000 then 'middle'
                else 'tail' end as lm_bucket
    from scored"""

# registered last: the generator nests ORACLE_SQL["neardup_clusters"],
# which is itself assigned above
ORACLE_SQL["cluster_eval"] = _cluster_eval_oracle_sql()
