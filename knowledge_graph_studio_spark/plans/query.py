"""Query layer over the materialized nodes/edges tables — the reference's
Entry C (`POST /graphs/{id}/query` -> MixedQueryProcessor.query,
services/graph_service.py:1890-2071) re-expressed as DataFrame plans.

Operator parity (file:line in /root/reference/src/whyhow_api):
  Q11 structured subgraph prefilter  graph_service.py:1492-1546
  Q12 triple hydration               graph_service.py:1548-1648,
                                     crud/graph.py:377-585
  Q9  triple vector top-k            graph_service.py:1650-1779 (numCandidates
                                     64 / limit 64, config.py:143-149) — exact
                                     brute-force cosine (>= ANN recall)
  Q13 relevance filter               graph_service.py:1781-1842 (LLM) — here a
                                     deterministic token-overlap score with the
                                     same position and contract in the pipeline
  Q14 answer synthesis               graph_service.py:1844-1888 — deterministic
                                     stub behind the same interface
  Q15 graph chunk provenance         crud/graph.py:588-723
  Q16 relation listing               crud/graph.py:99-107 — excludes
                                     type="Contains" (crud/graph.py:100,408)
  Q18 triple compression             utilities/common.py:52-96
  Q7  sort/skip/limit pagination     utilities/routers.py:25-90

Scale notes: every prefilter is a semi-join against a broadcast id set (the
filtered node-id set is small by construction — it's a query, not a scan);
hydration joins go node->edge with the node side broadcast when it fits, else
AQE picks shuffle-hash; top-k is TakeOrderedAndProject (no global sort
materialization)."""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.embedding_core import TRIPLE_DIM, embed_text
from ..functions.literals import bounded_collect, literal_array, literal_df
from ..functions.text import token_windows, tokens
from ..functions.vector import cosine_col
from ..io.catalog import write_counted
from ..operators.linking import ROUNDS_PER_SEAL, undirected_edges


@dataclass
class QueryParameters:
    """schemas/queries.py:16-46 shape: optional free-text plus structured
    entity/relation/value filters. ``workspace``/``created_by``/``graph``
    scope every read the way the reference keys all queries by user and
    workspace (crud/chunks.py:103-165, graph_service.py:1892-1930); None
    = unscoped (single-tenant table)."""
    content: str | None = None
    entities: list[str] = field(default_factory=list)
    relations: list[str] = field(default_factory=list)
    values: list[str] = field(default_factory=list)
    limit: int = 64          # config.py:147 triple_vector_search_limit
    return_answer: bool = False
    graph: str | None = None
    workspace: str | None = None
    created_by: str | None = None


def scope_filter(
    df: DataFrame,
    graph: str | None = None,
    workspace: str | None = None,
    created_by: str | None = None,
) -> DataFrame:
    """Tenant scoping predicate (reference: every find/upsert filter carries
    created_by + workspace, e.g. graph_service.py:557-563,
    crud/chunks.py:103-165). Plain equality filters on partition-friendly
    columns — at scale these tables are written partitioned by
    (workspace, graph), so the filter prunes whole partitions before the
    scan (asserted in tests/test_plan_quality.py)."""
    for col, val in (("graph", graph), ("workspace", workspace),
                     ("created_by", created_by)):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df


# --------------------------------------------------------------------------- #
# Q11 — structured subgraph prefilter
# --------------------------------------------------------------------------- #

def structured_filter(
    nodes: DataFrame,
    edges: DataFrame,
    entities: list[str] | None = None,
    relations: list[str] | None = None,
    values: list[str] | None = None,
) -> DataFrame:
    """Edges whose rel_type matches AND whose head OR tail is in the filtered
    node set (graph_service.py:1492-1546: type ∈ entities [+ name ∈ values]).

    The OR-semi-join is two equi-semi-joins unioned then deduped by edge_id —
    equi joins shuffle-partition cleanly; a single OR-predicate join would
    force a nested-loop."""
    e = edges
    if relations:
        e = e.filter(F.col("rel_type").isin(relations))
    if entities or values:
        n = nodes
        if entities:
            n = n.filter(F.col("type").isin(entities))
        if values:
            n = n.filter(F.col("name").isin(values))
        ids = F.broadcast(n.select("node_id"))
        by_head = e.join(ids, e["head_id"] == ids["node_id"], "left_semi")
        by_tail = e.join(ids, e["tail_id"] == ids["node_id"], "left_semi")
        e = by_head.union(by_tail).dropDuplicates(["edge_id"])
    return e


# --------------------------------------------------------------------------- #
# Q12 — hydration (nested head_node/relation/tail_node rows + unique nodes)
# --------------------------------------------------------------------------- #

def hydrate_triples(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Join head/tail node records into nested structs
    (graph_service.py:1548-1648 $lookup x2 + $replaceRoot shape)."""
    n = nodes.select("node_id", "name", "type", "properties", "chunks")
    h = n.select(
        F.col("node_id").alias("head_id"),
        F.struct(
            F.col("node_id").alias("node_id"), F.col("name").alias("name"),
            F.col("type").alias("type"), F.col("properties").alias("properties"),
        ).alias("head_node"),
    )
    t = n.select(
        F.col("node_id").alias("tail_id"),
        F.struct(
            F.col("node_id").alias("node_id"), F.col("name").alias("name"),
            F.col("type").alias("type"), F.col("properties").alias("properties"),
        ).alias("tail_node"),
    )
    return (
        edges.join(h, "head_id", "left")
        .join(t, "tail_id", "left")
        .select(
            "edge_id", "head_node",
            F.struct(
                F.col("rel_type").alias("name"),
                F.col("properties").alias("properties"),
            ).alias("relation"),
            "tail_node", "chunks",
        )
    )


def unique_nodes_of(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Distinct endpoint nodes of an edge set (graph_service.py:2025-2043)."""
    ids = (
        edges.select(F.col("head_id").alias("node_id"))
        .union(edges.select(F.col("tail_id").alias("node_id")))
        .distinct()
    )
    return nodes.join(ids, "node_id", "left_semi")


# --------------------------------------------------------------------------- #
# Q9 — brute-force cosine top-k over edge embeddings
# --------------------------------------------------------------------------- #

def similarity_search(
    edges_with_embedding: DataFrame, query_text: str, k: int = 64
) -> DataFrame:
    """Embed the query at TRIPLE_DIM (graph_service.py:1671-1681) and score
    every candidate edge exactly; `orderBy().limit()` compiles to
    TakeOrderedAndProject. Query vector rides as one typed array literal
    (it is one row — the degenerate broadcast), so the analyzed plan holds
    a single Literal rather than a TRIPLE_DIM-child CreateArray for
    Catalyst to walk on every execution."""
    qv = embed_text(query_text, TRIPLE_DIM).astype("float64")
    scored = edges_with_embedding.withColumn(
        "score", cosine_col(F.col("embedding"),
                            literal_array(qv.tolist(), "double"))
    )
    return scored.orderBy(F.desc("score"), F.asc("edge_id")).limit(k)


# --------------------------------------------------------------------------- #
# Q9 at scale — precomputed LSH index over the edge embeddings
# --------------------------------------------------------------------------- #

# Edge-table row count below which the planner prefers the exact scan even
# when an index is available: one codegen'd pass over a table this small is
# cheaper than the probe-join round trip, and exact >= ANN for recall. Above
# it, a per-query full scan of the embedding column is the reference's own
# anti-pattern — Atlas uses an ANN index with numCandidates=64
# (config.py:143-149) — so the planner switches to the index.
ANN_EXACT_MAX_ROWS = 65_536

# numCandidates analog: bound on how many index hits get exact-scored per
# query (config.py:145 triple_vector_search_num_candidates scaled up — we
# score candidates exactly, so a larger pool only costs the bounded join).
ANN_MAX_CANDIDATES = 4_096

_TB_SHIFT = 32  # tb_key = table_id << 32 | bucket (bucket < 2^n_planes)


class EdgeAnnIndex:
    """Precomputed random-hyperplane LSH index over an edge-embedding table
    (V2), the 100 TB text-query path for Entry C.

    Built ONCE per graph version with a single scan (`build`, optionally
    persisted to parquet with `save`/`load`); each text query then probes its
    n_tables (table_id, bucket) keys — computed driver-side, no job — as a
    literal IN filter on the index's packed `tb_key` column, which parquet
    pushes down (PushedFilters: In(tb_key, ...), asserted in
    tests/test_query_plan.py). Candidate edge ids come back bounded by
    ANN_MAX_CANDIDATES and only those rows get exact cosine scoring: the
    per-query plan never evaluates the embedding column over the full table.

    Reference parity: the Atlas ANN index + numCandidates/limit knobs the
    reference queries through (graph_service.py:1650-1779, config.py:143-149);
    recall vs the exact scan is asserted through query_graph itself in
    tests/test_query_plan.py."""

    def __init__(self, index_df: DataFrame, n_rows: int | None,
                 n_planes: int, n_tables: int, seed: int):
        self.index_df = index_df  # (edge_id, tb_key)
        self._n_rows = n_rows
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.seed = seed

    @property
    def n_rows(self) -> int:
        """Indexed edges. ``save`` observes them on the index write and
        ``load`` reads them back; an index queried unsaved counts them
        once, on first read (query_graph's exact-vs-index planner check).
        ``lsh_bucket_keys`` emits exactly ``n_tables`` rows per edge."""
        if self._n_rows is None:
            self._n_rows = self.index_df.count() // self.n_tables
        return self._n_rows

    @classmethod
    def build(cls, edges_embedded: DataFrame, n_planes: int = 4,
              n_tables: int = 16, seed: int = 7) -> "EdgeAnnIndex":
        from ..operators.similarity import lsh_bucket_keys

        keyed = lsh_bucket_keys(edges_embedded, "embedding", "edge_id",
                                n_planes, n_tables, seed)
        idx = keyed.select(
            "edge_id",
            (F.shiftleft(F.col("table_id").cast("long"), _TB_SHIFT)
             + F.col("bucket")).alias("tb_key"),
        )
        return cls(idx, None, n_planes, n_tables, seed)

    def save(self, path: str) -> None:
        """Materialize so queries probe parquet (pushed IN filter) instead of
        recomputing the bucketer; metadata rides in a sidecar row, its
        ``n_rows`` observed on the index write itself."""
        self._n_rows = write_counted(self.index_df, path) // self.n_tables
        meta = literal_df(
            self.index_df.sparkSession,
            [(self.n_rows, self.n_planes, self.n_tables, self.seed)],
            "n_rows long, n_planes int, n_tables int, seed int")
        meta.write.mode("overwrite").parquet(f"{path}_meta")

    @classmethod
    def load(cls, spark, path: str) -> "EdgeAnnIndex":
        """Follow the `{path}.ptr` indirection when present: refresh_ann_index
        commits a new version by atomically replacing the pointer file, so a
        loader never observes a half-swapped data/meta pair (ADVICE r4)."""
        import os

        ptr = f"{path}.ptr"
        if os.path.exists(ptr):
            with open(ptr) as fh:
                path = fh.read().strip()
        m = spark.read.parquet(f"{path}_meta").collect()[0]
        return cls(spark.read.parquet(path), m["n_rows"], m["n_planes"],
                   m["n_tables"], m["seed"])

    def candidate_ids(self, query_vec,
                      max_candidates: int = ANN_MAX_CANDIDATES,
                      allowed: DataFrame | None = None) -> list[int]:
        """Driver-side bounded candidate fetch: n_tables literal keys ->
        pushed IN filter -> candidate edge ids RANKED BY COLLISION COUNT
        (how many of the n_tables the edge shares with the query — the
        standard multi-probe LSH proxy for similarity; ties break by
        edge_id), capped at max_candidates. The collect is bounded by the
        cap — the exact analog of the reference pulling numCandidates ids
        from Atlas.

        ``allowed`` (ADVICE r3): an optional DataFrame with an ``edge_id``
        column (e.g. the structured prefilter's output). Index hits are
        SEMI-JOINED against it BEFORE ranking/capping, mirroring how Atlas
        $vectorSearch applies its filter inside the index search — without
        this, a selective prefilter could see its survivors pushed out of
        the cap by ineligible edges and recall would silently collapse.

        An earlier version capped by plain edge_id order, which kept the
        LOWEST ids rather than the most-promising candidates; collision-
        count ranking keeps top-k recall stable when probed buckets
        overflow the cap."""
        from ..operators.similarity import lsh_query_keys

        keys = [(t << _TB_SHIFT) | b for t, b in
                lsh_query_keys(query_vec, self.n_planes, self.n_tables,
                               self.seed)]
        hits = self.index_df.filter(F.col("tb_key").isin(keys))
        if allowed is not None:
            hits = hits.join(allowed.select("edge_id"), "edge_id",
                             "left_semi")
        rows = (
            hits.groupBy("edge_id")
            .agg(F.count("*").alias("_ncoll"))
            .orderBy(F.desc("_ncoll"), F.asc("edge_id"))
            .limit(max_candidates)
            .collect()
        )
        return [r["edge_id"] for r in rows]

    def extend(self, new_edges_embedded: DataFrame) -> "EdgeAnnIndex":
        """Append-only delta update (VERDICT r3 #5): bucket ONLY the new
        edges with the SAME planes (n_planes/n_tables/seed) and union them
        into the index. Exact for new edge_ids; an edge whose EMBEDDING
        changed in place (possible only for inputs whose verbalization
        includes mutated properties) keeps its old buckets — use a full
        rebuild for those (pipeline.refresh_ann_index(mode="rebuild"))."""
        new = self.build(new_edges_embedded, self.n_planes, self.n_tables,
                         self.seed)
        return EdgeAnnIndex(self.index_df.unionByName(new.index_df), None,
                            self.n_planes, self.n_tables, self.seed)


def similarity_search_indexed(
    edges_with_embedding: DataFrame, query_text: str, index: EdgeAnnIndex,
    k: int = 64, max_candidates: int = ANN_MAX_CANDIDATES,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """ANN variant of similarity_search: probe the precomputed index for a
    bounded candidate id set, then exact-score ONLY those rows (the id filter
    is a literal IN that parquet pushes down — the embedding column is never
    evaluated over the full table). Same output contract as
    similarity_search. ``allowed`` restricts candidates BEFORE the cap
    (pass the structured prefilter's edges — see candidate_ids)."""
    qv = embed_text(query_text, TRIPLE_DIM).astype("float64")
    cand = index.candidate_ids(qv, max_candidates, allowed=allowed)
    scored = (
        edges_with_embedding.filter(F.col("edge_id").isin(cand))
        .withColumn("score", cosine_col(F.col("embedding"),
                                        literal_array(qv.tolist(), "double")))
    )
    return scored.orderBy(F.desc("score"), F.asc("edge_id")).limit(k)


# --------------------------------------------------------------------------- #
# Q13 — deterministic relevance filter (LLM stand-in, same contract)
# --------------------------------------------------------------------------- #

def relevance_filter(
    edges_verbalized: DataFrame, question: str, text_col: str = "verbalized",
    min_overlap: int = 1,
) -> DataFrame:
    """Keep edges whose verbalization shares >= min_overlap word tokens with
    the question (graph_service.py:1781-1842 position/contract; the LLM call
    is replaced by a deterministic score, SURVEY.md §2.6 Q13)."""
    q_tokens = literal_array(sorted(set(
        question.lower().replace(",", " ").replace("?", " ").split())),
        "string")
    toks = tokens(F.lower(F.col(text_col)))
    overlap = F.size(F.array_intersect(F.array_distinct(toks), q_tokens))
    return (
        edges_verbalized.withColumn("relevance", overlap)
        .filter(F.col("relevance") >= min_overlap)
    )


def khop_distances(
    edges: DataFrame,
    seeds: list,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """BFS hop distance from a seed set over an undirected graph ->
    (member, dist) for every node within ``max_hops`` (seeds at 0, minimum
    distance). The 'expand the subgraph around these entities' query every
    graph UI issues; the structured prefilter (Q11) restricts to an id set,
    this grows one.

    Scale shape: level-synchronous frontier BFS as ONE plan per
    ROUNDS_PER_SEAL rounds over the shared undirected_edges table. Hop i's
    frontier is the distinct set of neighbours of hop i-1's frontier (one
    join, shuffle on member id, AQE skew-join for hub entities); the result
    is the minimum hop per member over the seeds and every frontier, which
    is the BFS distance because a node first appears at its shortest walk.
    There is no emptiness probe and no anti-join against earlier rounds:
    the loop always builds ``max_hops`` rounds (once a frontier covers its
    component, later ones only revisit members at longer walks, which the
    minimum ignores), and only the frontier is sealed, lazily,
    after each ROUNDS_PER_SEAL-th round that is not the last, so the plan
    stays bounded for long expansions.

    The seed set is query-scale, so it rides as a Catalyst literal frame
    (functions.literals.literal_df: one JVM task, no Python worker) with
    ``member`` typed as the ``src`` column — integer ids stay integer. An
    empty seed list returns the empty (member, dist) frame of that type
    without running a job."""
    dist = literal_df(
        edges.sparkSession, [(s, 0) for s in sorted(set(seeds))],
        T.StructType([T.StructField("member", edges.schema[src].dataType),
                      T.StructField("dist", T.LongType())]))
    if not seeds:  # limit(0) plans to an empty LocalRelation: no job
        return dist.limit(0)
    sym = undirected_edges(edges, src, dst)
    frontier, hops = dist.select("member"), [dist]
    for i in range(1, max_hops + 1):
        frontier = (sym.join(frontier, sym["u"] == frontier["member"])
                    .select(F.col("v").alias("member")).distinct())
        if i % ROUNDS_PER_SEAL == 0 and i < max_hops:
            frontier = frontier.localCheckpoint(eager=False)
        hops.append(frontier.withColumn("dist", F.lit(i).cast("long")))
    return (reduce(DataFrame.union, hops)
            .groupBy("member").agg(F.min("dist").alias("dist")))


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval over a text table -> (id_col, score_x1e6),
    ordered by score desc then id. The lexical-retrieval upgrade of the Q13
    token-overlap stub (graph_service.py:1781-1842 position): idf saturating
    term-frequency with document-length normalization, the standard
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) variant.

    Fixed-point contract (the repo's LM-scoring convention): each (doc, term)
    contribution is floored to an int64 at 1e6 resolution BEFORE the per-doc
    sum, so the aggregate is exact and order-independent — bit-reproducible
    across partitionings and oracle-pairable (float addition order never
    enters; only ln's last ulp could differ between engines, same accepted
    exposure as lm_unigram_score).

    Scale shape: the token stream is filtered to query terms INSIDE the
    array (per-row F.filter against a literal array) before any explode, so
    the exploded postings carry only query-term hits — a 100 TB scan
    explodes ~|hits|, not ~|tokens|. Corpus stats (N, sum dl) are one
    broadcast row; per-term df is <= |query| rows, broadcast; one shuffle
    for the (doc, term) tf aggregation; top-k is TakeOrderedAndProject.
    The slim (id, dl, query-hits) projection and the postings are lazily
    checkpointed because each feeds TWO consumers (stats+postings,
    df+scoring): without the cuts Catalyst re-derives every subtree from
    the source and a 100 TB table is scanned three times (observed in the
    plan audit — three FileScans); with them it is scanned once."""
    terms = sorted(set(re.findall(r"[a-z0-9]+", query.lower())))
    if not terms:
        return docs.select(
            F.col(id_col), F.lit(0).cast("long").alias("score_x1e6")
        ).limit(0)
    term_arr = literal_array(terms, "string")
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        .alias("_toks"),
    ).select(
        "_id",
        F.size("_toks").alias("_dl"),
        F.filter("_toks", lambda x: F.array_contains(term_arr, x))
        .alias("_qt"),
    ).localCheckpoint(eager=False)
    stats = base.agg(F.count("*").alias("_n"), F.sum("_dl").alias("_sumdl"))
    postings = (
        base.filter(F.size("_qt") > 0)
        .select("_id", "_dl", F.explode("_qt").alias("_term"))
        .groupBy("_id", "_dl", "_term").agg(F.count("*").alias("_tf"))
        .localCheckpoint(eager=False)
    )
    df_t = postings.groupBy("_term").agg(F.count("*").alias("_df"))
    tf = F.col("_tf").cast("double")
    n_d = F.col("_n").cast("double")
    avgdl = F.col("_sumdl").cast("double") / n_d
    idf = F.log(F.lit(1.0) + (n_d - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5)))
    denom = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                              + F.lit(b) * F.col("_dl").cast("double") / avgdl)
    contrib = F.floor(
        F.lit(1e6) * idf * (tf * F.lit(k1 + 1.0)) / denom).cast("long")
    return (
        postings.join(F.broadcast(df_t), "_term")
        .crossJoin(F.broadcast(stats))
        .select("_id", contrib.alias("_c"))
        .groupBy("_id").agg(F.sum("_c").alias("score_x1e6"))
        .orderBy(F.desc("score_x1e6"), F.asc("_id"))
        .limit(k)
        .select(F.col("_id").alias(id_col), "score_x1e6")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings -> (id_col, rrf_x1e6) top-k —
    the standard hybrid-retrieval combiner (lexical BM25 + vector cosine,
    or any mix). Each input carries (id_col, rank) with rank 1-based.

    The contribution is the fixed-point floor ``1e6 div (k0 + rank)`` —
    all-integer, so the fused sum is exact and order-free (oracle-pairable
    and partition-invariant), a faithful quantization of the textbook RRF
    1/(k0+rank): ranks are small integers, so distinct ranks map to
    distinct quantized contributions for k0+rank <= ~1414.

    Scale shape: each input is already a bounded top-N (the expensive part
    — BM25 scan, ANN probe — happened upstream); fusion is a union of tiny
    frames + one groupBy + TakeOrderedAndProject. An id absent from one
    ranking simply contributes nothing (standard RRF)."""
    from functools import reduce

    contribs = [
        r.select(F.col(id_col),
                 F.expr(f"1000000 div ({k0} + rank)").alias("_c"))
        for r in rankings
    ]
    allc = reduce(lambda a, b: a.union(b), contribs)
    return (
        allc.groupBy(id_col)
        .agg(F.sum("_c").cast("long").alias("rrf_x1e6"))
        .orderBy(F.desc("rrf_x1e6"), F.asc(id_col))
        .limit(k)
    )


def best_snippet(
    docs: DataFrame,
    query: str,
    window: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Best-matching token window per document for a query -> (id_col,
    n_hits, start_tok, snippet): the highlight/snippet stage of a retrieval
    stack (run it over bm25_topk/rrf_fuse winners). The chosen window
    maximizes query-term occurrences; ties break to the EARLIEST window;
    docs with zero hits keep their first window with n_hits = 0; docs with
    no tokens at all (empty/null text) are dropped — there is no window to
    return.

    All-integer scoring over per-row array expressions — zero shuffle, zero
    Python, O(tokens * window) per row inside codegen'd higher-order
    functions — so a 100 TB scan stays embarrassingly parallel and the
    operator oracle-pairs exactly (no float anywhere)."""
    terms = sorted(set(re.findall(r"[a-z0-9]+", query.lower())))
    term_arr = literal_array(terms, "string")
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    base = docs.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") > 0)
    hits = F.transform(
        "_toks",
        lambda t: F.when(F.array_contains(term_arr, t), F.lit(1))
        .otherwise(F.lit(0)))
    w = F.least(F.lit(window), F.size("_toks"))
    # per-window score, argmax by (hits, -start): array_max on structs is
    # lexicographic, so max hits wins and among ties the SMALLEST start
    # (largest negated start) wins
    best = F.array_max(token_windows(
        F.col("_hits"), w,
        lambda win, i: F.struct(
            F.aggregate(win, F.lit(0), lambda acc, x: acc + x).alias("h"),
            (-i).alias("negstart"),
        )))
    return (
        base.withColumn("_hits", hits)
        .withColumn("_best", best)
        .select(
            id_col,
            F.col("_best.h").cast("long").alias("n_hits"),
            (-F.col("_best.negstart")).cast("long").alias("start_tok"),
            F.concat_ws(
                " ", F.slice(F.col("_toks"), -F.col("_best.negstart"), w)
            ).alias("snippet"),
        )
    )


# --------------------------------------------------------------------------- #
# Q14 — answer synthesis stub (deterministic; same interface)
# --------------------------------------------------------------------------- #

def summarise(verbalized_rows: list[str], question: str) -> str:
    """The reference prompts gpt-4o with the verbalized facts + question
    (graph_service.py:1844-1888). Deterministic stand-in: enumerate the facts.
    Swap in a real LLM client here in production — the pipeline contract
    (list[str] facts + question -> str) is identical."""
    facts = "; ".join(verbalized_rows)
    return f"Q: {question} | facts({len(verbalized_rows)}): {facts}"


# --------------------------------------------------------------------------- #
# Q17 — entity/relation match improvement (LLM stand-in, same contract)
# --------------------------------------------------------------------------- #

def improve_matching(
    inventory: DataFrame,
    extracted: list[str],
    matched: list[str] | None = None,
    name_col: str = "name",
) -> list[str]:
    """Q17 (utilities/builders.py:439-577 improve_entities_matching /
    improve_relations_matching): the reference prompts an LLM with the
    query-extracted terms, the graph's inventory, and the already-matched
    list, expecting back an improved match list. Deterministic stand-in with
    the same contract: for each unmatched extracted term, inventory names
    that match case-insensitively exactly, within edit distance 1, or that
    contain the term as a whitespace token are added; the result is the
    sorted union with ``matched``.

    Scale shape: the extracted terms are query-scale literals; the inventory
    (potentially the whole node table) is scanned ONCE with a codegen'd OR
    predicate — no join, no shuffle; the matches come back through
    ``bounded_collect`` at LITERAL_DF_MAX_ROWS, and more matches than that
    raise ValueError. Apply to nodes for entities and to
    ``edges.select(rel_type)`` distinct for relations."""
    from ..functions.literals import LITERAL_DF_MAX_ROWS

    matched = list(matched or [])
    already = {m.lower() for m in matched}
    terms = sorted({t.lower() for t in extracted} - already)
    if not terms:
        return sorted(set(matched))
    rows = bounded_collect(match_candidates(inventory, terms, name_col),
                           LITERAL_DF_MAX_ROWS)
    if rows is None:
        raise ValueError(
            f"improve_matching: more than LITERAL_DF_MAX_ROWS="
            f"{LITERAL_DF_MAX_ROWS} inventory names match the terms")
    return sorted(set(matched) | {r[0] for r in rows})


def match_candidates(
    inventory: DataFrame, terms: list[str], name_col: str = "name"
) -> DataFrame:
    """The distributed scan behind improve_matching: distinct inventory names
    matching any term case-insensitively exactly, within edit distance 1, or
    containing the term as a whitespace token. One codegen'd OR predicate,
    no join, no shuffle (the distinct is over the small hit set)."""
    lname = F.lower(F.col(name_col))
    toks = tokens(lname)
    pred = None
    for t in terms:
        p = ((lname == t)
             | (F.levenshtein(lname, F.lit(t)) <= 1)
             | F.array_contains(toks, t))
        pred = p if pred is None else (pred | p)
    return inventory.select(F.col(name_col)).filter(pred).distinct()


# --------------------------------------------------------------------------- #
# Q15/Q16/Q18/Q7 — provenance, listings, compression, pagination
# --------------------------------------------------------------------------- #

def hydrate_chunk_contents(
    df: DataFrame, chunks: DataFrame, limit: int = 8,
    chunks_col: str = "chunks",
) -> DataFrame:
    """Q16/include_chunks: attach the first ``limit`` chunk contents to rows
    carrying a chunk-id array (the reference slices 8 chunk docs per triple
    for LLM context, graph_service.py:1762-1768; chunk $lookup chains
    crud/triple.py:31-176, crud/node.py:116-212).

    Shape: slice BEFORE exploding (bounds the join fan-out per row), join the
    chunks table on chunk_id, regroup by the row's unique ``key_col`` (maps/
    arrays can't be groupBy keys) and join the contents back."""
    return _hydrate_chunk_contents(df, chunks, limit, chunks_col, "edge_id")


def _hydrate_chunk_contents(df, chunks, limit, chunks_col, key_col):
    # explode_outer: rows with an empty/NULL chunks array must survive the
    # regroup and come back with chunk_contents = [] (not a dropped row that
    # left-joins back as NULL — callers do len(row.chunk_contents)).
    sliced = df.select(
        key_col,
        F.explode_outer(F.slice(F.col(chunks_col), 1, limit)).alias("_cid"))
    joined = sliced.join(
        chunks.select(F.col("chunk_id").alias("_cid"),
                      F.col("content").alias("_content")),
        "_cid", "left")
    contents = (
        joined.groupBy(key_col)
        .agg(F.array_sort(
            F.collect_list(F.when(F.col("_cid").isNotNull(),
                                  F.struct("_cid", "_content"))))
             .alias("_cc"))
        .select(key_col,
                F.transform("_cc", lambda s: s["_content"])
                .alias("chunk_contents"))
    )
    return df.join(contents, key_col, "left").withColumn(
        "chunk_contents",
        F.coalesce("chunk_contents", F.array().cast("array<string>")))


def node_chunk_contents(nodes: DataFrame, chunks: DataFrame,
                        limit: int = 8) -> DataFrame:
    """Q16 node variant (crud/node.py:116-212)."""
    return _hydrate_chunk_contents(nodes, chunks, limit, "chunks", "node_id")


def graph_chunk_ids(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Distinct chunk ids referenced by a graph's nodes+edges
    (crud/graph.py:588-723 itertools.chain + set)."""
    return (
        nodes.select(F.explode("chunks").alias("chunk_id"))
        .union(edges.select(F.explode("chunks").alias("chunk_id")))
        .distinct()
    )


def list_relations(edges: DataFrame) -> DataFrame:
    """Distinct relation types, excluding the synthetic Contains edges
    (crud/graph.py:99-107; exclusion :100,408)."""
    return (
        edges.filter(F.col("rel_type") != "Contains")
        .select("rel_type").distinct()
    )


def compress_triples(edges: DataFrame) -> DataFrame:
    """Q18 (utilities/common.py:52-96): group (head, relation) -> sorted
    comma-joined distinct tails; relation normalized `_`->space lowercase."""
    return (
        edges.filter(F.col("rel_type") != "Contains")
        .withColumn("relation",
                    F.lower(F.regexp_replace("rel_type", "_", " ")))
        .groupBy("head", "relation")
        .agg(F.concat_ws(",", F.array_sort(F.collect_set("tail"))).alias("tails"))
    )


def paginate(df: DataFrame, order_col: str, skip: int = 0, limit: int = -1,
             descending: bool = True) -> DataFrame:
    """Q7 ($sort/$skip/$limit; limit=-1 means unlimited,
    utilities/routers.py:25-90)."""
    ordered = df.orderBy(
        F.desc(order_col) if descending else F.asc(order_col))
    if skip:
        ordered = ordered.offset(skip)
    return ordered if limit < 0 else ordered.limit(limit)


# --------------------------------------------------------------------------- #
# The full Entry C orchestration
# --------------------------------------------------------------------------- #

def query_graph(
    nodes: DataFrame,
    edges: DataFrame,
    params: QueryParameters,
    edges_embedded: DataFrame | None = None,
    log=None,
    ann_index: EdgeAnnIndex | None = None,
    ann_exact_max_rows: int = ANN_EXACT_MAX_ROWS,
) -> dict:
    """MixedQueryProcessor.query (graph_service.py:1890-2071):
      1. structured prefilter (Q11)
      2. no text -> hydrate all filtered triples (Q12)
         text    -> embed query, top-k sim search (Q9), relevance filter (Q13),
                    optional summarise (Q14), hydrate survivors
    Returns {"triples": DF, "nodes": DF, "answer": str | None, "query_id"}.

    ``edges_embedded`` (edge_id, verbalized, embedding) is the precomputed V2
    table; if absent it is derived on the fly (fine at query scale — the
    structured prefilter has already shrunk the candidate set).

    ``log`` (io.catalog.QueryLog): when given, the query document is recorded
    BEFORE execution and the status/response/returned triple+node ids after,
    mirroring Entry C's persistence (graph_service.py:1938-1969, 2046-2054).
    The hydrated triples then have two consumers, the log and the caller,
    so ``out["triples"]`` comes back sealed by a lazy localCheckpoint, and
    both id lists come from one collect of its edge and endpoint node ids
    (human-scale by contract). That collect computes the sealed blocks and
    the caller's read reuses them, so the answer plan runs once. A failure
    while executing is recorded as failed. Without a log,
    ``out["triples"]`` stays unsealed.

    ``ann_index`` (EdgeAnnIndex): the planner knob for the text path. When
    given AND the indexed table exceeds ``ann_exact_max_rows``, the vector
    search probes the precomputed index (bounded candidates, no full
    embedding scan); otherwise the exact scan runs (small tables: one
    codegen'd pass beats the probe round trip, and exact >= ANN recall).
    The size check is driver-side metadata recorded at index build time —
    no extra job per query."""
    query_id = None
    if log is not None:
        query_id = log.start(params.graph or "default", params,
                             workspace=params.workspace or "default",
                             created_by=params.created_by or "default")
    try:
        out = _query_graph(nodes, edges, params, edges_embedded,
                           ann_index, ann_exact_max_rows)
        if log is not None:
            out["triples"] = out["triples"].localCheckpoint(eager=False)
            rows = out["triples"].select(
                "edge_id", "head_node.node_id", "tail_node.node_id").collect()
    except Exception as exc:
        if log is not None:
            log.fail(query_id, f"{type(exc).__name__}: {exc}")
        raise
    if log is not None:
        # a dangling endpoint hydrates to a NULL struct, and unique_nodes_of
        # drops it too
        node_ids = {i for r in rows for i in r[1:] if i is not None}
        log.finish(query_id, out["answer"],
                   sorted(r["edge_id"] for r in rows), sorted(node_ids))
    out["query_id"] = query_id
    return out


def _query_graph(nodes, edges, params, edges_embedded,
                 ann_index=None, ann_exact_max_rows=ANN_EXACT_MAX_ROWS):
    nodes = scope_filter(nodes, params.graph, params.workspace,
                         params.created_by)
    edges = scope_filter(edges, params.graph, params.workspace,
                         params.created_by)
    filtered = structured_filter(
        nodes, edges, params.entities, params.relations, params.values)

    if not params.content:
        hyd = hydrate_triples(filtered, nodes)
        return {"triples": hyd, "nodes": unique_nodes_of(filtered, nodes),
                "answer": None}

    if edges_embedded is None:
        from ..functions.embeddings import embed_edges

        emb = embed_edges(filtered)
    else:
        emb = filtered.join(
            edges_embedded.select("edge_id", "verbalized", "embedding"),
            "edge_id", "inner")

    if ann_index is not None and ann_index.n_rows > ann_exact_max_rows:
        # when a structured prefilter ran, intersect index hits with the
        # surviving edges BEFORE the candidate cap (ADVICE r3: the index is
        # built over the full edge table, so a selective prefilter would
        # otherwise see its survivors crowded out of the cap — Atlas
        # $vectorSearch applies the filter inside the index for the same
        # reason)
        prefiltered = bool(params.entities or params.values
                           or params.relations)
        top = similarity_search_indexed(
            emb, params.content, ann_index, k=params.limit,
            allowed=filtered.select("edge_id") if prefiltered else None)
    else:
        top = similarity_search(emb, params.content, k=params.limit)
    relevant = relevance_filter(top, params.content)
    answer = None
    if params.return_answer:
        # the top-k and relevance plan runs once: its rows (at most
        # params.limit) give the answer, and the hydration below semi-joins
        # a literal of their ids instead of embedding that plan again
        rows = (relevant.orderBy(F.desc("score"), F.asc("edge_id"))
                .select("edge_id", "verbalized").collect())
        answer = summarise([r["verbalized"] for r in rows], params.content)
        relevant = literal_df(edges.sparkSession,
                              [(r["edge_id"],) for r in rows],
                              T.StructType([edges.schema["edge_id"]]))
    kept = edges.join(relevant.select("edge_id"), "edge_id", "left_semi")
    return {
        "triples": hydrate_triples(kept, nodes),
        "nodes": unique_nodes_of(kept, nodes),
        "answer": answer,
    }
