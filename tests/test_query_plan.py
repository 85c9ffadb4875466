"""Entry C query layer (Q7/Q9/Q11-Q16/Q18) + Cypher export (S10)."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_studio_spark.io.cypher import (
    escape_string, export_cypher, generate_cypher_statements,
)
from knowledge_graph_studio_spark.pipeline import build_graph
from knowledge_graph_studio_spark.plans.query import (
    QueryParameters, compress_triples, graph_chunk_ids, hydrate_triples,
    list_relations, paginate, query_graph, relevance_filter,
    similarity_search, structured_filter, unique_nodes_of,
)
from knowledge_graph_studio_spark.sources.pages import synthetic_pages


@pytest.fixture(scope="module")
def graph(spark):
    pages = synthetic_pages(spark, 120, seed=42, partitions=8)
    out = build_graph(spark, pages, fuzzy=False)
    out["nodes"] = out["nodes"].persist()
    out["edges"] = out["edges"].persist()
    return out


def test_structured_filter_entities_and_relations(graph):
    edges = structured_filter(
        graph["nodes"], graph["edges"],
        entities=["person"], relations=["runs"])
    rows = edges.collect()
    assert rows, "person-runs edges must exist in the corpus"
    assert all(r["rel_type"] == "runs" for r in rows)
    # every edge touches a person node (head side for this pattern)
    person_ids = {r["node_id"] for r in
                  graph["nodes"].filter("type = 'person'").collect()}
    assert all(r["head_id"] in person_ids or r["tail_id"] in person_ids
               for r in rows)


def test_structured_filter_values_narrows(graph):
    person = graph["nodes"].filter("type = 'person'").limit(1).collect()[0]
    edges = structured_filter(
        graph["nodes"], graph["edges"],
        entities=["person"], values=[person["name"]])
    assert edges.count() > 0
    assert all(
        r["head"] == person["name"] or r["tail"] == person["name"]
        for r in edges.collect())


def test_hydration_nested_shape_and_unique_nodes(graph):
    filtered = structured_filter(graph["nodes"], graph["edges"],
                                 relations=["runs"])
    hyd = hydrate_triples(filtered, graph["nodes"])
    row = hyd.limit(1).collect()[0]
    assert row["head_node"]["name"] and row["head_node"]["type"]
    assert row["relation"]["name"] == "runs"
    assert row["tail_node"]["node_id"] is not None
    uniq = unique_nodes_of(filtered, graph["nodes"])
    n_end = filtered.select("head_id").union(
        filtered.select("tail_id")).distinct().count()
    assert uniq.count() == n_end


def test_similarity_search_finds_own_verbalization(graph):
    from knowledge_graph_studio_spark.functions.embeddings import embed_edges

    emb = embed_edges(graph["edges"]).persist()
    target = emb.limit(1).collect()[0]
    top = similarity_search(emb, target["verbalized"], k=5).collect()
    assert top[0]["edge_id"] == target["edge_id"]
    assert top[0]["score"] > 0.999


def test_similarity_search_query_vector_is_one_literal(graph):
    """The query vector enters the plan as ONE array literal (not a
    TRIPLE_DIM-child array(...) of per-element literals), and the scores
    equal a float64 numpy cosine."""
    import numpy as np

    from knowledge_graph_studio_spark.functions.embedding_core import (
        TRIPLE_DIM, embed_text,
    )
    from knowledge_graph_studio_spark.functions.embeddings import embed_edges

    emb = embed_edges(graph["edges"]).persist()
    q = "who runs Globex?"
    n = emb.count()
    top = similarity_search(emb, q, k=n)

    def census(df):
        plan = df._jdf.queryExecution().analyzed().toJSON()
        return (plan.count('expressions.CreateArray"'),
                plan.count('expressions.Literal"'))

    (arrays, lits), (arrays0, lits0) = census(top), census(emb)
    assert arrays == arrays0  # the scoring adds no array(...)
    assert lits - lits0 < 16  # the vector, 0.0 fold seeds and the limit

    qv = embed_text(q, TRIPLE_DIM).astype(np.float64)
    rows = top.select("edge_id", "embedding", "score").collect()
    assert len(rows) == n
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        want = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        assert abs(r["score"] - want) <= 1e-12, (r["edge_id"], r["score"],
                                                 want)
    emb.unpersist()


def test_relevance_filter_token_overlap(spark):
    df = spark.createDataFrame(
        [("e1", "Ada Lovelace which is a person runs Acme Corp, a company"),
         ("e2", "Globex which is a company offers cloud hosting, a service")],
        ["edge_id", "verbalized"])
    kept = relevance_filter(df, "who runs acme?", min_overlap=2).collect()
    assert [r["edge_id"] for r in kept] == ["e1"]


def test_query_graph_structured_and_text_paths(graph):
    # structured-only: no content -> all filtered triples hydrated
    res = query_graph(graph["nodes"], graph["edges"],
                      QueryParameters(relations=["runs"]))
    assert res["answer"] is None
    assert res["triples"].count() == \
        graph["edges"].filter("rel_type = 'runs'").count()

    # text path: ask about a real head entity
    edge = graph["edges"].filter("rel_type = 'runs'").limit(1).collect()[0]
    res2 = query_graph(
        graph["nodes"], graph["edges"],
        QueryParameters(content=f"who runs {edge['tail']}?",
                        relations=["runs"], return_answer=True, limit=16))
    names = {(r["head_node"]["name"], r["tail_node"]["name"])
             for r in res2["triples"].collect()}
    assert any(t == edge["tail"] for _h, t in names)
    assert res2["answer"].startswith("Q: who runs")


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_log_ids_match_the_answer_and_cost_one_job(spark, graph,
                                                         tmp_path):
    """A logged query records exactly the triples, nodes and answer it
    returns, for the structured and the text path; logging a structured
    query costs at most one job over the unlogged one (the id collect,
    which also fills the seal the caller then reads)."""
    from knowledge_graph_studio_spark.io.catalog import QueryLog

    log = QueryLog(str(tmp_path))
    edge = graph["edges"].filter("rel_type = 'runs'").limit(1).collect()[0]
    structured = QueryParameters(entities=["person"], relations=["runs"])
    text = QueryParameters(content=f"who runs {edge['tail']}?",
                           relations=["runs"], limit=16)
    answered = QueryParameters(content=text.content, relations=["runs"],
                               limit=16, return_answer=True)
    for params in (structured, text, answered):
        res = query_graph(graph["nodes"], graph["edges"], params, log=log)
        rec = [r for r in log.df(spark).collect()
               if r["query_id"] == res["query_id"]][0]
        assert rec["status"] == "success"
        assert rec["response"] == res["answer"]
        triple_ids = sorted(
            r["edge_id"] for r in res["triples"].select("edge_id").collect())
        node_ids = sorted(
            r["node_id"] for r in res["nodes"].select("node_id").collect())
        assert triple_ids, params
        assert rec["triple_ids"] == triple_ids
        assert rec["node_ids"] == node_ids

    def run(with_log):
        res = query_graph(graph["nodes"], graph["edges"], structured,
                          log=log if with_log else None)
        res["triples"].collect()

    run(False)  # same warm state for both counts
    run(True)
    unlogged = _jobs_of(spark, lambda: run(False))
    logged = _jobs_of(spark, lambda: run(True))
    assert logged <= unlogged + 1, (logged, unlogged)


def test_query_graph_ann_planner_and_recall(spark, graph):
    """VERDICT r2 #1: the ANN path through query_graph itself.
    - forced ANN (ann_exact_max_rows=0) recovers >= 0.8 of the exact path's
      returned triples;
    - the default planner threshold keeps a small table on the exact path
      even when an index is supplied (identical results)."""
    from knowledge_graph_studio_spark.functions.embeddings import embed_edges
    from knowledge_graph_studio_spark.plans.query import EdgeAnnIndex

    emb = embed_edges(graph["edges"]).persist()
    idx = EdgeAnnIndex.build(emb, n_planes=4, n_tables=24)
    q = QueryParameters(content="who runs Globex?", relations=["runs"],
                        limit=16)

    def ids(res):
        return {r["edge_id"] for r in res["triples"].select("edge_id").collect()}

    exact = ids(query_graph(graph["nodes"], graph["edges"], q,
                            edges_embedded=emb))
    ann = ids(query_graph(graph["nodes"], graph["edges"], q,
                          edges_embedded=emb, ann_index=idx,
                          ann_exact_max_rows=0))
    assert exact, "exact text path must return triples"
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.8, f"ANN-through-query_graph recall {recall}"

    # planner knob: table is far below the default threshold -> exact path
    auto = ids(query_graph(graph["nodes"], graph["edges"], q,
                           edges_embedded=emb, ann_index=idx))
    assert auto == exact
    emb.unpersist()


def test_ann_index_save_load_and_pushdown(spark, graph, tmp_path):
    """The persisted index is probed via a pushed-down IN filter on tb_key,
    and indexed search exact-scores ONLY candidate rows: the edges scan
    carries a pushed In(edge_id, ...) — never a full embedding evaluation."""
    from pyspark.sql import functions as F

    from knowledge_graph_studio_spark.functions.embedding_core import (
        TRIPLE_DIM, embed_text,
    )
    from knowledge_graph_studio_spark.functions.embeddings import embed_edges
    from knowledge_graph_studio_spark.operators.similarity import lsh_query_keys
    from knowledge_graph_studio_spark.plans.query import (
        _TB_SHIFT, EdgeAnnIndex, similarity_search_indexed,
    )

    emb = embed_edges(graph["edges"])
    EdgeAnnIndex.build(emb, n_planes=4, n_tables=24).save(
        str(tmp_path / "idx"))
    idx = EdgeAnnIndex.load(spark, str(tmp_path / "idx"))
    assert (idx.n_planes, idx.n_tables) == (4, 24)
    assert idx.n_rows == graph["edges"].count()

    # probe plan: literal IN on tb_key reaches the parquet scan
    qv = [float(x) for x in embed_text("who runs Globex?", TRIPLE_DIM)]
    keys = [(t << _TB_SHIFT) | b for t, b in
            lsh_query_keys(qv, idx.n_planes, idx.n_tables, idx.seed)]
    probe_plan = (idx.index_df.filter(F.col("tb_key").isin(keys))
                  ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in probe_plan
    assert "tb_key" in probe_plan.split("PushedFilters")[1][:500]

    # scoring plan: candidate id filter pushed into the edges scan
    emb_path = str(tmp_path / "emb")
    emb.write.parquet(emb_path)
    emb_pq = spark.read.parquet(emb_path)
    top = similarity_search_indexed(emb_pq, "who runs Globex?", idx, k=16)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "edge_id" in plan.split("PushedFilters")[1][:800], \
        "candidate In(edge_id) must reach the scan"
    # and the indexed result matches its own contract (ordered, scored)
    rows = top.collect()
    assert rows == sorted(rows, key=lambda r: (-r["score"], r["edge_id"]))


def test_list_relations_excludes_contains(spark, graph):
    extra = graph["edges"].limit(1).withColumn("rel_type", F.lit("Contains"))
    rels = {r["rel_type"]
            for r in list_relations(graph["edges"].union(extra)).collect()}
    assert "Contains" not in rels
    assert "runs" in rels


def test_compress_and_paginate_and_chunks(graph):
    comp = compress_triples(graph["edges"])
    row = comp.filter(F.col("tails").contains(",")).limit(1).collect()
    if row:  # multi-tail groups exist in a 120-page corpus
        tails = row[0]["tails"].split(",")
        assert tails == sorted(tails)
    page = paginate(graph["edges"], "edge_id", skip=2, limit=3,
                    descending=False).collect()
    assert len(page) == 3
    allrows = [r["edge_id"] for r in
               graph["edges"].orderBy("edge_id").collect()]
    assert [r["edge_id"] for r in page] == allrows[2:5]
    ch = graph_chunk_ids(graph["nodes"], graph["edges"])
    assert ch.count() == ch.distinct().count() > 0


def test_cypher_export_format_and_escaping(graph):
    stmts = export_cypher(graph["edges"].filter("rel_type = 'runs'").limit(3))
    assert stmts[0].startswith("CREATE CONSTRAINT unique_")
    merges = [s for s in stmts if s.startswith("MERGE")]
    assert merges and all(s.endswith("->(t);") for s in merges)
    # escaping law (reference doctest, utilities/cypher_export.py:94-133)
    assert escape_string("Alice's \"quote\"") == 'Alice\\\'s \\"quote\\"'
    out = generate_cypher_statements([
        {"head_node": {"label": "Person", "name": "Alice"},
         "relation": {"name": "KNOWS"},
         "tail_node": {"label": "Person", "name": "Bob"}}])
    assert out == [
        "CREATE CONSTRAINT unique_Person_name IF NOT EXISTS "
        "FOR (n:Person) REQUIRE n.name IS UNIQUE;",
        "MERGE (h:Person {name: 'Alice'}) MERGE (t:Person {name: 'Bob'}) "
        "MERGE (h)-[:`KNOWS`]->(t);",
    ]


def test_hydrate_chunk_contents_slice8(spark, graph):
    from knowledge_graph_studio_spark.operators.chunking import pages_to_chunks
    from knowledge_graph_studio_spark.plans.query import (
        hydrate_chunk_contents, node_chunk_contents,
    )

    chunks = pages_to_chunks(synthetic_pages(spark, 120, seed=42, partitions=8))
    out = hydrate_chunk_contents(graph["edges"], chunks, limit=8)
    rows = out.collect()
    assert all(len(r["chunk_contents"]) <= 8 for r in rows)
    busiest = max(rows, key=lambda r: len(r["chunks"]))
    assert len(busiest["chunk_contents"]) == min(8, len(busiest["chunks"]))
    assert all(c is not None for c in busiest["chunk_contents"])
    n_out = node_chunk_contents(graph["nodes"], chunks, limit=3).collect()
    assert all(len(r["chunk_contents"]) <= 3 for r in n_out)


def test_improve_matching_q17(spark):
    from knowledge_graph_studio_spark.plans.query import improve_matching

    inv = spark.createDataFrame(
        [("OpenAI",), ("Globex Corporation",), ("Acme",), ("Initech",)],
        ["name"])
    # exact (case-insensitive), edit-distance-1, and token matches improve
    # the unmatched extracted terms; already-matched names pass through
    got = improve_matching(inv, extracted=["openai", "globex", "Acmee", "zzz"],
                           matched=["Initech"])
    assert got == ["Acme", "Globex Corporation", "Initech", "OpenAI"]
    # relation variant: same contract over the rel_type inventory
    rels = spark.createDataFrame([("runs",), ("acquired",)], ["rel_type"])
    assert improve_matching(rels, ["run"], name_col="rel_type") == ["runs"]
    # nothing unmatched -> matched passthrough, no scan result required
    assert improve_matching(inv, ["initech"], matched=["Initech"]) == ["Initech"]


def test_hydrate_chunk_contents_empty_and_null_arrays(spark, graph):
    """Rows with [] or NULL chunks must survive hydration with a well-typed
    empty list (ADVICE: explode dropped them, leaving NULL chunk_contents)."""
    from knowledge_graph_studio_spark.operators.chunking import pages_to_chunks
    from knowledge_graph_studio_spark.plans.query import hydrate_chunk_contents

    chunks = pages_to_chunks(synthetic_pages(spark, 20, seed=42, partitions=4))
    df = spark.createDataFrame(
        [(1, ["missing-chunk"]), (2, []), (3, None)],
        "edge_id long, chunks array<string>",
    )
    rows = {r["edge_id"]: r["chunk_contents"]
            for r in hydrate_chunk_contents(df, chunks).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2] == [] and rows[3] == []
    assert rows[1] == [None]  # unknown chunk id: joined content is NULL


def test_ann_candidates_rank_by_collisions_and_respect_prefilter(spark, graph):
    """ADVICE r3: candidate_ids ranks by per-table collision count (the
    multi-probe LSH similarity proxy) instead of plain edge_id order, and an
    ``allowed`` set (the structured prefilter's edges) intersects BEFORE the
    cap — a selective prefilter can no longer have its survivors crowded out
    of the candidate pool by ineligible lower-id edges."""
    from knowledge_graph_studio_spark.functions.embedding_core import (
        TRIPLE_DIM, embed_text,
    )
    from knowledge_graph_studio_spark.functions.embeddings import embed_edges
    from knowledge_graph_studio_spark.operators.similarity import (
        lsh_query_keys,
    )
    from knowledge_graph_studio_spark.plans.query import (
        _TB_SHIFT, EdgeAnnIndex,
    )

    emb = embed_edges(graph["edges"]).persist()
    idx = EdgeAnnIndex.build(emb, n_planes=2, n_tables=8)
    qv = [float(x) for x in embed_text("who runs Globex?", TRIPLE_DIM)]
    full = idx.candidate_ids(qv, max_candidates=100000)
    assert full, "query must collide somewhere at n_planes=2"

    # collision counts recomputed independently from the index table
    keys = [(t << _TB_SHIFT) | b for t, b in lsh_query_keys(qv, 2, 8, 7)]
    coll = {r["edge_id"]: r["n"] for r in
            idx.index_df.filter(F.col("tb_key").isin(keys))
            .groupBy("edge_id").agg(F.count("*").alias("n")).collect()}
    capped = idx.candidate_ids(qv, max_candidates=3)
    assert len(capped) == 3 and set(capped) <= set(full)
    floor = min(coll[e] for e in capped)
    assert all(coll[e] <= floor or e in capped for e in full), \
        "cap must keep the highest-collision candidates"

    # prefilter: an eligible edge that plain id-ordered capping would have
    # dropped (the max-id candidate) must survive a cap of 1 when it is the
    # only allowed edge
    eid = max(full)
    allowed = spark.createDataFrame([(eid,)], "edge_id long")
    assert idx.candidate_ids(qv, max_candidates=1, allowed=allowed) == [eid]
    emb.unpersist()


def test_ann_index_refresh_after_incremental_update(spark, tmp_path):
    """VERDICT r3 #5: update_graph_incremental(ann_index=True) refreshes the
    persisted Entry C index, so edges minted by the update are reachable
    through the INDEXED text path; the pre-update index provably lacks
    them."""
    from knowledge_graph_studio_spark.functions.embeddings import embed_edges
    from knowledge_graph_studio_spark.pipeline import update_graph_incremental
    from knowledge_graph_studio_spark.plans.query import EdgeAnnIndex
    from knowledge_graph_studio_spark.sources.pages import synthetic_pages

    src, wd = str(tmp_path / "pages"), str(tmp_path / "wd")
    synthetic_pages(spark, 120, seed=42).write.parquet(f"{src}/segment=s0")
    v0 = update_graph_incremental(spark, src, wd, ann_index=True)
    idx0 = EdgeAnnIndex.load(spark, f"{wd}/ann_index")
    assert idx0.n_rows == v0["edges"].count()
    # materialize BEFORE the next refresh swaps the index directory out
    # from under this handle (refresh_ann_index docstring)
    idx0_ids = {r["edge_id"]
                for r in idx0.index_df.select("edge_id").distinct().collect()}

    synthetic_pages(spark, 120, seed=77).write.parquet(f"{src}/segment=s1")
    v1 = update_graph_incremental(spark, src, wd, ann_index=True)
    idx1 = EdgeAnnIndex.load(spark, f"{wd}/ann_index")
    assert idx1.n_rows == v1["edges"].count()
    assert (idx1.n_planes, idx1.n_tables, idx1.seed) == (
        idx0.n_planes, idx0.n_tables, idx0.seed)

    old_ids = {r["edge_id"] for r in v0["edges"].select("edge_id").collect()}
    new = [r for r in v1["edges"].select("edge_id").collect()
           if r["edge_id"] not in old_ids]
    assert new, "update must mint at least one new edge"
    new_ids = {r["edge_id"] for r in new}

    # new edges are bucketed in the refreshed index and absent from the old
    idx1_ids = {r["edge_id"]
                for r in idx1.index_df.select("edge_id").distinct().collect()}
    assert new_ids <= idx1_ids
    assert not (new_ids & idx0_ids)

    # and a post-update edge is reachable END-TO-END through the indexed
    # search: query with its own verbalization, force the indexed path
    from knowledge_graph_studio_spark.plans.query import (
        similarity_search_indexed,
    )

    emb = embed_edges(v1["edges"]).persist()
    target = emb.filter(F.col("edge_id").isin(sorted(new_ids)[:1])) \
        .select("edge_id", "verbalized").collect()[0]
    got = similarity_search_indexed(emb, target["verbalized"], idx1, k=8)
    assert target["edge_id"] in {r["edge_id"] for r in got.collect()}
    emb.unpersist()


def _bm25_reference(texts, query, k1=1.2, b=0.75):
    """Pure-Python BM25 with the SAME 1e6 fixed-point floor-before-sum."""
    import math
    import re

    terms = sorted(set(re.findall(r"[a-z0-9]+", query.lower())))
    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += math.floor(1e6 * idf * (tf * (k1 + 1.0))
                            / (tf + k1 * (1 - b + b * len(v) / avgdl)))
        if s:
            out[i] = s
    return out


def test_bm25_matches_fixed_point_reference(spark):
    from knowledge_graph_studio_spark.plans.query import bm25_topk

    texts = {
        1: "spark joins the hash table fast",
        2: "fast fast fast spark spark hash hash hash hash",
        3: "a completely unrelated document about gardening roses",
        4: "hash join strategies: broadcast hash join versus sort merge join",
        5: "spark " * 50 + "padding words to stretch document length",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    q = "fast hash join spark"
    got = [(r["doc_id"], r["score_x1e6"])
           for r in bm25_topk(docs, q, k=10).collect()]
    ref = _bm25_reference(texts, q)
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == want
    # the gardening doc matches nothing; every other doc scores
    assert {i for i, _ in got} == {1, 2, 4, 5}
    # saturation + length norm: doc 2 (dense in 3 terms, short) wins
    assert got[0][0] == 2


def test_bm25_empty_query_and_plan(spark):
    from knowledge_graph_studio_spark.plans.query import bm25_topk

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string")
    assert bm25_topk(docs, "???").count() == 0
    plan = bm25_topk(docs, "alpha")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan  # stats join is broadcast


def test_khop_distances_matches_bfs(spark):
    import random
    from collections import deque

    from knowledge_graph_studio_spark.plans.query import khop_distances

    random.seed(5)
    names = [f"v{i}" for i in range(25)]
    edges = {tuple(sorted(random.sample(names, 2))) for _ in range(32)}
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    seeds = ["v0", "v7"]
    got = {r["member"]: r["dist"]
           for r in khop_distances(df, seeds, max_hops=3).collect()}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if want[u] >= 3:
            continue
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    assert got == want
    assert all(d <= 3 for d in got.values())


def test_khop_early_stop_and_isolated_seed(spark):
    from knowledge_graph_studio_spark.plans.query import khop_distances

    # two-node component: frontier empties after hop 1, loop stops early
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = {r["member"]: r["dist"]
           for r in khop_distances(df, ["a"], max_hops=10).collect()}
    assert got == {"a": 0, "b": 1}
    # a seed absent from the graph still reports itself at distance 0
    got2 = {r["member"]: r["dist"]
            for r in khop_distances(df, ["zz"], max_hops=2).collect()}
    assert got2 == {"zz": 0}


def test_khop_empty_seeds_keep_member_type(spark):
    from knowledge_graph_studio_spark.plans.query import khop_distances

    for row, ddl in ((("a", "b"), "src string, dst string"),
                     ((1, 2), "src long, dst long")):
        df = spark.createDataFrame([row], ddl)
        got = khop_distances(df, [], max_hops=2)
        assert got.columns == ["member", "dist"]
        assert got.schema["member"].dataType == df.schema["src"].dataType
        assert got.schema["dist"].dataType.simpleString() == "bigint"
        assert got.collect() == []
        assert _jobs_of(spark, got.collect) == 0


def test_khop_long_ids_stay_integer(spark):
    from knowledge_graph_studio_spark.plans.query import khop_distances

    big = 2 ** 40  # beyond int32: the seeds' literals widen to long
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (big, 1)],
                               "src long, dst long")
    got = khop_distances(df, [2, big], max_hops=1)
    assert got.schema["member"].dataType.simpleString() == "bigint"
    rows = {r["member"]: r["dist"] for r in got.collect()}
    assert rows == {2: 0, big: 0, 1: 1, 3: 1}
    assert all(type(m) is int for m in rows)


def test_rrf_fuse_matches_integer_reference(spark):
    from knowledge_graph_studio_spark.plans.query import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4)], "doc_id long, rank long")
    vec = spark.createDataFrame(
        [(3, 1), (5, 2), (1, 3)], "doc_id long, rank long")
    got = [(r["doc_id"], r["rrf_x1e6"])
           for r in rrf_fuse([lex, vec], k0=60, k=10).collect()]

    ref = {}
    for ranking in ([(1, 1), (2, 2), (3, 3), (4, 4)], [(3, 1), (5, 2), (1, 3)]):
        for i, rk in ranking:
            ref[i] = ref.get(i, 0) + 1_000_000 // (60 + rk)
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == want
    # docs in BOTH rankings outrank single-list docs at comparable ranks
    assert got[0][0] in (1, 3)


def test_rrf_fuse_single_list_and_ties(spark):
    from knowledge_graph_studio_spark.plans.query import rrf_fuse

    one = spark.createDataFrame([(7, 1), (8, 2)], "doc_id long, rank long")
    got = [(r["doc_id"], r["rrf_x1e6"])
           for r in rrf_fuse([one], k0=60, k=5).collect()]
    assert got == [(7, 1_000_000 // 61), (8, 1_000_000 // 62)]
    # equal fused scores tie-break by id ascending
    a = spark.createDataFrame([(9, 1)], "doc_id long, rank long")
    b = spark.createDataFrame([(4, 1)], "doc_id long, rank long")
    got2 = [r["doc_id"] for r in rrf_fuse([a, b], k0=60, k=5).collect()]
    assert got2 == [4, 9]


def test_best_snippet_picks_densest_window(spark):
    from knowledge_graph_studio_spark.plans.query import best_snippet

    filler = "filler " * 40
    docs = spark.createDataFrame([
        # dense cluster late in the doc: window must land on it
        (1, filler + "spark hash spark join spark " + filler),
        # zero hits: first window, n_hits 0
        (2, "nothing relevant here at all " * 10),
        # doc shorter than the window: whole doc is the window
        (3, "tiny spark doc"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           best_snippet(docs, "spark hash join", window=8).collect()}
    assert got[1]["n_hits"] == 5
    assert "spark hash spark join spark" in got[1]["snippet"]
    assert got[1]["start_tok"] > 30          # landed past the filler
    assert got[2]["n_hits"] == 0 and got[2]["start_tok"] == 1
    assert got[3]["n_hits"] == 1 and got[3]["snippet"] == "tiny spark doc"
    # ties break earliest: two equal windows -> the first one
    tie = spark.createDataFrame(
        [(9, "spark a b c d e f g h spark")], "doc_id long, text string")
    r = best_snippet(tie, "spark", window=3).collect()[0]
    assert (r["n_hits"], r["start_tok"]) == (1, 1)
