"""Canonicalization + merge-law tests (L1/L2/L4/L6/L7 + connected components)."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_studio_spark.operators.extraction import TRIPLES_SCHEMA
from knowledge_graph_studio_spark.operators.linking import (
    apply_canonical_mapping, apply_merge_rules, build_edges, build_nodes,
    canonical_mapping, connected_components, fuzzy_candidate_pairs,
    merge_nodes_interactive, rules_to_alias_df,
)
from knowledge_graph_studio_spark.schema_model import MergeNodesRule


def _triples_df(spark, rows):
    cols = [f.name for f in TRIPLES_SCHEMA.fields]
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], schema=TRIPLES_SCHEMA
    )


def _t(url, cid, h, ht, rel, t, tt, hp=None, rp=None, tp=None):
    return {
        "url": url, "chunk_id": cid, "head": h, "head_type": ht,
        "relation": rel, "tail": t, "tail_type": tt,
        "head_properties": hp, "relation_properties": rp, "tail_properties": tp,
    }


def test_apply_merge_rules_l1(spark):
    rules = [MergeNodesRule(("Open AI", "OpenAI Inc"), "OpenAI", "company")]
    triples = _triples_df(spark, [
        _t("u1", "c1", "Ada", "person", "runs", "Open AI", "company"),
        _t("u1", "c1", "OpenAI Inc", "company", "acquired", "Globex", "company"),
        # type mismatch: name matches but node_type differs -> untouched
        _t("u1", "c1", "Ada", "person", "likes", "Open AI", "service"),
    ])
    out = apply_merge_rules(triples, rules_to_alias_df(spark, rules)).collect()
    by_rel = {r["relation"]: r for r in out}
    assert by_rel["runs"]["tail"] == "OpenAI"
    assert by_rel["acquired"]["head"] == "OpenAI"
    assert by_rel["likes"]["tail"] == "Open AI"  # rule is type-scoped


def test_node_merge_law_l2(spark):
    triples = _triples_df(spark, [
        _t("u1", "c1", "OpenAI", "company", "has service", "search", "service",
           hp={"Location": ["SF"]}),
        _t("u2", "c2", "OpenAI", "company", "has service", "hosting", "service",
           hp={"Location": ["SF", "London"], "Employees": ["500"]}),
    ])
    nodes = build_nodes(triples, graph="g")
    row = nodes.filter("name = 'OpenAI'").collect()[0]
    assert row["type"] == "company"
    assert row["properties"]["Location"] == ["London", "SF"]  # sorted union
    assert row["properties"]["Employees"] == ["500"]
    assert row["chunks"] == ["c1", "c2"]
    # dedup: one row per (name, type)
    assert nodes.filter("name = 'OpenAI'").count() == 1


def test_edge_chunk_intersection_law_l4(spark):
    # head node appears in c1,c2 ; tail node only in c2 ; edge contributed by c1
    triples = _triples_df(spark, [
        _t("u1", "c1", "A", "company", "acquired", "B", "company"),
        _t("u1", "c2", "A", "company", "has service", "s", "service"),
        _t("u1", "c2", "B", "company", "has service", "s", "service"),
    ])
    nodes = build_nodes(triples, graph="g")
    edges = build_edges(triples, nodes, graph="g")
    acq = edges.filter("rel_type = 'acquired'").collect()[0]
    # law: setUnion(intersect(head.chunks={c1,c2}, tail.chunks={c1,c2}), own={c1})
    # here B chunks = {c1,c2} (it appears as head/tail in c1 and c2)
    assert acq["chunks"] == ["c1", "c2"]
    # edge dedup across chunks
    triples2 = _triples_df(spark, [
        _t("u1", "c1", "A", "company", "acquired", "B", "company"),
        _t("u2", "c9", "A", "company", "acquired", "B", "company"),
    ])
    nodes2 = build_nodes(triples2, graph="g")
    edges2 = build_edges(triples2, nodes2, graph="g")
    assert edges2.count() == 1
    assert edges2.collect()[0]["chunks"] == ["c1", "c9"]


def test_fuzzy_pairs_and_cc(spark):
    names = spark.createDataFrame(
        [("OpenAI", "company", 10), ("OpenAl", "company", 1),
         ("Open AI", "company", 2), ("Globex", "company", 5),
         ("OpenAI", "service", 1),  # same name, different type: no cross-type pair
         ("Ada", "person", 3)],
        ["name", "type", "freq"],
    )
    pairs = fuzzy_candidate_pairs(names).collect()
    got = {(r["src"], r["dst"]) for r in pairs}
    assert ("Open AI", "OpenAI") in got or ("OpenAI", "Open AI") in got
    assert all("Globex" not in p and "Ada" not in p for pair in got for p in pair)

    cc = connected_components(
        spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"])
    )
    comp = {r["member"]: r["component"] for r in cc.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_canonical_mapping_picks_most_frequent_rep(spark):
    rows = []
    for i in range(9):
        rows.append(_t("u", f"c{i}", "OpenAI", "company", "has service", "s", "service"))
    rows.append(_t("u", "c9", "OpenAl", "company", "has service", "s", "service"))
    triples = _triples_df(spark, rows)
    mapping = canonical_mapping(triples, fuzzy=True)
    m = {(r["name"], r["type"]): r["canonical_name"] for r in mapping.collect()}
    assert m == {("OpenAl", "company"): "OpenAI"}
    rewritten = apply_canonical_mapping(triples, mapping)
    assert rewritten.filter("head = 'OpenAl'").count() == 0


def test_canonical_mapping_same_rows_on_both_paths(spark, monkeypatch):
    """Driver union-find plus driver finalize (default) and the distributed
    connected components plus window (DRIVER_CC_MAX_PAIRS=0) give the same
    mapping, here over two fuzzy clusters, one of them a transitive chain."""
    from knowledge_graph_studio_spark.operators import linking

    rows = []
    for name, n in (("OpenAI", 9), ("OpenAl", 1), ("Globex", 3),
                    ("Globexx", 2), ("Globexxx", 1)):
        rows += [_t("u", f"{name}{i}", name, "company", "has service", "s",
                    "service") for i in range(n)]
    triples = _triples_df(spark, rows)

    def mapping():
        return sorted(tuple(r) for r in canonical_mapping(triples).collect())

    want = [("Globexx", "company", "Globex"), ("Globexxx", "company", "Globex"),
            ("OpenAl", "company", "OpenAI")]
    assert mapping() == want
    monkeypatch.setattr(linking, "DRIVER_CC_MAX_PAIRS", 0)
    assert mapping() == want


def test_merge_nodes_interactive_l6(spark):
    triples = _triples_df(spark, [
        _t("u", "c1", "A", "company", "acquired", "B", "company",
           hp={"k": ["1"]}),
        _t("u", "c2", "A2", "company", "acquired", "B", "company",
           hp={"k": ["2"]}),
        _t("u", "c3", "A", "company", "has service", "s", "service"),
    ])
    nodes = build_nodes(triples, graph="g")
    edges = build_edges(triples, nodes, graph="g")
    ids = {r["name"]: r["node_id"] for r in nodes.collect()}
    new_nodes, new_edges = merge_nodes_interactive(
        nodes, edges, from_ids=[ids["A2"]], to_id=ids["A"])
    assert new_nodes.filter(F.col("node_id") == ids["A2"]).count() == 0
    merged = new_nodes.filter(F.col("node_id") == ids["A"]).collect()[0]
    assert merged["name"] == "A"
    assert merged["properties"]["k"] == ["1", "2"]
    assert new_edges.filter(F.col("head_id") == ids["A2"]).count() == 0
    # the two 'acquired' edges collapse onto one key: chunks union (L4 law,
    # graph_service.py:645-691), edge_id recomputed, repointed endpoint
    # renamed to the merged node
    acq = new_edges.filter(F.col("rel_type") == "acquired").collect()
    assert len(acq) == 1
    assert acq[0]["chunks"] == ["c1", "c2"]
    assert acq[0]["head"] == "A"
    assert acq[0]["edge_id"] is not None
    # untouched edge survives unchanged
    assert new_edges.filter(F.col("rel_type") == "has service").count() == 1
    # no duplicate edge keys remain
    assert new_edges.count() == new_edges.select(
        "head_id", "tail_id", "rel_type").distinct().count()


def test_merge_nodes_interactive_target_type_order_independent(spark):
    """The merged node and its edges take the TARGET's type whichever node
    row arrives first: ("ACME", person) merged into ("Acme", company) stays
    a company on both row orders."""
    triples = _triples_df(spark, [
        _t("u", "c1", "ACME", "person", "acquired", "Globex", "company"),
        _t("u", "c2", "Acme", "company", "acquired", "Globex", "company"),
    ])
    nodes = build_nodes(triples, graph="g")
    edges = build_edges(triples, nodes, graph="g")
    ids = {r["name"]: r["node_id"] for r in nodes.collect()}
    from_first = F.when(F.col("node_id") == ids["ACME"], 0).otherwise(1)
    for order in (from_first.asc(), from_first.desc()):
        new_nodes, new_edges = merge_nodes_interactive(
            nodes.orderBy(order).coalesce(1), edges,
            from_ids=[ids["ACME"]], to_id=ids["Acme"])
        merged = new_nodes.filter(F.col("node_id") == ids["Acme"]).collect()
        assert [(r["name"], r["type"]) for r in merged] == [("Acme", "company")]
        acq = new_edges.filter(F.col("head_id") == ids["Acme"]).collect()
        assert [(r["head"], r["head_type"]) for r in acq] == [("Acme", "company")]


def test_edge_endpoint_names_are_node_names(spark):
    """Endpoint-name law through build_graph with fuzzy canonicalization:
    every edge's (head, head_type) and (tail, tail_type) are the node table's
    (name, type) for head_id/tail_id, and the edge keys are exactly the
    canonical triples' (head, head_type, relation, tail, tail_type) set."""
    from knowledge_graph_studio_spark.pipeline import build_graph
    from knowledge_graph_studio_spark.sources.pages import synthetic_pages

    # rules=[] leaves the corpus' alias spellings ("Open AI") to the fuzzy pass
    out = build_graph(spark, synthetic_pages(spark, 200, seed=11, partitions=4),
                      rules=[])
    names = {r["node_id"]: (r["name"], r["type"])
             for r in out["nodes"].collect()}
    edges = out["edges"].collect()
    assert edges
    for e in edges:
        assert names[e["head_id"]] == (e["head"], e["head_type"])
        assert names[e["tail_id"]] == (e["tail"], e["tail_type"])
    assert not out["mapping"].isEmpty()  # fuzzy merges really rewrote names
    canon = apply_canonical_mapping(out["triples"], out["mapping"])
    key = ["head", "head_type", "relation", "tail", "tail_type"]
    assert ({tuple(r) for r in canon.select(key).distinct().collect()}
            == {(e["head"], e["head_type"], e["rel_type"], e["tail"],
                 e["tail_type"]) for e in edges})


def test_merge_law_df_matches_merge_string_props_empty_and_none(spark):
    """ADVICE parity: the bulk DF merge (_merged_props_df via build_nodes) and
    the interactive fold (_merge_props_col via merge_nodes_interactive) must
    both implement textcore.merge_string_props exactly, including keys whose
    value lists are empty ([] kept), None (key dropped for that row), and
    null elements inside lists (dropped)."""
    from knowledge_graph_studio_spark.textcore import merge_string_props

    prop_rows = [
        {"empty": [], "mixed": ["a", None], "nullv": None},
        {"empty": [], "mixed": ["b"], "solo": ["x"]},
    ]
    expected = merge_string_props(prop_rows)
    assert expected == {"empty": [], "mixed": ["a", "b"], "solo": ["x"]}

    triples = _triples_df(spark, [
        _t("u", "c1", "E", "company", "r", "T", "company", hp=prop_rows[0]),
        _t("u", "c2", "E", "company", "r", "T", "company", hp=prop_rows[1]),
    ])
    nodes = build_nodes(triples, graph="g")
    got_bulk = nodes.filter("name = 'E'").collect()[0]["properties"]
    assert dict(got_bulk) == expected

    # interactive path: two single-prop nodes merged into one
    edges = build_edges(triples, nodes, graph="g")
    n2 = _triples_df(spark, [
        _t("u", "c1", "E1", "company", "r", "T", "company", hp=prop_rows[0]),
        _t("u", "c2", "E2", "company", "r", "T", "company", hp=prop_rows[1]),
    ])
    nodes2 = build_nodes(n2, graph="g")
    edges2 = build_edges(n2, nodes2, graph="g")
    ids = {r["name"]: r["node_id"] for r in nodes2.collect()}
    merged_nodes, _ = merge_nodes_interactive(
        nodes2, edges2, from_ids=[ids["E2"]], to_id=ids["E1"])
    got_inter = merged_nodes.filter(
        F.col("node_id") == ids["E1"]).collect()[0]["properties"]
    assert dict(got_inter) == expected


def test_merge_law_df_randomized_vs_pure_python(spark):
    """30 random entities x random prop dicts (incl. None values, empty
    lists, None elements): the bulk DF merge must equal merge_string_props
    exactly on every one."""
    import random

    from knowledge_graph_studio_spark.textcore import merge_string_props

    rng = random.Random(11)

    def rand_props():
        d = {}
        for k in "abcd":
            if rng.random() < 0.6:
                r = rng.random()
                if r < 0.15:
                    d[k] = None
                elif r < 0.3:
                    d[k] = []
                else:
                    d[k] = [rng.choice(["x", "y", "z", None])
                            for _ in range(rng.randrange(1, 4))]
        return d

    cases = [(f"E{i}", [rand_props() for _ in range(rng.randrange(1, 4))])
             for i in range(30)]
    rows = []
    for name, dicts in cases:
        for j, d in enumerate(dicts):
            rows.append(_t("u", f"{name}-c{j}", name, "company",
                           "r", "T", "company", hp=d))
    nodes = build_nodes(_triples_df(spark, rows), graph="g")
    got = {r["name"]: dict(r["properties"]) for r in nodes.collect()}
    for name, dicts in cases:
        assert got[name] == merge_string_props(dicts), (name, dicts)


def test_build_nodes_chunk_count_exact_under_cap(spark):
    rows = [_t("u", f"c{i}", "Hot", "company", "r", f"T{i}", "company")
            for i in range(10)]
    # same entity mentioned twice in one chunk: mention_count 12, chunk_count 10
    rows += [_t("u", "c0", "Hot", "company", "r2", "T0", "company"),
             _t("u", "c1", "Hot", "company", "r2", "T1", "company")]
    triples = _triples_df(spark, rows)
    n = build_nodes(triples, graph="g", max_chunks=3).filter("name = 'Hot'")
    row = n.collect()[0]
    assert len(row["chunks"]) == 3          # capped provenance
    assert row["chunk_count"] == 10         # exact distinct chunks, uncapped
    assert row["mention_count"] == 12       # endpoint occurrences
    uncapped = build_nodes(triples, graph="g").filter("name = 'Hot'").collect()[0]
    assert uncapped["chunk_count"] == len(uncapped["chunks"]) == 10


def test_incremental_upsert_equals_full_build(spark):
    """S9 upsert law: merging two disjoint half-builds through
    upsert_nodes/upsert_edges reproduces the full build EXACTLY (uncapped) —
    the merge laws are associative, and the edge-chunk law recomputed
    against the merged nodes equals the full-build intersection
    (graph_service.py:524-604, 668-691 upsert semantics)."""
    from knowledge_graph_studio_spark.operators.linking import (
        upsert_edges, upsert_nodes,
    )
    from knowledge_graph_studio_spark.pipeline import triples_from_pages
    from knowledge_graph_studio_spark.sources.pages import synthetic_pages

    tri = triples_from_pages(
        spark, synthetic_pages(spark, 240, seed=5, partitions=8)).persist()
    halves = [tri.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
              for i in (0, 1)]
    parts = []
    for h in halves:
        n = build_nodes(h, graph="g")
        parts.append((n, build_edges(h, n, graph="g")))
    up_nodes = upsert_nodes(parts[0][0], parts[1][0])
    up_edges = upsert_edges(parts[0][1], parts[1][1], up_nodes)

    full_n = build_nodes(tri, graph="g")
    full_e = build_edges(tri, full_n, graph="g")

    def node_key(r):
        return (r["node_id"], r["name"], r["type"], tuple(r["chunks"]),
                r["mention_count"], r["chunk_count"],
                tuple(sorted((k, tuple(v)) for k, v in r["properties"].items())))

    def edge_key(r):
        return (r["edge_id"], r["head"], r["rel_type"], r["tail"],
                tuple(r["chunks"]),
                tuple(sorted((k, tuple(v)) for k, v in r["properties"].items())))

    assert ({node_key(r) for r in up_nodes.collect()}
            == {node_key(r) for r in full_n.collect()})
    assert ({edge_key(r) for r in up_edges.collect()}
            == {edge_key(r) for r in full_e.collect()})
    tri.unpersist()


def test_node_chunk_table_exact_uncapped(spark):
    from knowledge_graph_studio_spark.operators.linking import node_chunk_table

    rows = [_t("u", f"c{i}", "Hot", "company", "r", f"T{i % 3}", "company")
            for i in range(10)]
    tri = _triples_df(spark, rows)
    nodes = build_nodes(tri, graph="g", max_chunks=3)
    side = node_chunk_table(tri, graph="g")
    hot_id = nodes.filter("name = 'Hot'").collect()[0]["node_id"]
    hot_chunks = {r["chunk_id"] for r in
                  side.filter(F.col("node_id") == hot_id).collect()}
    assert hot_chunks == {f"c{i}" for i in range(10)}  # uncapped
    # side-table ids join back onto the (capped) nodes table
    assert side.join(nodes, "node_id", "left_anti").count() == 0


def test_connected_components_matches_union_find_random(spark):
    """Distributed min-label CC == driver union-find on a random multigraph
    (same partition of members AND the min-member label law)."""
    import random
    from collections import defaultdict

    from knowledge_graph_studio_spark.operators.linking import (
        connected_components_driver,
    )

    rng = random.Random(7)
    edges = [(f"n{rng.randrange(300):03d}", f"n{rng.randrange(300):03d}")
             for _ in range(400)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    cc = {r["member"]: r["component"]
          for r in connected_components(df).collect()}
    uf = connected_components_driver(edges)
    assert set(cc) == set(uf)
    g_dist, g_drv = defaultdict(set), defaultdict(set)
    for m, c in cc.items():
        g_dist[c].add(m)
    for m, c in uf.items():
        g_drv[c].add(m)
    assert (set(map(frozenset, g_dist.values()))
            == set(map(frozenset, g_drv.values())))
    assert all(c == min(ms) for c, ms in g_dist.items())


def test_connected_components_runs_to_convergence_on_a_long_path(spark):
    """A 31-node path needs 30 min-label rounds: every member ends in
    component 0, however many rounds that takes."""
    df = spark.createDataFrame([(i, i + 1) for i in range(30)],
                               "src long, dst long")
    got = {r["member"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(31)}


def test_fuzzy_pairs_exact_recall_for_first_char_indels(spark):
    # a first-character insertion was missed by prefix blocking; the
    # deletion-neighborhood join is exact for one edit
    names = spark.createDataFrame(
        [("Acme", "company", 5), ("xAcme", "company", 1),
         ("Globex", "company", 3), ("Globbex", "company", 1),  # mid insert
         ("OpenAI", "company", 9), ("OpenAL", "company", 1)],  # substitution
        ["name", "type", "freq"],
    )
    got = {(r["src"], r["dst"])
           for r in fuzzy_candidate_pairs(names).collect()}
    assert ("Acme", "xAcme") in got
    assert ("Globbex", "Globex") in got or ("Globex", "Globbex") in got
    assert ("OpenAI", "OpenAL") in got or ("OpenAL", "OpenAI") in got
    assert all({"Acme", "OpenAI"} != {a, b} for a, b in got)


def _pagerank_reference(edges, n_iter=5, damping=85, scale=10**12):
    """Pure-Python re-derivation of the SAME integer recurrence."""
    from collections import defaultdict

    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    deg = defaultdict(int)
    for u, _ in sym:
        deg[u] += 1
    nodes = sorted(deg)
    n = len(nodes)
    init = scale // n
    base = init * (100 - damping) // 100
    rank = {u: init for u in nodes}
    for _ in range(n_iter):
        recv = defaultdict(int)
        for u, v in sym:
            recv[v] += rank[u] // deg[u]
        rank = {u: base + (damping * recv.get(u, 0)) // 100 for u in nodes}
    return rank


def test_pagerank_matches_integer_reference(spark):
    import random

    from knowledge_graph_studio_spark.operators.linking import pagerank

    random.seed(7)
    names = [f"e{i}" for i in range(40)]
    edges = {(a, b) for a, b in
             (random.sample(names, 2) for _ in range(120)) if a < b}
    # plus a hub wired to everything: skew + a clear salience winner
    edges |= {("HUB", x) for x in names[:25]}
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    got = {r["member"]: r["rank"] for r in pagerank(df).collect()}
    assert got == _pagerank_reference(edges)
    # salience: the hub outranks every spoke
    assert max(got, key=got.get) == "HUB"
    # integer mass conservation: total <= scale, truncation loss < n per
    # division site per round (bounded well above by 2*n_iter*|nodes|*100)
    total = sum(got.values())
    n = len(got)
    assert total <= 10**12
    assert total >= 10**12 - 2 * 5 * n * 100 - n


def test_pagerank_empty_and_uniform(spark):
    from knowledge_graph_studio_spark.operators.linking import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0
    # a cycle is perfectly symmetric: every node gets the identical rank
    cyc = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)], ["src", "dst"])
    ranks = {r["rank"] for r in pagerank(cyc).collect()}
    assert len(ranks) == 1


def test_triangle_counts_matches_bruteforce(spark):
    import random
    from itertools import combinations

    from knowledge_graph_studio_spark.operators.linking import triangle_counts

    random.seed(13)
    names = [f"n{i}" for i in range(18)]
    edges = {tuple(sorted(random.sample(names, 2))) for _ in range(70)}
    # feed unsorted orientations + a duplicate + a self-loop: all normalized
    feed = ([(b, a) if i % 2 else (a, b)
             for i, (a, b) in enumerate(sorted(edges))]
            + [next(iter(edges)), ("n0", "n0")])
    df = spark.createDataFrame(feed, ["src", "dst"])
    got = {r["member"]: (r["degree"], r["triangles"], r["clustering_x1e6"])
           for r in triangle_counts(df).collect()}

    adj = {n: set() for n in names}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for n in names:
        if not adj[n]:
            continue  # isolated nodes don't appear (no edges -> no row)
        t = sum(1 for x, y in combinations(sorted(adj[n]), 2)
                if y in adj[x])
        d = len(adj[n])
        c = (2_000_000 * t) // (d * (d - 1)) if d >= 2 else 0
        want[n] = (d, t, c)
    assert got == want
    # sanity: the triangle total is consistent (each counted at 3 members)
    assert sum(v[1] for v in got.values()) % 3 == 0


def test_triangle_counts_known_shapes(spark):
    from knowledge_graph_studio_spark.operators.linking import triangle_counts

    # K4: every node has degree 3, 3 triangles, coefficient exactly 1
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    got = {r["member"]: r for r in
           triangle_counts(spark.createDataFrame(k4, ["src", "dst"])).collect()}
    assert all(r["degree"] == 3 and r["triangles"] == 3
               and r["clustering_x1e6"] == 1_000_000 for r in got.values())
    # path graph: zero triangles everywhere
    path = [("p1", "p2"), ("p2", "p3"), ("p3", "p4")]
    rows = triangle_counts(
        spark.createDataFrame(path, ["src", "dst"])).collect()
    assert all(r["triangles"] == 0 and r["clustering_x1e6"] == 0
               for r in rows)


def test_integer_graph_ops_partitioning_invariant(spark):
    """The bit-reproducibility claim: pagerank and triangle_counts are pure
    int64 arithmetic, so the SAME edges at different partitionings and row
    orders give IDENTICAL outputs (no float accumulation-order exposure)."""
    import random

    from knowledge_graph_studio_spark.operators.linking import (
        pagerank, triangle_counts)

    random.seed(23)
    names = [f"g{i}" for i in range(30)]
    edges = sorted({tuple(sorted(random.sample(names, 2)))
                    for _ in range(80)})
    shuffled = list(edges)
    random.shuffle(shuffled)
    a = spark.createDataFrame(edges, ["src", "dst"]).repartition(1)
    c = spark.createDataFrame(shuffled, ["src", "dst"]).repartition(13)
    pr_a = sorted(map(tuple, pagerank(a).collect()))
    pr_c = sorted(map(tuple, pagerank(c).collect()))
    assert pr_a == pr_c
    tr_a = sorted(map(tuple, triangle_counts(a).collect()))
    tr_c = sorted(map(tuple, triangle_counts(c).collect()))
    assert tr_a == tr_c


def test_pagerank_weighted_matches_reference_and_reduces(spark):
    from collections import defaultdict

    from knowledge_graph_studio_spark.operators.linking import pagerank

    rows = [("a", "b", 10), ("b", "c", 1), ("a", "c", 5), ("c", "d", 3)]
    df = spark.createDataFrame(rows, ["src", "dst", "w"])
    got = {r["member"]: r["rank"]
           for r in pagerank(df, weight_col="w").collect()}

    # pure-Python re-derivation of the weighted integer recurrence
    sym = defaultdict(int)
    for a, b, w in rows:
        sym[(a, b)] += w
        sym[(b, a)] += w
    wsum = defaultdict(int)
    for (u, _), w in sym.items():
        wsum[u] += w
    nodes = sorted(wsum)
    n = len(nodes)
    init = 10**12 // n
    base = init * 15 // 100
    rank = {u: init for u in nodes}
    for _ in range(5):
        recv = defaultdict(int)
        for (u, v), w in sym.items():
            recv[v] += (rank[u] * w) // wsum[u]
        rank = {u: base + (85 * recv.get(u, 0)) // 100 for u in nodes}
    assert got == rank
    # a sees most of the mass (heaviest incident weights)
    assert max(got, key=got.get) == "a"

    # w = 1 on every edge reduces to the unweighted operator exactly
    ones = spark.createDataFrame(
        [(a, b, 1) for a, b, _ in rows], ["src", "dst", "w"])
    unw = spark.createDataFrame(
        [(a, b) for a, b, _ in rows], ["src", "dst"])
    a_ = sorted(map(tuple, pagerank(ones, weight_col="w").collect()))
    b_ = sorted(map(tuple, pagerank(unw).collect()))
    assert a_ == b_
