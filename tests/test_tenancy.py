"""Multi-tenancy scoping, graph status lifecycle, query-log persistence, and
chunk tags/user_metadata (reference: every read/upsert is keyed by user +
workspace — graph_service.py:557-563, crud/chunks.py:103-165; status
graph_service.py:751-832; query log :1938-1969; tags routers/workspaces.py:
145-189)."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_studio_spark.operators.chunking import (
    pages_to_chunks, with_chunk_metadata, workspace_tags,
)
from knowledge_graph_studio_spark.operators.extraction import TRIPLES_SCHEMA
from knowledge_graph_studio_spark.operators.linking import build_edges, build_nodes
from knowledge_graph_studio_spark.plans.query import (
    QueryParameters, query_graph, scope_filter,
)
from knowledge_graph_studio_spark.sources.pages import synthetic_pages


def _triples(spark, rows):
    cols = [f.name for f in TRIPLES_SCHEMA.fields]
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], schema=TRIPLES_SCHEMA)


def _t(cid, h, rel, t):
    return {"url": "u", "chunk_id": cid, "head": h, "head_type": "company",
            "relation": rel, "tail": t, "tail_type": "company"}


@pytest.fixture(scope="module")
def two_tenants(spark):
    """Same entity names, two different users — one shared table."""
    tri = _triples(spark, [_t("c1", "Acme", "acquired", "Globex")])
    out = {}
    for user in ("alice", "bob"):
        n = build_nodes(tri, graph="g", workspace="w1", created_by=user)
        e = build_edges(tri, n, graph="g", workspace="w1", created_by=user)
        out[user] = (n, e)
    nodes = out["alice"][0].unionByName(out["bob"][0])
    edges = out["alice"][1].unionByName(out["bob"][1])
    return nodes.persist(), edges.persist()


def test_tenant_ids_disjoint(spark, two_tenants):
    nodes, edges = two_tenants
    # same (graph, name, type) but different created_by -> different node_id
    ids = [r["node_id"] for r in
           nodes.filter("name = 'Acme'").select("node_id").collect()]
    assert len(ids) == 2 and ids[0] != ids[1]
    eids = [r["edge_id"] for r in edges.select("edge_id").collect()]
    assert len(eids) == 2 and eids[0] != eids[1]


def test_scope_filter_isolates_users(spark, two_tenants):
    nodes, edges = two_tenants
    for user in ("alice", "bob"):
        sn = scope_filter(nodes, graph="g", workspace="w1", created_by=user)
        assert sn.count() == 2  # Acme + Globex, one tenant only
        assert {r["created_by"] for r in sn.collect()} == {user}
    res = query_graph(nodes, edges, QueryParameters(
        relations=["acquired"], graph="g", workspace="w1", created_by="alice"))
    tri = res["triples"].collect()
    assert len(tri) == 1
    got_nodes = res["nodes"].collect()
    assert {r["created_by"] for r in got_nodes} == {"alice"}
    # unscoped: both tenants' rows
    res_all = query_graph(nodes, edges, QueryParameters(relations=["acquired"]))
    assert res_all["triples"].count() == 2


def test_graph_status_lifecycle(spark, tmp_path, fail_after_commit):
    from knowledge_graph_studio_spark.io.catalog import GraphStatus
    from knowledge_graph_studio_spark.pipeline import build_graph_resumable

    pages = synthetic_pages(spark, 40, seed=3, partitions=4)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    wd = str(tmp_path / "wd")

    # injected failure -> failed status with the error recorded
    with fail_after_commit("extract", 1), pytest.raises(RuntimeError):
        build_graph_resumable(spark, src, wd, n_buckets=4)
    st = GraphStatus(wd).get("default")
    assert st["status"] == "failed"
    assert any("injected failure" in e for e in st["errors"])

    # resume -> ready with counts
    out = build_graph_resumable(spark, src, wd, n_buckets=4)
    st = GraphStatus(wd).get("default")
    assert st["status"] == "ready"
    assert st["nodes"] == out["nodes"].count()
    assert st["errors"] == []

    # rerun over a ready graph passes through 'updating' and lands 'ready'
    build_graph_resumable(spark, src, wd, n_buckets=4)
    assert GraphStatus(wd).get("default")["status"] == "ready"


def test_query_log_records_and_lists(spark, tmp_path, two_tenants):
    from knowledge_graph_studio_spark.io.catalog import QueryLog

    nodes, edges = two_tenants
    log = QueryLog(str(tmp_path))
    res = query_graph(nodes, edges, QueryParameters(
        relations=["acquired"], graph="g", created_by="alice"), log=log)
    assert res["query_id"] is not None
    rows = log.df(spark).collect()
    assert len(rows) == 1
    rec = rows[0]
    assert rec["status"] == "success"
    assert rec["relations"] == ["acquired"]
    assert rec["created_by"] == "alice"
    assert len(rec["triple_ids"]) == 1 and len(rec["node_ids"]) == 2
    # a second query appends; listing query over the log DataFrame
    query_graph(nodes, edges, QueryParameters(values=["Acme"]), log=log)
    listing = (log.df(spark).filter("status = 'success'")
               .orderBy("created_at").select("query_id").collect())
    assert [r["query_id"] for r in listing] == ["q000000", "q000001"]


def test_chunk_metadata_and_workspace_tag_union(spark):
    chunks = pages_to_chunks(synthetic_pages(spark, 20, seed=7, partitions=4))
    meta = with_chunk_metadata(
        chunks, workspace="w1", created_by="alice",
        tags={"w1": ["crawl", "news"]}, user_metadata={"source": "test"})
    row = meta.limit(1).collect()[0]
    assert row["workspaces"] == ["w1"]
    assert row["created_by"] == "alice"
    assert sorted(row["tags"]["w1"]) == ["crawl", "news"]
    assert row["user_metadata"]["source"] == "test"
    assert row["document"] == row["url"]

    # tag union across two ingest batches of the same workspace + doc tags
    other = with_chunk_metadata(chunks, workspace="w1", created_by="bob",
                                tags={"w1": ["news", "archive"], "w2": ["x"]})
    both = meta.unionByName(other)
    docs = both.select("document").distinct().withColumn(
        "tags", F.from_json(F.lit('{"w1": ["doctag"]}'),
                            "map<string,array<string>>"))
    got = workspace_tags(both, "w1", documents=docs).collect()[0]
    assert got["workspace"] == "w1"
    assert got["tags"] == ["archive", "crawl", "doctag", "news"]
    # w2 tags don't leak into w1; chunks not assigned to w2 contribute nothing
    got2 = workspace_tags(both, "w2").collect()[0]
    assert got2["tags"] == []
