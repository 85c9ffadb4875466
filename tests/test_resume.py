"""Checkpointed-resume test (north rule): kill mid-build, restart, verify the
final tables are identical and committed partitions are not recomputed."""

import pytest

from knowledge_graph_studio_spark.io.catalog import RunManifest
from knowledge_graph_studio_spark.pipeline import build_graph_resumable
from knowledge_graph_studio_spark.sources.pages import synthetic_pages, write_pages


def _table_fingerprint(df, keys):
    rows = sorted(tuple(r[k] for k in keys) for r in df.collect())
    return rows


def test_resume_from_last_committed_partition(spark, tmp_path,
                                              fail_after_commit):
    pages_path = str(tmp_path / "pages")
    work_fail = str(tmp_path / "work_fail")
    work_full = str(tmp_path / "work_full")
    write_pages(synthetic_pages(spark, 120, seed=5, partitions=4), pages_path)

    # run 1: crash injected after bucket 1 commits
    with fail_after_commit("extract", 1), \
            pytest.raises(RuntimeError, match="injected failure"):
        build_graph_resumable(spark, pages_path, work_fail, n_buckets=4)
    m = RunManifest(work_fail)
    committed_before = m.committed("extract")
    assert committed_before == {0, 1}
    stamps_before = {r["partition_id"]: r["committed_at"]
                     for r in m.records() if r["stage"] == "extract"}

    # run 2: resumes — only buckets 2,3 get new extract records
    out = build_graph_resumable(spark, pages_path, work_fail, n_buckets=4)
    recs = [r for r in m.records() if r["stage"] == "extract"]
    assert {r["partition_id"] for r in recs} == {0, 1, 2, 3}
    # committed buckets kept their original commit timestamps (not recomputed)
    first_commits = {r["partition_id"]: r["committed_at"] for r in recs}
    assert first_commits[0] == stamps_before[0]
    assert first_commits[1] == stamps_before[1]
    m2 = RunManifest(work_fail)
    assert m2.committed("extract") == {0, 1, 2, 3}

    # reference run with no crash: identical final tables
    ref = build_graph_resumable(spark, pages_path, work_full, n_buckets=4)
    assert _table_fingerprint(out["nodes"], ["name", "type"]) == \
        _table_fingerprint(ref["nodes"], ["name", "type"])
    assert _table_fingerprint(out["edges"], ["head", "rel_type", "tail"]) == \
        _table_fingerprint(ref["edges"], ["head", "rel_type", "tail"])
    # per-partition lineage metrics recorded
    assert all("triples_emitted" in r for r in recs)


def test_incremental_update_equals_full_rebuild(spark, tmp_path):
    """update_graph_incremental: segment-at-a-time upsert converges to the
    same tables a full (rules-only) rebuild over all pages produces, new
    segments bump the version, and a no-op rerun returns the same version."""
    from pyspark.sql import functions as F

    from knowledge_graph_studio_spark.pipeline import (
        build_graph, current_tables, update_graph_incremental,
    )

    pages = synthetic_pages(spark, 160, seed=5, partitions=4).withColumn(
        "segment", F.when(F.pmod(F.xxhash64("url"), F.lit(2)) == 0,
                          "s0").otherwise("s1"))
    src = str(tmp_path / "pages")
    pages.write.partitionBy("segment").parquet(src)
    wd = str(tmp_path / "wd")

    # hide s1: first update sees only segment s0
    import os
    os.rename(f"{src}/segment=s1", f"{src}/.hold_s1")
    v0 = update_graph_incremental(spark, src, wd)
    assert v0["version"] == 0 and v0["segments"] == ["s0"]

    # s1 arrives: delta extract + upsert -> v1
    os.rename(f"{src}/.hold_s1", f"{src}/segment=s1")
    v1 = update_graph_incremental(spark, src, wd)
    assert v1["version"] == 1 and v1["segments"] == ["s0", "s1"]

    # converged tables == full rules-only rebuild over all pages
    full = build_graph(spark, spark.read.parquet(src).drop("segment"),
                       fuzzy=False)

    def node_key(r):
        return (r["node_id"], r["name"], r["type"], tuple(r["chunks"]),
                r["mention_count"], r["chunk_count"])

    def edge_key(r):
        return (r["edge_id"], r["head"], r["rel_type"], r["tail"],
                tuple(r["chunks"]))

    assert ({node_key(r) for r in v1["nodes"].collect()}
            == {node_key(r) for r in full["nodes"].collect()})
    assert ({edge_key(r) for r in v1["edges"].collect()}
            == {edge_key(r) for r in full["edges"].collect()})

    # no new segments -> same version back, still ready
    again = update_graph_incremental(spark, src, wd)
    assert again["version"] == 1
    assert current_tables(spark, wd)["version"] == 1


def test_diff_graph_versions_changelog(spark, tmp_path):
    from pyspark.sql import functions as F

    from knowledge_graph_studio_spark.pipeline import (
        diff_graph_versions, update_graph_incremental)
    from knowledge_graph_studio_spark.sources.pages import synthetic_pages

    pp = str(tmp_path / "pages")
    synthetic_pages(spark, 120, seed=3, partitions=4) \
        .withColumn("segment", F.lit(0)) \
        .write.partitionBy("segment").parquet(pp)
    wd = str(tmp_path / "g")
    update_graph_incremental(spark, pp, wd)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        diff_graph_versions(spark, wd)   # only one committed version
    synthetic_pages(spark, 60, seed=9, partitions=2) \
        .withColumn("segment", F.lit(1)) \
        .write.mode("append").partitionBy("segment").parquet(pp)
    update_graph_incremental(spark, pp, wd)

    d = diff_graph_versions(spark, wd)
    by = {(r["kind"], r["change"]): r["count"]
          for r in d.groupBy("kind", "change").count().collect()}
    # a pure-append delta never removes anything, must add or touch rows
    assert all(k[1] != "removed" for k in by)
    assert sum(by.values()) == d.count() > 0
    assert any(k == ("edge", "added") for k in by)
    # self-diff is empty (the unchanged rows are dropped)
    from knowledge_graph_studio_spark.pipeline import (
        RunManifest, _committed_versions)
    latest = _committed_versions(RunManifest(wd))[-1]["partition_id"]
    assert diff_graph_versions(spark, wd, latest, latest).count() == 0


def test_incremental_update_without_segments_fails(spark, tmp_path):
    """An unpartitioned pages table has nothing to upsert segment by
    segment: the update raises instead of reporting a ready graph with no
    tables."""
    from knowledge_graph_studio_spark.io.catalog import GraphStatus
    from knowledge_graph_studio_spark.pipeline import update_graph_incremental

    pages_path = str(tmp_path / "pages")
    write_pages(synthetic_pages(spark, 20, seed=5, partitions=2), pages_path)
    wd = str(tmp_path / "wd")
    with pytest.raises(ValueError, match="segment="):
        update_graph_incremental(spark, pages_path, wd)
    st = GraphStatus(wd).get("default")
    assert st["status"] == "failed"
    assert any(pages_path in e for e in st["errors"])


def test_noop_incremental_rerun_keeps_status_counts(spark, tmp_path):
    """A rerun with no new segment still serves the latest version, so
    the ready status keeps that version's node and edge counts."""
    from pyspark.sql import functions as F

    from knowledge_graph_studio_spark.io.catalog import GraphStatus
    from knowledge_graph_studio_spark.pipeline import update_graph_incremental

    pp = str(tmp_path / "pages")
    synthetic_pages(spark, 60, seed=3, partitions=2) \
        .withColumn("segment", F.lit(0)) \
        .write.partitionBy("segment").parquet(pp)
    wd = str(tmp_path / "wd")
    update_graph_incremental(spark, pp, wd)
    first = GraphStatus(wd).get("default")
    assert first["nodes"] > 0 and first["edges"] > 0
    update_graph_incremental(spark, pp, wd)
    again = GraphStatus(wd).get("default")
    assert again["status"] == "ready"
    assert (again["nodes"], again["edges"]) == (first["nodes"],
                                                first["edges"])
