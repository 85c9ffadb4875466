"""Retention policies for the driver-side metadata stores (VERDICT r2 #4):
RunManifest.prune / QueryLog.prune, plus the QueryLog .tmp-file hardening
(ADVICE r2: crashed writes must not corrupt the id counter or df())."""

import json
import os
import time

import pytest

from knowledge_graph_studio_spark.io.catalog import QueryLog, RunManifest


def _fake_record(manifest_dir: str, run_id: str, stage: str, pid: int,
                 committed_at: float) -> None:
    rec = {"run_id": run_id, "partition_id": pid, "stage": stage,
           "status": "committed", "started_at": committed_at - 1,
           "committed_at": committed_at}
    with open(os.path.join(manifest_dir, f"{stage}_p{pid:05d}.json"), "w") as fh:
        json.dump(rec, fh)


def test_manifest_prune_ttl_and_max_records(tmp_path):
    m = RunManifest(str(tmp_path), run_id="live")
    now = time.time()
    # 4 stale records from an old run, interleaved ages
    for pid, age in enumerate((5000, 4000, 3000, 2000)):
        _fake_record(m.dir, "old", "extract", 100 + pid, now - age)
    # 2 live-run records, one of them ANCIENT — still protected
    m.commit("extract", 0, now - 10)
    _fake_record(m.dir, "live", "extract", 1, now - 9999)
    # orphaned tmp from a crashed writer (aged past the sweep grace) plus a
    # FRESH tmp standing in for a live writer mid-commit (ADVICE r3: the
    # sweep must not race an in-flight write-then-rename)
    stale_tmp = os.path.join(m.dir, "extract_p00099.json.tmp")
    with open(stale_tmp, "w") as fh:
        fh.write("{partial")
    os.utime(stale_tmp, (now - 9000, now - 9000))
    fresh_tmp = os.path.join(m.dir, "extract_p00098.json.tmp")
    with open(fresh_tmp, "w") as fh:
        fh.write("{inflight")

    deleted = m.prune(before_ts=now - 3500)  # kills ages 5000, 4000
    assert deleted == 2
    assert not os.path.exists(stale_tmp)   # aged orphan collected
    assert os.path.exists(fresh_tmp)       # in-flight temp left alone
    os.remove(fresh_tmp)
    # live records survive regardless of age
    assert m.committed("extract") >= {0, 1}

    deleted = m.prune(max_records=1)  # of the 2 remaining old, keep newest
    assert deleted == 1
    kept_old = [r for r in m.records() if r["run_id"] == "old"]
    assert len(kept_old) == 1 and kept_old[0]["partition_id"] == 103


def test_manifest_prune_preserves_resume(spark, tmp_path, fail_after_commit):
    """Pruning old-run records mid-run must not shrink the live run's
    committed set: a crashed build pruned then resumed must NOT recompute
    its committed buckets (north-rule resume clause)."""
    from knowledge_graph_studio_spark.pipeline import build_graph_resumable
    from knowledge_graph_studio_spark.sources.pages import (
        synthetic_pages, write_pages,
    )

    pages_path = str(tmp_path / "pages")
    wd = str(tmp_path / "wd")
    write_pages(synthetic_pages(spark, 80, seed=5, partitions=4), pages_path)
    with fail_after_commit("extract", 1), \
            pytest.raises(RuntimeError, match="injected failure"):
        build_graph_resumable(spark, pages_path, wd, n_buckets=4)
    m = RunManifest(wd)  # same default run_id as the builder
    # stale record from some previous run + aggressive TTL
    _fake_record(m.dir, "ancient", "extract", 77, time.time() - 1e6)
    assert m.prune(before_ts=time.time()) == 1  # only the ancient one goes
    assert m.committed("extract") == {0, 1}

    before = {r["partition_id"]: r["committed_at"]
              for r in m.records() if r["stage"] == "extract"}
    build_graph_resumable(spark, pages_path, wd, n_buckets=4)
    after = {r["partition_id"]: r["committed_at"]
             for r in m.records() if r["stage"] == "extract"}
    assert set(after) == {0, 1, 2, 3}
    # committed buckets kept their original commit stamps (not recomputed)
    assert after[0] == before[0] and after[1] == before[1]


class _P:
    content = "q"
    entities: list = []
    relations: list = []
    values: list = []


def test_querylog_ignores_tmp_files(spark, tmp_path):
    wd = str(tmp_path)
    log = QueryLog(wd)
    q0 = log.start("g", _P())
    log.finish(q0, "ok", [1], [2])
    # simulate a crashed writer: partial .tmp next to the committed file
    with open(os.path.join(log.dir, f"{q0}.json.tmp"), "w") as fh:
        fh.write('{"query_id": "qcorrupt"')

    # a fresh handle must not count the .tmp (id collision) ...
    log2 = QueryLog(wd)
    q1 = log2.start("g", _P())
    assert q1 == "q000001"
    # ... and df() must not ingest it as a corrupt row
    rows = log2.df(spark).collect()
    assert sorted(r["query_id"] for r in rows) == ["q000000", "q000001"]


def test_querylog_prune_keeps_pending_and_ids_advance(spark, tmp_path):
    wd = str(tmp_path)
    log = QueryLog(wd)
    finished = []
    for _ in range(3):
        qid = log.start("g", _P())
        log.finish(qid, "ok", [], [])
        finished.append(qid)
    pending = log.start("g", _P())  # in-flight: finish() still needs it

    assert log.prune(max_records=1) == 2
    left = {r["query_id"] for r in log.df(spark).collect()}
    assert left == {finished[-1], pending}
    # pending still finishable after the prune
    log.finish(pending, "late", [], [])

    # ids keep advancing past pruned history (max-based, not count-based)
    log3 = QueryLog(wd)
    assert log3.start("g", _P()) == "q000004"

    # empty-dir df() shape
    empty = QueryLog(str(tmp_path / "fresh"))
    assert empty.df(spark).count() == 0


def test_table_backend_selector():
    """The backend knob validates names, defaults to parquet, and round-trips
    (the iceberg branch needs runtime jars this sandbox lacks — selecting it
    fails at first catalog use with Spark's own error, never silently)."""
    from knowledge_graph_studio_spark.io import catalog as cat

    assert cat.table_backend() == "parquet"
    try:
        cat.set_table_backend("iceberg")
        assert cat.table_backend() == "iceberg"
    finally:
        cat.set_table_backend("parquet")
    with pytest.raises(ValueError):
        cat.set_table_backend("delta")


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


def test_write_counted_exact_counts(spark, tmp_path):
    from knowledge_graph_studio_spark.io.catalog import write_counted

    df = spark.range(0, 37, 1, 4)
    assert write_counted(df, str(tmp_path / "full")) == 37
    assert spark.read.parquet(str(tmp_path / "full")).count() == 37
    assert write_counted(df.filter("false"), str(tmp_path / "none")) == 0
    empty_join = df.join(df.filter("id < 0"), "id")
    assert write_counted(empty_join, str(tmp_path / "join")) == 0
    # overwrite: the second write replaces the first and counts only itself
    assert write_counted(df.filter("id < 5"), str(tmp_path / "full")) == 5
    assert spark.read.parquet(str(tmp_path / "full")).count() == 5


def test_write_counted_is_one_job(spark, tmp_path):
    """The count rides on the write's own job; a write followed by a
    read-back count runs more."""
    from knowledge_graph_studio_spark.io.catalog import write_counted

    df = spark.range(0, 100, 1, 4).selectExpr("id", "id % 7 AS k")
    assert _jobs_of(spark, lambda: write_counted(
        df, str(tmp_path / "observed"))) == 1

    def write_then_count():
        df.write.mode("overwrite").parquet(str(tmp_path / "recounted"))
        return spark.read.parquet(str(tmp_path / "recounted")).count()

    assert _jobs_of(spark, write_then_count) > 1


def test_no_read_back_count_of_a_written_table():
    """Committed tables are counted by write_counted: no module that
    commits tables counts a parquet read."""
    import pathlib
    import re

    import knowledge_graph_studio_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = [root / "pipeline.py", root / "operators" / "curation.py",
             *sorted((root / "streaming").glob("*.py"))]
    read_back = re.compile(r"(\.parquet|read_table)\([^()]*\)\s*\.count\(\)")
    for f in files:
        assert not read_back.search(f.read_text()), f
