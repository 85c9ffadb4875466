"""Table layer: parquet-backed, Iceberg-shaped, with a run manifest for
checkpointed resume.

The north rule requires per-partition lineage + metrics and restart from the
last committed partition. The reference gets atomic progress from Mongo
transactions in batches of 1000 triples plus a TTL'd task collection
(graph_service.py:509-746, cli/collection_index_config.json:156-168). Here the
atomic unit is a url-hash bucket: each bucket's output directory is written in
full, then its manifest record appears — a bucket with no manifest record is
treated as never-run and is overwritten idempotently on retry (rename-free
last-writer-wins, safe because content is deterministic per bucket).
Committed tables are written by :func:`write_counted`, which observes the
row count on the write itself (no read-back job). Kill/restart tests inject
their crash by patching ``RunManifest.commit``.

In an Iceberg deployment the same interface maps onto `MERGE INTO` + snapshot
ids; the manifest schema is deliberately a plain table so it ports: partition
commits become Iceberg snapshot commits, and resume reads the snapshot log
instead of the JSON files. (SURVEY.md §7 "No Iceberg in sandbox" risk note.)
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.literals import literal_df

MANIFEST_DIR = "_manifest"

# Orphaned-.tmp sweep grace period: a temp file younger than this is presumed
# to belong to a LIVE writer mid write-then-rename commit and is left alone
# (deleting it would make that writer's os.replace fail and lose the record —
# ADVICE r3). Crashed writers' temps age past it and get collected on the
# next prune.
TMP_SWEEP_GRACE_SEC = 300.0


def _sweep_stale_tmp(dirpath: str, grace: float = TMP_SWEEP_GRACE_SEC) -> int:
    """Delete *.tmp files older than ``grace`` seconds. Returns #deleted."""
    now = time.time()
    deleted = 0
    for f in os.listdir(dirpath):
        if not f.endswith(".tmp"):
            continue
        p = os.path.join(dirpath, f)
        try:
            if now - os.path.getmtime(p) > grace:
                os.remove(p)
                deleted += 1
        except OSError:
            pass  # raced with the writer's rename — exactly the case we skip
    return deleted


class RunManifest:
    """run_manifest(run_id, partition_id, stage, status, rows_out,
    triples_emitted, started_at, committed_at) — FIXTURES.md §6."""

    def __init__(self, workdir: str, run_id: str = "run0"):
        self.workdir = workdir
        self.run_id = run_id
        self.dir = os.path.join(workdir, MANIFEST_DIR)
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, stage: str, partition_id: int) -> str:
        return os.path.join(self.dir, f"{stage}_p{partition_id:05d}.json")

    def committed(self, stage: str) -> set[int]:
        return {r["partition_id"] for r in self.records()
                if r["stage"] == stage and r["status"] == "committed"}

    def commit(self, stage: str, partition_id: int, started_at: float,
               **metrics: Any) -> None:
        rec = {
            "run_id": self.run_id,
            "partition_id": partition_id,
            "stage": stage,
            "status": "committed",
            "started_at": started_at,
            "committed_at": time.time(),
            **metrics,
        }
        tmp = self._path(stage, partition_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, self._path(stage, partition_id))  # atomic publish

    def records(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.dir)):
            if f.endswith(".json"):
                with open(os.path.join(self.dir, f)) as fh:
                    out.append(json.load(fh))
        return out

    def prune(self, before_ts: float | None = None,
              max_records: int | None = None) -> int:
        """Retention for manifest records — the reference TTLs its task
        collection at 86400 s (cli/collection_index_config.json:156-168);
        without this the manifest grows one file per (stage, partition)
        forever. Deletes records committed before `before_ts` and/or beyond
        the newest `max_records`, but NEVER records of this manifest's own
        run_id: a live run's committed-set must survive pruning so resume
        stays exact (tests/test_resume.py). Returns #deleted."""
        cand = []  # (committed_at, path) of prunable records
        for f in os.listdir(self.dir):
            if not f.endswith(".json"):
                continue
            p = os.path.join(self.dir, f)
            with open(p) as fh:
                rec = json.load(fh)
            if rec.get("run_id") == self.run_id:
                continue  # live run: resume set is sacred
            cand.append((rec.get("committed_at", 0.0), p))
        cand.sort()  # oldest first
        doomed: list[str] = []
        if before_ts is not None:
            doomed.extend(p for ts, p in cand if ts < before_ts)
        if max_records is not None and len(cand) > max_records:
            keep_cut = len(cand) - max_records
            doomed.extend(p for _, p in cand[:keep_cut])
        deleted = 0
        for p in set(doomed):
            os.remove(p)
            deleted += 1
        # sweep orphaned .tmp files from crashed writers while we're here —
        # only STALE ones (ADVICE r3): a prune racing a live writer's
        # write-tmp-then-rename commit must not delete the in-flight temp
        # (the writer's os.replace would fail and lose the record), so
        # anything younger than the grace period is presumed in-flight.
        _sweep_stale_tmp(self.dir)
        return deleted


def write_counted(df: DataFrame, path: str) -> int:
    """Write ``df`` to ``path`` as parquet (overwrite) and return its row
    count, observed on the write's own job instead of a read-back count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")) \
        .write.mode("overwrite").parquet(path)
    return obs.get["rows"]


class GraphStatus:
    """Graph lifecycle row — the reference tracks creating/updating/ready/
    failed plus an errors list per graph (graph_service.py:751-832,
    schemas/graphs.py:28-49) that callers poll while a build runs. One JSON
    file per graph under workdir/_status, atomically replaced on transition
    (same publish discipline as the manifest)."""

    STATES = ("creating", "updating", "ready", "failed")

    def __init__(self, workdir: str):
        self.dir = os.path.join(workdir, "_status")
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, graph: str) -> str:
        return os.path.join(self.dir, f"graph_{graph}.json")

    def set(self, graph: str, status: str,
            errors: list[str] | None = None, **metrics: Any) -> dict:
        assert status in self.STATES, status
        rec = {"graph": graph, "status": status,
               "errors": errors or [], "updated_at": time.time(), **metrics}
        tmp = self._path(graph) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, self._path(graph))
        return rec

    def get(self, graph: str) -> dict | None:
        try:
            with open(self._path(graph)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    @contextmanager
    def lifecycle(self, graph: str) -> Iterator[dict]:
        """One build of ``graph``: 'creating' ('updating' over a ready
        graph), then 'failed' with ``"{type}: {msg}"`` if the body raises,
        else 'ready' with the counts the body put in the yielded dict."""
        prior = self.get(graph)
        self.set(graph, "updating" if prior and prior["status"] == "ready"
                 else "creating")
        counts: dict = {}
        try:
            yield counts
        except Exception as exc:  # recorded, then re-raised (ref :806-832)
            self.set(graph, "failed", errors=[f"{type(exc).__name__}: {exc}"])
            raise
        self.set(graph, "ready", **counts)


class DocumentLedger:
    """Per-document ingest status for the file sources (S1-S4) — the
    reference's document status machine uploaded/processing/processed/failed
    (services/crud/document.py:270-360; schemas/documents.py status field)
    that callers poll to see which uploads in a batch survived.

    Spark-first shape: statuses are EVENT ROWS appended to a parquet ledger,
    one write per transition BATCH (never per document — a million-file
    ingest is 4 table writes, not 4M point updates); the current state is
    the latest event per url. On a real deployment the same interface maps
    onto `MERGE INTO` a table-format status table; event-sourcing keeps the
    sandbox writer atomic (one directory per batch, published complete,
    same discipline as RunManifest)."""

    STATES = ("uploaded", "processing", "processed", "failed")

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.dir = os.path.join(workdir, "_documents")
        os.makedirs(self.dir, exist_ok=True)
        seqs = [int(d.split("=", 1)[1]) for d in os.listdir(self.dir)
                if d.startswith("batch=")]
        self._seq = max(seqs, default=-1) + 1

    def record(self, docs: DataFrame, status: str,
               error_col: str | None = None) -> int:
        """Append one transition batch: every row of ``docs`` (must carry
        ``url``) moves to ``status``; ``error_col`` names the column holding
        the failure reason for status='failed'. Returns the batch seq."""
        assert status in self.STATES, status
        err = (F.col(error_col) if error_col
               else F.lit(None).cast("string")).alias("error")
        out = docs.select(
            "url", F.lit(status).alias("status"), err,
            F.current_timestamp().alias("ts"),
        )
        seq = self._seq
        out.write.mode("overwrite").parquet(f"{self.dir}/batch={seq}")
        self._seq += 1
        return seq

    def events(self) -> DataFrame:
        """Full transition history (url, status, error, ts, batch)."""
        return self.spark.read.option("basePath", self.dir).parquet(
            f"{self.dir}/batch=*")

    def current(self) -> DataFrame:
        """Latest status per url — what the reference's GET /documents
        returns. Window over the batch seq (monotonic by construction)."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("url").orderBy(F.desc("batch"))
        return (
            self.events()
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("url", "status", "error", "ts")
        )


class QueryLog:
    """queries table — Entry C records the query document before running and
    persists status/response/returned ids after (graph_service.py:1938-1969,
    2046-2054; schemas/queries.py:16-65 shape). JSON-file-backed (query
    traffic is human-scale by contract); ``df()`` exposes the log as a
    DataFrame for listing queries."""

    SCHEMA = ("query_id string, graph string, workspace string, "
              "created_by string, status string, content string, "
              "entities array<string>, relations array<string>, "
              "values array<string>, response string, "
              "triple_ids array<long>, node_ids array<long>, "
              "error string, created_at double, finished_at double")

    def __init__(self, workdir: str):
        self.dir = os.path.join(workdir, "_queries")
        os.makedirs(self.dir, exist_ok=True)
        # Next id = max existing committed id + 1: counting files would
        # double-count leftover .tmp from a crashed write and collide after
        # a prune() compacts the directory.
        self._n = 1 + max(
            (int(f[1:-5]) for f in os.listdir(self.dir)
             if f.endswith(".json") and f[0] == "q" and f[1:-5].isdigit()),
            default=-1,
        )

    def _path(self, query_id: str) -> str:
        return os.path.join(self.dir, f"{query_id}.json")

    def _write(self, rec: dict) -> None:
        tmp = self._path(rec["query_id"]) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, self._path(rec["query_id"]))

    def start(self, graph: str, params: Any,
              workspace: str = "default", created_by: str = "default") -> str:
        query_id = f"q{self._n:06d}"
        self._n += 1
        self._write({
            "query_id": query_id, "graph": graph, "workspace": workspace,
            "created_by": created_by, "status": "pending",
            "content": params.content, "entities": list(params.entities),
            "relations": list(params.relations), "values": list(params.values),
            "response": None, "triple_ids": None, "node_ids": None,
            "error": None, "created_at": time.time(), "finished_at": None,
        })
        return query_id

    def finish(self, query_id: str, response: str | None,
               triple_ids: list[int], node_ids: list[int]) -> None:
        with open(self._path(query_id)) as fh:
            rec = json.load(fh)
        rec.update(status="success", response=response,
                   triple_ids=triple_ids, node_ids=node_ids,
                   finished_at=time.time())
        self._write(rec)

    def fail(self, query_id: str, error: str) -> None:
        with open(self._path(query_id)) as fh:
            rec = json.load(fh)
        rec.update(status="failed", error=error, finished_at=time.time())
        self._write(rec)

    def df(self, spark: SparkSession) -> DataFrame:
        # Committed records only — reading the whole dir would ingest partial
        # .tmp files from a crashed writer as corrupt/duplicate rows.
        files = sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir) if f.endswith(".json")
        )
        if not files:
            return literal_df(spark, [], self.SCHEMA)
        return spark.read.schema(self.SCHEMA).json(files)

    def prune(self, before_ts: float | None = None,
              max_records: int | None = None) -> int:
        """Retention for the query log (same TTL rationale as
        RunManifest.prune). Only finished records (status != pending) are
        eligible; keeps the newest `max_records` of those and/or drops ones
        created before `before_ts`. Returns #deleted."""
        cand = []
        _sweep_stale_tmp(self.dir)  # grace-period sweep, see RunManifest.prune
        for f in os.listdir(self.dir):
            p = os.path.join(self.dir, f)
            if not f.endswith(".json"):
                continue
            with open(p) as fh:
                rec = json.load(fh)
            if rec.get("status") == "pending":
                continue  # in-flight query: finish()/fail() still needs it
            cand.append((rec.get("created_at", 0.0), p))
        cand.sort()
        doomed: list[str] = []
        if before_ts is not None:
            doomed.extend(p for ts, p in cand if ts < before_ts)
        if max_records is not None and len(cand) > max_records:
            doomed.extend(p for _, p in cand[: len(cand) - max_records])
        deleted = 0
        for p in set(doomed):
            os.remove(p)
            deleted += 1
        return deleted


# --------------------------------------------------------------------------- #
# Table backend selector (VERDICT r3 stretch #8). Default "parquet" is the
# fully exercised sandbox backend; "iceberg" routes through the public
# Iceberg Spark API (DataFrameWriterV2 / catalog reads) and requires the
# iceberg-spark-runtime jars + a configured catalog, which this sandbox
# cannot install — selecting it without them fails with Spark's own
# catalog-not-found error at first use, never silently.
#
# Exact table-by-table mapping for an Iceberg deployment:
#   * pages (input)            CREATE TABLE db.pages ... PARTITIONED BY
#                              (bucket(N, url)) — the url-hash bucketing
#                              build_graph_resumable does manually becomes
#                              the table's layout, and per-bucket extraction
#                              reads are partition-pruned scans.
#   * triples bucket commits   each bucket's output appends in ONE Iceberg
#                              snapshot with the bucket id recorded in the
#                              snapshot summary; RunManifest.committed()
#                              becomes a read of the snapshot log, and a
#                              crashed bucket (no snapshot) is retried
#                              idempotently exactly like the parquet path.
#   * nodes/edges versions     one table instead of nodes_v{k} dirs;
#                              upsert_nodes/upsert_edges become
#                              MERGE INTO nodes USING delta
#                                ON nodes.node_id = delta.node_id
#                                WHEN MATCHED THEN UPDATE SET <the same
#                                  merge-law Column expressions: props
#                                  map-merge, chunks array-union + cap,
#                                  counters summed>
#                                WHEN NOT MATCHED THEN INSERT *
#                              and current_tables() reads VERSION AS OF /
#                              the snapshot log instead of the manifest's
#                              table_version records.
#   * GraphStatus / QueryLog   plain rows, one snapshot per transition;
#                              prune() maps to DELETE FROM ... WHERE
#                              finished_at < ts plus expire_snapshots for
#                              physical cleanup (the TTL the reference gets
#                              from Mongo's task-collection TTL index).
# --------------------------------------------------------------------------- #

_VALID_BACKENDS = ("parquet", "iceberg")
_TABLE_BACKEND = os.environ.get("KGS_TABLE_BACKEND", "parquet")


def set_table_backend(name: str) -> None:
    """Select the table backend ("parquet" | "iceberg") for read_table/
    write_table; also settable via $KGS_TABLE_BACKEND before import."""
    global _TABLE_BACKEND
    if name not in _VALID_BACKENDS:
        raise ValueError(f"unknown table backend {name!r}; "
                         f"expected one of {_VALID_BACKENDS}")
    _TABLE_BACKEND = name


def table_backend() -> str:
    return _TABLE_BACKEND


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a table. parquet: ``path`` is a directory. iceberg: ``path``
    is a catalog identifier (e.g. "cat.db.nodes") written via the V2 API
    (createOrReplace = one atomic snapshot; append = snapshot commit)."""
    if _TABLE_BACKEND == "iceberg":
        w = df.writeTo(path)
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
    else:
        df.write.mode(mode).parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    if _TABLE_BACKEND == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)
