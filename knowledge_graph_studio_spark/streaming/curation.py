"""Streaming incremental curation: continuously arriving crawl segments,
deduplicated against everything already accepted — the crawl-cadence twin of
``operators.dedup.seen_before``.

The reference has no streaming (SURVEY.md §2.7); this extends the engine's
streaming half (streaming/ingest.py) to the curation surface. Each micro
batch:

  1. exact-dedups WITHIN the batch (md5 groupBy, keep min id — a segment
     can repeat a page);
  2. flags docs whose content the Bloom index has already seen
     (``seen_before``: a left join of the docs' probe positions against
     the index — never collects, any m_bits);
  3. writes the surviving docs to ``docs/batch=<id>`` (idempotent
     overwrite, so restarts replay safely);
  4. appends the survivors' probe positions to the index at
     ``bloom_positions/batch=<id>`` — also keyed by batch id, so a
     replayed batch overwrites its own contribution instead of
     double-inserting;
  5. commits a manifest row (n_in, n_batch_dup, n_seen, n_kept) — the
     per-segment attrition log.

State lives in the positions TABLE, not executor memory: the index is a
plain parquet directory readable by any later batch or job, survives
restarts with the Spark checkpoint, and is bounded by min(k * accepted,
m_bits) rows. False-positive rate follows the standard Bloom bound and is
deterministic given the hash family; exact-duplicate recall across batches
is 1.0 by construction.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.literals import literal_df
from ..io.catalog import RunManifest, write_counted
from ..operators.dedup import bloom_index_positions, seen_before


def _existing_positions(spark: SparkSession, path: str,
                        exclude_batch: int) -> DataFrame:
    """The accepted-so-far index, EXCLUDING the current batch's own
    contribution: a batch that crashed after step 4 but before the
    checkpoint commit is replayed, and must not see its own probe
    positions (it would flag all its docs as already-seen and overwrite
    its docs directory empty). ``batch`` is the partition-discovery column
    of the ``batch=<id>`` layout, so the filter prunes whole
    directories."""
    try:
        df = spark.read.parquet(path)
    except Exception:
        return literal_df(spark, [], "pos bigint")
    # distinct: the same pos set in k batches would otherwise fan the
    # seen_before probe join out k-fold as batches accumulate (the seen
    # flag stays correct either way; this bounds join size — ADVICE r5)
    return df.filter(F.col("batch") != exclude_batch).select("pos").distinct()


def run_streaming_dedup(
    spark: SparkSession,
    docs_path: str,
    workdir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 24,
    k: int = 5,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available crawl segments once (Trigger.AvailableNow),
    keeping only documents never accepted before. Kill-and-rerun safe: the
    checkpoint dedupes input files and every per-batch output directory is
    an idempotent overwrite."""
    reader = spark.readStream.schema(
        spark.read.parquet(docs_path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_path)
    manifest = RunManifest(workdir, run_id="stream_dedup0")
    pos_root = f"{workdir}/bloom_positions"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        n_in = batch_df.count()
        # 1. within-batch exact dedup (keep min id per content hash)
        keep = (batch_df
                .groupBy(F.md5(F.col(content_col)).alias("_h"))
                .agg(F.min(id_col).alias(id_col)).select(id_col))
        batch = batch_df.join(keep, id_col, "left_semi")
        n_batch = batch.count()
        # 2. flag vs the accepted-so-far Bloom index
        hist = _existing_positions(spark, pos_root, int(batch_id))
        flags = seen_before(batch, hist, content_col=content_col,
                            id_col=id_col, m_bits=m_bits, k=k)
        fresh = batch.join(flags.filter("seen = 0").select(id_col),
                           id_col, "left_semi")
        # 3. survivors out (idempotent per batch)
        out = f"{workdir}/docs/batch={batch_id}"
        n_kept = write_counted(fresh, out)
        # 4. extend the index with the survivors' positions (idempotent:
        #    the batch directory replaces itself on replay)
        bloom_index_positions(
            spark.read.parquet(out), content_col=content_col,
            m_bits=m_bits, k=k) \
            .write.mode("overwrite").parquet(f"{pos_root}/batch={batch_id}")
        # 5. attrition log
        manifest.commit(
            "stream_dedup", int(batch_id), t0, n_in=n_in,
            n_batch_dup=n_in - n_batch, n_seen=n_batch - n_kept,
            n_kept=n_kept)

    (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{workdir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
