"""Structured Streaming ingest: continuously arriving crawl pages -> triples.

The reference has NO streaming (SURVEY.md §2.7) — its incremental story is
request-scoped background tasks (routers/graphs.py:306-317). At web scale the
crawl never stops, so this module gives the engine the streaming half:

  * ``stream_pages``        readStream over a pages directory (new parquet
                            files = new crawl segments). Same schema as batch.
  * ``stream_triples``      the IDENTICAL fused extraction stage as batch
                            (operators/extraction.pages_to_triples works on a
                            streaming DF unchanged — mapInPandas is
                            streaming-compatible), so batch/stream parity is
                            by construction, not by reimplementation.
  * ``mention_rollup``      watermarked tumbling-window mention counts over
                            event time (warc_ts) — the standard late-data-safe
                            rollup (2h watermark tolerates out-of-order WARC
                            segments).
  * ``run_incremental_build`` foreachBatch sink: per micro-batch, append
                            triples parquet + RunManifest commit keyed by
                            batch_id — the streaming twin of
                            pipeline.build_graph_resumable's bucket commits.
                            Restart resumes from the Spark checkpoint AND the
                            manifest stays consistent because batch_id is
                            stable across restarts (idempotent overwrite per
                            batch directory).

Scale: extraction is a stateless narrow map (scales with executors); the only
stateful op is the windowed rollup whose state is bounded by watermark
retention x |entity types|.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io.catalog import RunManifest, write_counted
from ..operators.extraction import pages_to_triples
from ..operators.linking import apply_merge_rules, rules_to_alias_df
from ..schema_model import default_gazetteer, default_rules, default_schema
from ..sources.pages import PAGES_SCHEMA

MENTION_TS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("count", T.IntegerType(), False),
    ]
)


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_triples(pages: DataFrame, schema=None, gazetteer=None,
                   rules=None) -> DataFrame:
    """Streaming DF of in-flight triples — the same fused extraction stage as
    batch plus the L1 alias rewrite as a stream-static broadcast join, so the
    streamed set is identical to pipeline.triples_from_pages on equal input."""
    schema = schema or default_schema()
    gazetteer = gazetteer or default_gazetteer()
    rules = default_rules() if rules is None else rules
    t = pages_to_triples(pages, schema.pattern_dicts(), gazetteer)
    if rules:
        t = apply_merge_rules(
            t, rules_to_alias_df(pages.sparkSession, rules))
    return t


def page_mentions_with_ts(pages: DataFrame, gazetteer=None) -> DataFrame:
    """Per-page mention counts keeping event time (for windowed rollups)."""
    gazetteer = gazetteer or default_gazetteer()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from knowledge_graph_studio_spark.textcore import (
            detect_mentions, page_text,
        )

        cols = [f.name for f in MENTION_TS_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for url, ts, html, text in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"]
            ):
                for m in detect_mentions(page_text(html, text), gazetteer):
                    rows.append((url, ts, m["name"], m["type"], m["count"]))
            yield pd.DataFrame(rows, columns=cols)

    return pages.mapInPandas(run, schema=MENTION_TS_SCHEMA)


def mention_rollup(
    mentions: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window per-entity mention counts. Works on both
    streaming and batch DFs (batch ignores the watermark) — the parity test
    runs it both ways on identical input."""
    src = mentions
    if mentions.isStreaming:
        src = mentions.withWatermark("warc_ts", watermark)
    return (
        src.groupBy(F.window("warc_ts", window).alias("win"), "name", "type")
        .agg(F.sum("count").alias("mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            "name", "type", "mentions",
        )
    )


FIRST_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("first_seen", T.TimestampType(), True),
        T.StructField("first_url", T.StringType(), True),
    ]
)

_FIRST_SEEN_STATE = T.StructType(
    [T.StructField("first_seen", T.TimestampType()),
     T.StructField("first_url", T.StringType())]
)


def first_seen_entities(mentions: DataFrame,
                        watermark: str = "2 hours") -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): emit each
    (name, type) entity exactly once — on the micro-batch where it first
    appears — with its earliest event time and source url. The state per key
    is one (timestamp, url) pair, so total state is bounded by |entities|,
    not by stream length (no watermark-based eviction needed; entity
    vocabularies are the small side of a crawl).

    This is the stream-native "is this entity new?" primitive the batch
    pipeline answers with an anti-join against the nodes table — useful for
    alerting on first mentions and for incremental gazetteer growth."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        batch_min_ts, batch_url = None, None
        for pdf in pdfs:
            if pdf.empty:
                continue
            # idxmin raises on an all-NaT column; fall back to first row
            idx = (pdf["warc_ts"].idxmin()
                   if pdf["warc_ts"].notna().any() else pdf.index[0])
            ts, url = pdf["warc_ts"][idx], pdf["url"][idx]
            if batch_min_ts is None or pd.isna(batch_min_ts) or (
                    not pd.isna(ts) and ts < batch_min_ts):
                batch_min_ts, batch_url = ts, url
        if state.exists:
            return iter(())  # already emitted; state bounded at 1 row/key
        state.update((batch_min_ts, batch_url))
        return iter([pd.DataFrame(
            {"name": [key[0]], "type": [key[1]],
             "first_seen": [batch_min_ts], "first_url": [batch_url]})])

    src = mentions
    if mentions.isStreaming:
        src = mentions.withWatermark("warc_ts", watermark)
    return src.groupBy("name", "type").applyInPandasWithState(
        fn,
        outputStructType=FIRST_SEEN_SCHEMA,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_incremental_build(
    spark: SparkSession,
    pages_path: str,
    workdir: str,
    schema=None,
    gazetteer=None,
    rules=None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available crawl segments once (Trigger.AvailableNow), writing
    per-micro-batch triple partitions + manifest commits. Safe to kill and
    rerun: Spark's checkpoint dedupes input files; the per-batch output dir is
    overwritten idempotently (deterministic content)."""
    triples = stream_triples(
        stream_pages(spark, pages_path, max_files_per_trigger),
        schema, gazetteer, rules)
    manifest = RunManifest(workdir, run_id="stream0")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        n = write_counted(batch_df, f"{workdir}/triples/batch={batch_id}")
        manifest.commit("stream_extract", int(batch_id), t0, triples_emitted=n)

    (
        triples.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{workdir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
