"""Chunking operators: pages -> text -> <=1024-char chunks with offsets.

Reference: C1 splitter services/crud/chunks.py:198-231 (size cap config.py:138),
S1/S2 text extraction services/crud/chunks.py:430-470. Per-row work runs inside
ONE Arrow-batched ``mapInPandas`` pass importing the shared ``textcore`` module,
so the extracted text is byte-identical to the pure-Python oracle per url and
there is no per-row Python anywhere (north-rule UDF mandate).

Scale shape: pages -> chunks is a narrow map (no shuffle). chunk_id is the
deterministic ``url + ":" + start`` (the natural key behind FIXTURES.md §2's
hash) computed JVM-side, so downstream joins never depend on Python hashing
and provenance stays human-debuggable.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.literals import literal_array

# reference chunk schema: tags is dict[workspace_id, list[str]]
# (schemas/chunks.py:80), user_metadata dict[str, ...] (:81-88) — typed here
# as map<string,string>; richer values arrive as JSON strings.
TAGS_TYPE = T.MapType(T.StringType(), T.ArrayType(T.StringType()))
USER_META_TYPE = T.MapType(T.StringType(), T.StringType())

CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("content_obj", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)


def extract_text(pages: DataFrame) -> DataFrame:
    """pages + derived ``text`` column (byte-identical per url to textcore)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from knowledge_graph_studio_spark.textcore import page_text

        for pdf in batches:
            pdf = pdf.copy()
            pdf["text"] = [
                page_text(h, t) for h, t in zip(pdf["html"], pdf["text"])
            ]
            yield pdf

    return pages.mapInPandas(run, schema=pages.schema)


def pages_to_chunks(
    pages: DataFrame, max_chars: int = 1024, overlap: int = 0,
) -> DataFrame:
    """pages -> string chunks (one narrow stage; text derivation fused in).
    ``overlap`` is the reference's configurable chunk_overlap
    (models/common.py:301) — consecutive chunks share that many chars;
    chunk ids stay unique because they key on the exact start offset."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from knowledge_graph_studio_spark.textcore import (
            page_text, split_text_into_chunks,
        )

        for pdf in batches:
            rows = []
            for url, html, text, lang in zip(
                pdf["url"], pdf["html"], pdf["text"], pdf["lang"]
            ):
                full = page_text(html, text)
                for ch in split_text_into_chunks(
                        full, max_chars=max_chars, overlap=overlap):
                    rows.append(
                        (url, lang, "string", ch["content"], None,
                         ch["start"], ch["end"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["url", "lang", "data_type", "content", "content_obj",
                         "start", "end"],
            )

    return pages.mapInPandas(run, schema=CHUNKS_SCHEMA).withColumn(
        "chunk_id",
        F.concat_ws(":", F.col("url"), F.col("start").cast("string")),
    )


def _const_or_col(value, dtype) -> Column:
    if value is None:
        return F.from_json(F.lit("{}"), dtype)
    if isinstance(value, Column):
        return value
    return F.from_json(F.lit(json.dumps(value)), dtype)


def with_chunk_metadata(
    chunks: DataFrame,
    workspace: str = "default",
    created_by: str = "default",
    tags: dict | Column | None = None,
    user_metadata: dict | Column | None = None,
) -> DataFrame:
    """Stamp the reference's chunk-document fields (schemas/chunks.py:60-88)
    onto a chunk table: ``workspaces`` (assignment list — chunks can be
    assigned to more workspaces later via plans.admin.assign_chunks),
    ``created_by``, ``tags`` (map<workspace, array<string>>), ``user_metadata``
    and ``document`` (parent document key — the url is the natural key here).

    ``tags``/``user_metadata`` accept a plain dict (constant for the ingest
    batch — the reference's upload-time shape) or a Column derived per row.
    Pure column ops; the stamp is a narrow projection, no shuffle."""
    return (
        chunks.withColumn("workspaces", F.array(F.lit(workspace)))
        .withColumn("created_by", F.lit(created_by))
        .withColumn("tags", _const_or_col(tags, TAGS_TYPE))
        .withColumn("user_metadata", _const_or_col(user_metadata, USER_META_TYPE))
        .withColumn("document", F.col("url"))
    )


def workspace_tags(
    chunks: DataFrame,
    workspace: str,
    documents: DataFrame | None = None,
) -> DataFrame:
    """Distinct set-union of a workspace's tags (routers/workspaces.py:145-189):
    for chunks assigned to the workspace, union tags[workspace] with the
    parent document's tags[workspace] (the reference's $lookup + $concatArrays
    + $setUnion reduce). Returns one row (workspace, tags sorted array).

    Shape: narrow filter + element_at projection, explode, one tiny global
    agg — at scale the workspaces filter prunes partitions when the table is
    written partitioned by workspace."""
    ws = F.lit(workspace)
    scoped = chunks.filter(F.array_contains("workspaces", ws))
    own = scoped.select(
        F.explode(F.coalesce(F.element_at("tags", ws), F.array())).alias("tag"))
    if documents is not None:
        doc_tags = documents.select(
            F.col("document"),
            F.coalesce(F.element_at("tags", ws), F.array()).alias("_dt"))
        from_docs = (
            scoped.select("document").distinct()
            .join(doc_tags, "document", "inner")
            .select(F.explode("_dt").alias("tag"))
        )
        own = own.unionByName(from_docs)
    return own.agg(
        F.array_sort(F.collect_set("tag")).alias("tags")
    ).select(F.lit(workspace).alias("workspace"), "tags")


def rows_to_object_chunks(df: DataFrame, url_col: str = "url") -> DataFrame:
    """CSV/JSON rows -> object chunks (S3/S4/S5, services/crud/chunks.py:324-369):
    every cell stringified (type sanitation `validate_and_convert`), one
    map<string,string> chunk per row — pure column ops, no UDF."""
    cells = [c for c in df.columns if c != url_col]
    kv = []
    for c in cells:
        kv.extend([F.lit(c), F.col(c).cast("string")])
    out = df.select(
        F.col(url_col).cast("string").alias("url"),
        F.lit(None).cast("string").alias("lang"),
        F.lit("object").alias("data_type"),
        F.lit(None).cast("string").alias("content"),
        F.map_from_arrays(
            literal_array(cells, "string"),
            F.array(*[F.col(c).cast("string") for c in cells]),
        ).alias("content_obj"),
        F.lit(None).cast("int").alias("start"),
        F.lit(None).cast("int").alias("end"),
    )
    return out.withColumn(
        "chunk_id",
        F.concat_ws(
            ":", F.col("url"),
            F.xxhash64(F.to_json(F.col("content_obj"))).cast("string"),
        ),
    )


def aggregate_chapters(
    lines: DataFrame,
    book_col: str = "book_id",
    line_no_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """C5 chapter aggregator (utilities/processors.py:279-338): aggregate
    ordered book lines into chapters on ``CHAPTER <word>`` headers
    (case-insensitive, matched at line start); lines before the first header
    belong to PROLOGUE; the chapter key is ``CHAPTER <NAME-uppercased>`` and
    repeated headers with the same name merge into one chapter; header lines
    themselves are not chapter content.

    Empty-chapter parity (ADVICE r3): the reference keeps chapter keys that
    have zero content lines (a header immediately followed by another
    header) and initializes ``{"PROLOGUE": []}`` unconditionally
    (processors.py:309-310), so chapter_count counts empty chapters and
    every book has a PROLOGUE entry. Reproduced here with a per-book key
    table (distinct header keys + PROLOGUE) left-joined onto the content
    aggregation; empty chapters carry ``lines=[]``, ``n_lines=0``,
    ``first_line_no=NULL``.

    Distributed shape: header detection is a regexp projection; chapter
    assignment = last non-null header at-or-before each line (running
    window over the book's line order — one shuffle on book_col, reused by
    the final grouping since the keys nest); the key table is a distinct
    over header rows only (tiny). Output one row per (book, chapter) with
    the chapter's lines in order.

    Returns (book_id, chapter, lines: array<string>, n_lines,
    first_line_no)."""
    from pyspark.sql.window import Window

    hdr = F.regexp_extract(F.col(line_col), r"(?i)^CHAPTER\s+(\w+)\s*", 1)
    w = (Window.partitionBy(book_col).orderBy(line_no_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    assigned = lines.select(
        F.col(book_col).alias("book_id"),
        F.col(line_no_col).alias("line_no"),
        F.col(line_col).alias("line"),
        hdr.alias("_hdr"),
    ).withColumn(
        "chapter",
        F.coalesce(
            F.last(F.when(F.col("_hdr") != "",
                          F.concat(F.lit("CHAPTER "), F.upper("_hdr"))),
                   ignorenulls=True).over(w),
            F.lit("PROLOGUE"),
        ),
    )
    content = (
        assigned.filter(F.col("_hdr") == "")  # headers are keys, not content
        .groupBy("book_id", "chapter")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ).alias("lines"),
            F.count("*").alias("n_lines"),
            F.min("line_no").alias("first_line_no"),
        )
    )
    keys = (
        assigned.filter(F.col("_hdr") != "")
        .select("book_id",
                F.concat(F.lit("CHAPTER "), F.upper("_hdr")).alias("chapter"))
        .union(assigned.select("book_id", F.lit("PROLOGUE").alias("chapter")))
        .distinct()
    )
    return keys.join(content, ["book_id", "chapter"], "left").select(
        "book_id", "chapter",
        F.coalesce("lines", F.array().cast("array<string>")).alias("lines"),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        "first_line_no",
    )


def chapter_counts(chapters: DataFrame) -> DataFrame:
    """Companion to aggregate_chapters: per-book chapter count, excluding
    PROLOGUE (processors.py:330-333 counts len(chapters) - 1)."""
    return (
        chapters.filter(F.col("chapter") != "PROLOGUE")
        .groupBy("book_id")
        .agg(F.count("*").alias("chapter_count"))
    )
