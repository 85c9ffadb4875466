"""Extraction operators: mention detection + schema-guided triple extraction.

Reference parity (file:line in /root/reference/src/whyhow_api):
  E1 mention detection      utilities/builders.py:66-113 (spaCy NER) — here a
                            deterministic gazetteer matcher from textcore.
  E2 schema-guided triples  utilities/builders.py:130-199 + fan-out
                            builders.py:267-341, gather graph_service.py:887-889
                            — here the shared trigger-phrase extractor.
  E4 structured extraction  graph_service.py:905-1012 — pure column ops.
  E6/E7/E8 schema induce/validate/extend — graph_service.py:2545-2763.
  E11 Contains edges        utilities/common.py:99-198.

Scale shape: the flagship path is ``pages_to_triples`` — ONE fused
``mapInPandas`` stage (text extraction -> chunk split -> per-chunk pattern
extraction) so scan->triples is shuffle-free; patterns and gazetteer ride along
as plain Python objects captured in the closure (broadcast by Spark's task
serializer — they are KBs, the analog of the reference's max 64 patterns cap).
The reference's asyncio.gather fan-out over (pattern x chunk) becomes partition
parallelism; its per-chunk retry x5 becomes Spark task retries + idempotent
partition commits (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.literals import literal_array, literal_df

PROPS = T.MapType(T.StringType(), T.ArrayType(T.StringType()))

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("head", T.StringType(), False),
        T.StructField("head_type", T.StringType(), False),
        T.StructField("relation", T.StringType(), False),
        T.StructField("tail", T.StringType(), False),
        T.StructField("tail_type", T.StringType(), False),
        T.StructField("head_properties", PROPS, True),
        T.StructField("relation_properties", PROPS, True),
        T.StructField("tail_properties", PROPS, True),
    ]
)

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("count", T.IntegerType(), False),
    ]
)


def pages_to_triples(
    pages: DataFrame,
    patterns: list[dict],
    gazetteer: dict[str, tuple[str, str]],
    max_chars: int = 1024,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Fused scan->triples stage. Filter on ``lang`` is a real Column filter
    (pushed to the parquet scan), everything after is one narrow map."""
    src = pages.filter(F.col("lang").isin(list(langs)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from knowledge_graph_studio_spark.textcore import (
            extract_pattern_triples, page_text, split_text_into_chunks,
        )

        cols = [f.name for f in TRIPLES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                full = page_text(html, text)
                for ch in split_text_into_chunks(full, max_chars=max_chars):
                    cid = f"{url}:{ch['start']}"
                    for t in extract_pattern_triples(
                        ch["content"], patterns, gazetteer
                    ):
                        # Deviation from the reference's in-flight shape
                        # (builders.py records the chunk id inside all three
                        # property dicts, then build_graph pops it back out,
                        # graph_service.py:552): our schema carries provenance
                        # as the explicit chunk_id column, so the dicts hold
                        # only real properties (none for pattern extraction).
                        # build_nodes/build_edges still pop "chunks" for
                        # inputs that do smuggle it (from_triples entry).
                        rows.append(
                            (url, cid, t["head"], t["head_type"], t["relation"],
                             t["tail"], t["tail_type"], None, None, None)
                        )
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=TRIPLES_SCHEMA)


def chunks_to_mentions(
    chunks: DataFrame, gazetteer: dict[str, tuple[str, str]]
) -> DataFrame:
    """E1: per-chunk entity mentions with occurrence counts (narrow map)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from knowledge_graph_studio_spark.textcore import detect_mentions

        cols = [f.name for f in MENTIONS_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for cid, url, content in zip(pdf["chunk_id"], pdf["url"], pdf["content"]):
                if not content:
                    continue
                for m in detect_mentions(content, gazetteer):
                    rows.append((cid, url, m["name"], m["type"], m["surface"],
                                 m["count"]))
            yield pd.DataFrame(rows, columns=cols)

    return chunks.select("chunk_id", "url", "content").mapInPandas(
        run, schema=MENTIONS_SCHEMA
    )


def contains_triples(mentions: DataFrame) -> DataFrame:
    """E11: (chunk)-[Contains{count}]->(entity) edges from mention counts.

    The reference counts surfaces per chunk (utilities/common.py:99-198) and
    later *excludes* type="Contains" from relation listings
    (services/crud/graph.py:100,408) — the exclusion lives in plans/query.py.
    Pure column ops over the mentions DF; no extra text pass."""
    return mentions.select(
        F.col("url"),
        F.col("chunk_id"),
        F.col("chunk_id").alias("head"),
        F.lit("chunk").alias("head_type"),
        F.lit("Contains").alias("relation"),
        F.col("name").alias("tail"),
        F.col("type").alias("tail_type"),
        F.lit(None).cast(PROPS).alias("head_properties"),
        F.create_map(
            F.lit("count"), F.array(F.col("count").cast("string"))
        ).cast(PROPS).alias("relation_properties"),
        F.lit(None).cast(PROPS).alias("tail_properties"),
    )


def structured_patterns(schema_entities: list) -> list[dict]:
    """E4 pattern cross-product (graph_service.py:905-932): for every pair of
    entity *fields*, a has_<tail_field> pattern keyed by field names."""
    fields = []
    for ent in schema_entities:
        for fname, props in (ent.fields or {}).items():
            fields.append((ent.name, fname, props))
    pats = []
    for h_ent, h_field, h_props in fields:
        for t_ent, t_field, t_props in fields:
            if h_field == t_field:
                continue
            pats.append(
                {
                    "head_type": h_ent, "head_field": h_field,
                    "head_props": h_props,
                    "relation": f"has {t_field.lower()}",
                    "tail_type": t_ent, "tail_field": t_field,
                    "tail_props": t_props,
                }
            )
    return pats


def extract_structured_triples(
    object_chunks: DataFrame, patterns: list[dict]
) -> DataFrame:
    """E4 (graph_service.py:935-1012): for each object chunk, head/tail names
    come from the pattern's field columns ("Unnamed" when absent — the
    reference stringifies None the same way, :967,977); listed property keys
    are pulled from the row. Pure column ops: broadcast patterns -> explode."""
    pat_rows = literal_array(
        patterns,
        "struct<head_type: string, head_field: string, "
        "head_props: array<string>, relation: string, tail_type: string, "
        "tail_field: string, tail_props: array<string>>")

    def props_for(keys_col, src=F.col("content_obj")):
        # map over the listed property keys, keeping only present ones
        pairs = F.filter(
            F.transform(
                keys_col,
                lambda k: F.struct(
                    k.alias("k"), F.element_at(src, k).alias("v")
                ),
            ),
            lambda s: s["v"].isNotNull(),
        )
        return F.map_from_arrays(
            F.transform(pairs, lambda s: s["k"]),
            F.transform(pairs, lambda s: F.array(s["v"])),
        ).cast(PROPS)

    exploded = (
        object_chunks.filter(F.col("data_type") == "object")
        .withColumn("pat", F.explode(pat_rows))
    )
    return (
        exploded.withColumn(
            "head", F.coalesce(F.element_at("content_obj", F.col("pat.head_field")),
                               F.lit("Unnamed"))
        )
        .withColumn(
            "tail", F.coalesce(F.element_at("content_obj", F.col("pat.tail_field")),
                               F.lit("Unnamed"))
        )
        .filter(~((F.col("head") == "Unnamed") & (F.col("tail") == "Unnamed")))
        .select(
            "url", "chunk_id", "head",
            F.col("pat.head_type").alias("head_type"),
            F.col("pat.relation").alias("relation"),
            "tail",
            F.col("pat.tail_type").alias("tail_type"),
            props_for(F.col("pat.head_props")).alias("head_properties"),
            F.lit(None).cast(PROPS).alias("relation_properties"),
            props_for(F.col("pat.tail_props")).alias("tail_properties"),
        )
    )


# --------------------------------------------------------------------------- #
# Schema ops (E5/E6/E7/E8)
# --------------------------------------------------------------------------- #

def generate_schema_from_questions(
    questions: list[str],
    entity_vocab: dict[str, str],
    relation_vocab: dict[str, tuple[str, str, str]],
) -> dict:
    """E5 schema generation from user questions (utilities/builders.py:579-758
    prompts gpt-4o with the Pydantic source and JSON-parses the reply; here a
    deterministic keyword matcher with the same contract: questions -> schema
    dict with entities/relations/patterns, deduped by name and pattern key).

    entity_vocab: surface keyword -> entity type ("ceo" -> "person").
    relation_vocab: relation keyword -> (head_type, relation, tail_type).
    Driver-side (questions are human-scale, never a distributed input)."""
    ents: dict[str, dict] = {}
    rels: dict[str, dict] = {}
    pats: dict[tuple, dict] = {}
    for q in questions:
        toks = set(q.lower().replace("?", " ").replace(",", " ").split())
        hit_ents = {t for kw, t in entity_vocab.items() if kw in toks}
        for kw, (ht, rel, tt) in relation_vocab.items():
            if kw not in toks and kw.replace("_", " ") not in q.lower():
                continue
            hit_ents.update((ht, tt))
            rels.setdefault(rel, {"name": rel, "description": f"from: {q}"})
            pats.setdefault(
                (ht, rel, tt),
                {"head_type": ht, "relation": rel, "tail_type": tt,
                 "description": f"from: {q}"})
        for e in hit_ents:
            ents.setdefault(e, {"name": e, "description": f"from: {q}"})
    return {
        "entities": [ents[k] for k in sorted(ents)],
        "relations": [rels[k] for k in sorted(rels)],
        "patterns": [pats[k] for k in sorted(pats)],
    }


def induce_schema(triples: DataFrame) -> dict:
    """E6 (graph_service.py:2545-2610): distinct types/relations/patterns ->
    auto schema dict with "auto-generated" descriptions."""
    pats = [
        r.asDict()
        for r in triples.select("head_type", "relation", "tail_type")
        .distinct().orderBy("head_type", "relation", "tail_type").collect()
    ]
    ents = sorted({p["head_type"] for p in pats} | {p["tail_type"] for p in pats})
    rels = sorted({p["relation"] for p in pats})
    return {
        "entities": [{"name": e, "description": "auto-generated"} for e in ents],
        "relations": [{"name": r, "description": "auto-generated"} for r in rels],
        "patterns": [
            {**p, "description": "auto-generated"} for p in pats
        ],
    }


def validate_triples(
    triples: DataFrame, patterns: list[dict], strict: bool = False
) -> tuple[DataFrame, DataFrame]:
    """E7 (graph_service.py:2613-2670): split triples into (valid, violating)
    by left-anti join against the broadcast pattern set."""
    pat_df = F.broadcast(literal_df(
        triples.sparkSession,
        [(p["head_type"], p["relation"], p["tail_type"]) for p in patterns],
        "head_type string, relation string, tail_type string"))
    on = ["head_type", "relation", "tail_type"]
    valid = triples.join(pat_df, on, "left_semi")
    invalid = triples.join(pat_df, on, "left_anti")
    if strict and invalid.limit(1).count() > 0:
        bad = invalid.select(*on).distinct().limit(5).collect()
        raise ValueError(f"triples violate schema patterns, e.g. {bad}")
    return valid, invalid


def extend_schema(schema_dict: dict, new_patterns: list[dict]) -> dict:
    """E8 (graph_service.py:2673-2763): add names/patterns not already present."""
    ents = {e["name"] for e in schema_dict["entities"]}
    rels = {r["name"] for r in schema_dict["relations"]}
    pats = {
        (p["head_type"], p["relation"], p["tail_type"])
        for p in schema_dict["patterns"]
    }
    out = {
        "entities": list(schema_dict["entities"]),
        "relations": list(schema_dict["relations"]),
        "patterns": list(schema_dict["patterns"]),
    }
    for p in new_patterns:
        key = (p["head_type"], p["relation"], p["tail_type"])
        if key in pats:
            continue
        pats.add(key)
        out["patterns"].append({**p, "description": "auto-generated"})
        for e in (p["head_type"], p["tail_type"]):
            if e not in ents:
                ents.add(e)
                out["entities"].append({"name": e, "description": "auto-generated"})
        if p["relation"] not in rels:
            rels.add(p["relation"])
            out["relations"].append(
                {"name": p["relation"], "description": "auto-generated"}
            )
    return out
