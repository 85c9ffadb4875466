"""Embedding + verbalization operators (V1/V2/E10).

Reference parity (file:line in /root/reference/src/whyhow_api):
  V1 batch chunk embedding   utilities/common.py:20-49 (1536-d)
  V2 triple embedding        services/crud/triple.py:265-390 — $lookup head/tail
                             nodes (:311-352), verbalize, embed 1024-d, write
                             back per id. Here the $lookup vanishes: our edges
                             table already carries head/tail names and types
                             (denormalized at build), so V2 is verbalize+embed
                             over one table — no join, no shuffle.
  E10 triple verbalization   services/crud/triple.py:179-262 — exact string
                             parity via the shared textcore implementation.

Scale shape: both operators are narrow Arrow-batched pandas-UDF maps (the
slow-path Python is amortized over 2048-row batches); nothing shuffles. At
100 TB the embed stage is compute-bound and embarrassingly parallel — exactly
what you want on 1000 executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .embedding_core import CHUNK_DIM, TRIPLE_DIM


def with_embedding(
    df: DataFrame, text_col: str, dim: int = CHUNK_DIM,
    out_col: str = "embedding",
) -> DataFrame:
    """Append an ``array<float>`` embedding of ``text_col`` (V1)."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.FloatType()), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from knowledge_graph_studio_spark.functions.embedding_core import (
            embed_texts,
        )

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [v.tolist() for v in embed_texts(list(pdf[text_col]), dim)]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def verbalize_edges(edges: DataFrame, out_col: str = "verbalized") -> DataFrame:
    """E10 over the edges table: one text per edge, byte-identical to
    textcore.convert_triple_to_text (the oracle the tests compare against)."""
    out_schema = T.StructType(
        list(edges.schema.fields) + [T.StructField(out_col, T.StringType(), True)]
    )
    prop_cols = "properties" in edges.columns

    def _norm_props(props) -> dict | None:
        # Arrow hands MapType to pandas as a list of (key, value) pairs and
        # array values as numpy arrays; normalize to plain dict[str, list[str]]
        # so str() formatting matches the pure-Python oracle exactly.
        if props is None:
            return None
        items = props.items() if isinstance(props, dict) else list(props)
        return {k: list(v) if not isinstance(v, str) else v for k, v in items}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from knowledge_graph_studio_spark.textcore import convert_triple_to_text

        for pdf in batches:
            pdf = pdf.copy()
            texts = []
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                texts.append(
                    convert_triple_to_text(
                        {
                            "head": d["head"],
                            "head_type": d["head_type"],
                            "relation": d["rel_type"],
                            "tail": d["tail"],
                            "tail_type": d["tail_type"],
                            "relation_properties": _norm_props(
                                d.get("properties")) if prop_cols else None,
                        }
                    )
                )
            pdf[out_col] = texts
            yield pdf

    return edges.mapInPandas(run, schema=out_schema)


def embed_edges(edges: DataFrame, dim: int = TRIPLE_DIM) -> DataFrame:
    """V2: verbalize (E10) then embed at 1024 dims; single fused narrow stage."""
    v = verbalize_edges(edges)
    return with_embedding(v, "verbalized", dim)
