"""Administrative graph mutations (L6/L8/L9) as DataFrame rewrites.

Reference parity (file:line in /root/reference/src/whyhow_api):
  L8 graph cascade delete      services/crud/graph.py:23-66 (triples, nodes,
                               queries, graph in one transaction)
  L9 chunk (un)assignment      services/crud/chunks.py:562-721 ($push/$pull
                               with assigned / not_found / already partitions)

In a table world these are partition-level operations: a graph is a partition
key of nodes/edges, so cascade delete is a partition filter (or Iceberg
`DELETE FROM ... WHERE graph = ?`), and assignment is an array-column rewrite
of the matched rows. Each function returns the NEW table state — callers
overwrite the partition (snapshot-isolated commit in Iceberg terms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.literals import literal_array, literal_df


def delete_graph(df: DataFrame, graph: str) -> DataFrame:
    """L8: drop every row of one graph (apply to nodes AND edges tables;
    with Iceberg this compiles to a metadata-only partition drop)."""
    return df.filter(F.col("graph") != graph)


def assign_chunks(
    table: DataFrame, target_ids: list, chunk_ids: list[str],
    id_col: str = "node_id",
) -> tuple[DataFrame, DataFrame]:
    """L9 $push analog: union chunk_ids into the chunks array of the matched
    rows. Returns (new_table, report) where report partitions the request into
    assigned / already_assigned / not_found — the same tri-state response the
    reference builds (services/crud/chunks.py:562-652)."""
    ids = literal_array(target_ids, table.schema[id_col].dataType)
    adds = literal_array(chunk_ids, "string")
    matched = F.array_contains(ids, F.col(id_col))
    new_table = table.withColumn(
        "chunks",
        F.when(matched, F.array_sort(F.array_union("chunks", adds)))
        .otherwise(F.col("chunks")),
    )
    present = table.filter(matched).select(
        F.col(id_col).alias("target_id"),
        F.lit("assigned").alias("status"),
        F.array_sort(F.array_except(adds, "chunks")).alias("newly_added"),
        F.array_sort(F.array_intersect(adds, "chunks")).alias("already_assigned"),
    )
    found = {r["target_id"] for r in present.select("target_id").collect()}
    missing = [(i, "not_found", [], []) for i in target_ids if i not in found]
    report = present.unionByName(
        literal_df(table.sparkSession, missing, present.schema))
    return new_table, report


def unassign_chunks(
    table: DataFrame, target_ids: list, chunk_ids: list[str],
    id_col: str = "node_id",
) -> DataFrame:
    """L9 $pull analog: remove chunk_ids from the matched rows' chunks."""
    ids = literal_array(target_ids, table.schema[id_col].dataType)
    removes = literal_array(chunk_ids, "string")
    return table.withColumn(
        "chunks",
        F.when(F.array_contains(ids, F.col(id_col)),
               F.array_except("chunks", removes))
        .otherwise(F.col("chunks")),
    )


def table_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Row-level diff between two versions of a table -> (change, *keys)
    with change in added | removed | changed. The audit companion of the
    versioned node/edge tables `pipeline.update_graph_incremental` commits:
    "what did this crawl delta do to the graph" as one query.

    Keys identify a row; every other shared column is compared with
    null-safe equality, so a row counts as `changed` when ANY non-key
    column differs (arrays and structs compare structurally). Unchanged
    rows are dropped — the diff is proportional to the delta, not the
    table.

    Scale shape: ONE full-outer shuffle join on the key columns and a
    codegen'd comparison projection — no collect, no window; at 10^12 rows
    this is the same cost class as the upsert that produced the new
    version. AQE handles skewed keys."""
    from pyspark.sql import types as T

    cmp_cols = [c for c in new.columns if c not in keys and c in old.columns]

    def _cmp(c):
        # <=> cannot order MAP types: canonicalize maps to sorted entry
        # arrays (array<struct> IS orderable), making the comparison both
        # legal and entry-order-insensitive
        if isinstance(new.schema[c].dataType, T.MapType):
            return F.array_sort(F.map_entries(F.col(c)))
        return F.col(c)

    o = old.select(
        *[F.col(c).alias(f"_o_{c}") for c in keys],
        *[_cmp(c).alias(f"_oc_{c}") for c in cmp_cols])
    nw = new.select(
        *keys, *[_cmp(c).alias(f"_nc_{c}") for c in cmp_cols])
    cond = None
    for k in keys:
        eq = nw[k].eqNullSafe(o[f"_o_{k}"])
        cond = eq if cond is None else (cond & eq)
    j = nw.join(o, cond, "full_outer")
    differs = F.lit(False)
    for c in cmp_cols:
        differs = differs | ~F.col(f"_nc_{c}").eqNullSafe(F.col(f"_oc_{c}"))
    # presence tests: a side is absent when ALL its key columns are null
    # (keys are non-null in real tables; eqNullSafe join keeps them intact)
    old_absent = None
    new_absent = None
    for k in keys:
        oa = o[f"_o_{k}"].isNull()
        na = nw[k].isNull()
        old_absent = oa if old_absent is None else (old_absent & oa)
        new_absent = na if new_absent is None else (new_absent & na)
    change = (
        F.when(old_absent, F.lit("added"))
        .when(new_absent, F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    out_keys = [F.coalesce(nw[k], o[f"_o_{k}"]).alias(k) for k in keys]
    return (
        j.select(change.alias("change"), *out_keys)
        .filter(F.col("change").isNotNull())
    )


def graph_diff(
    old_nodes: DataFrame, new_nodes: DataFrame,
    old_edges: DataFrame, new_edges: DataFrame,
    node_keys: list[str] = ("name", "type"),
    edge_keys: list[str] = ("head", "rel_type", "tail"),
) -> DataFrame:
    """Combined node+edge diff -> (kind, change, key) with key the
    '|'-joined identity — the one-query changelog between two committed
    graph versions."""
    nd = table_diff(old_nodes, new_nodes, list(node_keys)).select(
        F.lit("node").alias("kind"), "change",
        F.concat_ws("|", *node_keys).alias("key"))
    ed = table_diff(old_edges, new_edges, list(edge_keys)).select(
        F.lit("edge").alias("kind"), "change",
        F.concat_ws("|", *edge_keys).alias("key"))
    return nd.union(ed)
