"""Entity linking / canonicalization / graph materialization operators.

Reference parity (file:line in /root/reference/src/whyhow_api):
  L1 merge-nodes rule transform   services/crud/rule.py:141-187,
                                  graph_service.py:1015-1089
  L2 node dedup-upsert merge law  graph_service.py:524-604 (+ merge_dicts
                                  :244-294, chunk set-union :486-493)
  L3 node-id resolution           graph_service.py:297-322 — replaced by the
                                  deterministic xxhash64(graph, name, type)
  L4 triple dedup-upsert          graph_service.py:622-710 (chunk law
                                  setUnion(head∩tail, contributed) :668-691)
  L6 interactive node merge       graph_service.py:2074-2181
  L7 fuzzy duplicate clustering   graph_service.py:2184-2345 ($search maxEdits=1,
                                  score > len(name)/5) — here a blocked
                                  levenshtein<=1 self-join
  CC dedup                        north rule: iterative DataFrame joins with
                                  skew-aware salting + periodic truncation of
                                  lineage (localCheckpoint)

Scale notes (the load-bearing part):
  * L1 is a BROADCAST join — the rule/alias map is tiny by construction
    (workspace rules), so no shuffle of the triple stream.
  * Nodes and edges share ONE SALTED MERGE TREE (_merge_tree): keyed
    (name, type) for nodes, (head_id, tail_id, relation) for edges, with
    chunk ids and property values riding the same flat (k, is_chunk, v)
    rows through a per-salt partial merge, a per-key merge and a final
    per-entity fold. The hot entity (~20% of pages) would otherwise pile
    one groupBy key onto one task; the salt bounds per-task fan-in at the
    partial phase, and the per-key phase sees at most SALT rows per key.
  * An edge stores only its endpoint ids; its head/tail names and types are
    read from the node table by the same head and tail joins that fetch
    the endpoint chunk sets for the L4 chunk law (the reference's triple
    documents hold node ids, and names are hydrated from the node docs).
  * Property merge is NATIVE (explode/regroup in the tree; aggregate +
    map_zip_with + transform_values in the small upsert/merge folds) — no
    UDAF, no Python in the agg path; the law is the commutative
    specialization of merge_dicts (textcore.merge_string_props).
  * CC goes through pair_components, shared by canonical_mapping and
    dedup.neardup_clusters: the pair table is sealed once and probed with
    bounded_collect; up to DRIVER_CC_MAX_PAIRS pairs are union-found on the
    driver from that one pass. A larger table runs connected_components,
    label propagation to the component minimum: per-iteration cost is one
    shuffle join on node id; hot components are star-shaped alias clusters
    so the iteration count is the graph diameter (small); lineage is
    truncated every iteration via localCheckpoint to keep plans bounded.
  * Every graph operator (connected_components, pagerank, triangle_counts,
    plans.query.khop_distances) reads ONE undirected edge table,
    undirected_edges: both orientations, distinct, sealed once eagerly
    (weighted PageRank alone keeps its weight-summing table).
    Loops with no per-round probe (PageRank ranks, k-hop frontiers) cut
    lineage on ONE cadence, every ROUNDS_PER_SEAL rounds; CC seals every
    round because its convergence signature reads each round's labels.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.literals import bounded_collect, literal_array, literal_df
from .extraction import PROPS

NODE_KEY = ["name", "type"]


# --------------------------------------------------------------------------- #
# L1 — merge-nodes rules (broadcast alias-map join)
# --------------------------------------------------------------------------- #

def rules_to_alias_df(spark: SparkSession, rules: list) -> DataFrame:
    """Flatten MergeNodesRule list to (from_name, node_type, to_name).

    Built as a JVM literal (functions/literals.py): workspace rule sets are
    tiny, and a parallelize here costs a cold Python-worker fan-out per query."""
    rows = [
        (fn, r.node_type, r.to_node_name)
        for r in rules
        for fn in r.from_node_names
    ]
    return literal_df(spark, rows,
                      "from_name string, node_type string, to_name string")


def apply_merge_rules(triples: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Rewrite head/tail through the alias map (rule.py:141-156 semantics:
    name ∈ from_node_names AND type == node_type → to_node_name)."""
    return apply_canonical_mapping(triples, alias_df.select(
        F.col("from_name").alias("name"), F.col("node_type").alias("type"),
        F.col("to_name").alias("canonical_name")))


# --------------------------------------------------------------------------- #
# L7 — fuzzy duplicate candidates (blocked levenshtein self-join)
# --------------------------------------------------------------------------- #

def fuzzy_candidate_pairs(
    names: DataFrame, max_edits: int = 1, min_len: int = 4
) -> DataFrame:
    """Distinct (name, type) -> candidate duplicate pairs.

    Analog of the Atlas $search fuzzy stage (graph_service.py:2184-2231):
    maxEdits=1 and the reference's score floor `searchScore > len(name)/5`
    become levenshtein <= 1 with a minimum length (short names produce spurious
    edit-distance-1 matches exactly like low fuzzy scores do).

    Blocking is the SymSpell/FastSS deletion neighborhood — EXACT for one
    edit and never O(n^2): any two strings within levenshtein 1 share a key
    in (single-char-deletion variants ∪ the string itself): substitutions
    share the variant with the differing char deleted, indels share
    (longer's variant == shorter). O(n * len) keys, one equi-join on
    (type, key), exact distance only on candidates. Immune to shared-prefix
    name distributions that break prefix/length blocking."""
    assert max_edits == 1, "deletion-neighborhood blocking implemented for 1"
    base = (
        names.select("name", "type")
        .filter(F.length("name") >= min_len)
        .withColumn("lname", F.lower("name"))
    )
    variants = F.array_distinct(
        F.concat(
            F.array(F.col("lname")),
            F.transform(
                F.sequence(F.lit(1), F.length("lname")),
                lambda i: F.concat(
                    F.col("lname").substr(F.lit(1), i - 1),
                    F.col("lname").substr(i + 1, F.length("lname")),
                ),
            ),
        )
    )
    keyed = base.select("name", "type", "lname",
                        F.explode(variants).alias("key"))
    a, b = keyed.alias("a"), keyed.alias("b")
    cands = (
        a.join(b, (F.col("a.type") == F.col("b.type"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.name") < F.col("b.name")))
        .select(F.col("a.name").alias("src"), F.col("b.name").alias("dst"),
                F.col("a.type").alias("type"),
                F.col("a.lname").alias("la"), F.col("b.lname").alias("lb"))
        .dropDuplicates(["src", "dst", "type"])
    )
    return (
        cands.filter(F.levenshtein("la", "lb") <= max_edits)
        .select(
            "src", "dst", "type",
            (1.0 - F.levenshtein("la", "lb")
             / F.greatest(F.length("src"), F.length("dst"))).alias("similarity"),
        )
    )


# --------------------------------------------------------------------------- #
# Connected components (label propagation to min, checkpointed)
# --------------------------------------------------------------------------- #

# Lineage-cut cadence of every iterative graph loop that does not probe
# each round: 4 rounds per query execution lets AQE pipeline the iteration
# joins inside one execution while the unrolled plan stays small (measured
# on PageRank, r6: a seal per round cost ~2.6x more driver syncs).
ROUNDS_PER_SEAL = 4


def undirected_edges(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Both orientations of every (src, dst) edge, distinct, as (u, v) —
    the one undirected edge table of connected_components, pagerank,
    triangle_counts and plans.query.khop_distances.

    Sealed with ONE EAGER localCheckpoint: every caller reads the table
    more than once, starting in its first job (CC's initial label table is
    select u UNION select v; PageRank and the triangle count derive degree
    tables from it and join back onto it; k-hop joins every frontier of one
    plan against it), and every later round joins against it again.
    Without the seal each read re-runs the whole upstream edge GENERATOR
    (for fuzzy-dedup clusters the full ngram/minhash inverted-index pair
    join); a lazy seal would materialize only after that first double read
    (measured: lazy left neardup_dedup at 17.4 s, eager takes it to ~11 s
    at sf0.1; kg-sized edge inputs are unaffected within noise)."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(src, dst) undirected edges -> (member, component) with component =
    min member label. Iterative DataFrame joins; localCheckpoint every
    iteration truncates lineage; the loop runs until the label signature
    stops changing — labels only decrease, so that is within diameter + 1
    rounds (alias/fuzzy clusters are stars, so ~2-3). Skew: the join key is
    the member id, not the component id, so hot components don't
    concentrate on one task; AQE skew handling covers residual
    imbalance."""
    sym = undirected_edges(edges, src, dst)
    cc = (
        sym.select("u").union(sym.select("v")).distinct()
        .select(F.col("u").alias("member"), F.col("u").alias("component"))
        .localCheckpoint(eager=False)
    )

    def _sig(frame: DataFrame) -> tuple:
        # Convergence signature: two independent hash sums over the label
        # table. ONE scan of the (small) cc frame per round — the previous
        # probe was a cc-vs-cc join + limit + count, a second driver-
        # synchronized job per iteration (VERDICT r2 #2: CC driver-sync
        # tail). Labels only ever decrease (min-propagation), so an
        # unchanged double signature means converged w.h.p. (~2^-128 per
        # round of false-stop risk).
        # r6: callers pass a LAZY (eager=False) checkpoint — this agg is
        # the action that materializes+persists it, so the signature rides
        # the SAME job that used to be a separate eager-checkpoint count
        # (one driver sync per round instead of two, guide §2.4/§5).
        row = frame.agg(
            F.sum(F.xxhash64("member", "component")
                  .cast("decimal(38,0)")).alias("a"),  # ANSI: no long overflow
            F.sum(F.xxhash64(F.lit(1), "member", "component")
                  .cast("decimal(38,0)")).alias("b"),
        ).collect()[0]
        return (row["a"], row["b"])

    prev_sig = _sig(cc)
    while True:
        # every member proposes its current component to its neighbors
        proposals = (
            sym.join(cc, sym["u"] == cc["member"], "inner")
            .select(F.col("v").alias("member"), F.col("component"))
            .groupBy("member").agg(F.min("component").alias("nbr_min"))
        )
        nxt = (
            cc.join(proposals, "member", "left")
            .select(
                "member",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        sig = _sig(nxt)
        cc = nxt
        if sig == prev_sig:
            return cc
        prev_sig = sig


def connected_components_driver(pairs: list[tuple]) -> dict:
    """Union-find on the driver for small/medium pair graphs. Members may be
    any orderable hashable; the component label is the min member. The
    distributed loop above is the 10^12-scale path; pair_components picks
    by measured pair count."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes: set[str] = set()
    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-label root keeps parity with the distributed variant
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in nodes}


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    weight_col: str | None = None,
) -> DataFrame:
    """Entity-salience PageRank over an undirected (symmetrized) graph ->
    (member, rank). The ranking analogue of :func:`connected_components` for
    the node table the reference surfaces per-workspace (services/crud/
    node.py ranks by raw chunk count; this is the graph-aware salience a KG
    studio reports for 'most central entities').

    EXACT int64 arithmetic throughout — rank starts at scale//n and each
    round computes ``base + (damping_pct * sum((rank * w) div wsum)) div
    100`` with integer division — so the result is bit-reproducible across
    engines and partitionings (int64 sums are associative/commutative; no
    float accumulation order sensitivity), which is what lets the driver
    contract oracle-pair it against DuckDB. Truncation loss per round is
    < n_nodes ulps of the scale, deterministic.

    ``weight_col`` (integer weights, e.g. co-occurrence support) splits a
    node's outgoing mass proportionally to edge weight instead of equally;
    weights must satisfy w * scale < 2^63 (w <= ~9e6 at the default scale).
    Unweighted (w = 1, wsum = degree) reduces to the classic formula
    value-for-value: (rank * 1) div deg == rank div deg.

    Scale shape: one shuffle per iteration (join on member id + groupBy on
    the destination), the same skew profile as connected_components — the
    join key is the member, not the component, and AQE skew-join covers hot
    entities. The weight-annotated edge table is checkpointed once and
    reused every round (unweighted: undirected_edges plus ``w = 1``); ranks
    are checkpointed every ROUNDS_PER_SEAL rounds to truncate lineage.
    Symmetrization means every node has out-degree >= 1, so there is no
    dangling-mass redistribution term."""
    if weight_col is None:
        sym = undirected_edges(edges, src, dst).withColumn(
            "w", F.lit(1).cast("long"))
    else:
        w = F.col(weight_col).cast("long")
        sym = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                         w.alias("w"))
            .union(edges.select(F.col(dst).alias("u"),
                                F.col(src).alias("v"), w.alias("w")))
            # duplicate (u, v) observations fold by weight-sum
            .groupBy("u", "v").agg(F.sum("w").alias("w"))
            .localCheckpoint()
        )
    wsum = sym.groupBy("u").agg(F.sum("w").alias("wsum"))
    # (u, v, w, wsum(u)) reused by every iteration — left as a LAZY plan
    # over the checkpointed sym (r6): its canonical subtree is identical in
    # every unrolled iteration, so AQE's stage cache computes its exchanges
    # once per query execution and every later iteration reads the reused
    # shuffle; a localCheckpoint here cost a synchronous AQE round trip AND
    # hid the hash partitioning from the per-iteration join planner.
    out_edges = sym.join(wsum, "u")
    nodes = wsum.select(F.col("u").alias("member")) \
        .localCheckpoint(eager=False)
    n = nodes.count()  # bounded scalar probe (node count; seals nodes)
    if n == 0:
        return nodes.select(
            "member", F.lit(0).cast("long").alias("rank"))
    init = scale // n
    base = init * (100 - damping_pct) // 100
    rank = nodes.select("member", F.lit(init).cast("long").alias("rank"))
    for i in range(n_iter):
        contrib = (
            out_edges.join(rank, out_edges["u"] == rank["member"])
            .select(F.col("v").alias("member"),
                    F.expr("(rank * w) div wsum").alias("c"))
            .groupBy("member").agg(F.sum("c").alias("s"))
        )
        # No nodes re-join (r6): the graph is SYMMETRIZED, so every node
        # has at least one incoming edge and ``contrib`` covers exactly the
        # node set each round — the former left join against ``nodes`` (two
        # exchanges per iteration) could never add a row or hit its
        # coalesce(s, 0) default. Value-identical by construction;
        # oracle-checked (kg_pagerank / kg_pagerank_weighted hash==).
        rank = contrib.select(
            "member",
            (F.lit(base).cast("long")
             + F.expr(f"({damping_pct} * s) div 100")
             ).cast("long").alias("rank"),
        )
        # Truncate lineage every ROUNDS_PER_SEAL-th round and at the end
        # (the returned frame stays checkpointed for downstream reuse). r6:
        # a checkpoint per round cost one synchronous AQE stage-
        # materialization round trip per iteration (localCheckpoint
        # executes all non-result stages eagerly even with eager=False —
        # measured 38 jobs for the 5-iteration bench entry); with no
        # per-round reuse (each rank feeds exactly the next round) the
        # unrolled plan grows only linearly, so ROUNDS_PER_SEAL rounds per
        # query execution is safe and lets AQE pipeline the iteration joins
        # inside one execution (~2.6x fewer driver syncs).
        if (i + 1) % ROUNDS_PER_SEAL == 0 or i == n_iter - 1:
            rank = rank.localCheckpoint(eager=False)
    return rank


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected graph -> (member, degree, triangles, clustering_x1e6). The
    third graph-analytics primitive beside connected_components and
    pagerank; all arithmetic is integer (coefficient = (2e6 * T) div
    (deg * (deg-1))), so it is bit-reproducible and oracle-pairable.

    Scale shape: degree-ordered orientation (each undirected edge directed
    from its lower-(degree, name) endpoint), then a wedge self-join on the
    center and a semi-join against the oriented closing edge — the classic
    distributed triangle algorithm: with orientation every out-degree is
    O(sqrt(|E|)), so the wedge join is Sum C(outdeg, 2) = O(|E|^1.5) worst
    case instead of Sum C(deg, 2), which a hot hub would otherwise make
    quadratic. Each triangle is emitted exactly once (at its lowest-ordered
    vertex); joins shuffle on member ids (AQE skew-join covers hubs).

    Input normalization rides the shared undirected_edges table: its
    ``u < v`` half is each edge once whatever its input orientation or
    multiplicity, self-loops drop out of both that half and the degree
    (``u != v``), and a node's degree is its count of distinct other
    neighbours, read off the one orientation keyed by ``u``."""
    sym = undirected_edges(edges, src, dst)
    e = sym.filter(F.col("u") < F.col("v"))
    deg = (
        sym.filter(F.col("u") != F.col("v"))
        .groupBy(F.col("u").alias("member")).agg(F.count("*").alias("degree"))
        .localCheckpoint(eager=False)
    )
    du = deg.select(F.col("member").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("member").alias("v"), F.col("degree").alias("dv"))
    lo = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = (
        e.join(du, "u").join(dv, "v")
        .select(
            F.when(lo, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo, F.col("v")).otherwise(F.col("u")).alias("b"),
            # order rank of b, for ordering wedge endpoints
            F.when(lo, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
        .localCheckpoint(eager=False)  # reused by wedges (x2) + closers
    )
    w1 = o.select("a", F.col("b").alias("x"), F.col("db").alias("dx"))
    w2 = o.select("a", F.col("b").alias("y"), F.col("db").alias("dy"))
    wedges = (
        w1.join(w2, "a")
        .filter((F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))))
        .select("a", "x", "y")
    )
    closers = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closers, ["x", "y"], "left_semi")
    per = (
        tri.select(F.explode(F.array("a", "x", "y")).alias("member"))
        .groupBy("member").agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per, "member", "left")
        .select(
            "member", "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr("(2000000 * coalesce(triangles, 0))"
                       " div (degree * (degree - 1))"),
            ).otherwise(F.lit(0)).cast("long").alias("clustering_x1e6"),
        )
    )


# pair count below which CC runs as driver-side union-find; above it, the
# iterative DataFrame-join loop runs. ~100k pairs is well under broadcast
# limits and far above anything a per-workspace alias graph produces.
DRIVER_CC_MAX_PAIRS = 100_000


def pair_components(pairs: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """(member, component) closure of a pair table, component = the min
    member, typed like ``src``. The pair table is sealed with one lazy
    localCheckpoint, then probed through ``bounded_collect``: up to
    DRIVER_CC_MAX_PAIRS pairs come back in that one pass and are
    union-found on the driver (returned as a literal), more run the
    distributed connected_components loop over the sealed table."""
    p = pairs.select(src, dst).localCheckpoint(eager=False)
    head = bounded_collect(p, DRIVER_CC_MAX_PAIRS)
    if head is None:
        return connected_components(p, src=src, dst=dst)
    comp = connected_components_driver([(r[src], r[dst]) for r in head])
    dt = p.schema[src].dataType
    return literal_df(p.sparkSession, sorted(comp.items()),
                      T.StructType([T.StructField("member", dt),
                                    T.StructField("component", dt)]))


def canonical_mapping(
    triples: DataFrame,
    alias_df: DataFrame | None = None,
    fuzzy: bool = True,
) -> DataFrame:
    """Produce (name, type, canonical_name) from fuzzy pairs (+rule aliases)
    via connected components; the representative of each component is the most
    frequently mentioned member (ties -> lexicographic min), mirroring the
    reference's cluster ranking by similarity mass (graph_service.py:2289-2343).

    Members are ``name|type`` keys (one key per node while types hold no
    ``|``): both pair sources connect same-typed names (the fuzzy join is
    type-equi, alias rules carry one node_type), so every component is
    type-homogeneous. Members absent from the triples
    (an alias rule whose from-name never got extracted) still connect their
    component but are never picked or mapped. The mapping is consumed by
    several downstream trees (node + edge builds both rewrite through it),
    so it is returned sealed with a lazy localCheckpoint.
    """
    # Checkpoint the (small) name-frequency table: it is consumed TWICE —
    # by the fuzzy-pair probe in pair_components and by the cluster/rep join
    # in the returned mapping — and without the checkpoint each consumer
    # re-scans the full triples table (a constant per-job tail that showed
    # up in the strong-scaling stage table, VERDICT r2 #2).
    names = (
        triples.select(F.explode(F.array(
            F.struct(F.col("head").alias("name"),
                     F.col("head_type").alias("type")),
            F.struct(F.col("tail").alias("name"),
                     F.col("tail_type").alias("type")),
        )).alias("e"))
        .select("e.name", "e.type")
        .groupBy("name", "type").agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=False)
    )
    parts = []
    if fuzzy:
        parts.append(fuzzy_candidate_pairs(names).select(
            F.concat_ws("|", "src", "type").alias("src"),
            F.concat_ws("|", "dst", "type").alias("dst")))
    if alias_df is not None:
        parts.append(alias_df.select(
            F.concat_ws("|", "from_name", "node_type").alias("src"),
            F.concat_ws("|", "to_name", "node_type").alias("dst")))
    if not parts:
        raise ValueError("need fuzzy pairs or alias rules")
    cc = pair_components(reduce(DataFrame.union, parts))
    clustered = (names.withColumn("member", F.concat_ws("|", "name", "type"))
                 .join(cc, "member", "inner").drop("member"))
    w = Window.partitionBy("component").orderBy(F.desc("freq"), F.asc("name"))
    reps = (
        clustered.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select(F.col("component"), F.col("name").alias("canonical_name"))
    )
    return (
        clustered.join(reps, "component")
        .filter(F.col("name") != F.col("canonical_name"))
        .select("name", "type", "canonical_name")
        .localCheckpoint(eager=False)
    )


def apply_canonical_mapping(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite triples through the CC mapping (same shape as L1, broadcast)."""
    m = F.broadcast(mapping)
    return (
        triples.join(
            m.select(F.col("name").alias("head"), F.col("type").alias("head_type"),
                     F.col("canonical_name").alias("_h")),
            ["head", "head_type"], "left")
        .join(
            m.select(F.col("name").alias("tail"), F.col("type").alias("tail_type"),
                     F.col("canonical_name").alias("_t")),
            ["tail", "tail_type"], "left")
        .withColumn("head", F.coalesce("_h", "head"))
        .withColumn("tail", F.coalesce("_t", "tail"))
        .drop("_h", "_t")
    )


# --------------------------------------------------------------------------- #
# L2/L4 — node & edge materialization with the merge laws (salted, native)
# --------------------------------------------------------------------------- #

def _merge_props_col(col):
    """Fold an array<map<string,array<string>>> with the commutative merge law:
    per-key array concat, then sorted distinct (textcore.merge_string_props).

    Used on SMALL collections only (interactive node merge L6, upserts over
    already-aggregated tables). The bulk node/edge materializations use the
    _merge_tree explode/regroup tree instead — this higher-order
    fold is interpreted (no whole-stage codegen for lambda expressions),
    which measured 4-5x slower than the explode/regroup plan on the hot
    aggregation."""
    merged = F.aggregate(
        F.filter(col, lambda m: m.isNotNull()),
        F.lit(None).cast(PROPS),
        lambda acc, m: F.when(acc.isNull(), m).otherwise(
            F.map_zip_with(
                acc, m,
                lambda _k, v1, v2: F.when(v1.isNull(), v2)
                .when(v2.isNull(), v1)
                .otherwise(F.concat(v1, v2)),
            )
        ),
    )
    # merge_string_props parity: drop keys whose value is NULL in every input
    # map, drop NULL elements inside value lists, keep keys whose lists are
    # merely empty.
    cleaned = F.transform_values(
        F.coalesce(merged, F.from_json(F.lit("{}"), PROPS)),
        lambda _k, v: F.when(v.isNull(), v).otherwise(
            F.array_sort(F.array_distinct(
                F.filter(v, lambda x: x.isNotNull())))),
    )
    return F.map_filter(cleaned, lambda _k, v: v.isNotNull())


def _capped(arr, max_n: int | None):
    return arr if max_n is None else F.slice(arr, 1, max_n)


def _salt_count(df: DataFrame) -> int:
    """Size the salt fan-out to the cluster (4x defaultParallelism, floor
    16). A FIXED salt re-creates the hot-key problem at scale: the hot
    entity's per-salt collect_set grows linearly with the corpus, so phase-1
    work per task grows even though the key space is salted. Scaling the
    salt with the cluster (weak-scaling shape: data/core constant => per-salt
    set size constant) keeps phase-1 bounded; phase-2 then merges at most
    salt partials per key (salt * max_chunks elements under the cap).
    Measured: the weak-scaling nodes stage went 6.9s->17.4s at 4x data with
    a fixed salt of 16; scaling the salt removes the growth."""
    return max(16, 4 * df.sparkSession.sparkContext.defaultParallelism)


def _node_id(graph: str, workspace: str, created_by: str,
             name="name", type_="type") -> F.Column:
    """Deterministic node identity: the reference's upsert key is
    (name, type, graph, user) (graph_service.py:557-563); workspace scopes
    the graph. Hashing the full tenant chain keeps same-named entities of
    different tenants disjoint in any shared table."""
    return F.xxhash64(F.lit(graph), F.lit(workspace), F.lit(created_by),
                      F.col(name), F.col(type_))


def _prop_entries(props_col):
    """array<struct<k, v>> of one endpoint/triple row's property VALUES (one
    struct per value), the property half of the fused (k, is_chunk, v)
    aggregation tree (VERDICT r3 #1 kept the node/edge materializations to
    ONE salted tree — chunks and properties ride the same grouped rows, no
    chunks-tree/props-tree join).

    Merge-law parity per merge_string_props: a NULL value list drops the key
    (filtered here), an EMPTY list keeps it as one (k, v=NULL) marker row
    whose null collect_set downstream yields [], and NULL elements inside
    value lists are dropped (by collect_set).

    The chunk id deliberately does NOT ride through this builder (it did
    pre-r5): >99% of web-scale rows carry an empty property map, so routing
    every chunk id through a per-row array-of-structs constructed by
    concat/transform made the hot aggregation input allocation-bound
    (measured 377 s CPU + 150 s GC across tasks for 22 M rows). The chunk
    branch is now a plain column select unioned with this (usually empty)
    explode — explode of an empty array emits nothing, so prop-less rows
    cost no output."""
    empty = F.from_json(F.lit("{}"), PROPS)
    null_s = F.lit(None).cast("string")
    return F.flatten(F.transform(
        F.filter(F.map_entries(F.coalesce(props_col, empty)),
                 lambda e: e["value"].isNotNull()),
        lambda e: F.when(
            F.size(e["value"]) > 0,
            F.transform(e["value"],
                        lambda v: F.struct(e["key"].alias("k"),
                                           v.alias("v"))),
        ).otherwise(F.array(F.struct(e["key"].alias("k"),
                                     null_s.alias("v")))),
    ))


def _ranked_kv(kv: DataFrame, key_cols: list[str]):
    """Attach per-group value ranks to the flat (.., salt, k, is_chunk, v)
    rows: ONE hash-partitioned Tungsten sort (the only corpus-sized exchange
    of the whole materialization), after which

      * dense_rank = position of v among the group's DISTINCT sorted values,
        so `dense_rank <= cap` IS the per-salt lexicographic-prefix cap law
        (prefix of the per-salt distinct set) without first materializing
        the full per-group value array, and
      * max(dense_rank over non-null v) = the group's EXACT distinct count
        (nulls — property marker rows — sort last and are excluded).

    The downstream groupBy on the identical key set reuses the window's
    hashpartitioning (no second exchange; gated by test_plan_quality), and
    its collect_set buffers only ever see rank<=cap survivors, keeping
    per-group state bounded by the cap instead of by corpus size. Replaces
    the r4 shape (full collect_set -> array_sort -> slice), whose unbounded
    ObjectHashAggregate buffers were the measured CPU/GC hot spot."""
    w = Window.partitionBy(*key_cols, "salt", "is_chunk", "k") \
              .orderBy(F.col("v").asc_nulls_last())
    return kv.withColumn("dr", F.dense_rank().over(w))


def _keep_rank(max_chunks: int | None, max_vals: int | None):
    """Row-survival predicate for the capped branches of _ranked_kv output
    (None = branch uncapped, keep everything)."""
    chunk_ok = F.lit(True) if max_chunks is None else F.col("dr") <= max_chunks
    val_ok = F.lit(True) if max_vals is None else F.col("dr") <= max_vals
    return F.when(F.col("is_chunk"), chunk_ok).otherwise(val_ok)


def _branch_cap(col, max_chunks: int | None, max_vals: int | None):
    """Per-branch prefix cap: chunk rows cap at max_chunks, property-value
    rows at max_vals (see _merge_tree on why caps exist at every phase)."""
    return F.when(F.col("is_chunk"), _capped(col, max_chunks)) \
        .otherwise(_capped(col, max_vals))


def _merge_tree(rows: DataFrame, keys: list[str], max_chunks: int | None,
                max_vals: int | None) -> DataFrame:
    """The L2/L4 merge law as ONE salted aggregation tree: ``(keys...,
    chunk_id, props)`` rows in, one ``(keys..., chunks, properties,
    mention_count, chunk_count)`` row per key out. build_nodes feeds it
    endpoints keyed (name, type), build_edges triples keyed (head_id,
    tail_id, relation).

    chunks is the sorted set union of the key's chunk ids (graph_service.py:
    486-493); properties is the merge_string_props fold of its property
    maps. The reference POPS "chunks" out of the property dicts before
    merging (graph_service.py:552, ~628): provenance lives in the chunks
    field only, which also keeps a hot key's provenance out of the props agg.

    Chunk ids ride as a PLAIN column select (the >99% branch at web scale; no
    per-row array construction), property values as an explode that emits
    nothing for the common empty map (_prop_entries). Both flow as flat
    (k, is_chunk, v) rows through the _ranked_kv sort and three groupBys:

      partial: (keys, salt, is_chunk, k) — reuses the window's partitioning
      per_key: (keys, is_chunk, k) — merges <= salt partials per key
      final:   (keys) — folds the chunk row and the property rows

    so the tree costs three hash exchanges and no join. The salt is sized to
    the cluster (_salt_count) and bounds the hot key's per-task fan-in.

    Caps (None = exact reference semantics): the salt fixes groupBy skew, but
    a hot key's provenance ARRAY still grows linearly with the corpus (~20% of
    a web crawl mentions the head entity -> millions of chunk ids sorted in
    one final task; measured as the dominant straggler at 768k pages).
    ``max_chunks`` keeps the lexicographic prefix of the chunk set at every
    phase, bounding final-task work to salt*max_chunks; ``max_vals`` caps
    property value lists the same way.

    Counters alongside the (possibly capped) chunks array:
      * mention_count — input rows of the key (an entity in N triples of one
        chunk counts N).
      * chunk_count — EXACT distinct-chunk total, the uncapped size of the
        chunks set. Exact despite the phases because the salt is a pure
        function of chunk_id, so each distinct chunk lands in exactly one
        salt partition and per-salt distinct counts sum without overlap."""
    flat = rows.select(
        *keys, "chunk_id",
        F.map_filter("props", lambda k, _v: k != "chunks").alias("props"),
        F.pmod(F.xxhash64("chunk_id"), F.lit(_salt_count(rows))).alias("salt"),
    )
    kv = flat.select(
        *keys, "salt", F.lit(None).cast("string").alias("k"),
        F.lit(True).alias("is_chunk"), F.col("chunk_id").alias("v"),
    ).unionByName(flat.select(
        *keys, "salt", F.explode(_prop_entries(F.col("props"))).alias("e"),
    ).select(*keys, "salt", "e.k", F.lit(False).alias("is_chunk"), "e.v"))
    ranked = _ranked_kv(kv, keys)
    keep = _keep_rank(max_chunks, max_vals)
    partial = ranked.groupBy(*keys, "salt", "is_chunk", "k").agg(
        # survivors only: per-group buffer bounded by the cap (see _ranked_kv)
        F.array_sort(F.collect_set(F.when(keep, F.col("v")))).alias("vs"),
        # per-salt EXACT distinct (uncapped), disjoint across salts
        F.max(F.when(F.col("v").isNotNull(), F.col("dr"))).alias("dcnt"),
        F.count("*").alias("cnt"),
    )
    per_key = partial.groupBy(*keys, "is_chunk", "k").agg(
        _branch_cap(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("vs")))),
            max_chunks, max_vals).alias("vals"),
        F.sum("cnt").alias("cnt"),
        F.sum("dcnt").alias("dsum"),
    )
    is_chunk = F.col("is_chunk")
    return per_key.groupBy(*keys).agg(
        # exactly one is_chunk row per key (every input row contributes a
        # chunk entry), so the flatten/max pick it out losslessly
        F.flatten(F.collect_list(F.when(is_chunk, F.col("vals"))))
        .alias("chunks"),
        F.coalesce(
            F.map_from_entries(F.array_sort(F.collect_list(
                F.when(~is_chunk, F.struct("k", "vals"))))),
            F.from_json(F.lit("{}"), PROPS),
        ).alias("properties"),
        F.max(F.when(is_chunk, F.col("cnt"))).alias("mention_count"),
        F.max(F.when(is_chunk, F.col("dsum"))).alias("chunk_count"),
    )


def _with_endpoints(df: DataFrame, nodes: DataFrame) -> DataFrame:
    """Attach head/head_type/head_chunks and tail/tail_type/tail_chunks from
    the node table to rows keyed by head_id/tail_id: one head join and one
    tail join on node_id. An edge stores only its endpoint ids; the names
    are the node table's (the reference hydrates triple endpoints from the
    node documents). Left joins: an endpoint missing from ``nodes`` reads
    NULL."""
    n = nodes.select("node_id", "name", "type", "chunks")
    for end in ("head", "tail"):
        df = df.join(n.select(F.col("node_id").alias(f"{end}_id"),
                              F.col("name").alias(end),
                              F.col("type").alias(f"{end}_type"),
                              F.col("chunks").alias(f"{end}_chunks")),
                     f"{end}_id", "left")
    return df


def _edge_chunks(own, max_chunks: int | None = None):
    """L4 chunk law over _with_endpoints rows (graph_service.py:668-691):
    sorted setUnion(intersect(head node chunks, tail node chunks), own)."""
    return _capped(F.array_sort(F.array_distinct(F.concat(
        F.array_intersect(F.coalesce("head_chunks", F.array()),
                          F.coalesce("tail_chunks", F.array())),
        own,
    ))), max_chunks)


def build_nodes(
    triples: DataFrame, graph: str = "default",
    max_chunks: int | None = None, max_prop_vals: int | None = None,
    workspace: str = "default", created_by: str = "default",
) -> DataFrame:
    """L2: endpoints -> deduped nodes with merged properties + chunk sets.

    Every triple contributes its head and its tail as (name, type, chunk_id,
    props) endpoint rows — ONE scan exploding a 2-element struct array, not
    union(heads, tails), which scans the input twice — and _merge_tree folds
    them per (name, type). mention_count counts triple-ENDPOINT occurrences;
    chunk_count is the exact, uncapped distinct-chunk total.
    node_id = xxhash64(graph, workspace, created_by, name, type) (replaces
    L3's id lookup).

    Multi-tenancy: the reference keys every node upsert by user and graph
    (graph_service.py:557-563 filter includes created_by; graphs belong to a
    workspace). A build runs in one (workspace, created_by) context — the
    values are stamped as columns AND folded into node_id, so tables holding
    many tenants' builds never collide on same-named entities, and readers
    scope with plans.query.scope_filter.

    ``max_chunks`` / ``max_prop_vals`` cap the chunk set and the property
    value lists to lexicographic prefixes (None = exact reference semantics;
    see _merge_tree on why caps exist). Production web-scale runs should set
    a cap and keep full provenance in node_chunk_table if they need it
    queryable."""
    ends = triples.select(
        F.explode(F.array(*[
            F.struct(F.col(end).alias("name"),
                     F.col(f"{end}_type").alias("type"),
                     F.col(f"{end}_properties").alias("props"))
            for end in ("head", "tail")])).alias("e"),
        "chunk_id",
    ).select("e.name", "e.type", "chunk_id", "e.props")
    return _merge_tree(ends, NODE_KEY, max_chunks, max_prop_vals).select(
        _node_id(graph, workspace, created_by).alias("node_id"),
        F.lit(graph).alias("graph"),
        F.lit(workspace).alias("workspace"),
        F.lit(created_by).alias("created_by"),
        "name", "type", "properties",
        "chunks", "mention_count", "chunk_count",
    )


def build_edges(
    triples: DataFrame, nodes: DataFrame, graph: str = "default",
    max_chunks: int | None = None, max_prop_vals: int | None = None,
    workspace: str = "default", created_by: str = "default",
) -> DataFrame:
    """L4: triples -> deduped edges keyed (head_id, tail_id, relation).

    _merge_tree folds each key's relation properties and contributed chunk
    ids; then one head join and one tail join on ``nodes`` (_with_endpoints)
    supply each endpoint's name, type and chunk set. Chunk law
    (graph_service.py:668-691): chunks = setUnion(intersect(head_node.chunks,
    tail_node.chunks), contributed chunk ids) — nodes are built first and
    joined back, the order the reference also uses (graph_service.py:
    597-671).

    Precondition: ``nodes`` holds every endpoint of ``triples``, i.e. it is
    build_nodes over the same triples with the same graph/workspace/
    created_by, so the endpoint-id hashes line up (triple upserts are
    user-scoped too, graph_service.py:645-653). An endpoint missing from
    ``nodes`` gets a NULL name and type and adds no chunks."""
    keyed = triples.select(
        _node_id(graph, workspace, created_by, "head", "head_type")
        .alias("head_id"),
        _node_id(graph, workspace, created_by, "tail", "tail_type")
        .alias("tail_id"),
        "relation", "chunk_id", F.col("relation_properties").alias("props"),
    )
    agg = _merge_tree(keyed, ["head_id", "tail_id", "relation"],
                      max_chunks, max_prop_vals)
    return _with_endpoints(agg, nodes).select(
        F.xxhash64(F.lit(graph), "head_id", "tail_id", "relation").alias("edge_id"),
        F.lit(graph).alias("graph"),
        F.lit(workspace).alias("workspace"),
        F.lit(created_by).alias("created_by"),
        "head_id", "tail_id",
        F.col("relation").alias("rel_type"),
        "head", "head_type", "tail", "tail_type",
        "properties", _edge_chunks(F.col("chunks")).alias("chunks"),
    )


def upsert_nodes(
    old: DataFrame, delta: DataFrame, max_chunks: int | None = None,
) -> DataFrame:
    """S9 incremental node upsert: merge a DELTA build's nodes into an
    existing nodes table without re-aggregating history — the reference's
    UpdateOne-with-$set-pipeline upsert (graph_service.py:524-604) as one
    groupBy(node_id) re-merge. Properties follow the L2 merge law; chunks
    set-union (the lexicographic prefix law composes: the prefix of a union
    is contained in the union of prefixes, so capped inputs stay correct
    prefixes); mention_count sums exactly. chunk_count sums exactly when the
    two builds' chunk sets are disjoint (the normal incremental case — new
    crawl segments mint new url:start chunk ids); for re-crawled overlapping
    segments it is an upper bound, and node_chunk_table is the exact path."""
    both = old.unionByName(delta)
    return both.groupBy("node_id").agg(
        F.first("graph").alias("graph"),
        F.first("workspace").alias("workspace"),
        F.first("created_by").alias("created_by"),
        F.first("name").alias("name"),
        F.first("type").alias("type"),
        _merge_props_col(F.collect_list("properties")).alias("properties"),
        _capped(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("chunks")))),
            max_chunks,
        ).alias("chunks"),
        F.sum("mention_count").alias("mention_count"),
        F.sum("chunk_count").alias("chunk_count"),
    ).select("node_id", "graph", "workspace", "created_by", "name", "type",
             "properties", "chunks", "mention_count", "chunk_count")


def upsert_edges(
    old: DataFrame, delta: DataFrame, merged_nodes: DataFrame,
    max_chunks: int | None = None,
) -> DataFrame:
    """S9/L4 incremental triple upsert: chunks = setUnion(current
    head∩tail node-chunk intersection, old chunks, delta chunks) — exactly
    the reference's upsert law evaluated against the UPDATED node documents
    (graph_service.py:668-691: the intersection is recomputed at upsert time
    from the merged nodes, then unioned with the stored chunk lists).
    Properties follow the merge law; edge identity is stable (edge_id);
    endpoint names are read from ``merged_nodes`` (see _with_endpoints)."""
    both = old.unionByName(delta)
    merged = both.groupBy("edge_id").agg(
        F.first("graph").alias("graph"),
        F.first("workspace").alias("workspace"),
        F.first("created_by").alias("created_by"),
        F.first("head_id").alias("head_id"),
        F.first("tail_id").alias("tail_id"),
        F.first("rel_type").alias("rel_type"),
        _merge_props_col(F.collect_list("properties")).alias("properties"),
        F.array_distinct(F.flatten(F.collect_list("chunks"))).alias("chunks"),
    )
    return _with_endpoints(merged, merged_nodes).select(
        "edge_id", "graph", "workspace", "created_by",
        "head_id", "tail_id", "rel_type",
        "head", "head_type", "tail", "tail_type", "properties",
        _edge_chunks(F.col("chunks"), max_chunks).alias("chunks"),
    )


def node_chunk_table(
    triples: DataFrame, graph: str = "default",
    workspace: str = "default", created_by: str = "default",
) -> DataFrame:
    """EXACT, uncapped chunk provenance as a normalized (node_id, chunk_id)
    table — the queryable companion to build_nodes' capped ``chunks`` array
    (see its docstring: at web scale the hot entity's full provenance
    belongs in a side table, not in a per-row array). One union + distinct;
    write it partitioned by (workspace, graph) next to the nodes table."""
    ends = (
        triples.select(F.col("head").alias("name"),
                       F.col("head_type").alias("type"), "chunk_id")
        .union(triples.select(F.col("tail").alias("name"),
                              F.col("tail_type").alias("type"), "chunk_id"))
    )
    return ends.distinct().select(
        _node_id(graph, workspace, created_by).alias("node_id"),
        F.lit(graph).alias("graph"),
        F.lit(workspace).alias("workspace"),
        F.lit(created_by).alias("created_by"),
        "chunk_id",
    )


def merge_nodes_interactive(
    nodes: DataFrame, edges: DataFrame, from_ids: list[int], to_id: int
) -> tuple[DataFrame, DataFrame]:
    """L6 (graph_service.py:2074-2181): repoint edges from from_ids to to_id,
    fold the from-nodes' properties/chunks into the target, drop from-nodes.

    The merged node keeps the target's name and type whatever order the rows
    arrive in. After repointing, two edges can collapse onto the same
    (head_id, tail_id, rel_type) key; the reference's triple upsert merges
    them (chunks union + property merge, graph_service.py:645-691), so the
    returned edges are re-aggregated through the same law and edge_id is
    recomputed. Endpoint names are read from the merged node table (see
    _with_endpoints), so repointed endpoints show the target's."""
    from_lit = literal_array(from_ids, "bigint")

    def repoint(c):
        return F.when(F.array_contains(from_lit, F.col(c)), F.lit(to_id)) \
            .otherwise(F.col(c))

    def of_target(c):
        # the target row's value; min() only decides for an absent target
        return F.coalesce(F.max(F.when(F.col("_orig_id") == to_id, F.col(c))),
                          F.min(c)).alias(c)

    group = nodes.withColumn("_orig_id", F.col("node_id")) \
        .withColumn("node_id", repoint("node_id"))
    merged_nodes = group.groupBy("node_id").agg(
        F.first("graph").alias("graph"),
        F.first("workspace").alias("workspace"),
        F.first("created_by").alias("created_by"),
        of_target("name"), of_target("type"),
        _merge_props_col(F.collect_list("properties")).alias("properties"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("chunks")))).alias("chunks"),
    )
    # L4 re-aggregation: collapsed keys merge chunks (set union) + properties
    merged_edges = edges.withColumn("head_id", repoint("head_id")) \
        .withColumn("tail_id", repoint("tail_id")) \
        .groupBy("head_id", "tail_id", "rel_type").agg(
            F.first("graph").alias("graph"),
            F.first("workspace").alias("workspace"),
            F.first("created_by").alias("created_by"),
            _merge_props_col(F.collect_list("properties")).alias("properties"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("chunks")))).alias("chunks"),
        )
    return merged_nodes, _with_endpoints(merged_edges, merged_nodes).select(
        F.xxhash64("graph", "head_id", "tail_id", "rel_type").alias("edge_id"),
        "graph", "workspace", "created_by", "head_id", "tail_id", "rel_type",
        "head", "head_type", "tail", "tail_type", "properties", "chunks",
    )
