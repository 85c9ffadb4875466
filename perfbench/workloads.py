"""The three workloads. Each builds its inputs from the seed, warms up if
it has a warm-up, runs a closed loop of ops from one client for the
measured seconds, then checks every op's output against a reference.

An op is what a user of the engine issues and waits for:
  kg_build  one Entry B build of the pages table, written to tables;
  kg_query  one Entry C query or graph-analytics call, its rows collected;
  curate    one curation funnel over the documents table.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from . import inputs, reference
from .trace import Tracer, tree_cpu_s


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class Workload:
    name = ""
    item = ""  # what an item is, for cpu_ms_per_item and items_per_s
    block = 1  # the loop stops only after a whole block of ops

    def __init__(self, spark, seed: int, workdir: str, tracer: Tracer,
                 cores: int):
        self.spark = spark
        self.seed = seed
        self.work = workdir
        self.tracer = tracer
        self.cores = cores
        self.walls: list[float] = []
        self.cpus: list[float] = []  # CPU seconds of the process tree per op
        self.items = 0
        self.failures: list[str] = []
        self.failed_ops: set[int] = set()

    # subclasses: setup() -> None, run_op(i) -> items, check() -> None,
    # layer_metrics() -> dict, and warm() when they have a warm-up

    def warm(self) -> None:
        """Ops run before the measured ones, counted in setup_s."""

    def measure(self, seconds: float, min_ops: int = 0) -> None:
        """Closed loop: the next op starts when the previous one is done,
        until the ops' wall time reaches ``seconds``, a block is whole and
        at least ``min_ops`` ops have run."""
        i = 0
        while sum(self.walls) < seconds or i % self.block or i < min_ops:
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                n = self.run_op(i)
            except Exception as exc:  # counted in `failed`, loop goes on
                self.fail(f"{type(exc).__name__}: {exc}", op=i)
                n = 0
            self.walls.append(time.perf_counter() - t0)
            self.cpus.append(tree_cpu_s(os.getpid()) - c0)
            self.after_op(i)
            self.items += n
            i += 1

    def after_op(self, i: int) -> None:
        """Untimed per-op bookkeeping (result capture for the checks)."""

    def fail(self, msg: str, op: int | None = None) -> None:
        """Record a failed check; one not tied to an op fails them all."""
        self.failures.append(msg if op is None else f"op {op}: {msg}")
        self.failed_ops.update([op] if op is not None
                               else range(max(len(self.walls), 1)))

    def detail(self) -> dict:
        return {}

    def traced(self) -> tuple[float, float, dict]:
        """Two untraced ops (the first warms up), then the same op with a
        span per layer call; returns (the second untraced wall, traced wall,
        what traced_op returned)."""
        self.tracer.enabled = False
        self.measure(0, min_ops=2)
        self.tracer.enabled = True
        traced = self.traced_op()
        if traced["result"] != self.results[0]["result"]:
            self.fail("traced output differs from the untraced op")
        return self.walls[1], traced["wall"], traced


# --------------------------------------------------------------------------- #
# kg_build
# --------------------------------------------------------------------------- #


class KgBuild(Workload):
    """Entry B on the default corpus: extraction, the skewed salted
    node/edge merge and the table writes; no query or curation code."""

    name = "kg_build"
    item = "pages"
    N_PAGES = 4_000
    BUILD_KW = {"max_chunks": 2048, "max_prop_vals": 2048}

    def setup(self) -> None:
        from knowledge_graph_studio_spark.sources.pages import synthetic_pages

        self.pages_path = f"{self.work}/pages"
        with self.tracer.span("sources.pages.generate"):
            synthetic_pages(self.spark, self.N_PAGES, seed=self.seed,
                            partitions=2 * self.cores) \
                .write.mode("overwrite").parquet(self.pages_path)
        self.results: list[dict] = []

    def warm(self) -> None:
        self._build(self.pages_path, f"{self.work}/warm")

    def _build(self, pages_path: str, out: str) -> dict:
        from knowledge_graph_studio_spark.io.catalog import write_table
        from knowledge_graph_studio_spark.pipeline import build_graph

        g = build_graph(self.spark, self.spark.read.parquet(pages_path),
                        **self.BUILD_KW)
        write_table(g["nodes"], f"{out}/nodes")
        write_table(g["edges"], f"{out}/edges")
        g["triples"].count()
        return g

    def run_op(self, i: int) -> int:
        self._last = self._build(self.pages_path, f"{self.work}/op{i}")
        return self.N_PAGES

    def after_op(self, i: int) -> None:
        g = getattr(self, "_last", None)
        self._last = None
        if g is not None:
            self.results.append(self._capture(g["triples"],
                                              f"{self.work}/op{i}"))

    def _capture(self, triples, out: str) -> dict:
        """Counts and order-independent content hashes of one build."""
        cols = ["url", "chunk_id", "head", "head_type", "relation", "tail",
                "tail_type"]
        agg = triples.select(F.xxhash64(*cols).cast("decimal(38,0)")
                             .alias("h")).agg(F.count("*").alias("n"),
                                              F.sum("h").alias("s")).first()
        nodes, edges = _graph_rows(self.spark, out)
        hashes = (str(agg["s"]), reference.rows_digest(nodes),
                  reference.rows_digest(edges))
        return {"triples": agg["n"], "result": hashes,
                "node_keys": [(r["name"], r["type"]) for r in nodes],
                "edge_keys": [(r["head"], r["rel_type"], r["tail"])
                              for r in edges],
                "triples_df": triples}

    def check(self) -> None:
        if not self.results:
            return self.fail("no build finished")
        ref = reference.expected_triples(self.N_PAGES, self.seed, self.cores)
        ref_nodes = ({(k[1], k[2]) for k in ref}
                     | {(k[4], k[5]) for k in ref})
        ref_edges = {(k[1], k[3], k[4]) for k in ref}
        n_ref = sum(ref.values())
        # the full triple multiset, once per run
        first = self.results[0]
        got = first["triples_df"].select(
            "url", "head", "head_type", "relation", "tail", "tail_type"
        ).toPandas()
        from collections import Counter

        if Counter(map(tuple, got.itertuples(index=False))) != ref:
            self.fail("triple multiset differs from corpus.expected_triples")
        for i, r in enumerate(self.results):
            if r["triples"] != n_ref:
                self.fail(f"{r['triples']} triples, expected {n_ref}", op=i)
            if len(r["node_keys"]) != len(set(r["node_keys"])) or \
                    set(r["node_keys"]) != ref_nodes:
                self.fail("node keys differ or repeat", op=i)
            if len(r["edge_keys"]) != len(set(r["edge_keys"])) or \
                    set(r["edge_keys"]) != ref_edges:
                self.fail("edge keys differ or repeat", op=i)
            if r["result"] != first["result"]:
                self.fail("triple, node or edge hash differs from op 0",
                          op=i)
        self.counts = {"triples": n_ref, "nodes": len(ref_nodes),
                       "edges": len(ref_edges)}

    def detail(self) -> dict:
        return {"pages": self.N_PAGES, **getattr(self, "counts", {})}

    def traced_op(self) -> dict:
        out = f"{self.work}/traced"
        wall, triples = traced_build(self.tracer, self.spark, self.pages_path,
                                     out, {}, self.BUILD_KW)
        return {"wall": wall, **self._capture(triples, out)}

    def layer_metrics(self, traced: dict) -> dict:
        return build_layer_metrics(
            self.tracer, self.cores, self.spark.read.parquet(self.pages_path),
            traced["triples"], len(traced["node_keys"]),
            len(traced["edge_keys"]), f"{self.work}/traced")


def traced_build(tracer: Tracer, spark, pages_path: str, out: str,
                 triple_kw: dict, build_kw: dict):
    """The functions build_graph composes, called one at a time with a span
    each, nodes and edges written under ``out``. ``triple_kw`` goes to
    triples_from_pages (schema, gazetteer, rules), ``build_kw`` to
    build_nodes and build_edges. Returns (wall, triples)."""
    from knowledge_graph_studio_spark.io.catalog import write_table
    from knowledge_graph_studio_spark.operators.linking import (
        apply_canonical_mapping, build_edges, build_nodes, canonical_mapping,
    )
    from knowledge_graph_studio_spark.pipeline import triples_from_pages

    t, sp = tracer, spark
    t0 = time.perf_counter()
    with t.span("pipeline.triples_from_pages"):
        triples = triples_from_pages(
            sp, sp.read.parquet(pages_path), **triple_kw).localCheckpoint()
    with t.span("operators.linking.canonical_mapping") as s:
        mapping = canonical_mapping(triples, alias_df=None, fuzzy=True)
        empty = mapping.isEmpty()
        canon = triples if empty else apply_canonical_mapping(triples,
                                                              mapping)
    with t.span("operators.linking.build_nodes"):
        nodes = build_nodes(canon, **build_kw).localCheckpoint()
    # build_graph leaves edges lazy until their write; sealing them here
    # (a few hundred rows) lets the write span time the write alone
    with t.span("operators.linking.build_edges"):
        edges = build_edges(canon, nodes, **build_kw).localCheckpoint()
    with t.span("io.catalog.write_table"):
        write_table(nodes, f"{out}/nodes")
        write_table(edges, f"{out}/edges")
    wall = time.perf_counter() - t0
    s["mapped"] = 0 if empty else mapping.count()
    return wall, triples


def build_layer_metrics(tracer: Tracer, cores: int, pages, n_tr: int,
                        n_nodes: int, n_edges: int, out: str) -> dict:
    """Per-layer metrics of a traced_build over ``pages`` that wrote its
    tables under ``out``."""
    n_pages = pages.count()
    en = pages.filter(F.col("lang") == "en").count()
    m = {}
    tp = _span_stats(tracer, "pipeline.triples_from_pages", cores)
    m.update(_pick(tp, "pipeline.triples_from_pages", [
        "wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s",
        "core_util", "failed_tasks"]))
    m["pipeline.triples_from_pages.triples_per_page"] = n_tr / n_pages
    m["pipeline.triples_from_pages.lang_keep_frac"] = en / n_pages
    cm = _span_stats(tracer, "operators.linking.canonical_mapping", cores)
    m.update(_pick(cm, "operators.linking.canonical_mapping",
                   ["wall_s", "jobs", "core_util"]))
    mapped = tracer.of("operators.linking.canonical_mapping")[-1]["mapped"]
    m["operators.linking.canonical_mapping.merged_frac"] = \
        mapped / (n_nodes + mapped)
    for layer, per in (("build_nodes", n_nodes), ("build_edges", n_edges)):
        st = _span_stats(tracer, f"operators.linking.{layer}", cores)
        m.update(_pick(st, f"operators.linking.{layer}", [
            "wall_s", "jobs", "tasks", "exec_run_s", "shuffle_write_mb",
            "spill_mb", "core_util"]))
        key = "triples_per_node" if layer == "build_nodes" \
            else "triples_per_edge"
        m[f"operators.linking.{layer}.{key}"] = n_tr / per
    w = _span_stats(tracer, "io.catalog.write_table", cores)
    files, size = _dir_files(out)
    m["io.catalog.write_table.wall_s"] = w["wall_s"]
    m["io.catalog.write_table.files"] = files
    m["io.catalog.write_table.bytes_per_triple"] = size / n_tr
    return m


def _graph_rows(spark, out: str) -> tuple[list, list]:
    """The node and edge rows the hashes of a written graph are taken
    over."""
    nodes = spark.read.parquet(f"{out}/nodes").select(
        "node_id", "name", "type", F.size("chunks")).collect()
    edges = spark.read.parquet(f"{out}/edges").select(
        "edge_id", "head", "rel_type", "tail", F.size("chunks")).collect()
    return nodes, edges


# --------------------------------------------------------------------------- #
# kg_query
# --------------------------------------------------------------------------- #


class KgQuery(Workload):
    """Entry C over the hub-heavy Zipf KG: a closed loop of structured,
    text, k-hop, BM25 and triangle queries from one client."""

    name = "kg_query"
    item = "queries"
    block = len(inputs.QUERY_TYPES)  # every block holds each type once
    N_PAGES = 200
    ALPHA = 1.1
    TEXT_LIMIT = 64
    BUILD_KW = KgBuild.BUILD_KW

    def setup(self) -> None:
        from knowledge_graph_studio_spark.corpus import zipf_config
        from knowledge_graph_studio_spark.functions.embeddings import (
            embed_edges,
        )
        from knowledge_graph_studio_spark.io.catalog import (
            QueryLog, read_table, write_table,
        )
        from knowledge_graph_studio_spark.operators.chunking import (
            extract_text,
        )
        from knowledge_graph_studio_spark.pipeline import build_graph
        from knowledge_graph_studio_spark.sources.pages import (
            synthetic_pages_zipf,
        )

        sp, w = self.spark, self.work
        schema, gaz, (people, companies, cities) = zipf_config()
        with self.tracer.span("sources.pages.generate"):
            synthetic_pages_zipf(sp, self.N_PAGES, seed=self.seed,
                                 partitions=2 * self.cores,
                                 alpha=self.ALPHA) \
                .write.mode("overwrite").parquet(f"{w}/pages")
            extract_text(sp.read.parquet(f"{w}/pages")).select(
                "url", "text").write.mode("overwrite").parquet(f"{w}/docs")
        self.triple_kw = {"schema": schema, "gazetteer": gaz, "rules": []}
        with self.tracer.span("pipeline.build_graph.setup"):
            g = build_graph(sp, sp.read.parquet(f"{w}/pages"),
                            **self.triple_kw, **self.BUILD_KW)
            write_table(g["nodes"], f"{w}/nodes")
            write_table(g["edges"], f"{w}/edges")
        self.nodes = read_table(sp, f"{w}/nodes")
        self.edges = read_table(sp, f"{w}/edges")
        with self.tracer.span("functions.embeddings.embed_edges"):
            write_table(embed_edges(self.edges), f"{w}/embed_edges")
        self.embedded = read_table(sp, f"{w}/embed_edges")
        self.docs = sp.read.parquet(f"{w}/docs")
        self.log = _TimedQueryLog(QueryLog(f"{w}/qlog"), self.tracer)
        self.names = inputs.ZipfNames(people, companies, cities, self.ALPHA)
        # enough queries for any run; the loop stops at the deadline
        self.mix = inputs.query_mix(self.names, self.seed, 2000)
        self.answers: list[tuple] = []

    def _query(self, qtype: str, args: dict):
        from knowledge_graph_studio_spark.operators.linking import (
            triangle_counts,
        )
        from knowledge_graph_studio_spark.plans.query import (
            QueryParameters, bm25_topk, khop_distances, query_graph,
        )

        if qtype in ("structured", "text"):
            params = QueryParameters(limit=self.TEXT_LIMIT, **args)
            out = query_graph(self.nodes, self.edges, params,
                              edges_embedded=self.embedded, log=self.log)
            return [(r[0], r[1], r[2], r[3]) for r in out["triples"].select(
                "edge_id", "head_node.name", "relation.name",
                "tail_node.name", F.size("chunks")).collect()]
        if qtype == "khop":
            return [tuple(r) for r in khop_distances(
                self.edges, args["seeds"], max_hops=args["max_hops"],
                src="head", dst="tail").collect()]
        if qtype == "bm25":
            return [tuple(r) for r in bm25_topk(
                self.docs, args["query"], k=args["k"], id_col="url"
            ).collect()]
        return [tuple(r) for r in triangle_counts(
            self.edges, src="head", dst="tail").collect()]

    def run_op(self, i: int) -> int:
        qtype, args = self.mix[i]
        self.answers.append((qtype, args, self._query(qtype, args)))
        return 1

    def after_op(self, i: int) -> None:
        if len(self.answers) < i + 1:  # the op raised
            self.answers.append((self.mix[i][0], self.mix[i][1], None))

    def _reference(self) -> reference.QueryReference:
        return reference.QueryReference(
            self.nodes.select("node_id", "name", "type").collect(),
            self.edges.select("edge_id", "head_id", "tail_id", "rel_type",
                              "head", "tail").collect(),
            self.embedded.select("edge_id", "verbalized", "embedding")
            .toPandas().to_dict("records"),
            self.docs.toPandas().to_dict("records"))

    def check(self) -> None:
        ref = self._reference()
        self.counts = {"nodes": len(ref.nodes), "edges": len(ref.edges)}
        tri = None
        for i, (qtype, args, got) in enumerate(self.answers):
            if got is None:
                continue  # already counted as a failure
            if qtype == "structured":
                ok = set(got) == ref.structured(
                    args["entities"], args["relations"], args["values"])
            elif qtype == "text":
                ok = ref.text_check(args["content"], self.TEXT_LIMIT,
                                    set(got))
            elif qtype == "khop":
                ok = set(got) == ref.khop(args["seeds"], args["max_hops"])
            elif qtype == "bm25":
                ok = ref.bm25_check(args["query"], args["k"], got)
            else:
                tri = tri or ref.triangles()
                ok = set(got) == tri
            if not ok:
                self.fail(f"{qtype} {args}: answer differs from the "
                          "reference", op=i)

    def by_type(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {t: [] for t in inputs.QUERY_TYPES}
        for (qtype, _), w in zip(self.mix, self.walls):
            out[qtype].append(w)
        return out

    def detail(self) -> dict:
        d = {f"{t}_p50_ms": round(_median(ws) * 1e3, 1)
             for t, ws in self.by_type().items()}
        d["op_counts"] = {t: len(ws) for t, ws in self.by_type().items()}
        d.update(tail_ms(self.walls))
        d.update(getattr(self, "counts", {}))
        return d

    def traced(self) -> tuple[float, float, dict]:
        """The set-up graph built again with a span per layer call, which
        must hash equal to build_graph's; then the first block of the mix
        twice untraced (the first pass warms up), and again with one span
        per query."""
        self.tracer.enabled = True
        out = f"{self.work}/traced"
        _, triples = traced_build(self.tracer, self.spark,
                                  f"{self.work}/pages", out, self.triple_kw,
                                  self.BUILD_KW)
        nodes, edges = _graph_rows(self.spark, out)
        if (reference.rows_digest(nodes), reference.rows_digest(edges)) != \
                tuple(map(reference.rows_digest,
                          _graph_rows(self.spark, self.work))):
            self.fail("traced build differs from build_graph's graph")
        build = {"triples": triples.count(), "nodes": len(nodes),
                 "edges": len(edges), "out": out}
        walls = []
        for enabled in (False, False, True):
            self.tracer.enabled = enabled
            n_spans = len(self.tracer.spans)
            t0 = time.perf_counter()
            for qtype, args in self.mix[:self.block]:
                with self.tracer.span(_QUERY_LAYER[qtype]) as s:
                    rows = self._query(qtype, args)
                s["rows_out"] = len(rows)
                self.answers.append((qtype, args, rows))
                self.walls.append(s["wall_s"])
            walls.append(time.perf_counter() - t0)
            if not enabled:  # keep only spans with stage metrics
                del self.tracer.spans[n_spans:]
        return walls[1], walls[2], build

    def layer_metrics(self, traced: dict) -> dict:
        m = build_layer_metrics(
            self.tracer, self.cores,
            self.spark.read.parquet(f"{self.work}/pages"), traced["triples"],
            traced["nodes"], traced["edges"], traced["out"])
        for qtype, layer in _QUERY_LAYER.items():
            spans = self.tracer.of(layer)
            m[f"{layer}.wall_ms"] = _median([s["wall_s"] for s in spans]) * 1e3
            m[f"{layer}.jobs"] = _median([s["jobs"] for s in spans])
            m[f"{layer}.tasks"] = _median([s["tasks"] for s in spans])
            m[f"{layer}.exec_run_ms"] = _median(
                [s["exec_run_ms"] for s in spans])
            m[f"{layer}.core_util"] = _median(
                [_util(s, self.cores) for s in spans])
            m[f"{layer}.shuffle_read_kb"] = _median(
                [s["shuffle_read_bytes"] / 1024 for s in spans])
            m[f"{layer}.rows_out"] = _median([s["rows_out"] for s in spans])
        m["io.catalog.QueryLog.wall_ms"] = _median(
            [s["wall_s"] for s in self.tracer.of("io.catalog.QueryLog")]) * 1e3
        return m


_QUERY_LAYER = {
    "structured": "plans.query.structured",
    "text": "plans.query.text",
    "khop": "plans.query.khop",
    "bm25": "plans.query.bm25",
    "triangles": "operators.linking.triangle_counts",
}


class _TimedQueryLog:
    """Passes QueryLog.start/finish/fail through, timing start+finish of
    each query as one io.catalog.QueryLog span."""

    def __init__(self, log, tracer: Tracer):
        self._log = log
        self._tracer = tracer
        self._open: dict[str, float] = {}

    def start(self, *a, **kw):
        t0 = time.perf_counter()
        qid = self._log.start(*a, **kw)
        self._open[qid] = time.perf_counter() - t0
        return qid

    def finish(self, qid, *a, **kw):
        t0 = time.perf_counter()
        self._log.finish(qid, *a, **kw)
        if self._tracer.enabled:
            self._tracer.spans.append({
                "name": "io.catalog.QueryLog", "parent": None,
                "wall_s": self._open.pop(qid) + time.perf_counter() - t0})

    def fail(self, qid, error):
        self._open.pop(qid, None)
        self._log.fail(qid, error)


# --------------------------------------------------------------------------- #
# curate
# --------------------------------------------------------------------------- #


class Curate(Workload):
    """The curation funnel over a documents table: dedup, cleaning,
    textstats and sampling; no KG code."""

    name = "curate"
    item = "docs"
    N_DOCS = 400
    # (count, hash) of the output at seeds measured when the benchmark
    # was written; other seeds are checked for agreement between ops
    PINNED = {
        1: (102, "2682514434421807843"),
        2: (102, "-20504555190040563559"),
        3: (100, "-32972667361920589139"),
        4: (96, "-450633380825293856"),
        5: (99, "-25210170838984047934"),
        6: (103, "-60017123605063242670"),
        7: (107, "48447989833011231580"),
        8: (102, "1924100294653892440"),
        9: (99, "-12716656102910255138"),
        10: (93, "-18249971878567640605"),
    }

    def setup(self) -> None:
        self.docs_path = f"{self.work}/documents"
        with self.tracer.span("inputs.documents.generate"):
            self._write_docs(self.docs_path, self.N_DOCS, self.seed)
        self.results: list[dict] = []

    def _write_docs(self, path: str, n: int, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.table(inputs.documents(n, seed)),
                       f"{path}/part-0.parquet")

    def _funnel(self, docs_path: str, n: int) -> dict:
        """bench.py's curate_corpus arguments over ``docs_path``."""
        from knowledge_graph_studio_spark.operators.curation import (
            curate_corpus,
        )

        sp = self.spark
        docs = sp.read.parquet(docs_path)
        uid = F.col("doc_id") % (n * 9 // 10)
        crawl = docs.select(
            "doc_id", "text", "lang",
            F.concat(F.lit("http://h"), (uid % 13).cast("string"),
                     F.lit(".dom"), (uid % 97).cast("string"),
                     F.lit(".com/p/"), uid.cast("string")).alias("url"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
            .alias("warc_ts"))
        blocked = sp.createDataFrame([("dom13.com",), ("h7.dom29.com",)],
                                     "domain string")
        eval_df = docs.filter(F.col("doc_id") % 31 == 5) \
            .select(F.substring("text", 1, 120).alias("text"))
        return curate_corpus(
            crawl, url_col="url", ts_col="warc_ts", eval_df=eval_df,
            blocked_domains=blocked, fuzzy_dedup=True,
            mix_rates={"en": 1.0, "de": 0.8, "fr": 0.6, "es": 0.5, "zh": 0.4},
            stratum_col="lang",
            dsir_target=docs.filter(F.col("lang") == "en")
            .filter(F.col("doc_id") % 7 == 0).select("text"),
            dsir_top_n=max(n // 3, 10),
            dsir_kwargs={"n_buckets": 4096},
            pack_seq_len=1024,
            gopher_kwargs={"min_words": 10, "min_stop_hits": 1})

    def run_op(self, i: int) -> int:
        self._last = self._funnel(self.docs_path, self.N_DOCS)
        self._last_n = self._last["docs"].count()
        return self.N_DOCS

    def after_op(self, i: int) -> None:
        out = getattr(self, "_last", None)
        self._last = None
        if out is not None:
            self.results.append(
                {"result": (self._last_n, _frame_hash(out["docs"]))})

    def check(self) -> None:
        if not self.results:
            return self.fail("no curation finished")
        first = self.results[0]["result"]
        for i, r in enumerate(self.results):
            if r["result"] != first:
                self.fail(f"output {r['result']} differs from op 0 {first}",
                          op=i)
        pin = self.PINNED.get(self.seed)
        if pin is not None and tuple(pin) != first:
            self.fail(f"output {first} differs from the pinned {pin}")
        if not 0 < first[0] < self.N_DOCS:
            self.fail(f"implausible output size {first[0]}")
        self.out = first

    def detail(self) -> dict:
        return {"docs_in": self.N_DOCS,
                "output": list(getattr(self, "out", ()))}

    def traced_op(self) -> dict:
        from knowledge_graph_studio_spark.operators.curation import (
            curation_funnel,
        )

        t0 = time.perf_counter()
        with self.tracer.span("operators.curation.curate_corpus.construct"):
            out = self._funnel(self.docs_path, self.N_DOCS)
        with self.tracer.span("operators.curation.curate_corpus.execute"):
            n = out["docs"].count()
        wall = time.perf_counter() - t0
        funnel = curation_funnel(out["stages"])
        return {"wall": wall, "result": (n, _frame_hash(out["docs"])),
                "funnel": funnel}

    def layer_metrics(self, traced: dict) -> dict:
        c = _span_stats(self.tracer,
                        "operators.curation.curate_corpus.construct",
                        self.cores)
        e = _span_stats(self.tracer,
                        "operators.curation.curate_corpus.execute",
                        self.cores)
        p = "operators.curation.curate_corpus"
        wall = c["wall_s"] + e["wall_s"]
        m = {f"{p}.construct_s": c["wall_s"], f"{p}.execute_s": e["wall_s"]}
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            m[f"{p}.{k}"] = c[k] + e[k]
        for k in ("exec_run_s", "exec_cpu_s", "shuffle_write_mb",
                  "spill_mb", "gc_s"):
            m[f"{p}.{k}"] = c[k] + e[k]
        m[f"{p}.core_util"] = (m[f"{p}.exec_run_s"] / (wall * self.cores)
                               if wall else 0.0)
        prev = None
        for stage, rows in traced["funnel"]:
            if prev is not None:
                m[f"operators.curation.stage.{stage}.keep_frac"] = \
                    rows / prev if prev else 0.0
            prev = rows
        return m


def _frame_hash(df) -> str:
    """Order-independent hash of the (doc_id, text) pairs of a frame; for
    packed sequences, of all their columns."""
    cols = [c for c in ("doc_id", "text") if c in df.columns] or df.columns
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")) \
        .agg(F.sum("h")).first()
    return str(row[0])


# --------------------------------------------------------------------------- #
# metric helpers
# --------------------------------------------------------------------------- #


def _util(s: dict, cores: int) -> float:
    return s["exec_run_ms"] / 1e3 / (s["wall_s"] * cores) if s["wall_s"] \
        else 0.0


def _span_stats(tracer: Tracer, name: str, cores: int) -> dict:
    """Summed stats of every span with this name."""
    spans = tracer.of(name)
    tot = {k: sum(s.get(k, 0) for s in spans) for k in (
        "wall_s", "jobs", "stages", "tasks", "failed_tasks", "exec_run_ms",
        "exec_cpu_ns", "shuffle_write_bytes", "mem_spill_bytes",
        "disk_spill_bytes", "gc_ms")}
    wall = tot["wall_s"]
    return {
        "wall_s": wall, "jobs": tot["jobs"], "stages": tot["stages"],
        "tasks": tot["tasks"], "failed_tasks": tot["failed_tasks"],
        "exec_run_s": tot["exec_run_ms"] / 1e3,
        "exec_cpu_s": tot["exec_cpu_ns"] / 1e9,
        "shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20,
        "spill_mb": (tot["mem_spill_bytes"] + tot["disk_spill_bytes"]) / 2**20,
        "gc_s": tot["gc_ms"] / 1e3,
        "core_util": tot["exec_run_ms"] / 1e3 / (wall * cores) if wall else 0.0,
    }


def _pick(stats: dict, prefix: str, keys: list[str]) -> dict:
    return {f"{prefix}.{k}": stats[k] for k in keys}


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def tail_ms(walls: list[float]) -> dict:
    """Latency at the highest percentile that leaves at least ten samples
    above it; absent when the run has fewer than eleven ops."""
    n = len(walls)
    if n < 11:
        return {"tail_ms": None, "tail_pct": None, "tail_n": n}
    pct = int(100 * (n - 10) / n)
    xs = sorted(walls)
    return {"tail_ms": round(xs[max(0, -(-pct * n // 100) - 1)] * 1e3, 1),
            "tail_pct": pct, "tail_n": n}


WORKLOADS = {w.name: w for w in (KgBuild, KgQuery, Curate)}
