"""Plain-Python references the benchmark checks the engine's outputs
against. None of this is timed."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import numpy as np

# --------------------------------------------------------------------------- #
# kg_build: the extraction oracle over the generated pages
# --------------------------------------------------------------------------- #


def _triple_chunk(args: tuple[int, int, int]) -> Counter:
    lo, hi, seed = args
    from knowledge_graph_studio_spark.corpus import _GAZETTEER, _SCHEMA, make_page
    from knowledge_graph_studio_spark.schema_model import default_rules
    from knowledge_graph_studio_spark.textcore import extract_page_triples

    amap = {(fn, r.node_type): r.to_node_name
            for r in default_rules() for fn in r.from_node_names}
    pats = _SCHEMA.pattern_dicts()
    out: Counter = Counter()
    for i in range(lo, hi):
        p = make_page(i, seed)
        for t in extract_page_triples(p["html"], p["text"], p["lang"], pats,
                                      _GAZETTEER):
            out[(p["url"],
                 amap.get((t["head"], t["head_type"]), t["head"]),
                 t["head_type"], t["relation"],
                 amap.get((t["tail"], t["tail_type"]), t["tail"]),
                 t["tail_type"])] += 1
    return out


def expected_triples(n_pages: int, seed: int, procs: int) -> Counter:
    """Multiset of (url, head, head_type, relation, tail, tail_type) that
    ``corpus.expected_triples`` gives after the default merge rules,
    computed over ``procs`` spawned processes."""
    import multiprocessing as mp

    step = -(-n_pages // (procs * 4))
    parts = [(lo, min(lo + step, n_pages), seed)
             for lo in range(0, n_pages, step)]
    with mp.get_context("spawn").Pool(procs) as pool:
        counters = pool.map(_triple_chunk, parts)
    total: Counter = Counter()
    for c in counters:
        total.update(c)
    return total


def rows_digest(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------- #
# kg_query: answers recomputed from the collected graph
# --------------------------------------------------------------------------- #


class QueryReference:
    """Built from the collected nodes, edges, edge embeddings and page
    texts of the kg_query graph."""

    def __init__(self, nodes, edges, embedded, docs):
        self.nodes = {r["node_id"]: (r["name"], r["type"]) for r in nodes}
        self.edges = {r["edge_id"]: (r["head_id"], r["rel_type"],
                                     r["tail_id"], r["head"], r["tail"])
                      for r in edges}
        self.adj: dict[str, set[str]] = defaultdict(set)
        for _, _, _, h, t in self.edges.values():
            self.adj[h].add(t)
            self.adj[t].add(h)
        emb_ids = [r["edge_id"] for r in embedded]
        self.emb_ids = np.array(emb_ids, dtype=np.int64)
        self.emb = np.array([r["embedding"] for r in embedded],
                            dtype=np.float32).astype(np.float64)
        self.verbalized = {r["edge_id"]: r["verbalized"] for r in embedded}
        self.doc_tokens = {r["url"]: re.findall(r"[a-z0-9]+",
                                                (r["text"] or "").lower())
                           for r in docs}

    # structured: Q11 prefilter then hydration
    def structured(self, entities, relations, values) -> set[tuple]:
        ids = None
        if entities or values:
            ids = {nid for nid, (name, typ) in self.nodes.items()
                   if (not entities or typ in entities)
                   and (not values or name in values)}
        out = set()
        for eid, (hid, rel, tid, h, t) in self.edges.items():
            if relations and rel not in relations:
                continue
            if ids is not None and hid not in ids and tid not in ids:
                continue
            out.add((eid, h, rel, t))
        return out

    # text: exact cosine top-k, relevance filter, hydration
    def text_check(self, content: str, limit: int, got: set[tuple],
                   eps: float = 1e-9) -> bool:
        from knowledge_graph_studio_spark.functions.embedding_core import (
            TRIPLE_DIM, embed_text,
        )

        q = embed_text(content, TRIPLE_DIM).astype(np.float64)
        scores = (self.emb @ q) / (np.linalg.norm(self.emb, axis=1)
                                   * np.linalg.norm(q))
        order = sorted(range(len(scores)),
                       key=lambda i: (-scores[i], self.emb_ids[i]))
        kth = scores[order[min(limit, len(order)) - 1]]
        q_tokens = set(content.lower().replace(",", " ").replace("?", " ")
                       .split())
        by_id = dict(zip(self.emb_ids.tolist(), scores.tolist()))
        got_ids = {g[0] for g in got}
        for eid, s in by_id.items():
            relevant = bool(set(self.verbalized[eid].lower().split(" "))
                            & q_tokens)
            if s > kth + eps and relevant and eid not in got_ids:
                return False  # a top-k relevant edge is missing
            if eid in got_ids and (s < kth - eps or not relevant):
                return False  # an edge outside the top-k came back
        return all(self.edges[e][3] == h and self.edges[e][1] == rel
                   and self.edges[e][4] == t for e, h, rel, t in got)

    def khop(self, seeds, max_hops: int) -> set[tuple]:
        dist = {s: 0 for s in seeds}
        frontier = set(seeds)
        for d in range(1, max_hops + 1):
            nxt = {v for u in frontier for v in self.adj.get(u, ())
                   if v not in dist}
            if not nxt:
                break
            for v in nxt:
                dist[v] = d
            frontier = nxt
        return set(dist.items())

    def triangles(self) -> set[tuple]:
        nbrs = {u: {v for v in vs if v != u} for u, vs in self.adj.items()}
        nbrs = {u: vs for u, vs in nbrs.items() if vs}
        tri: Counter = Counter()
        for u, vs in nbrs.items():
            for v in vs:
                if v <= u:
                    continue
                for w in vs & nbrs[v]:
                    if w > v:
                        tri[u] += 1
                        tri[v] += 1
                        tri[w] += 1
        out = set()
        for u, vs in nbrs.items():
            d, t = len(vs), tri[u]
            out.add((u, d, t, (2000000 * t) // (d * (d - 1)) if d >= 2 else 0))
        return out

    def bm25(self, query: str, k: int, k1: float = 1.2,
             b: float = 0.75) -> dict[str, int]:
        """Fixed-point BM25 score of every matching doc."""
        terms = sorted(set(re.findall(r"[a-z0-9]+", query.lower())))
        n = len(self.doc_tokens)
        avgdl = float(sum(len(t) for t in self.doc_tokens.values())) / n
        tfs = {}
        df: Counter = Counter()
        for url, toks in self.doc_tokens.items():
            c = Counter(x for x in toks if x in terms)
            if c:
                tfs[url] = (len(toks), c)
                df.update(c.keys())
        scores = {}
        for url, (dl, c) in tfs.items():
            s = 0
            for term, tf in c.items():
                idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
                denom = tf + k1 * (1.0 - b + b * float(dl) / avgdl)
                s += math.floor(1e6 * idf * (tf * (k1 + 1.0)) / denom)
            scores[url] = s
        return scores

    def bm25_check(self, query: str, k: int, got: list[tuple]) -> bool:
        """``got`` is the engine's ranked (id, score) list. Scores may differ
        by one unit per term where a logarithm's last bit differs."""
        ref = self.bm25(query, k)
        tol = len(set(re.findall(r"[a-z0-9]+", query.lower())))
        if len(got) != min(k, len(ref)):
            return False
        for url, s in got:
            if url not in ref or abs(ref[url] - s) > tol:
                return False
        floor_ = min(s for _, s in got)
        ids = {u for u, _ in got}
        return all(u in ids for u, s in ref.items() if s > floor_ + 2 * tol)
