"""Seeded input generators. The workload seed reaches only these; the
engine sees nothing but the inputs they produce."""

from __future__ import annotations

import bisect
import random

# vocabulary and shape of the synthetic documents table the engine's
# fixtures use: word-salad docs of 10-100 words over a small vocabulary
_WORDS = (
    "the a spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(n: int, seed: int) -> dict[str, list]:
    """Columns of an n-row documents table (doc_id, text, lang, source,
    n_chars). About 5 % of docs are an earlier doc plus one word (near
    duplicates) and about 0.5 % repeat an earlier doc exactly, so the
    dedup stages have work to do."""
    rng = random.Random(seed * 7919 + 17)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.005:
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and r < 0.055:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            k = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(k)))
    langs = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=n)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


class ZipfNames:
    """Entity names of the Zipf corpus drawn with the corpus' own Zipf
    weights, so hub entities recur in queries the way popular ones do."""

    def __init__(self, people, companies, cities, alpha: float):
        self.by_type = {"person": people, "company": companies,
                        "city": cities}
        self._cdf = {t: _cdf(len(v), alpha) for t, v in self.by_type.items()}

    def pick(self, rng: random.Random, etype: str) -> str:
        names = self.by_type[etype]
        return names[bisect.bisect_left(self._cdf[etype], rng.random())]


def _cdf(n: int, alpha: float) -> list[float]:
    w = [1.0 / (k + 1) ** alpha for k in range(n)]
    tot, acc, out = sum(w), 0.0, []
    for x in w:
        acc += x
        out.append(acc / tot)
    out[-1] = 1.0
    return out


QUERY_TYPES = ("structured", "text", "khop", "bm25", "triangles")
_BM25_WORDS = ["runs", "located", "markets", "weather", "history",
               "science", "archive"]


def query_mix(names: ZipfNames, seed: int, n: int) -> list[tuple[str, dict]]:
    """n queries as (type, arguments). Every block of five holds each type
    once in a seeded order, so a run's mix does not drift with the seed."""
    rng = random.Random(seed * 104729 + 3)
    out: list[tuple[str, dict]] = []
    while len(out) < n:
        block = list(QUERY_TYPES)
        rng.shuffle(block)
        out.extend((t, _query_args(rng, names, t)) for t in block)
    return out[:n]


def _query_args(rng: random.Random, names: ZipfNames, qtype: str) -> dict:
    if qtype == "structured":
        if rng.random() < 0.5:
            person = names.pick(rng, "person")
            return {"entities": ["person"], "relations": ["runs"],
                    "values": [person]}
        company = names.pick(rng, "company")
        return {"entities": ["company"], "relations": [], "values":
                [company, names.pick(rng, "company")]}
    if qtype == "text":
        if rng.random() < 0.5:
            return {"content": f"who runs {names.pick(rng, 'company')}?"}
        return {"content":
                f"where is {names.pick(rng, 'company')} located?"}
    if qtype == "khop":
        seeds = {names.pick(rng, rng.choice(["person", "company"]))
                 for _ in range(rng.randint(1, 3))}
        return {"seeds": sorted(seeds), "max_hops": 2}
    if qtype == "bm25":
        terms = [names.pick(rng, "company").lower(),
                 names.pick(rng, "person").lower(), rng.choice(_BM25_WORDS)]
        return {"query": " ".join(terms), "k": 10}
    return {}
