"""Pure-Python text/extraction core — NO pyspark imports.

This module is the single source of truth for every per-row text transform in the
pipeline. The Spark pandas UDFs in ``operators/`` and the test-fixture oracle both
import THESE functions, which is what guarantees the north-rule per-row invariant:
byte-identical extracted text per url, and triple P/R >= 0.95 (== 1.0 by shared
implementation) against the reference-semantics extractor.

Reference semantics reproduced here (cited file:line are in /root/reference):
  * html -> text          our deterministic spec (reference ingests pdf/txt via
                          services/crud/chunks.py:430-470; the north rule swaps in
                          Common-Crawl HTML pages, so the spec is ours but the
                          chunk/extract stages downstream mirror the reference).
  * split_text_into_chunks  <=1024 chars, 0 overlap, (start, end) offsets —
                          services/crud/chunks.py:198-231, config.py:138.
  * clean_text            keep alnum + ",;." + space, "_"->space —
                          utilities/common.py:245-259.
  * remove_punctuation    lowercase + strip punctuation — utilities/common.py:147-150.
  * count_frequency       per-chunk entity-surface occurrence counts —
                          utilities/common.py:153-198.
  * merge_dicts           property merge law — services/graph_service.py:244-294.
  * convert_triple_to_text  verbalization — services/crud/triple.py:179-262.
  * mention/triple extraction  deterministic gazetteer + trigger-phrase stand-in for
                          the spaCy/LLM extractors (utilities/builders.py:66-113,
                          130-199); same (chunk x pattern) -> [(head, tail)] contract.
"""

from __future__ import annotations

import re
import string
from typing import Any

MAX_CHARS_PER_CHUNK = 1024  # reference config.py:138 (max_chars_per_chunk)

# --------------------------------------------------------------------------- #
# HTML -> text (deterministic spec; per-row invariant anchor)
# --------------------------------------------------------------------------- #

_BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "table", "tr", "td", "th", "h1", "h2",
    "h3", "h4", "h5", "h6", "section", "article", "header", "footer", "nav",
    "blockquote", "pre", "hr", "title",
}
_DROP_TAGS = {"script", "style", "noscript", "head"}

_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'", "nbsp": " ",
    "mdash": "—", "ndash": "–", "hellip": "…", "copy": "©",
}

_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*>")
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_ENTITY_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")


def _decode_entity(m: re.Match) -> str:
    body = m.group(1)
    if body.startswith("#x") or body.startswith("#X"):
        try:
            return chr(int(body[2:], 16))
        except ValueError:
            return m.group(0)
    if body.startswith("#"):
        try:
            return chr(int(body[1:]))
        except ValueError:
            return m.group(0)
    return _ENTITIES.get(body, m.group(0))


def html_to_text(html: bytes | str) -> str:
    """Extract visible text from HTML. Deterministic, locale-independent.

    Spec: drop comments and <script>/<style>/<noscript>/<head> subtrees; block
    tags break lines, inline tags vanish; decode named + numeric entities;
    collapse horizontal whitespace; drop blank lines; join with single "\\n".
    """
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    html = _COMMENT_RE.sub(" ", html)

    out: list[str] = []
    pos = 0
    skip_until: str | None = None
    for m in _TAG_RE.finditer(html):
        closing, name = m.group(1) == "/", m.group(2).lower()
        if skip_until is not None:
            if closing and name == skip_until:
                skip_until = None
                pos = m.end()
            continue
        out.append(html[pos:m.start()])
        pos = m.end()
        if not closing and name in _DROP_TAGS:
            skip_until = name
        elif name in _BLOCK_TAGS:
            out.append("\n")
    if skip_until is None:
        out.append(html[pos:])

    text = _ENTITY_RE.sub(_decode_entity, "".join(out))
    lines = []
    for raw in text.split("\n"):
        line = re.sub(r"[ \t\r\f\v ]+", " ", raw).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


def page_text(html: bytes | str | None, text: str | None) -> str:
    """Resolve a page's canonical text: prefer provided ``text``, else derive.

    When both exist they must agree byte-for-byte (asserted in tests)."""
    if text is not None and text != "":
        return text
    if html is None:
        return ""
    return html_to_text(html)


# --------------------------------------------------------------------------- #
# Chunk splitter — reference services/crud/chunks.py:198-231 semantics
# (<= MAX_CHARS_PER_CHUNK chars, 0 overlap, cumulative (start, end) offsets),
# with exact-offset improvement: text[start:end] == content always holds.
# --------------------------------------------------------------------------- #

_BREAKS = ("\n\n", "\n", ". ", " ")


def split_text_into_chunks(
    text: str, max_chars: int = MAX_CHARS_PER_CHUNK,
    page_number: int | None = None, overlap: int = 0,
) -> list[dict[str, Any]]:
    """Greedy boundary-preferring splitter: break at the last paragraph /
    newline / sentence / space boundary inside each ``max_chars`` window.

    ``overlap`` is the reference's configurable ``chunk_overlap``
    (models/common.py:301, utilities/processors.py:141; its CRUD path pins
    0 at services/crud/chunks.py:203): each chunk after the first starts
    ``overlap`` characters before the previous chunk's end, so consecutive
    chunks share that many characters — the RAG-windowing shape. Offsets
    stay exact (text[start:end] == content); forward progress is
    guaranteed by requiring end > next start (overlap < max_chars
    enforced)."""
    if not 0 <= overlap < max_chars:
        raise ValueError("overlap must satisfy 0 <= overlap < max_chars")
    chunks: list[dict[str, Any]] = []
    n = len(text)
    loc = 0
    while loc < n:
        end = min(loc + max_chars, n)
        if end < n:
            window = text[loc:end]
            cut = -1
            for sep in _BREAKS:
                i = window.rfind(sep)
                if i > 0:
                    cut = i + len(sep)
                    break
            if cut <= 0:
                cut = end - loc
            end = loc + cut
        meta: dict[str, Any] = {"start": loc, "end": end}
        if page_number is not None:
            meta["page"] = page_number
        chunks.append({"content": text[loc:end], **meta})
        if end >= n:
            break
        # next window starts `overlap` chars back, but always past the
        # previous start so the loop advances even at maximal overlap
        loc = max(end - overlap, loc + 1)
    return chunks


# --------------------------------------------------------------------------- #
# Cleaners
# --------------------------------------------------------------------------- #

_CLEAN_KEEP_RE = re.compile(r"[^0-9a-zA-Z,;. ]")


def clean_text(text: str) -> str:
    """Keep alphanumerics, ",;." and spaces; "_" becomes a space; collapse runs.

    Parity target: utilities/common.py:245-259."""
    text = text.replace("_", " ")
    text = _CLEAN_KEEP_RE.sub("", text)
    return re.sub(r" +", " ", text).strip()


_PUNCT_TABLE = str.maketrans("", "", string.punctuation)


def remove_punctuation(text: str) -> str:
    """Lowercase and strip punctuation (utilities/common.py:147-150)."""
    return text.lower().translate(_PUNCT_TABLE)


def count_frequency(haystack: str, needle: str) -> int:
    """Occurrences of entity surface in chunk text, both punctuation-stripped
    lowercase (utilities/common.py:153-198 semantics)."""
    h = remove_punctuation(haystack)
    n = remove_punctuation(needle)
    if not n:
        return 0
    return h.count(n)


# --------------------------------------------------------------------------- #
# merge_dicts law — services/graph_service.py:244-294
# --------------------------------------------------------------------------- #

def merge_dicts(d1: dict[str, Any], d2: dict[str, Any]) -> dict[str, Any]:
    """Combine two property dicts: equal values keep one copy; unequal values
    coerce to (extended) lists; dicts merge recursively.

    Law examples (from the reference's doctests, graph_service.py:247-277):
    {'a':1,'b':2} + {'b':3,'c':4} -> {'a':1,'b':[2,3],'c':4}
    """
    out = dict(d1)
    for key, value in d2.items():
        if key not in out:
            out[key] = value
            continue
        cur = out[key]
        if cur == value:
            continue
        if isinstance(cur, list) and isinstance(value, list):
            out[key] = cur + value
        elif isinstance(cur, dict) and isinstance(value, dict):
            out[key] = merge_dicts(cur, value)
        elif isinstance(cur, list):
            out[key] = cur + [value]
        elif isinstance(value, list):
            out[key] = [cur] + value
        else:
            out[key] = [cur, value]
    return out


def merge_string_props(dicts: list[dict[str, list[str]]]) -> dict[str, list[str]]:
    """Distributed-safe specialization of the merge law for our Spark property
    type map<string, array<string>>: per-key sorted set-union.

    Deviation from the reference (documented, SURVEY.md §7): the reference's
    list coercion is arrival-order-sensitive and keeps duplicates; a distributed
    groupBy has no arrival order, so we make the law commutative/associative/
    idempotent by sorting the union. The *set* of values is preserved.
    """
    out: dict[str, set[str]] = {}
    for d in dicts:
        if not d:
            continue
        for k, vs in d.items():
            if vs is None:
                continue
            out.setdefault(k, set()).update(v for v in vs if v is not None)
    return {k: sorted(vs) for k, vs in sorted(out.items())}


# --------------------------------------------------------------------------- #
# Verbalization — services/crud/triple.py:179-262 parity
# --------------------------------------------------------------------------- #

def _props_phrase(props: dict[str, Any]) -> str:
    return ", ".join(
        f"{clean_text(str(key))} of {clean_text(str(value))}"
        for key, value in props.items()
    )


def convert_triple_to_text(triple: dict[str, Any], include_chunks: bool = False) -> str:
    """'<head> which is a <head_type>[ with k of v, ...] <relation> <tail>, a
    <tail_type>[ with ...][ due to ...]' — exact format of the reference."""
    s = f"{clean_text(str(triple['head']))} which is a {clean_text(str(triple['head_type']))}"
    hp = triple.get("head_properties")
    if hp:
        s += " with " + _props_phrase(hp)
    s += (
        f" {clean_text(str(triple['relation']))} "
        f"{clean_text(str(triple['tail']))}, a {clean_text(str(triple['tail_type']))}"
    )
    tp = triple.get("tail_properties")
    if tp:
        s += " with " + _props_phrase(tp)
    rp = triple.get("relation_properties")
    if rp:
        s += " due to " + _props_phrase(rp)
    if include_chunks and triple.get("chunks_content"):
        parts = []
        for chunk in triple["chunks_content"]:
            if isinstance(chunk, str):
                parts.append(clean_text(chunk))
            elif isinstance(chunk, dict):
                parts.append(
                    ", ".join(
                        f"{clean_text(str(k))}: {clean_text(str(v))}"
                        for k, v in chunk.items()
                    )
                )
        s += ". This is further explained by the chunks: " + " | ".join(parts)
    return s


# --------------------------------------------------------------------------- #
# Deterministic mention detection + schema-guided triple extraction.
# Stand-in for spaCy NER (utilities/builders.py:66-113) and the gpt-4o
# schema-guided extractor (utilities/builders.py:130-199): a gazetteer maps
# surface forms -> (canonical, type); a pattern matches when a head-typed and a
# tail-typed mention co-occur in one sentence with a relation trigger phrase
# between them. Same (chunk x pattern) -> [[head, tail], ...] contract as the
# reference's fetch_triples.
# --------------------------------------------------------------------------- #

_SENT_RE = re.compile(r"[^.!?\n]+[.!?]?")


def sentences(text: str) -> list[tuple[int, str]]:
    """(offset, sentence) pairs; deterministic regex segmentation."""
    return [(m.start(), m.group(0)) for m in _SENT_RE.finditer(text) if m.group(0).strip()]


_GAZ_RE_CACHE: dict[int, tuple[re.Pattern, dict[str, tuple[str, str]]]] = {}


def _gazetteer_regex(gazetteer: dict[str, tuple[str, str]]) -> re.Pattern:
    """One alternation regex over all surfaces, longest-first so the leftmost
    match is also the longest (greedy overlap resolution), word-bounded via
    alnum lookarounds. Compiled once per gazetteer per process — this is the
    executor-prologue model-load slot of the reference's spaCy extractor
    (utilities/builders.py:86-97)."""
    key = id(gazetteer)
    hit = _GAZ_RE_CACHE.get(key)
    if hit is not None and hit[1] is gazetteer:
        return hit[0]
    alts = "|".join(
        re.escape(s) for s in sorted(gazetteer, key=lambda s: (-len(s), s))
    )
    pat = re.compile(r"(?<![0-9A-Za-z])(" + alts + r")(?![0-9A-Za-z])", re.I)
    _GAZ_RE_CACHE[key] = (pat, gazetteer)
    return pat


def detect_mentions(
    text: str, gazetteer: dict[str, tuple[str, str]]
) -> list[dict[str, Any]]:
    """Find gazetteer surfaces in ``text`` (case-insensitive, word-bounded,
    non-overlapping, longest-surface-wins at each position).

    gazetteer: lowercase surface -> (canonical_name, entity_type).
    Returns [{surface, name, type, start, count}] sorted by first offset, then
    name — deterministic.
    """
    pat = _gazetteer_regex(gazetteer)
    found: dict[tuple[str, str], dict[str, Any]] = {}
    for m in pat.finditer(text):
        name, etype = gazetteer[m.group(1).lower()]
        key = (name, etype)
        if key in found:
            found[key]["count"] += 1
        else:
            found[key] = {
                "surface": m.group(1), "name": name, "type": etype,
                "start": m.start(1), "count": 1,
            }
    return sorted(found.values(), key=lambda d: (d["start"], d["name"]))


def extract_pattern_triples(
    text: str,
    patterns: list[dict[str, Any]],
    gazetteer: dict[str, tuple[str, str]],
) -> list[dict[str, str]]:
    """Schema-guided extraction over one chunk of text.

    patterns: [{head_type, relation, tail_type, triggers: [str, ...]}]
    Emits one {head, head_type, relation, tail, tail_type} per (sentence,
    pattern, head-mention, tail-mention) where a trigger phrase occurs between
    the two mentions (head before tail). Deduplicated per chunk, stable order.
    """
    out: list[dict[str, str]] = []
    seen: set[tuple[str, str, str]] = set()
    # pattern metadata (trigger defaulting/lowering) hoisted out of the
    # sentence loop and cached per pattern list (r6: it was re-derived per
    # sentence x pattern — pure per-task prep per the optimization guide's
    # "heavyweight init once"); mentions are grouped by type once per
    # sentence instead of re-filtered per pattern.
    prepped = _prep_patterns(patterns)
    for _off, sent in sentences(text):
        mentions = detect_mentions(sent, gazetteer)
        if len(mentions) < 2:
            continue
        sent_low = sent.lower()
        by_type: dict[str, list] = {}
        for m in mentions:
            by_type.setdefault(m["type"], []).append(m)
        for ht, rel, tt, triggers in prepped:
            heads = by_type.get(ht)
            tails = by_type.get(tt)
            if not heads or not tails:
                continue
            for hm in heads:
                h_name = hm["name"]
                h_end = hm["start"] + len(hm["surface"])
                for tm in tails:
                    if h_name == tm["name"] and ht == tt:
                        continue
                    b = tm["start"]
                    if hm["start"] >= b:
                        continue
                    between = sent_low[h_end:b]
                    if not any(t in between for t in triggers):
                        continue
                    key = (h_name, rel, tm["name"])
                    if key in seen:
                        continue
                    seen.add(key)
                    out.append(
                        {
                            "head": h_name, "head_type": ht,
                            "relation": rel,
                            "tail": tm["name"], "tail_type": tt,
                        }
                    )
    return out


_PAT_PREP_CACHE: dict[int, tuple[list, list]] = {}


def _prep_patterns(patterns: list[dict[str, Any]]) -> list[tuple]:
    """[(head_type, relation, tail_type, triggers)] with the trigger default
    applied — cached by pattern-list identity, so a long-lived task closure
    pays the prep once (same caching model as _gazetteer_regex)."""
    hit = _PAT_PREP_CACHE.get(id(patterns))
    if hit is not None and hit[1] is patterns:
        return hit[0]
    prepped = [
        (
            pat["head_type"], pat["relation"], pat["tail_type"],
            tuple(pat.get("triggers")
                  or [pat["relation"].replace("_", " ").lower()]),
        )
        for pat in patterns
    ]
    _PAT_PREP_CACHE[id(patterns)] = (prepped, patterns)
    return prepped


_ZS_REL_RE = re.compile(r"[^0-9a-zA-Z ]+")


def extract_zeroshot_triples(
    text: str, gazetteer: dict[str, tuple[str, str]], max_rel_words: int = 3
) -> list[dict[str, str]]:
    """Zero-shot (schema-free) extraction — deterministic stand-in for the
    reference's free-context LLM mode (utilities/builders.py:236-265, parsed
    by parse_response_into_triples :201-234 with its `count(",")==2` guard).

    For each sentence and each ordered mention pair, the relation is the
    cleaned text between the mentions when it is 1..max_rel_words words —
    the structural analog of accepting only well-formed "head,rel,tail"
    lines. Types come from the gazetteer; dedup per chunk, stable order."""
    out: list[dict[str, str]] = []
    seen: set[tuple[str, str, str]] = set()
    for _off, sent in sentences(text):
        mentions = detect_mentions(sent, gazetteer)
        for i, hm in enumerate(mentions):
            for tm in mentions[i + 1:]:
                if hm["name"] == tm["name"]:
                    continue
                between = sent[hm["start"] + len(hm["surface"]): tm["start"]]
                rel = _ZS_REL_RE.sub(" ", between)
                rel = re.sub(r" +", " ", rel).strip().lower()
                words = rel.split()
                if not 1 <= len(words) <= max_rel_words:
                    continue
                key = (hm["name"], rel, tm["name"])
                if key in seen:
                    continue
                seen.add(key)
                out.append(
                    {"head": hm["name"], "head_type": hm["type"],
                     "relation": rel,
                     "tail": tm["name"], "tail_type": tm["type"]}
                )
    return out


def extract_page_triples(
    html: bytes | str | None,
    text: str | None,
    lang: str,
    patterns: list[dict[str, Any]],
    gazetteer: dict[str, tuple[str, str]],
    max_chars: int = MAX_CHARS_PER_CHUNK,
) -> list[dict[str, Any]]:
    """Full per-page oracle: text -> chunks -> per-chunk pattern extraction.

    English-only (non-"en" pages produce no triples — filter case from
    FIXTURES.md §1). Returns triples tagged with chunk (start, end) provenance.
    This is the function the e2e P/R test compares the Spark pipeline against.
    """
    if lang != "en":
        return []
    full = page_text(html, text)
    out: list[dict[str, Any]] = []
    for ch in split_text_into_chunks(full, max_chars=max_chars):
        for t in extract_pattern_triples(ch["content"], patterns, gazetteer):
            out.append({**t, "start": ch["start"], "end": ch["end"]})
    return out
