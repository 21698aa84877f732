"""Pure-Python reference answers the engine's outputs are checked against.

The oracle analyzes every document with the engine's own text kernel
(``analyze_document``) and scores with the engine's published BM25
constants (``K1``, ``B`` from ``plans.index_build``), but shares no Spark
code: top-k lists, boolean/phrase candidate sets and headline markup are
recomputed from scratch in plain Python.
"""

from __future__ import annotations

import math
import re

from pg_ts_semantic_headline_spark.functions.lexize import analyze_document
from pg_ts_semantic_headline_spark.plans.index_build import B, K1

from corpus import sha256_hex

SCORE_TOL = 1e-9
_RE_MARK = re.compile(r"<b>(.*?)</b>", re.S)


class OracleIndex:
    """In-memory positional index over the live documents."""

    def __init__(self, config: str):
        self.config = config
        self.docs: dict = {}      # doc_id -> (dl, {lex: [positions]}, sha)
        self.postings: dict = {}  # lex -> {doc_id: tf}
        self.total_dl = 0

    def put(self, doc_id: int, content: str) -> None:
        """Insert or replace one document."""
        if doc_id in self.docs:
            self._remove(doc_id)
        _, lexs = analyze_document(content, self.config)
        pos: dict = {}
        for i, lx in enumerate(lexs):
            if lx is not None:
                pos.setdefault(lx, []).append(i + 1)
        dl = sum(len(p) for p in pos.values())
        self.docs[doc_id] = (dl, pos, sha256_hex(content))
        self.total_dl += dl
        for lx, ps in pos.items():
            self.postings.setdefault(lx, {})[doc_id] = len(ps)

    def _remove(self, doc_id: int) -> None:
        dl, pos, _ = self.docs.pop(doc_id)
        self.total_dl -= dl
        for lx in pos:
            del self.postings[lx][doc_id]
            if not self.postings[lx]:
                del self.postings[lx]

    def df(self, lex: str) -> int:
        return len(self.postings.get(lex, ()))

    # ---- retrieval ----

    def scores(self, terms, candidates=None) -> dict:
        n = len(self.docs)
        avgdl = self.total_dl / n
        out: dict = {}
        for t in dict.fromkeys(terms):
            plist = self.postings.get(t)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, tf in plist.items():
                if candidates is not None and d not in candidates:
                    continue
                dl = self.docs[d][0]
                out[d] = out.get(d, 0.0) + idf * (tf * (K1 + 1)) / (
                    tf + K1 * (1 - B + B * dl / avgdl))
        return out

    def phrase_docs(self, items) -> set:
        lists = [self.postings.get(lx) for lx, _ in items]
        if not all(lists):
            return set()
        docs = set(min(lists, key=len))
        for pl in lists:
            docs &= pl.keys()
        if len(items) == 1:
            return docs
        p0 = items[0][1]
        out = set()
        for d in docs:
            pos = self.docs[d][1]
            rest = [(set(pos[lx]), p - p0) for lx, p in items[1:]]
            if any(all(x + off in ps for ps, off in rest)
                   for x in pos[items[0][0]]):
                out.add(d)
        return out

    def matching(self, node) -> set:
        if node is None:
            return set()
        if node.op == "phrase":
            return self.phrase_docs(node.phrase.items)
        if node.op == "not":
            return set(self.docs) - self.matching(node.children[0])
        sets = [self.matching(c) for c in node.children]
        out = sets[0]
        for s in sets[1:]:
            out = (out & s) if node.op == "and" else (out | s)
        return out

    def search(self, query, k: int, boolean: bool) -> tuple[list, dict]:
        """Full ranked list (score desc, doc_id asc) and the score map."""
        cands = self.matching(query.root) if boolean else None
        sc = self.scores(query.lexemes, cands)
        ranked = sorted(sc.items(), key=lambda x: (-x[1], x[0]))
        return ranked[:k], sc


def check_topk(got: list, want: list, scores: dict) -> str | None:
    """None when ``got`` is rank-identical to the oracle, else a reason.
    Positions whose oracle scores tie within SCORE_TOL may hold either
    document."""
    if len(got) != len(want):
        return f"{len(got)} hits, oracle has {len(want)}"
    for i, ((d, s), (wd, ws)) in enumerate(zip(got, want)):
        if d not in scores:
            return f"rank {i}: doc {d} should not match"
        if abs(s - scores[d]) > SCORE_TOL:
            return f"rank {i}: doc {d} score {s!r} != oracle {scores[d]!r}"
        if d != wd and abs(scores[d] - ws) > SCORE_TOL:
            return f"rank {i}: doc {d}, oracle ranks doc {wd} here"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    return None


def _segment_matches(segment: str, phrases, config: str) -> bool:
    _, lexs = analyze_document(segment, config)
    for ph in phrases:
        p0 = ph.items[0][1]
        span = ph.items[-1][1] - p0 + 1
        if len(lexs) != span:
            continue
        want = [None] * span
        for lx, p in ph.items:
            want[p - p0] = lx
        if all(w is None or w == g for w, g in zip(want, lexs)) \
                and lexs[0] is not None and lexs[-1] is not None:
            return True
    return False


def check_headline(text: str | None, query, require_mark: bool) -> str | None:
    """Every ``<b>…</b>`` must cover one whole, in-order occurrence of one
    of the query's phrases."""
    if text is None:
        return "null headline"
    marks = _RE_MARK.findall(text)
    if require_mark and not marks:
        return f"no highlighted phrase in {text[:80]!r}"
    for seg in marks:
        if not _segment_matches(seg, query.phrases, query.config):
            return f"highlight {seg!r} is not a whole query phrase"
    return None
