"""Independent answers for the benchmark's correctness checks.

Replays the per-page logic of ``tests/oracle.py`` (the repository's
pure-Python twin of the corpus, extraction, linking and union-find)
over an arbitrary url window, where the oracle's own
``expected_output`` only covers ids ``0..n-1``.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

from arachne_spark.sources.dictionary import _PREDICATES, alias_rows

RECRAWL_EVERY = 10
GERMAN_EVERY, GERMAN_AT = 11, 7  # lang='de' rows, dropped by the pipeline


def load_oracle(root: Path):
    spec = importlib.util.spec_from_file_location(
        "kgbench_oracle", root / "tests" / "oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def url_of(uid: int) -> str:
    return f"https://example.org/p/{uid}"


def english(uid: int) -> bool:
    return uid % GERMAN_EVERY != GERMAN_AT


def latest_texts(oracle, url_ids) -> dict[str, str]:
    """url → extracted text of its latest snapshot, English pages only."""
    return {
        url_of(u): oracle.page_text(u, int(u % RECRAWL_EVERY == 0))
        for u in url_ids
        if english(u)
    }


def snapshot_texts(oracle, url_ids) -> list[tuple[str, str]]:
    """(url, text) of every staged snapshot of every English page."""
    out = []
    for u in url_ids:
        if not english(u):
            continue
        out.append((url_of(u), oracle.page_text(u, 0)))
        if u % RECRAWL_EVERY == 0:
            out.append((url_of(u), oracle.page_text(u, 1)))
    return out


class Linker:
    """The oracle's per-page mention, fuzzy-link and relation logic."""

    def __init__(self, oracle):
        self.o = oracle
        best: dict[str, tuple[int, str]] = {}
        for alias, qid, _kind, prio in alias_rows():
            if alias not in best or (prio, qid) < best[alias]:
                best[alias] = (prio, qid)
        self.alias_map = {a: q for a, (_p, q) in best.items()}
        self.pred_map = dict(_PREDICATES)
        self.fdict = oracle._fuzzy_dict()
        self.memo: dict[str, str | None] = {}

    def page(self, url: str, text: str, fuzzy: bool):
        """→ (triples, sameAs pairs) of one page, before canonicalization."""
        o = self.o
        tokens = o.tokenize(text)
        mentions = o.detect_mentions(tokens, self.alias_map)
        triples = {(url, "mentions", q) for _p, _n, q in mentions}
        if fuzzy:
            covered = {i for p, n, _ in mentions for i in range(p, p + n)}
            for i, tok in enumerate(tokens):
                if len(tok) < o.FUZZY_MIN_LEN or i in covered:
                    continue
                if tok not in self.memo:
                    self.memo[tok] = o.fuzzy_link(tok, self.fdict)
                if self.memo[tok]:
                    triples.add((url, "mentions", self.memo[tok]))
        same_as = []
        for p1, n1, q1 in mentions:
            for p2, _n2, q2 in mentions:
                gap = p2 - (p1 + n1)
                if 1 <= gap <= o.MAX_GAP:
                    pred = self.pred_map.get(" ".join(tokens[p1 + n1 : p2]))
                    if pred == "sameAs":
                        same_as.append((q1, q2))
                    elif pred:
                        triples.add((q1, pred, q2))
        return triples, same_as


def canonicalize(triples: set, same_as: list) -> set:
    """Union-find over sameAs pairs, min-(numeric, qid) representative."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def key(q):
        return int(q[1:]), q

    for a, b in same_as:
        ra, rb = find(a), find(b)
        if ra != rb:
            keep, drop = (ra, rb) if key(ra) < key(rb) else (rb, ra)
            parent[drop] = keep

    def canon(q):
        return find(q) if q in parent else q

    return {
        (s if p == "mentions" else canon(s), p, canon(o))
        for s, p, o in triples
    }


def batch_triples(oracle, texts: dict[str, str]) -> set:
    """run_pipeline's answer over ``texts``: exact + fuzzy mentions and
    relations, sameAs folded by union-find."""
    linker = Linker(oracle)
    triples, same_as = set(), []
    for url, text in texts.items():
        t, s = linker.page(url, text, fuzzy=True)
        triples |= t
        same_as += s
    return canonicalize(triples, same_as)


def stream_triples(oracle, snapshots: list[tuple[str, str]]) -> set:
    """run_incremental_pipeline's answer: exact mentions and relations
    (sameAs kept as a raw triple) over every snapshot; the stream path
    has no fuzzy linking and no canonicalization."""
    linker = Linker(oracle)
    out = set()
    for url, text in snapshots:
        t, same_as = linker.page(url, text, fuzzy=False)
        out |= t
        out |= {(a, "sameAs", b) for a, b in same_as}
    return out
