"""Reference answers the engine's outputs are checked against.

``BM25Oracle`` is the scoring of ``tests/oracle_bm25.py`` (Lucene/tantivy
BM25, k1=1.2, b=0.75, the same tokenizer) over documents tokenised once,
so checking a sample of queries costs milliseconds instead of a
re-tokenisation of the corpus per query.
"""

from __future__ import annotations

import math
from collections import Counter

from ck_spark.constants import BM25_B, BM25_K1
from ck_spark.tokenizer import tokenize


# the tokenizer mode build_index uses by default
TOKENIZER_MODE = "code"
# relative score tolerance: the engine may sum a doc's term contributions
# in another order
SCORE_RTOL = 1e-9


class BM25Oracle:
    def __init__(self, docs: dict[int, str]):
        """docs: doc_id -> content of the indexed (non-binary) docs."""
        self.postings: dict[str, dict[int, int]] = {}
        self.doc_len: dict[int, int] = {}
        for d, text in docs.items():
            toks = tokenize(text, TOKENIZER_MODE)
            self.doc_len[d] = len(toks)
            for t, tf in Counter(toks).items():
                self.postings.setdefault(t, {})[d] = tf
        self.n = len(docs)
        self.avgdl = sum(self.doc_len.values()) / max(self.n, 1)

    def rank(self, query: str, k: int, mode: str) -> list[tuple[int, float]]:
        """[(doc_id, score)] sorted by (-score, doc_id), at most k."""
        q_terms = list(dict.fromkeys(tokenize(query, TOKENIZER_MODE)))
        if not q_terms or self.n == 0:
            return []
        scores: dict[int, float] = {}
        matched: Counter = Counter()
        for t in q_terms:
            post = self.postings.get(t)
            if not post:
                continue
            df = len(post)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for d, tf in post.items():
                dl = self.doc_len[d]
                scores[d] = scores.get(d, 0.0) + idf * tf * (BM25_K1 + 1.0) / (
                    tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / self.avgdl))
                matched[d] += 1
        if mode == "and":
            scores = {d: s for d, s in scores.items() if matched[d] == len(q_terms)}
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def same_ranking(got: list[tuple[int, float]], exp: list[tuple[int, float]]) -> bool:
    """Identical ids in identical order, scores equal to ``SCORE_RTOL``."""
    if [d for d, _ in got] != [d for d, _ in exp]:
        return False
    return all(math.isclose(g, e, rel_tol=SCORE_RTOL, abs_tol=1e-12)
               for (_, g), (_, e) in zip(got, exp))
