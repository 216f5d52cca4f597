"""Seeded inputs: the corpus, the interactive stream, search_many batches
and the ingest upsert batches. Every input is a pure function of the
workload seed; the engine only ever sees the generated data.

Query and pattern templates cycle in a fixed order and only the words
drawn into them depend on the seed, so every run sees the same mix of
term classes (rare, mid-frequency, ubiquitous) and triage tiers. That
keeps per-run medians comparable across seeds.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from ck_spark.corpus import IDENT_STEMS, RARE_TERMS, generate_corpus

# words every generated doc (def, return) or half of them (import) holds;
# the other corpus KEYWORDS never occur in generated docs or are stopwords
UBIQUITOUS = ["def", "return", "import"]

# (search classes, mode, regex template). Classes: r = rare, m = mid, u =
# ubiquitous. Regex templates take {r}, {r2} (rare) and {m}, {m2} (stems);
# the last one uses grams in every doc and so takes the SCAN tier.
TURN_TEMPLATES = [
    ("r", "or", "{r}"),
    ("mm", "or", r"{m}_{m2}_\w+"),
    ("rm", "and", "({r}|{r2})"),
    ("um", "and", r"def \w+\("),
]

BATCH_SIZE = 50
BATCH_K = 100
# search_many mix: weighted toward ubiquitous and mid-frequency terms,
# which make the postings scan and the scorer kernels do the work
BATCH_TEMPLATES = [("um", "or"), ("mm", "or"), ("u", "or"), ("mmm", "or"),
                   ("um", "and"), ("m", "or"), ("mm", "and"), ("rm", "or")]


@dataclass(frozen=True)
class Turn:
    query: str
    mode: str
    pattern: str


def _words(rng: np.random.Generator, classes: str) -> list[str]:
    pools = {"r": RARE_TERMS, "m": IDENT_STEMS, "u": UBIQUITOUS}
    out: list[str] = []
    for c in classes:
        pool = [w for w in pools[c] if w not in out]
        out.append(pool[int(rng.integers(len(pool)))])
    return out


def interactive_turns(seed: int, n: int) -> list[Turn]:
    """The first ``n`` turns of the interactive stream. Turn i uses
    template i mod len(TURN_TEMPLATES)."""
    rng = np.random.default_rng([seed, 1])
    turns = []
    for i in range(n):
        classes, mode, tmpl = TURN_TEMPLATES[i % len(TURN_TEMPLATES)]
        r, r2 = _words(rng, "rr")
        m, m2 = _words(rng, "mm")
        pattern = tmpl.format(r=r, r2=r2, m=m, m2=m2)
        turns.append(Turn(" ".join(_words(rng, classes)), mode, pattern))
    return turns


def batch_queries(seed: int, call: int) -> list[tuple[str, str]]:
    """One search_many batch: BATCH_SIZE (query, mode) pairs."""
    rng = np.random.default_rng([seed, 2, call])
    out = []
    for i in range(BATCH_SIZE):
        classes, mode = BATCH_TEMPLATES[i % len(BATCH_TEMPLATES)]
        out.append((" ".join(_words(rng, classes)), mode))
    return out


def marker(seed: int, upsert: int) -> str:
    """A token no generated doc holds; one per upsert. Lowercase
    letters and digits only, so the code tokenizer keeps it whole."""
    return f"zqmark{seed}u{upsert}"


def upsert_batches(corpus: pd.DataFrame, seed: int, n_upserts: int,
                   modified: int, added: int) -> list[pd.DataFrame]:
    """``n_upserts`` upsert batches, each ``modified`` docs of the base
    corpus with an edited line plus ``added`` new docs, every one of them
    carrying that upsert's marker token. Modified docs are disjoint
    across upserts, so a marker's doc set never changes after its
    commit."""
    rng = np.random.default_rng([seed, 3])
    order = rng.permutation(len(corpus))
    cols = ["repo", "path", "commit", "lang", "content"]
    out = []
    for u in range(n_upserts):
        tag = marker(seed, u)
        mod = corpus.iloc[order[u * modified:(u + 1) * modified]][cols].copy()
        mod["content"] = mod["content"] + f"# edited {tag}\n"
        new = generate_corpus(added, seed=seed * 1000 + u).iloc[:added][cols].copy()
        new["path"] = f"ingest/u{u}/" + new["path"]
        new["content"] = new["content"] + f"# added {tag}\n"
        out.append(pd.concat([mod, new], ignore_index=True))
    return out


def read_corpus(path: str) -> pd.DataFrame:
    """The generated corpus, read driver-side with pyarrow (no Spark job)."""
    return pq.read_table(path).to_pandas()
