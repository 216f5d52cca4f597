import numpy as np
import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.index import build_index
from ck_spark.query import BM25Index
from tests.oracle_bm25 import bm25_rank


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bm25idx"))
    pdf = generate_corpus(300, seed=42)
    corpus = spark.createDataFrame(pdf)
    # block_size=16 so ubiquitous terms span multiple blocks per segment —
    # exercises multi-block decode and WAND block skipping
    build_index(spark, corpus, root, mode="code", n_segments=4,
                term_buckets=8, build_groups=2, block_size=16)
    idx = BM25Index.load(spark, root)
    # oracle corpus: non-binary docs keyed by the engine's doc ids
    dm = spark.read.parquet(idx.paths.doc_map).toPandas()
    key2id = {(r.repo, r.path): r.doc_id for r in dm.itertuples()}
    docs = {
        key2id[(r.repo, r.path)]: r.content
        for r in pdf.itertuples()
        if "\x00" not in r.content
    }
    return idx, docs


def _run(idx, query, k=10, mode="or", **kw):
    rows = idx.search(query, k=k, mode=mode, **kw).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def _assert_matches_oracle(idx, docs, query, k=10, mode="or", strategy="auto"):
    got = _run(idx, query, k=k, mode=mode, strategy=strategy)
    exp = bm25_rank(docs, query, k=k, mode=mode, tokenizer_mode="code")
    assert [d for d, _ in got] == [d for d, _ in exp], f"rank mismatch for {query!r}"
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9, atol=1e-12
    )


def _rare_term(docs):
    from ck_spark.corpus import RARE_TERMS
    from ck_spark.tokenizer import tokenize

    present = [t for t in RARE_TERMS if any(t in tokenize(c, "code") for c in docs.values())]
    assert present, "corpus should contain at least one rare marker term"
    return present[0]


QUERIES = [
    "tokenizer",          # single term
    "def",                # ubiquitous (skew/salting path)
    "parse buffer",       # multi-term
    "buffer parse error", # multi-term incl. possibly-absent term
    "getUserName",        # camelCase -> [get, user, name]
    "merge split cache",
]


@pytest.mark.parametrize("query", QUERIES)
def test_or_rank_identity(engine, query):
    idx, docs = engine
    _assert_matches_oracle(idx, docs, query, k=10, mode="or")


@pytest.mark.parametrize("query", ["parse buffer", "def return", "merge split cache"])
def test_and_rank_identity(engine, query):
    idx, docs = engine
    _assert_matches_oracle(idx, docs, query, k=10, mode="and")


def test_rare_term_rank_identity(engine):
    idx, docs = engine
    _assert_matches_oracle(idx, docs, _rare_term(docs), k=10, mode="or")


@pytest.mark.parametrize("strategy", ["wand", "maxscore"])
def test_pruned_strategies_equal_exhaustive(engine, strategy):
    """All three OR strategies must be rank- AND score-identical; only the
    amount of block decoding differs (block-skip soundness proof)."""
    idx, docs = engine
    # scores within 1 ulp (different docs, float-associativity of the
    # per-strategy accumulation order) are genuine ties: canonicalize by
    # (score@9dp desc, doc_id) before comparing ranks
    canon = lambda rows: sorted(rows, key=lambda t: (-round(t[1], 9), t[0]))  # noqa: E731
    for q in ["def", "parse buffer", "merge split cache", _rare_term(docs)]:
        for k in (1, 5, 50):
            a = canon(_run(idx, q, k=k, strategy=strategy))
            b = canon(_run(idx, q, k=k, strategy="exhaustive"))
            assert [d for d, _ in a] == [d for d, _ in b], (q, k, strategy)
            np.testing.assert_allclose(
                [s for _, s in a], [s for _, s in b], rtol=1e-9
            )


def test_topk_edges(engine):
    idx, docs = engine
    # k=1
    _assert_matches_oracle(idx, docs, "parse buffer", k=1)
    # k > n_matches: rare term appears in few docs
    rare = _rare_term(docs)
    got = _run(idx, rare, k=500)
    exp = bm25_rank(docs, rare, k=500, tokenizer_mode="code")
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert 0 < len(got) < 100
    # default k mirrors ck's lexical default (100)
    assert idx.search("def").count() == 100


def test_unknown_and_empty_queries(engine):
    idx, _ = engine
    assert _run(idx, "xylophonequasar") == []
    assert _run(idx, "") == []
    assert _run(idx, "the a an") == []  # pure stopwords in code mode
    # AND with one unknown term matches nothing
    assert _run(idx, "parse xylophonequasar", mode="and") == []
    # OR with one unknown term still matches the known one
    assert len(_run(idx, "parse xylophonequasar", mode="or")) > 0


def test_normalize_and_threshold(engine):
    idx, docs = engine
    rows = idx.search("parse buffer", k=10, normalize=True).collect()
    scores = [r["score"] for r in rows]
    assert abs(max(scores) - 1.0) < 1e-12
    assert all(0 < s <= 1.0 + 1e-12 for s in scores)
    # order preserved vs unnormalized
    raw = _run(idx, "parse buffer", k=10)
    assert [r["doc_id"] for r in rows] == [d for d, _ in raw]
    # threshold filters
    thr = idx.search("parse buffer", k=10, normalize=True, threshold=0.9).collect()
    assert all(r["score"] >= 0.9 for r in thr)
    assert len(thr) < len(rows)


def test_search_many_matches_individual(engine):
    idx, docs = engine
    batch = [("parse buffer", "or"), ("def return", "and"),
             ("getUserName", "or"), ("nonexistentterm", "or")]
    rows = idx.search_many(batch, k=8).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, (q, m) in enumerate(batch):
        single = _run(idx, q, k=8, mode=m)
        got = by_q.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in single], (qid, q)
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in single], rtol=1e-12
        )


def test_search_many_syntax_mode_matches_search_query(engine):
    """Batched syntax queries (+must/-not/"phrase"/-"phrase") must be
    rank- and score-identical to individual search_query calls."""
    idx, docs = engine
    batch = [
        ("parse -buffer", "syntax"),
        ("+parse +buffer", "syntax"),
        ('"parse buffer"', "syntax"),
        ('parse -"parse buffer"', "syntax"),
        ("parse buffer", "or"),  # mixed batch: plain modes still work
    ]
    rows = idx.search_many(batch, k=8).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, (q, m) in enumerate(batch):
        if m == "syntax":
            single = _run_sq(idx, q, k=8)
        else:
            single = _run(idx, q, k=8, mode=m)
        got = by_q.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in single], (qid, q)
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in single], rtol=1e-12
        )


def test_search_many_scoped(engine):
    """include_prefixes scoping applies to every query in the batch and
    matches the individually-scoped search."""
    idx, docs = engine
    dm = idx.spark.read.parquet(idx.paths.doc_map).select("path").collect()
    prefix = sorted({r["path"][:8] for r in dm})[0]
    rows = idx.search_many(
        [("parse buffer", "or")], k=8, include_prefixes=[prefix]
    ).collect()
    single = idx.search("parse buffer", k=8, include_prefixes=[prefix]).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in single
    ]


def test_duplicate_content_both_ranked(engine):
    idx, docs = engine
    got = _run(idx, "duplicated content", k=10, mode="and")
    assert len(got) >= 2
    # identical content -> identical scores for the two dup docs
    top2 = got[:2]
    assert abs(top2[0][1] - top2[1][1]) < 1e-12
    assert top2[0][0] < top2[1][0]  # deterministic tie-break by doc_id


# ---- tantivy-QueryParser-style syntax (boolean.py + search_query) -----------


def _corpus_df(spark, docs_by_id):
    # rebuild the corpus frame the engine fixture was built from
    from ck_spark.corpus import generate_corpus

    return spark.createDataFrame(generate_corpus(300, seed=42))


def test_parse_query_grammar():
    from ck_spark.query.boolean import parse_query

    pq = parse_query('parse +buffer -cache "token index"', mode="code")
    assert pq.should == ["parse"]
    assert pq.must == ["buffer"]
    assert pq.must_not == ["cache"]
    assert pq.phrases == [["token", "index"]]
    # AND promotes bare terms to must
    pq2 = parse_query("parse AND buffer", mode="code")
    assert set(pq2.must) == {"parse", "buffer"} and pq2.should == []
    # camelCase splits inside operators too
    pq3 = parse_query("+getUserName", mode="code")
    assert pq3.must == ["get", "user", "name"]


def test_search_query_pure_modes_match_search(spark, engine):
    """Bare terms == OR mode; AND keyword == AND mode; +every-term == AND."""
    idx, docs = engine
    a = _run_sq(idx, "parse buffer", k=10)
    b = _run(idx, "parse buffer", k=10)
    assert a == b
    c = _run_sq(idx, "parse AND buffer", k=10)
    d = _run(idx, "parse buffer", k=10, mode="and")
    assert c == d
    assert _run_sq(idx, "+parse +buffer", k=10) == d


def _run_sq(idx, q, k=10, corpus=None):
    rows = idx.search_query(q, k=k, corpus=corpus).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def test_search_query_must_not(spark, engine):
    """'parse -buffer': docs with parse and WITHOUT buffer, scored by the
    parse contribution only — cross-checked against the pure-Python oracle
    on the filtered doc set (idf/avgdl stay corpus-global)."""
    from ck_spark.tokenizer import tokenize

    idx, docs = engine
    got = _run_sq(idx, "parse -buffer", k=10)
    assert got, "expected hits"
    with_buffer = {d for d, c in docs.items() if "buffer" in tokenize(c, "code")}
    assert all(d not in with_buffer for d, _ in got)
    exp_full = bm25_rank(docs, "parse", k=len(docs), tokenizer_mode="code")
    exp = [(d, s) for d, s in exp_full if d not in with_buffer][:10]
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9)


def test_search_query_mixed_must_should(spark, engine):
    """'+parse buffer': parse required, buffer optional but scored."""
    from ck_spark.tokenizer import tokenize

    idx, docs = engine
    got = _run_sq(idx, "+parse buffer", k=15)
    with_parse = {d for d, c in docs.items() if "parse" in tokenize(c, "code")}
    assert got and all(d in with_parse for d, _ in got)
    # oracle: OR scores over both terms, restricted to docs containing parse
    exp_full = bm25_rank(docs, "parse buffer", k=len(docs), tokenizer_mode="code")
    exp = [(d, s) for d, s in exp_full if d in with_parse][:15]
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9)


def test_search_query_phrase(spark, engine):
    """Phrase: candidates must contain the tokens ADJACENTLY under the
    index's tokenizer (code mode here: camelCase splits count as
    adjacency); scores are the BM25 sum of the phrase terms."""
    from ck_spark.query.boolean import phrases_match_text
    from ck_spark.tokenizer import tokenize

    idx, docs = engine
    corpus = _corpus_df(spark, docs)

    def adjacent(c, p):
        # gap-numbering oracle: consecutive POSITIONS, not consecutive
        # filtered tokens (a stopword between the words breaks the phrase)
        return phrases_match_text(c, [p], "code")

    # find a token bigram adjacent in a nonempty strict subset of docs
    phrase = None
    for content in docs.values():
        ts = tokenize(content, "code")
        for off in (10, 20, 3):
            if len(ts) > off + 1:
                cand = [ts[off], ts[off + 1]]
                n = sum(1 for c in docs.values() if adjacent(c, cand))
                if 1 <= n <= 150:
                    phrase = cand
                    break
        if phrase:
            break
    assert phrase is not None
    q = f'"{phrase[0]} {phrase[1]}"'
    got = _run_sq(idx, q, k=500, corpus=corpus)
    matching = {d for d, c in docs.items() if adjacent(c, phrase)}
    assert got and {d for d, _ in got} == matching
    exp_full = bm25_rank(docs, f"{phrase[0]} {phrase[1]}", k=len(docs),
                         tokenizer_mode="code")
    exp = [(d, s) for d, s in exp_full if d in matching][: len(got)]
    assert [d for d, _ in got] == [d for d, _ in exp]
    # v5 index: the phrase resolves INDEX-ONLY — no corpus argument, and
    # the results are identical to the corpus-verified path
    got_index_only = _run_sq(idx, q, k=500)
    assert got_index_only == got
    # legacy pre-v5 fallback (positions flag off): corpus-scan adjacency
    # must agree with the positions path, and no-corpus must raise
    from ck_spark.query.bm25 import BM25Index

    idx_nopos = BM25Index(idx.spark, idx.paths, {**idx.meta, "with_positions": False})
    assert _run_sq(idx_nopos, q, k=500, corpus=corpus) == got
    with pytest.raises(ValueError, match="corpus"):
        idx_nopos.search_query(q, k=5)


def test_search_query_phrase_code_mode_camelcase_adjacency(spark, engine):
    """camelCase identifiers tokenize into adjacent terms: the phrase
    '"batch buffer ctx"' must match docs whose only occurrence is the
    identifier batchBufferCtx (the separator-regex approach would miss
    them)."""
    from ck_spark.query.boolean import phrases_match_text

    idx, docs = engine
    corpus = _corpus_df(spark, docs)
    ident_docs = {d for d, c in docs.items() if "batchBufferCtx" in c}
    if not ident_docs:
        pytest.skip("corpus draw lacks the identifier")
    got = {d for d, _ in _run_sq(idx, '"batch buffer ctx"', k=500, corpus=corpus)}

    def adjacent(c):
        return phrases_match_text(c, [["batch", "buffer", "ctx"]], "code")

    expected = {d for d, c in docs.items() if adjacent(c)}
    assert got == expected
    assert ident_docs <= got


def test_search_query_edge_cases(spark, engine):
    idx, _ = engine
    assert _run_sq(idx, "-parse") == []          # pure negation matches nothing
    assert _run_sq(idx, "") == []
    assert _run_sq(idx, "+xylophonequasar parse") == []  # unknown must
    # unknown must_not is just ignored
    assert _run_sq(idx, "parse -xylophonequasar") == _run(idx, "parse")[:100]




def _check_1k_batch(idx, docs):
    """A 1000-query OR batch: most queries hit something, and sampled
    queries stay rank- and score-identical to individual searches."""
    import numpy as np

    from ck_spark.tokenizer import tokenize

    vocab = []
    for c in list(docs.values())[:150]:
        vocab.extend(tokenize(c, "code")[:20])
    vocab = list(dict.fromkeys(vocab))
    rng = np.random.default_rng(7)
    batch = [
        (" ".join(vocab[i] for i in rng.choice(len(vocab), 3, replace=False)),
         "or")
        for _ in range(1000)
    ]
    rows = idx.search_many(batch, k=5).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert len(by_q) > 500  # most queries hit something
    for qid in rng.choice(1000, size=5, replace=False):
        q, m = batch[int(qid)]
        single = _run(idx, q, k=5, mode=m)
        got = by_q.get(int(qid), [])
        assert [d for d, _ in got] == [d for d, _ in single], (qid, q)
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in single], rtol=1e-12
        )


def test_search_many_1k_queries_broadcast_plans(engine, monkeypatch):
    """1000-query batch (VERDICT r3 ask #8) on the distributed tier: the
    plan set ships via a broadcast variable (>=512 plans) and the term
    filter is a parsed SQL IN (no per-literal py4j cost). The batch's
    posting mass fits the driver tier, so the cap is forced to -1."""
    from ck_spark.query import bm25

    monkeypatch.setattr(bm25, "LOCAL_POSTINGS_MAX", -1)
    _check_1k_batch(*engine)


def test_search_many_1k_queries_driver_tier(engine, monkeypatch):
    """The same 1000-query batch scored on the driver tier."""
    keys = []
    orig = BM25Index._finish_local
    monkeypatch.setattr(
        BM25Index, "_finish_local",
        lambda self, *a, **kw: keys.append(kw.get("key")) or orig(self, *a, **kw))
    _check_1k_batch(*engine)
    assert "query_id" in keys
