import hashlib
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from ck_spark.codec import decode_all_blocks, decode_all_u32_blocks
from ck_spark.corpus import generate_corpus
from ck_spark.index import build_index
from ck_spark.tokenizer import tokenize


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    pdf = generate_corpus(300, seed=42)
    corpus = spark.createDataFrame(pdf)
    paths = build_index(
        spark, corpus, root, mode="code", n_segments=4, term_buckets=8, build_groups=2
    )
    return paths, pdf


def _postings(spark, paths):
    return spark.read.parquet(paths.postings)


def test_sha256_ingest_invariant(spark, built):
    paths, pdf = built
    dm = spark.read.parquet(paths.doc_map).toPandas()
    expected = {
        (r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest()
        for r in pdf.itertuples()
    }
    assert len(dm) == len(pdf)
    for r in dm.itertuples():
        assert expected[(r.repo, r.path)] == r.content_sha256


def test_binary_and_empty_docs(spark, built):
    paths, pdf = built
    dm = spark.read.parquet(paths.doc_map).toPandas().set_index("path")
    assert bool(dm.loc["edge/binaryish.bin", "is_binary"])
    assert int(dm.loc["edge/empty.py", "doc_len"]) == 0
    # binary docs excluded from corpus stats
    stats = spark.read.parquet(paths.corpus_stats).collect()[0]
    n_nonbin = int((~dm["is_binary"]).sum())
    assert stats["n_docs"] == n_nonbin


def test_df_equals_decoded_posting_lengths(spark, built):
    paths, _ = built
    post = _postings(spark, paths).toPandas()
    ts = spark.read.parquet(paths.term_stats).toPandas().set_index("term")
    by_term = post.groupby("term")
    for term, grp in by_term:
        decoded_total = 0
        for r in grp.itertuples():
            ids = decode_all_blocks(list(r.ids_blocks))
            assert len(ids) == r.n_docs
            # sorted strictly increasing within (term, seg)
            assert np.all(np.diff(ids.astype(np.int64)) > 0)
            decoded_total += len(ids)
        assert ts.loc[term, "df"] == decoded_total
        assert ts.loc[term, "n_segments"] == len(grp)


def test_tf_sums_to_doc_len(spark, built):
    paths, _ = built
    post = _postings(spark, paths).toPandas()
    dm = spark.read.parquet(paths.doc_map).toPandas()
    doc_len = dict(zip(dm["doc_id"], dm["doc_len"]))
    acc: dict[int, int] = {}
    for r in post.itertuples():
        ids = decode_all_blocks(list(r.ids_blocks)).astype(np.int64)
        tfs = decode_all_u32_blocks(list(r.tfs_blocks))
        for d, tf in zip(ids.tolist(), tfs.tolist()):
            acc[d] = acc.get(d, 0) + int(tf)
    for d, total in acc.items():
        assert total == doc_len[d]
    # docs with tokens and not binary must appear
    indexed = set(acc)
    for r in dm.itertuples():
        if not r.is_binary and r.doc_len > 0:
            assert r.doc_id in indexed


def test_dls_match_doc_len_and_blockmeta(spark, built):
    paths, _ = built
    post = _postings(spark, paths).toPandas()
    dm = spark.read.parquet(paths.doc_map).toPandas()
    doc_len = dict(zip(dm["doc_id"], dm["doc_len"]))
    for r in post.itertuples():
        ids = decode_all_blocks(list(r.ids_blocks)).astype(np.int64)
        dls = decode_all_u32_blocks(list(r.dls_blocks))
        for d, dl in zip(ids.tolist(), dls.tolist()):
            assert dl == doc_len[d]
        nblocks = (r.n_docs + 127) // 128
        assert len(list(r.block_max)) == nblocks
        assert len(list(r.block_last)) == nblocks
        assert list(r.block_last)[-1] == int(ids[-1])


def test_skewed_term_spans_segments(spark, built):
    paths, _ = built
    post = _postings(spark, paths)
    segs = post.where(F.col("term") == "def").select("seg").distinct().count()
    assert segs == 4  # ubiquitous term split across every doc-hash segment


def test_resume_skips_completed_and_rebuilds_killed_group(spark, built, tmp_path):
    paths, pdf = built
    root2 = str(tmp_path / "idx2")
    corpus = spark.createDataFrame(pdf)
    build_index(spark, corpus, root2, mode="code", n_segments=4,
                term_buckets=8, build_groups=2)

    def snapshot_postings(p):
        df = _postings(spark, p).toPandas()
        out = {}
        for r in df.itertuples():
            ids = decode_all_blocks(list(r.ids_blocks)).astype(np.int64)
            out[(r.term, int(r.seg))] = ids.tolist()
        return out

    before = snapshot_postings(type(paths)(root2))
    # simulate a crash mid-way through segment-group 1 (segs 1 and 3):
    # partial seg dir, no manifest record
    p2 = type(paths)(root2)
    os.remove(os.path.join(root2, "manifest", "stage-postings-1.json"))
    shutil.rmtree(os.path.join(p2.postings, "seg=3"))
    shutil.rmtree(os.path.join(p2.postings, "seg=1"))
    os.makedirs(os.path.join(p2.postings, "seg=1"))  # partial leftover
    # resume: must rebuild ONLY group 1 (doc_map mtime unchanged)
    dm_mtime = os.path.getmtime(p2.doc_map)
    build_index(spark, corpus, root2, mode="code", n_segments=4,
                term_buckets=8, build_groups=2)
    assert os.path.getmtime(p2.doc_map) == dm_mtime
    after = snapshot_postings(p2)
    assert before == after


def test_manifest_lineage_and_metrics(built):
    paths, _ = built
    man_dir = os.path.join(paths.root, "manifest")
    recs = [json.load(open(os.path.join(man_dir, f)))
            for f in os.listdir(man_dir) if f.startswith("stage-")]
    stages = {r["stage"] for r in recs}
    assert {"doc_map", "corpus_stats", "postings", "term_stats"} <= stages
    for r in recs:
        assert r["status"] == "complete"
        assert r["build_ms"] >= 0
        assert r["lineage"]
    meta = json.load(open(os.path.join(man_dir, "index_meta.json")))
    assert meta["tokenizer_mode"] == "code"
    assert meta["n_segments"] == 4


def test_doc_len_matches_tokenizer(spark, built):
    paths, pdf = built
    dm = spark.read.parquet(paths.doc_map).toPandas().set_index(["repo", "path"])
    for r in pdf.itertuples():
        row = dm.loc[(r.repo, r.path)]
        if row["is_binary"]:
            # binary docs are excluded from the index; doc_len is 0
            assert row["doc_len"] == 0
        else:
            assert row["doc_len"] == len(tokenize(r.content, "code"))


@pytest.mark.parametrize("groups", [0, -1])
def test_build_groups_below_one_is_rejected(tmp_path, groups):
    # validated before any Spark work or write: no session, no directory
    out = tmp_path / "index"
    with pytest.raises(ValueError, match="build_groups must be >= 1"):
        build_index(None, None, str(out), build_groups=groups)
    assert not out.exists()
