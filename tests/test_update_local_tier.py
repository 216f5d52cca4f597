"""Driver-local write tier (index/builder.py _stage_local): a small
update runs on the driver — in no Spark job when its input is a local
relation or a bare local parquet scan, in one (the chunked collect)
otherwise — and stages a generation identical to the Spark tier's
(_stage_spark), through the one shared commit. The Spark tier is forced
by monkeypatching the input cap LOCAL_UPDATE_MAX_DOCS to 0."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.index import build_index, builder, lsm
from ck_spark.index.builder import (
    POSTINGS_SCHEMA,
    TERM_STATS_SCHEMA,
    compact_index,
    doc_map_schema,
    update_index,
)
from ck_spark.index.content_store import (
    _PTR_TABLE_SCHEMA,
    build_content_store,
    content_store_exists,
    fetch_local,
)
from ck_spark.index.manifest import Manifest
from ck_spark.plans.schemas import arrow_dataset
from ck_spark.query.bm25 import BM25Index
from ck_spark.query.trigram import (
    TrigramIndex,
    _read_trigram_marker,
    build_trigram_index,
    trigram_dnf,
)
from tests.conftest import spark_jobs

QUERIES = [("parse buffer", "or"), ("def return", "and"),
           ("catalyst marker", "or"), ("totally new function", "and")]
PATTERNS = ["parse_buffer", "catalyst", "def totally", "return x"]


def _with_tier(monkeypatch, tier: str, fn, force: bool = True):
    """Run fn() with the tier forced ("spark": input cap 0; force=False
    leaves the caps as they are) and assert that exactly that tier
    staged the update."""
    ran = []

    def spy(name):
        orig = getattr(builder, name)

        def wrapped(*a, **k):
            ran.append(name)
            return orig(*a, **k)
        return wrapped

    with monkeypatch.context() as m:
        for name in ("_stage_local", "_stage_spark"):
            m.setattr(builder, name, spy(name))
        if tier == "spark" and force:
            m.setattr(builder, "LOCAL_UPDATE_MAX_DOCS", 0)
        out = fn()
    assert ran == [{"driver": "_stage_local", "spark": "_stage_spark"}[tier]]
    return out


def _edit(base: pd.DataFrame, rnd: int) -> pd.DataFrame:
    """A full snapshot: modify 3 docs (one of them into a binary doc),
    remove 2, add 2 (one binary)."""
    out = base.copy().reset_index(drop=True)
    rng = np.random.RandomState(40 + rnd)
    idx = rng.choice(len(out), size=5, replace=False)
    out.loc[idx[0], "content"] = "def totally_new_function(x):\n    return x\n"
    out.loc[idx[1], "content"] += f"\n# catalyst marker round {rnd}\n"
    out.loc[idx[2], "content"] += "\x00binary tail"
    out = out.drop(index=idx[3:]).reset_index(drop=True)
    extra = generate_corpus(4, seed=900 + rnd).iloc[:2].copy()
    extra["path"] = [f"new{rnd}/a.py", f"new{rnd}/b.bin"]
    extra.iloc[1, extra.columns.get_loc("content")] = "PK\x00\x01 catalyst blob"
    return pd.concat([out, extra], ignore_index=True)


def _upsert(base: pd.DataFrame, rnd: int) -> pd.DataFrame:
    """An upsert batch: 2 modified docs and 1 new one."""
    mod = base.iloc[[3, 11]].copy()
    mod["content"] += f"\n# parse buffer catalyst upsert {rnd}\n"
    new = generate_corpus(3, seed=950 + rnd).iloc[:1].copy()
    new["path"] = [f"up{rnd}/c.py"]
    return pd.concat([mod, new], ignore_index=True)


def _removal(base: pd.DataFrame, rnd: int) -> pd.DataFrame:
    return base.drop(index=base.index[[2, 9, 30, 31]]).reset_index(drop=True)


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """'store': stored content, trigram index and content store.
    'plain': no stored content (no derived stores; dead term sets come
    from the stored tfm maps)."""
    tmp = tmp_path_factory.mktemp("write_tier")
    corpus = generate_corpus(110, seed=31)
    out = {}
    for name, store_content in (("store", True), ("plain", False)):
        root = str(tmp / name)
        build_index(spark, spark.createDataFrame(corpus), root, n_segments=3,
                    term_buckets=8, build_groups=2, store_content=store_content)
        if store_content:
            build_trigram_index(spark, None, root)
            build_content_store(spark, root)
        out[name] = root
    return tmp, corpus, out


def _rows(ds, sort_by, **kw) -> list:
    df = ds.to_table(**kw).to_pandas()
    df = df.sort_values(list(sort_by), kind="stable").reset_index(drop=True)
    return df.to_dict("records")


def _plain(v):
    """Arrow-decoded values made comparable: arrays and map entry lists."""
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v]
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_plain(x) for x in v)
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, float) and np.isnan(v):
        return "nan"
    return v


def _state(spark, root: str) -> dict:
    """Everything an update writes or answers, tier-independent parts."""
    meta = Manifest(root).load_meta()
    st = {k: meta.get(k) for k in ("gens", "n_docs", "avgdl", "total_tokens",
                                   "input_snapshot", "n_terms", "n_tombstones",
                                   "term_stats_dir")}
    store_content = bool(meta.get("store_content"))
    for g in lsm.live_gens(meta):
        st[f"doc_map{g}"] = _plain(_rows(arrow_dataset(
            lsm.delta_doc_map_dir(root, g), doc_map_schema(store_content),
            ("seg",)), ["doc_id"]))
        st[f"postings{g}"] = _plain(_rows(arrow_dataset(
            lsm.delta_postings_dir(root, g), POSTINGS_SCHEMA + ", seg int, bucket int",
            ("seg",)), ["seg", "term"]))
    if os.path.isdir(lsm.tombstones_dir(root)):
        st["tombstones"] = _rows(arrow_dataset(
            lsm.tombstones_dir(root), lsm._TOMBSTONE_SCHEMA, ("created",)),
            ["created", "gen", "doc_id"])
    st["term_stats"] = _rows(arrow_dataset(lsm.term_stats_path(root, meta),
                                           TERM_STATS_SCHEMA), ["term"])
    st["corpus_stats"] = _rows(arrow_dataset(
        os.path.join(root, "corpus_stats"), builder.CORPUS_STATS_SCHEMA), ["n_docs"])
    idx = BM25Index.load(spark, root)
    for q, mode in QUERIES:
        st[f"search:{q}:{mode}"] = [(r["doc_id"], r["score"])
                                    for r in idx.search(q, k=10, mode=mode).collect()]
    st["search_query"] = [(r["doc_id"], r["score"]) for r in
                          idx.search_query('+parse -"merge split"', k=10).collect()]
    st["search_many"] = [(r["query_id"], r["doc_id"], r["score"]) for r in
                         idx.search_many([(q, m) for q, m in QUERIES], k=5).collect()]
    if content_store_exists(root):
        ptr = _rows(arrow_dataset(os.path.join(root, "content_store", "ptr"),
                                  _PTR_TABLE_SCHEMA, ("seg",)), ["doc_id"],
                    columns=["doc_id", "repo", "path", "lang", "raw_len",
                             "is_binary", "seg"])
        st["pointers"] = ptr
        got = fetch_local(root, [r["seg"] for r in ptr], [r["doc_id"] for r in ptr])
        st["fetched"] = sorted(zip(got["doc_id"], got["content"]))
    if _read_trigram_marker(root):
        m = _read_trigram_marker(root)
        st["trigram_marker"] = {k: m[k] for k in ("n_apps", "delta_docs", "rows")}
        tri = TrigramIndex.load(spark, root)
        for p in PATTERNS:
            st[f"candidates:{p}"] = sorted(
                map(tuple, tri.candidates_local(trigram_dnf(p))[["seg", "doc_id"]]
                    .to_numpy().tolist()))
    return st


def _no_timings(stats: dict) -> dict:
    return {k: v for k, v in stats.items() if k not in ("build_ms", "stage_ms")}


SCENARIOS = {
    # (base, [(edit, full_snapshot), ...]): two successive generations
    "snapshot_then_upsert": ("store", [(_edit, True), (_upsert, False)]),
    "pure_removal": ("store", [(_removal, True)]),
    "store_less": ("plain", [(_edit, True), (_upsert, False)]),
}


def _input_df(spark, batch: pd.DataFrame, source: str, path: str):
    """The batch as the update's input: a local relation ("pandas") or a
    bare scan of one parquet file ("parquet")."""
    if source == "pandas":
        return spark.createDataFrame(batch)
    batch.to_parquet(path, index=False)
    return spark.read.parquet(path)


def _spy_direct_reads(monkeypatch) -> list:
    """Record the direct parquet reads _collect_input takes."""
    calls = []
    orig = builder._read_parquet_input

    def spy(files, *a):
        calls.append(files)
        return orig(files, *a)

    monkeypatch.setattr(builder, "_read_parquet_input", spy)
    return calls


@pytest.mark.parametrize("scenario", list(SCENARIOS))
def test_tiers_stage_identical_generations(spark, bases, monkeypatch, scenario):
    """Both tiers, the same updates on copies of one index: equal stats
    (but timings), generation files, term dictionary, pointer rows,
    trigram candidates, bit-identical search answers — and a compaction
    that verifies (no drift) to the same fingerprint."""
    _check_tiers_identical(spark, bases, monkeypatch, scenario, "pandas")


@pytest.mark.parametrize("scenario", list(SCENARIOS))
def test_tiers_stage_identical_generations_from_parquet(spark, bases,
                                                        monkeypatch, scenario):
    """test_tiers_stage_identical_generations with parquet batches: the
    driver tier stages from the direct read."""
    _check_tiers_identical(spark, bases, monkeypatch, scenario, "parquet")


def _check_tiers_identical(spark, bases, monkeypatch, scenario, source):
    tmp, corpus, roots = bases
    base_name, steps = SCENARIOS[scenario]
    states, stats = {}, {}
    direct = _spy_direct_reads(monkeypatch)
    for tier in ("driver", "spark"):
        root = str(tmp / f"{scenario}_{source}_{tier}")
        shutil.copytree(roots[base_name], root)
        cur, log = corpus, []
        for rnd, (edit, full) in enumerate(steps, start=1):
            batch = edit(cur, rnd)
            cur = batch if full else cur
            df = _input_df(spark, batch, source, f"{root}_batch{rnd}.parquet")
            log.append(_no_timings(_with_tier(
                monkeypatch, tier,
                lambda: update_index(spark, df, root, full_snapshot=full))))
        if source == "parquet" and tier == "driver":
            assert len(direct) == len(steps)
        stats[tier] = log
        states[tier] = _state(spark, root)
        assert compact_index(spark, root) is True
        states[tier]["compacted"] = Manifest(root).load_meta()["input_snapshot"]
    assert stats["driver"] == stats["spark"]
    assert states["driver"].keys() == states["spark"].keys()
    for key in states["spark"]:
        assert states["driver"][key] == states["spark"][key], key


def test_small_upsert_runs_at_most_one_job(spark, bases, tmp_path):
    """A 15-doc upsert (the benchmark's shape: a parquet batch) on an
    index with a trigram index and a content store runs at most one
    Spark job — the collect of its input — and stays searchable."""
    tmp, corpus, roots = bases
    root = str(tmp_path / "jobs")
    shutil.copytree(roots["store"], root)
    batch = corpus.iloc[:10].copy()
    batch["content"] += "\n# zzjobprobe marker\n"
    new = generate_corpus(8, seed=77).iloc[:5].copy()
    new["path"] = [f"jobs/{i}.py" for i in range(5)]
    new["content"] += "\n# zzjobprobe marker\n"
    path = str(tmp_path / "batch.parquet")
    pd.concat([batch, new], ignore_index=True).to_parquet(path, index=False)
    df = spark.read.parquet(path)
    stats, jobs = spark_jobs(
        spark, lambda: update_index(spark, df, root, full_snapshot=False))
    assert (stats["added"], stats["modified"]) == (5, 10)
    assert len(jobs) <= 1, jobs
    hits = BM25Index.load(spark, root).search("zzjobprobe", k=50).collect()
    assert len(hits) == 15


def _marked_batch(corpus: pd.DataFrame, marker: str) -> pd.DataFrame:
    """10 modified docs and 5 new ones, each carrying `marker`."""
    batch = corpus.iloc[:10].copy()
    new = generate_corpus(8, seed=78).iloc[:5].copy()
    new["path"] = [f"{marker}/{i}.py" for i in range(5)]
    batch = pd.concat([batch, new], ignore_index=True)
    batch["content"] += f"\n# {marker} marker\n"
    return batch


@pytest.mark.parametrize("source", ["parquet", "pandas"])
def test_small_upsert_runs_no_spark_job(spark, bases, tmp_path, source):
    """A 15-doc upsert whose input is a bare parquet scan or a local
    relation, on an index with a trigram index and a content store, runs
    no Spark job — the input read included — and stays searchable."""
    tmp, corpus, roots = bases
    root = str(tmp_path / "jobs")
    shutil.copytree(roots["store"], root)
    marker = f"zznojob{source}"
    df = _input_df(spark, _marked_batch(corpus, marker), source,
                   str(tmp_path / "batch.parquet"))
    stats, jobs = spark_jobs(
        spark, lambda: update_index(spark, df, root, full_snapshot=False))
    assert (stats["added"], stats["modified"]) == (5, 10)
    assert jobs == []
    hits = BM25Index.load(spark, root).search(marker, k=50).collect()
    assert len(hits) == 15


def _sorted_by_id(t):
    return t.take(np.argsort(t.column("doc_id").to_numpy(), kind="stable"))


def _edge_batch(case: str) -> pd.DataFrame:
    """12 docs with one edge: a NUL (binary) doc, a null lang, multibyte
    UTF-8 content or a trusted content_sha256 column (a wrong value for
    one doc: the diff must trust it, not rehash)."""
    import hashlib

    pdf = generate_corpus(12, seed=61)
    if case == "binary":
        pdf.loc[3, "content"] = "PK\x00\x03" + pdf.loc[3, "content"]
    elif case == "null_lang":
        pdf.loc[[2, 7], "lang"] = None
    elif case == "utf8":
        pdf.loc[4, "content"] = "def ünïcødé():\n    return '日本語 😀 ∑'\n" * 40
        pdf.loc[5, "path"] = "src/モジュール/ß.py"
    elif case == "trusted_sha":
        pdf["content_sha256"] = [hashlib.sha256(c.encode()).hexdigest()
                                 for c in pdf["content"]]
        pdf.loc[0, "content_sha256"] = "0" * 64
    return pdf


@pytest.mark.parametrize("case", ["one_file", "directory", "trusted_sha",
                                  "binary", "null_lang", "utf8"])
def test_direct_read_equals_the_chunked_collect(spark, monkeypatch, tmp_path,
                                                case):
    """_collect_input of a bare parquet scan (one file, or a directory of
    several with a hidden and an _-prefixed file Spark skips) and of a
    local relation reads without the chunked collect, and equals the
    chunked collect of the same input column for column, schema
    included."""
    pdf = _edge_batch(case)
    path = tmp_path / "in"
    if case == "directory":
        path.mkdir()
        for i, part in enumerate(np.array_split(np.arange(len(pdf)), 3)):
            pdf.iloc[part].to_parquet(path / f"part-{i}.parquet", index=False)
        pdf.iloc[:2].to_parquet(path / ".hidden.parquet", index=False)
        pdf.iloc[:2].to_parquet(path / "_skipped.parquet", index=False)
    else:
        pdf.to_parquet(path, index=False)
    direct = _spy_direct_reads(monkeypatch)
    for df in (spark.read.parquet(str(path)), spark.createDataFrame(pdf)):
        want = builder._collect_chunked(df, 3)
        with monkeypatch.context() as m:
            m.setattr(builder, "_collect_chunked",
                      lambda *a: pytest.fail("chunked collect"))
            got = builder._collect_input(df, 3)
        assert got.num_rows == len(pdf)
        assert _sorted_by_id(got).equals(_sorted_by_id(want))
    assert len(direct) == 1 and len(direct[0]) == (3 if case == "directory" else 1)
    if case == "trusted_sha":
        assert got.column("new_sha")[0].as_py() == "0" * 64
        assert got.column("content_sha256")[0].as_py() != "0" * 64


@pytest.mark.parametrize("plan", ["filter", "hive_partitioned", "json",
                                  "binary_lang", "arrow_rdd", "empty"])
def test_declined_plans_take_the_chunked_collect(spark, monkeypatch, tmp_path,
                                                 plan):
    """A plan the direct read declines — a filter the optimizer keeps, a
    hive-partitioned directory, a JSON source, a parquet file with a
    needed column that is not a string, a declared-schema scan of a
    directory with no files — is read by the chunked collect, with the
    same answer as the direct read of the same rows; so is a parquet
    batch whose Arrow frame is over Spark's local-relation threshold
    (the frame would be an RDD scan, collected in a job)."""
    from pyspark.sql import functions as F

    from ck_spark.sources.corpus_io import read_corpus

    pdf = _edge_batch("binary")
    want = _sorted_by_id(builder._collect_input(spark.createDataFrame(pdf), 3))
    if plan == "empty":
        (tmp_path / "in").mkdir()
        df = read_corpus(spark, str(tmp_path / "in"))
        want = want.slice(0, 0)
    elif plan == "hive_partitioned":
        for k in range(2):
            d = tmp_path / "in" / f"part={k}"
            d.mkdir(parents=True)
            pdf.iloc[k::2].to_parquet(d / "f.parquet", index=False)
        df = spark.read.parquet(str(tmp_path / "in"))
    elif plan == "json":
        pdf.to_json(tmp_path / "in.json", orient="records", lines=True)
        df = spark.read.json(str(tmp_path / "in.json"))
    elif plan == "binary_lang":
        pdf.assign(lang=pdf["lang"].str.encode("utf-8")).to_parquet(
            tmp_path / "in.parquet", index=False)
        df = spark.read.parquet(str(tmp_path / "in.parquet"))
        want = want.set_column(want.schema.get_field_index("lang"), "lang",
                               want.column("lang").cast("binary"))
    else:
        pdf.to_parquet(tmp_path / "in.parquet", index=False)
        df = spark.read.parquet(str(tmp_path / "in.parquet"))
        if plan == "filter":
            df = df.where(F.col("path") != "no/such/path")
    chunked = []
    orig = builder._collect_chunked

    def spy(*a):
        chunked.append(1)
        return orig(*a)

    monkeypatch.setattr(builder, "_collect_chunked", spy)
    if plan != "arrow_rdd":
        monkeypatch.setattr(builder, "_read_parquet_input",
                            lambda *a: pytest.fail("direct read"))
    key = "spark.sql.execution.arrow.localRelationThreshold"
    threshold = spark.conf.get(key)
    if plan == "arrow_rdd":
        spark.conf.set(key, "1")
    try:
        got = _sorted_by_id(builder._collect_input(df, 3))
    finally:
        spark.conf.set(key, threshold)
    assert chunked == [1]
    for c in want.column_names:
        assert got.column(c).to_pylist() == want.column(c).to_pylist(), c


@pytest.mark.parametrize("encoding", ["dictionary", "zstd"])
def test_large_content_is_refused_before_decoding(spark, bases, monkeypatch,
                                                  tmp_path, encoding):
    """Content over the byte cap that stores small — one 40 KiB body
    repeated in dictionary pages, or distinct 400 KiB bodies that zstd
    compresses to almost nothing — is never decoded on the driver: the
    footers refuse both before any page is read, and both take the
    Spark tier."""
    import pyarrow.parquet as pq

    tmp, corpus, roots = bases
    root = str(tmp_path / "refused")
    shutil.copytree(roots["plain"], root)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_BYTES", 64 << 10)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_DOCS", 20)
    batch = corpus.iloc[:6].copy()
    if encoding == "dictionary":
        batch["content"] = "def f(x):\n    return x\n" + "#" * (40 << 10)
    else:
        batch["content"] = [f"def f{i}(x):\n    return x\n" + "#" * (400 << 10)
                            for i in range(len(batch))]
    path = str(tmp_path / "batch.parquet")
    batch.to_parquet(path, index=False, compression="zstd")
    read = []
    orig = pq.ParquetFile.read

    def spy(self, *a, **k):
        t = orig(self, *a, **k)
        read.append(t.nbytes)
        return t

    monkeypatch.setattr(pq.ParquetFile, "read", spy)
    direct = _spy_direct_reads(monkeypatch)
    df = spark.read.parquet(path)
    stats = _with_tier(monkeypatch, "spark", lambda: update_index(
        spark, df, root, full_snapshot=False), force=False)
    assert stats["modified"] == len(batch)
    assert direct == [] and read == []
    assert batch["content"].str.len().sum() > 3 * (64 << 10)


def test_row_hash_matches_spark_xxhash64(spark):
    """The dead rows' xor fingerprint is computed on the driver: its row
    hash must equal F.xxhash64 over the same columns, nulls skipped."""
    from pyspark.sql import functions as F

    rows = [("r", "a/b.py", "c0", "0" * 64), ("répo", "日本/x.py", "", "ab" * 32),
            ("r" * 40, "p" * 70, None, "f" * 64)]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, sha string")
    want = [r[0] for r in df.select(
        F.xxhash64("repo", "path", "commit", "sha")).collect()]
    assert [builder._row_hash(*r) for r in rows] == want


def _merge_reference(ts, delta, term_buckets):
    """The term-dictionary merge as a whole-dictionary pandas alignment:
    df += delta, new terms get n_segments 1 and pmod(xxhash64(term)),
    df <= 0 dropped, rows sorted by (bucket, term)."""
    from ck_spark.codec import xxhash64_signed

    old = ts.to_pandas().set_index("term")
    out = pd.DataFrame({"df": old["df"].add(delta, fill_value=0)})
    out["n_segments"] = old["n_segments"].reindex(out.index).fillna(1)
    out["bucket"] = old["bucket"].reindex(out.index)
    fresh = out["bucket"].isna()
    out.loc[fresh, "bucket"] = [xxhash64_signed(t) % term_buckets
                                for t in out.index[fresh]]
    out = out[out["df"] > 0].reset_index(names="term")
    out = out.astype({"bucket": "int32", "df": "int64", "n_segments": "int64"})
    return out.sort_values(["bucket", "term"], ignore_index=True)[
        ["bucket", "term", "df", "n_segments"]]


@pytest.mark.parametrize("stored", ["spark_order", "sorted"])
def test_term_stats_merge_matches_reference(spark, stored):
    """The keyed merge: in-place df updates, new terms appended with
    their hashed bucket, terms at df 0 dropped, rows sorted by (bucket,
    term) whatever the stored order — row for row the whole-dictionary
    reference, order included."""
    import pyarrow as pa

    from ck_spark.codec import xxhash64_signed

    rng = np.random.default_rng(3)
    terms = [f"w{i}" for i in rng.permutation(400)]
    # stored buckets off by one from the hash: an old term must keep its
    # stored bucket, only a new one is hashed
    ts = pa.table({
        "bucket": pa.array([(xxhash64_signed(t) + 1) % 8 for t in terms],
                           pa.int32()),
        "term": terms,
        "df": pa.array(rng.integers(1, 4, 400), pa.int64()),
        "n_segments": pa.array(rng.integers(1, 3, 400), pa.int64()),
    })
    if stored == "sorted":
        ts = ts.sort_by([("bucket", "ascending"), ("term", "ascending")])
    df = dict(zip(ts.column("term").to_pylist(), ts.column("df").to_pylist()))
    gone = [t for t in terms[:60] if df[t] == 1][:10]
    delta = pd.Series({**{t: 1 for t in terms[100:150]},
                       **{t: -1 for t in gone},
                       **{f"new{i}": 1 + i % 2 for i in range(30)}})
    delta = delta.sort_index()
    merged, buckets = builder._merge_term_stats(ts, delta, 8)
    want = _merge_reference(ts, delta, 8)
    pd.testing.assert_frame_equal(merged.to_pandas(), want)
    assert not set(gone) & set(merged.column("term").to_pylist())
    assert buckets.to_dict() == {
        t: (xxhash64_signed(t) + (t in df)) % 8 for t in delta.index}


def test_fallback_predicates(spark, monkeypatch):
    """Each fallback condition is one predicate over the caps."""
    # 90 stored rows, 40 of them binary docs (not in n_docs)
    meta = {"n_docs": 50, "input_snapshot": "n90-h7", "n_tombstones": 10,
            "n_terms": 500}
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_LIVE_ROWS", 100)
    assert builder._live_rows_fit(meta)
    assert not builder._live_rows_fit({**meta, "n_tombstones": 11})
    assert not builder._live_rows_fit({**meta, "input_snapshot": "n91-h7"})
    assert not builder._live_rows_fit({**meta, "input_snapshot": None})
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_TERMS", 500)
    assert builder._terms_fit(meta)
    assert not builder._terms_fit({**meta, "n_terms": 501})
    assert not builder._terms_fit({**meta, "n_terms": None})
    pdf = generate_corpus(12, seed=2)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_DOCS", len(pdf))
    assert builder._input_plan_fits(spark.createDataFrame(pdf))
    assert not builder._input_plan_fits(spark.createDataFrame(pd.concat([pdf, pdf])))
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_BYTES", 100)
    assert not builder._input_plan_fits(spark.range(1000).selectExpr(
        "'r' AS repo", "CAST(id AS STRING) AS path", "'' AS commit",
        "'py' AS lang", "repeat('x', 100) AS content"))
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_BYTES", 1 << 20)
    inp = builder._collect_input(spark.createDataFrame(pdf), 3)
    assert builder._input_fits(inp)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_BYTES", 10)
    assert not builder._input_fits(inp)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_BYTES", 1 << 20)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_DOCS", len(pdf) - 1)
    assert not builder._input_fits(inp)


def test_compressible_input_is_bounded_at_the_collect(spark, bases, monkeypatch,
                                                     tmp_path):
    """A parquet batch whose content compresses to almost nothing passes
    the plan's size check (bytes on disk), but the collect stops at its
    chunk-row limit, moving about the byte cap, not the whole input, and
    the update runs in the Spark tier."""
    tmp, corpus, roots = bases
    root = str(tmp_path / "compressible")
    shutil.copytree(roots["plain"], root)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_BYTES", 64 << 10)
    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_DOCS", 20)
    batch = corpus.iloc[:6].copy()
    batch["content"] = [f"def f{i}(x):\n    return x\n" + "#" * (400 << 10)
                        for i in range(len(batch))]
    path = str(tmp_path / "batch.parquet")
    batch.to_parquet(path, index=False, compression="zstd")
    df = spark.read.parquet(path)
    assert os.path.getsize(path) < (64 << 10)
    assert builder._input_plan_fits(df)
    moved = []
    orig = type(df).toArrow

    def spy(self):
        t = orig(self)
        moved.append(t.nbytes)
        return t

    monkeypatch.setattr(type(df), "toArrow", spy)
    stats = _with_tier(monkeypatch, "spark", lambda: update_index(
        spark, df, root, full_snapshot=False), force=False)
    assert stats["modified"] == len(batch)
    limit = builder._collect_limit()
    # the collect: the limit's chunk rows, content of the byte cap plus
    # a chunk per doc, a few hundred bytes of columns per row
    assert len(moved) == 1
    assert moved[0] < limit * (builder._COLLECT_CHUNK + 512)
    assert moved[0] < batch["content"].str.len().sum() / 10
    hits = BM25Index.load(spark, root).search("f3", k=5).collect()
    assert hits


@pytest.mark.parametrize("cap", ["LOCAL_UPDATE_MAX_LIVE_ROWS",
                                 "LOCAL_UPDATE_MAX_TERMS",
                                 "LOCAL_UPDATE_MAX_BYTES"])
def test_over_a_cap_runs_the_spark_tier(spark, bases, monkeypatch, tmp_path, cap):
    """An index or input over any cap stages through the Spark tier."""
    tmp, corpus, roots = bases
    root = str(tmp_path / "over")
    shutil.copytree(roots["plain"], root)
    monkeypatch.setattr(builder, cap, 1)
    batch = _upsert(corpus, 7)
    stats = _with_tier(monkeypatch, "spark", lambda: update_index(
        spark, spark.createDataFrame(batch), root, full_snapshot=False))
    assert stats["gen"] == 1


def _fresh_state(spark, corpus: pd.DataFrame, root: str) -> dict:
    build_index(spark, spark.createDataFrame(corpus), root, n_segments=3,
                term_buckets=8, build_groups=2)
    build_trigram_index(spark, None, root)
    build_content_store(spark, root)
    return _answers(spark, root)


def _answers(spark, root: str) -> dict:
    """What a crash-healed index must answer like a fresh build: search
    answers, stored content, document frequencies and the fingerprint
    (trigram candidates over-approximate after updates, and n_segments
    is not maintained by them)."""
    st = _state(spark, root)
    keep = {k: v for k, v in st.items() if k.startswith(("search", "fetched"))}
    keep["df"] = [(r["term"], r["df"]) for r in st["term_stats"]]
    keep.update({k: st[k] for k in ("n_docs", "avgdl", "input_snapshot")})
    return keep


def test_crash_before_meta_commit_is_gcd(spark, bases, monkeypatch, tmp_path):
    """A driver-tier update killed after its staged writes, before the
    meta commit: the index stays at its prior state, the next update GCs
    the orphans (generation dirs, pointer staging) and its result equals
    a fresh build of the same corpus."""
    tmp, corpus, roots = bases
    root = str(tmp_path / "crash_meta")
    shutil.copytree(roots["store"], root)
    changed = _edit(corpus, 1)

    def dies(self, meta):
        raise OSError("killed before the meta commit")

    with monkeypatch.context() as m:
        m.setattr(Manifest, "save_meta", dies)
        with pytest.raises(OSError, match="before the meta commit"):
            _with_tier(monkeypatch, "driver", lambda: update_index(
                spark, spark.createDataFrame(changed), root))
    assert lsm.live_gens(Manifest(root).load_meta()) == []
    assert os.path.isdir(lsm.delta_doc_map_dir(root, 1))
    orphan = os.path.join(lsm.delta_doc_map_dir(root, 1), "orphan-marker.parquet")
    open(orphan, "w").close()

    stats = _with_tier(monkeypatch, "driver", lambda: update_index(
        spark, spark.createDataFrame(changed), root))
    assert stats["gen"] == 1 and not os.path.exists(orphan)
    assert not [n for n in os.listdir(os.path.join(root, "content_store"))
                if n.startswith("_ptr_stage_")]
    assert _answers(spark, root) == _fresh_state(spark, changed,
                                                 str(tmp_path / "fresh_meta"))


def test_crash_before_content_store_commit_is_healed(spark, bases, monkeypatch,
                                                     tmp_path):
    """A driver-tier update killed between its meta commit and the
    content-store commit: cs_refresh_pending stays set, and the next
    update's repair re-derives the pointer table."""
    from ck_spark.index import content_store

    tmp, corpus, roots = bases
    root = str(tmp_path / "crash_cs")
    shutil.copytree(roots["store"], root)
    changed = _edit(corpus, 2)

    def dies(*a, **k):
        raise OSError("killed before the content-store commit")

    with monkeypatch.context() as m:
        m.setattr(content_store, "commit_content_store_delta", dies)
        with pytest.raises(OSError, match="content-store commit"):
            _with_tier(monkeypatch, "driver", lambda: update_index(
                spark, spark.createDataFrame(changed), root))
    man = Manifest(root)
    assert lsm.live_gens(man.load_meta()) == [1]
    assert man.load_marker("cs_refresh_pending") is not None
    assert not content_store_exists(root)

    stats = update_index(spark, spark.createDataFrame(changed), root)
    assert stats["repaired"] is True and stats["affected_segments"] == []
    assert man.load_marker("cs_refresh_pending") is None
    assert content_store_exists(root)
    assert _answers(spark, root) == _fresh_state(spark, changed,
                                                 str(tmp_path / "fresh_cs"))
