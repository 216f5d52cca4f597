"""The benchmark's workloads: one seeded, single-client, closed loop each.

``interactive``  a CLI/MCP user who waits for every answer. Each turn is a
                 top-k search, the same search with its results fetched
                 from the content store, and a trigram-indexed regex grep;
                 then a search_many batch.
``ingest``       a writer: upserts through the LSM delta path, each timed
                 until it is searchable on a freshly loaded handle.

Both start from a copy of one base index, built once per engine version
and reused (see ``Bench.base_index``).

Each returns a ``Result``. End-to-end metrics come from the untraced run;
``per_layer`` is filled only when the run is traced.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from ck_spark.corpus import generate_corpus_spark
from ck_spark.functions.xxh import seg_of_doc_id
from ck_spark.index.builder import build_index, compact_index, doc_id_expr, update_index
from ck_spark.index.content_store import build_content_store
from ck_spark.query.bm25 import BM25Index
from ck_spark.query.grep import grep, preprocess_pattern
from ck_spark.query.trigram import TRIGRAM_DIR, TrigramIndex, build_trigram_index, trigram_dnf
from ck_spark.tokenizer import tokenize

from perfbench import host, inputs
from perfbench.oracle import BM25Oracle, same_ranking
from perfbench.trace import EventLog, Tracer

SEARCH_K = 10
# both workloads start from the index of one fixed corpus, so it can be
# reused across runs; the seed picks the queries and the upserts
CORPUS_SEED = 1
# upserts per ingest run: a fixed count keeps the LSM state the same in
# every run, and an odd count gives a median that one upsert cannot set
N_UPSERTS = 3


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def engine_digest() -> str:
    """sha256 over the engine's Python sources: a cached index is reused
    only by the engine that built it."""
    import ck_spark

    h = hashlib.sha256()
    pkg = os.path.dirname(ck_spark.__file__)
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def median(xs) -> float:
    return float(statistics.median(xs))


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    diag: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


class Bench:
    """One run's state: session, work directory, spans, latencies and the
    attempted/failed counters behind the error rate.

    ``corrupt(kind, answer) -> answer`` is applied to every engine answer
    before it is checked; the benchmark's own test uses it to show that a
    wrong answer is counted."""

    def __init__(self, spark, work_dir: str, cache_dir: str, seed: int,
                 seconds: float, traced: bool, n_docs: int, corrupt,
                 calm_wait_s: float, setup_meter: host.StealMeter):
        self.spark = spark
        self.work = work_dir
        self.cache = cache_dir
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.n_docs = n_docs
        self.corrupt = corrupt or (lambda kind, answer: answer)
        self.tracer = Tracer()
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.res = Result()
        # steal % per window: "setup" from before the session starts, then
        # each timed window by name
        self.steal: dict[str, float] = {}
        self.calm_wait_s = calm_wait_s
        self.setup_meter = setup_meter
        self.window_cpu_s = 0.0
        self.window_ops = 0
        self.batch_calls = 0

    # -- ops, checks and windows -------------------------------------------

    def op(self, kind: str, fn):
        """Run one engine call under a span named ``kind``. A call that
        raises counts as failed and returns None."""
        self.res.attempted += 1
        with self.tracer.span(kind) as s:
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - the run goes on and reports it
                self.res.failed += 1
                self.res.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
                return None
        self.lat[kind].append(s.seconds)
        return out

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.res.failed += 1
            self.res.errors.append(f"wrong answer: {what}")

    def end_setup(self) -> None:
        """Close the set-up window that the runner opened, after its own
        calm-host wait, just before it started the session."""
        self.steal["setup"] = self.setup_meter.pct()

    @contextmanager
    def window(self, name: str):
        """One timed window after set-up: a bounded wait for a calm host
        first, then steal and process-tree CPU over the window."""
        self.calm_wait_s += host.wait_calm()
        meter, cpu0 = host.StealMeter(), host.tree_cpu_s()
        try:
            yield
        finally:
            self.steal[name] = meter.pct()
            self.window_cpu_s = host.tree_cpu_s() - cpu0

    # -- engine calls shared by the workloads --------------------------------

    def search(self, idx: BM25Index, query: str, mode: str):
        def run():
            t0 = time.perf_counter()
            df = idx.search(query, k=SEARCH_K, mode=mode)
            t1 = time.perf_counter()
            rows = df.collect()
            self.lat["search.plan"].append(t1 - t0)
            self.lat["search.collect"].append(time.perf_counter() - t1)
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]

        if self.traced:
            terms = list(dict.fromkeys(tokenize(query, idx.meta["tokenizer_mode"])))
            with self.tracer.span("bm25.term_stats") as s:
                idx.term_stats(terms)
            self.lat["bm25.term_stats"].append(s.seconds)
        return self.op("search", run)

    def results(self, idx: BM25Index, query: str, mode: str):
        def run():
            rows = idx.fetch_search_results(
                idx.search(query, k=SEARCH_K, mode=mode)).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]

        return self.op("results", run)

    def regex(self, tri: TrigramIndex, pattern: str):
        def run():
            rows = tri.grep(None, pattern, count_matches=True).collect()
            return sorted(tuple(r) for r in rows)

        return self.op("regex", run)

    def batch(self, idx: BM25Index):
        queries = inputs.batch_queries(self.seed, self.batch_calls)
        self.batch_calls += 1

        def run():
            rows = idx.search_many(queries, k=inputs.BATCH_K).collect()
            return [(int(r["query_id"]), int(r["doc_id"]), float(r["score"]))
                    for r in rows]

        return queries, self.op("batch", run)

    # -- answer checks (never inside a timed window) ---------------------------

    def check_batch(self, q: str, want, rows) -> None:
        """Query 0 of a search_many answer against ``want``, a plain search
        of the same query at the same k."""
        got = [(d, s) for i, d, s in self.corrupt("batch", rows) if i == 0]
        self.check(f"search_many query 0 {q!r} vs search", same_ranking(got, want))

    def check_regex(self, pattern: str, want, rows) -> None:
        """A trigram-indexed grep answer against ``want``, the scan grep's."""
        self.check(f"regex {pattern!r} vs scan grep", self.corrupt("regex", rows) == want)

    # -- setup pieces ----------------------------------------------------------

    def make_corpus(self, path: str):
        """Generate the base corpus as parquet at ``path``; returns it read
        back."""
        with self.tracer.span("corpus"):
            generate_corpus_spark(self.spark, self.n_docs, seed=CORPUS_SEED) \
                .write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def base_index(self) -> tuple[str, str]:
        """(corpus path, index root) of the base corpus. A traced run
        generates and builds it in its own work directory and so reports
        the build layers. An untraced run uses the cache: the corpus and
        its full build are made once per engine source tree and kept under
        the cache directory; every run reads the corpus there and works on
        a copy of the index in its own work directory."""
        if self.traced:
            corpus_path = os.path.join(self.work, "corpus")
            root = os.path.join(self.work, "index")
            self.build_all(self.make_corpus(corpus_path), root)
            return corpus_path, root
        key = f"{self.n_docs}-{CORPUS_SEED}-{engine_digest()[:16]}"
        cached = os.path.join(self.cache, key)
        if not os.path.isdir(cached):
            tmp = f"{cached}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            self.build_all(self.make_corpus(os.path.join(tmp, "corpus")),
                           os.path.join(tmp, "index"))
            os.rename(tmp, cached)
        root = os.path.join(self.work, "index")
        shutil.copytree(os.path.join(cached, "index"), root)
        return os.path.join(cached, "corpus"), root

    def build_all(self, corpus_df, root: str) -> None:
        """BM25 index, trigram index and content store."""
        for name, fn in (
            ("build.bm25", lambda: build_index(self.spark, corpus_df, root)),
            ("build.trigram", lambda: build_trigram_index(self.spark, None, root)),
            ("build.content_store", lambda: build_content_store(self.spark, root)),
        ):
            if self.op(name, fn) is None:
                raise RuntimeError(f"{name} failed:\n{self.res.errors[-1]}")

    # -- metric assembly -------------------------------------------------------

    def phases(self) -> dict[str, float]:
        """Wall time of the set-up phases, for the diagnostics line."""
        return {f"{n}_s": self.tracer.named(n)[0].seconds
                for n in ("corpus", "build.bm25", "build.trigram") if self.tracer.named(n)}

    def read_layers(self, idx: BM25Index, tri: TrigramIndex, answers: list,
                    patterns: list, source_bytes: int) -> None:
        """Per-layer numbers of the read path that need no event log:
        latencies of the window's own calls and probes of single layers.
        ``answers``: top-k [(doc_id, score)] lists; ``patterns``:
        (pattern, grep rows) pairs."""
        pl, lat = self.res.per_layer, self.lat
        for k in ("search", "results", "regex"):
            pl[f"{k}_p50_ms"] = 1000 * median(lat[k])
        pl["bm25.term_stats_ms"] = 1000 * median(lat["bm25.term_stats"])
        pl["bm25.plan_ms"] = 1000 * median(lat["search.plan"])
        pl["bm25.collect_ms"] = 1000 * median(lat["search.collect"])
        pl["batch.call_s"] = median(lat["batch"])
        pl["batch_qps"] = inputs.BATCH_SIZE / median(lat["batch"])

        # the result fetch over an already materialised top-k, and the
        # content store's driver-side point read on its own
        fetch, local = [], []
        n_seg = int(idx.meta["n_segments"])
        for rows in [a for a in answers if a][:6]:
            df = self.spark.createDataFrame(rows, "doc_id long, score double")
            t0 = time.perf_counter()
            idx.fetch_search_results(df).collect()
            fetch.append(time.perf_counter() - t0)
            ids = sorted(d for d, _ in rows)
            segs = sorted({seg_of_doc_id(i, n_seg) for i in ids})
            t0 = time.perf_counter()
            idx.content_store.fetch_pred_local(segs, ids)
            local.append(time.perf_counter() - t0)
        pl["results.fetch_ms"] = 1000 * median(fetch)
        pl["content_store.fetch_local_ms"] = 1000 * median(local)

        # trigram triage, decided per DNF clause as the indexed grep does
        scans, cands, matched = 0, 0, 0
        for p, rows in patterns:
            clauses = trigram_dnf(preprocess_pattern(p))
            picks = [tri.triage_grams(cl) for cl in clauses]
            if not clauses or "SCAN" in picks:
                scans += 1
                continue
            kept = [g for g in picks if g != "EMPTY"]
            if kept and rows:
                cands += tri.candidates(kept).count()
                matched += len({(r[0], r[1]) for r in rows})
        pl["trigram.scan_ratio"] = scans / len(patterns)
        pl["trigram.candidates_per_match"] = cands / max(matched, 1)
        pl["trigram.bytes_per_source_byte"] = (
            dir_bytes(os.path.join(idx.paths.root, TRIGRAM_DIR)) / source_bytes)

    def build_layers(self, source_bytes: int) -> None:
        pl = self.res.per_layer
        for name in ("bm25", "trigram", "content_store"):
            pl[f"build.{name}_s"] = self.tracer.named(f"build.{name}")[-1].seconds
        pl["build_docs_per_s"] = self.n_docs / sum(
            pl[f"build.{name}_s"] for name in ("bm25", "trigram", "content_store"))
        self.source_bytes = source_bytes

    def write_layers(self, w: "WriteStats") -> None:
        pl, lat = self.res.per_layer, self.lat
        pl["update_p50_s"] = median(lat["upsert"])
        pl["ingest_docs_per_s"] = w.changed_docs / (sum(lat["upsert"]) + sum(lat["compact"]))
        for stage in ("diff", "tombstones_and_fresh_doc_map",
                      "postings_terms_trigram_cs", "commit"):
            pl[f"update.stage.{stage}_ms"] = median([s.get(stage, 0) for s in w.stage_ms])
        pl["update.bytes_written_per_changed_byte"] = w.grown_bytes / w.changed_bytes
        pl["lsm.live_gens_mean"] = sum(w.gens) / len(w.gens)
        pl["lsm.first_search_after_commit_ms"] = 1000 * median(lat["visible"])
        pl["lsm.compact_s"] = median(lat["compact"])

    def host_layers(self) -> None:
        pl = self.res.per_layer
        pl["host.steal_pct"] = statistics.fmean(self.steal.values())
        pl["host.calm_wait_s"] = self.calm_wait_s
        pl["proc.cpu_ms_per_op"] = 1000 * self.window_cpu_s / self.window_ops

    def event_layers(self, log: EventLog) -> None:
        """Spark jobs, stages and tasks per call, from the event log."""
        pl = self.res.per_layer

        def per(kind: str):
            spans = self.tracer.named(kind)
            return log.total(spans), len(spans)

        c, n = per("search")
        pl["bm25.jobs_per_search"] = c.jobs / n
        pl["bm25.stages_per_search"] = c.stages / n
        pl["bm25.tasks_per_search"] = c.tasks / n
        pl["bm25.task_cpu_ms_per_search"] = c.task_cpu_ms / n
        c, n = per("results")
        pl["results.jobs_per_op"] = c.jobs / n
        pl["results.tasks_per_op"] = c.tasks / n
        c, n = per("regex")
        pl["trigram.jobs_per_regex"] = c.jobs / n
        pl["trigram.tasks_per_regex"] = c.tasks / n
        pl["trigram.bytes_read_per_regex"] = c.input_bytes / n
        c, n = per("batch")
        nq = n * inputs.BATCH_SIZE
        pl["batch.jobs_per_call"] = c.jobs / n
        pl["batch.tasks_per_call"] = c.tasks / n
        pl["batch.shuffle_bytes_per_call"] = c.shuffle_write_bytes / n
        pl["batch.task_cpu_ms_per_query"] = c.task_cpu_ms / nq
        pl["batch.input_rows_per_query"] = c.input_rows / nq
        c, _ = per("build.bm25")
        pl["build.jobs"] = c.jobs
        pl["build.tasks"] = c.tasks
        pl["build.shuffle_bytes_per_source_byte"] = c.shuffle_write_bytes / self.source_bytes
        c, n = per("upsert")
        pl["update.jobs_per_upsert"] = c.jobs / n
        pl["update.tasks_per_upsert"] = c.tasks / n


@dataclass
class WriteStats:
    stage_ms: list = field(default_factory=list)   # update stats["stage_ms"]
    gens: list = field(default_factory=list)       # live generations after commit
    grown_bytes: int = 0     # growth of the index root over the upserts
    changed_bytes: int = 0   # content bytes of the upserted docs
    changed_docs: int = 0
    source_delta: int = 0    # change of the corpus' source bytes


# ---------------------------------------------------------------------------


def _oracle(corpus_df) -> BM25Oracle:
    pdf = corpus_df.select(doc_id_expr().alias("doc_id"), "content").toPandas()
    return BM25Oracle({int(r.doc_id): r.content for r in pdf.itertuples()
                       if "\x00" not in r.content})


def _source_bytes(pdf) -> int:
    return int(pdf["content"].str.encode("utf-8").str.len().sum())


def _warm_up(b: Bench, idx: BM25Index, tri: TrigramIndex | None = None) -> None:
    """One untimed search, and with ``tri`` a results fetch, a regex and
    a search_many, on inputs the timed stream never uses: fills the
    term-dictionary cache, the file listings and the Python worker pool."""
    seed = b.seed + 1_000_003
    t = inputs.interactive_turns(seed, 1)[0]
    idx.search(t.query, k=SEARCH_K).collect()
    if tri is not None:
        idx.fetch_search_results(idx.search(t.query, k=SEARCH_K)).collect()
        tri.grep(None, t.pattern, count_matches=True).collect()
        idx.search_many(inputs.batch_queries(seed, 0), k=inputs.BATCH_K).collect()


@dataclass
class Upsert:
    path: str          # the batch, as parquet
    tag: str           # its marker token
    want: list[int]    # doc ids the marker must return after its commit
    docs: int
    content_bytes: int
    source_delta: int  # change of the corpus' content bytes


def _prepare_upserts(b: Bench, corpus_pdf, n_upserts: int) -> list[Upsert]:
    """Write the seeded upsert batches (1% modified plus 0.5% new docs)
    and compute each marker's expected doc ids, before any window."""
    batches = inputs.upsert_batches(corpus_pdf, b.seed, n_upserts,
                                    modified=max(1, b.n_docs // 100),
                                    added=max(1, b.n_docs // 200))
    orig = corpus_pdf.set_index(["repo", "path", "commit"])["content"]
    out = []
    for u, pdf in enumerate(batches):
        path = os.path.join(b.work, f"upsert{u}.parquet")
        pdf.to_parquet(path, index=False)
        want = sorted(int(r[0]) for r in b.spark.read.parquet(path)
                      .select(doc_id_expr()).collect())
        old = [orig.get((r.repo, r.path, r.commit)) for r in pdf.itertuples()]
        new_bytes = _source_bytes(pdf)
        out.append(Upsert(path, inputs.marker(b.seed, u), want, len(pdf), new_bytes,
                          new_bytes - sum(len(o.encode("utf-8")) for o in old if o is not None)))
    return out


def _upserts(b: Bench, root: str, batches: list[Upsert]) -> WriteStats:
    """Upserts through the LSM delta path, each timed from the call until
    its marker token is searchable on a freshly loaded handle; the marker
    must return exactly the upserted docs."""
    w = WriteStats()
    for u, up in enumerate(batches):
        before = dir_bytes(root)
        t0 = time.perf_counter()
        stats = b.op("upsert", lambda: update_index(
            b.spark, b.spark.read.parquet(up.path), root, full_snapshot=False))

        def visible():
            idx = BM25Index.load(b.spark, root)
            return idx, [int(r["doc_id"]) for r in idx.search(up.tag, k=1000).collect()]

        out = b.op("visible", visible)
        if stats is not None and out is not None:
            b.lat["commit_to_visible"].append(time.perf_counter() - t0)
        w.grown_bytes += dir_bytes(root) - before
        w.changed_bytes += up.content_bytes
        w.changed_docs += up.docs
        w.source_delta += up.source_delta
        w.stage_ms.append((stats or {}).get("stage_ms", {}))
        if out is None:
            continue
        idx, got = out
        w.gens.append(len(idx.gens))
        b.check(f"upsert {u} marker {up.tag!r} doc set",
                sorted(b.corrupt("marker", got)) == up.want)
    return w


def _compact_and_check(b: Bench, root: str, batches: list[Upsert]) -> None:
    """Fold the delta generations into the base; a fixed query set must
    answer identically before and after."""
    probe = [up.tag for up in batches] + ["def parse"]
    idx = BM25Index.load(b.spark, root)
    before = [idx.search(q, k=SEARCH_K).collect() for q in probe]
    b.op("compact", lambda: compact_index(b.spark, root))
    idx = BM25Index.load(b.spark, root)
    after = [idx.search(q, k=SEARCH_K).collect() for q in probe]
    b.check("answers before and after compaction", b.corrupt("compact", after) == before)


def interactive(b: Bench) -> Result:
    """Set-up: the base index, a warm-up and the reference answers of the
    checks. Window: whole cycles of turns until ``seconds`` have passed;
    a turn is a search, a results fetch, a regex and a search_many."""
    t_setup = time.perf_counter()
    corpus_path, root = b.base_index()
    corpus_df = b.spark.read.parquet(corpus_path)
    idx = BM25Index.load(b.spark, root)
    tri = TrigramIndex.load(b.spark, root)
    _warm_up(b, idx, tri)
    turns = inputs.interactive_turns(b.seed, 1000)
    n_t = len(inputs.TURN_TEMPLATES)
    # reference answers, made before the window: their Spark jobs also
    # warm the JVM up further
    t_checks = time.perf_counter()
    oracle = _oracle(corpus_df)
    regex_want = [sorted(tuple(r) for r in grep(corpus_df, t.pattern, count_matches=True)
                         .collect()) for t in turns[:n_t]]
    q0, mode0 = inputs.batch_queries(b.seed, 0)[0]
    batch_want = [(int(r["doc_id"]), float(r["score"]))
                  for r in idx.search(q0, k=inputs.BATCH_K, mode=mode0).collect()]
    checks_s = time.perf_counter() - t_checks
    setup_s = time.perf_counter() - t_setup
    b.end_setup()

    done: list[tuple] = []  # (turn, search, results, regex, batch queries, batch rows)
    turn_s: list[float] = []
    with b.window("ops"):
        t0 = time.perf_counter()
        while len(done) % n_t or time.perf_counter() - t0 < b.seconds or not done:
            t = turns[len(done)]
            ts = time.perf_counter()
            s = b.search(idx, t.query, t.mode)
            r = b.results(idx, t.query, t.mode)
            g = b.regex(tri, t.pattern)
            q, rows = b.batch(idx)
            if None not in (s, r, g, rows):
                turn_s.append(time.perf_counter() - ts)
            done.append((t, s, r, g, q, rows))
        window_s = time.perf_counter() - t0
    b.window_ops = 4 * len(done)

    # ---- answer checks, outside the window
    t_checks = time.perf_counter()
    for t, s, r, g, _, _ in done:
        if s is not None:
            b.check(f"search {t.query!r} {t.mode} vs BM25 oracle",
                    same_ranking(b.corrupt("search", s), oracle.rank(t.query, SEARCH_K, t.mode)))
        if s is not None and r is not None:
            b.check(f"results ids of {t.query!r} equal search ids",
                    [d for d, _ in b.corrupt("results", r)] == [d for d, _ in s])
    # one regex per template: every triage path, the SCAN tier included
    for (t, _, _, g, _, _), want in zip(done, regex_want):
        if g is not None:
            b.check_regex(t.pattern, want, g)
    if done[0][5] is not None:
        b.check_batch(q0, batch_want, done[0][5])
    checks_s += time.perf_counter() - t_checks

    source_bytes = _source_bytes(inputs.read_corpus(corpus_path))
    res = b.res
    res.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": 1000 * median(turn_s),
        "index_bytes_per_source_byte": dir_bytes(root) / source_bytes,
    }
    res.diag = {"window_s": window_s, "turns": len(done),
                **{f"steal_{k}_pct": v for k, v in b.steal.items()},
                "calm_wait_s": b.calm_wait_s, "checks_s": checks_s,
                **b.phases(), **_p50s(b)}
    if b.traced:
        b.read_layers(idx, tri, [s for _, s, *_ in done],
                      [(t.pattern, g) for t, _, _, g, _, _ in done[:n_t]], source_bytes)
        b.build_layers(source_bytes)
        # the write path is not part of this workload: one upsert and a
        # compaction after the window give its layers a reading
        batches = _prepare_upserts(b, inputs.read_corpus(corpus_path), 1)
        w = _upserts(b, root, batches)
        _compact_and_check(b, root, batches)
        b.write_layers(w)
        b.host_layers()
    return res


def ingest(b: Bench) -> Result:
    """Set-up: the base index, the upsert batches and a warm-up search.
    Window: ``N_UPSERTS`` upserts of 1% modified plus 0.5% new docs. The
    traced run adds turns (search, results fetch, regex, search_many) on
    the final live view, then compacts."""
    t_setup = time.perf_counter()
    corpus_path, root = b.base_index()
    corpus_pdf = inputs.read_corpus(corpus_path)
    source_bytes = _source_bytes(corpus_pdf)
    batches = _prepare_upserts(b, corpus_pdf, N_UPSERTS)
    _warm_up(b, BM25Index.load(b.spark, root))
    setup_s = time.perf_counter() - t_setup
    b.end_setup()
    with b.window("upserts"):
        t0 = time.perf_counter()
        w = _upserts(b, root, batches)
        window_s = time.perf_counter() - t0
    b.window_ops = 2 * N_UPSERTS
    res = b.res
    res.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": 1000 * median(b.lat["commit_to_visible"]),
        "index_bytes_per_source_byte": dir_bytes(root) / (source_bytes + w.source_delta),
    }
    res.diag = {"window_s": window_s, "upserts": N_UPSERTS,
                **{f"steal_{k}_pct": v for k, v in b.steal.items()},
                "calm_wait_s": b.calm_wait_s, **b.phases(),
                "update_p50_s": median(b.lat["upsert"]), **_p50s(b)}
    if b.traced:
        # read-path layers on the live view (base plus delta generations)
        idx = BM25Index.load(b.spark, root)
        tri = TrigramIndex.load(b.spark, root)
        answers, patterns = [], []
        for t in inputs.interactive_turns(b.seed, len(inputs.TURN_TEMPLATES)):
            answers.append(b.search(idx, t.query, t.mode))
            b.results(idx, t.query, t.mode)
            patterns.append((t.pattern, b.regex(tri, t.pattern)))
            b.batch(idx)
        b.read_layers(idx, tri, answers, patterns, source_bytes)
        _compact_and_check(b, root, batches)
        b.build_layers(source_bytes)
        b.write_layers(w)
        b.host_layers()
    return res


def _p50s(b: Bench) -> dict[str, float]:
    return {f"{k}_p50_ms": 1000 * median(b.lat[k])
            for k in ("search", "results", "regex", "batch") if b.lat[k]}
