"""Trigram-accelerated regex grep (index-assisted candidate pruning).

At 10^12 files a per-query full-corpus regex scan is the same
scale-killer a corpus-scan phrase query was: every grep touches every
byte. The classic fix — public knowledge from Google Code Search (Russ
Cox, "Regular Expression Matching with a Trigram Index", 2012) and used
by Zoekt/Sourcegraph — is to index character trigrams of the content and
turn the regex into a *necessary* trigram condition in OR-of-ANDs form
(Cox's algebra: concatenation ANDs, alternation ORs): any match
satisfies at least one clause, so the candidate set is the union over
clauses of each clause's posting-list intersection, and the (unchanged,
codegen) regex scan runs over candidates only. Results are EXACTLY the
full-scan results — the index only prunes, never decides (asserted in
tests/test_trigram.py).

The reference (ck) greps by scanning, which is the right call for one
repo on one machine (ck-engine/src/lib.rs:387-450); this module is the
100 TB-scale complement, same answers.

Soundness rule for case: the index stores trigrams of lower(content) and
the analyzer lowercases extracted literals — if "Foo" must appear in a
match then "foo" appears in lower(content), so required-trigram pruning
is sound for BOTH case-sensitive and (?i) patterns.

Layout mirrors the BM25 postings table (seg=N/bucket=B dirs, delta+varint
doc-id blocks from ck_spark.codec) so scans prune partitions by bucket
and the per-segment intersection reuses the galloping-AND design.
"""

from __future__ import annotations

import re
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if sys.version_info >= (3, 11):
    import re._parser as _sre_parse
else:  # pragma: no cover
    import sre_parse as _sre_parse

# keep the planner's fan-in bounded: each required trigram is individually
# necessary, so any subset keeps correctness; beyond ~10 the intersection
# is already tiny and extra terms only add scan width. 10 also keeps the
# ghash IN (...) filter within parquet's In-pushdown threshold
# (spark.sql.parquet.pushdown.inFilterThreshold default 10), so direct
# candidates() scans page-skip instead of reading whole buckets.
MAX_QUERY_TRIGRAMS = 10


# ---------------------------------------------------------------------------
# regex analysis: a necessary trigram condition in OR-of-ANDs (DNF) form
# ---------------------------------------------------------------------------
#
# Cox's trigram algebra maps regex structure to a boolean query over
# trigrams: concatenation ANDs the parts' conditions, alternation ORs
# them. We keep the query in DNF — a list of CLAUSES, each clause a set
# of required substrings; any match satisfies at least one clause, so
# the candidate set is the UNION over clauses of each clause's
# posting-list INTERSECTION. A single clause is the classic all-required
# case; `quixotic|obsidian` becomes two clauses instead of (round-4-era)
# an empty intersection that forced a full scan.

# bound the DNF size: alternation nesting multiplies clauses under AND.
# More than this many clauses is collapsed to the single clause of
# substrings common to ALL clauses (a sound weakening: required
# regardless of which alternative matched) — usually empty => scan.
# 4 covers a product of two 2-way alternations; trigram_dnf then budgets
# each clause to MAX_QUERY_TRIGRAMS//n grams so the query's distinct
# ghash count stays within parquet's In-pushdown threshold (10).
MAX_DNF_CLAUSES = 4

_TRUE: list[set[str]] = [set()]  # DNF tautology: one unconstrained clause


def _dnf_and(a: list[set[str]], b: list[set[str]]) -> list[set[str]]:
    out: list[set[str]] = []
    for x in a:
        for y in b:
            u = x | y
            if u not in out:
                out.append(u)
    if len(out) > MAX_DNF_CLAUSES:
        return [set.intersection(*out)]
    return out


def _dnf_or(ds: list[list[set[str]]]) -> list[set[str]]:
    clauses: list[set[str]] = []
    for d in ds:
        for c in d:
            if not c:
                return list(_TRUE)  # one unconstrained alternative
            if c not in clauses:
                clauses.append(c)
    if not clauses:
        return list(_TRUE)
    if len(clauses) > MAX_DNF_CLAUSES:
        return [set.intersection(*clauses)]
    return clauses


def _node_dnf(nodes) -> list[set[str]]:
    """DNF of required substrings for one concatenation sequence.
    Conservative: literal runs are not merged across group boundaries
    (under-extraction is sound — it can only widen the candidate set)."""
    dnf = list(_TRUE)
    cur: list[str] = []

    def flush():
        nonlocal dnf
        if cur:
            dnf = _dnf_and(dnf, [{"".join(cur).lower()}])
            cur.clear()

    for op, av in nodes:
        name = str(op)
        if name == "LITERAL":
            cur.append(chr(av))
        elif name == "SUBPATTERN":
            flush()
            dnf = _dnf_and(dnf, _node_dnf(list(av[3])))  # (g,a,d,body)
        elif name == "ATOMIC_GROUP":
            flush()
            dnf = _dnf_and(dnf, _node_dnf(list(av)))  # av IS the body
        elif name in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
            flush()
            lo, _hi, sub = av
            if lo >= 1:  # repeated at least once -> body is required
                dnf = _dnf_and(dnf, _node_dnf(list(sub)))
        elif name == "BRANCH":
            flush()
            _, branches = av
            dnf = _dnf_and(
                dnf, _dnf_or([_node_dnf(list(b)) for b in branches])
            )
        elif name == "ASSERT":
            flush()
            direction, sub = av
            if direction == 1:  # positive lookahead/behind: body must occur
                dnf = _dnf_and(dnf, _node_dnf(list(sub)))
        else:
            # ANY, IN, AT, CATEGORY, GROUPREF, ASSERT_NOT, NOT_LITERAL, ...
            # contribute nothing and break the current literal run
            flush()
    flush()
    return dnf


def _trigrams_of(strings) -> set[str]:
    """BYTE trigrams of each string's UTF-8 encoding, rendered latin-1
    (one char per byte — identical to the plain substring for ASCII).
    The index stores byte trigrams, so the analyzer must emit the same
    domain; a multi-byte char contributes all its bytes' windows, each
    individually required."""
    out: set[str] = set()
    for s in strings:
        b = s.encode("utf-8")
        for i in range(len(b) - 2):
            out.add(b[i : i + 3].decode("latin-1"))
    return out


def _sample_grams(grams: list[str], cap: int = MAX_QUERY_TRIGRAMS) -> list[str]:
    """Cap a sorted gram list by sampling evenly: adjacent trigrams come
    from the same literal and are highly correlated, so spreading keeps
    more independent constraints."""
    if len(grams) <= cap:
        return grams
    idx = np.linspace(0, len(grams) - 1, cap).astype(int)
    return [grams[i] for i in sorted(set(int(i) for i in idx))]


def trigram_dnf(pattern: str) -> list[list[str]]:
    """OR-of-ANDs trigram condition for a regex: a list of clauses, each
    a sorted gram list; a doc can match only if, for SOME clause, it
    contains ALL that clause's grams. [] when the pattern is unprunable
    (no literals, an unconstrained alternative, or unparseable) — the
    caller must run the full scan then."""
    try:
        parsed = _sre_parse.parse(pattern)
    except re.error:
        return []
    clauses: list[list[str]] = []
    for c in _node_dnf(list(parsed)):
        grams = sorted(_trigrams_of(c))
        if not grams:
            # this alternative requires no indexable gram: a match could
            # take it without touching the index -> no pruning possible
            return []
        clauses.append(grams)
    # drop clauses whose gram set is a superset of another clause's: their
    # candidate docs are already contained in the weaker clause's union
    clauses.sort(key=len)
    kept: list[list[str]] = []
    for cl in clauses:
        s = set(cl)
        if not any(set(k) <= s for k in kept):
            kept.append(cl)
    # budget the per-clause gram count so the TOTAL stays In-pushdown-able
    per = max(1, MAX_QUERY_TRIGRAMS // max(len(kept), 1))
    return [_sample_grams(cl, per) for cl in kept]


def required_trigrams(pattern: str) -> list[str]:
    """Required (lowercased) trigrams for a regex — the grams needed
    regardless of which alternative matches: the intersection of the
    DNF clauses' GRAM sets (so ``abcde|xbcdz`` still yields ``bcd``).
    Alternation-aware callers should use trigram_dnf. [] when the
    pattern has no usable literals (e.g. ``a.*b``) or is unparseable —
    the caller must fall back to a full scan then."""
    try:
        parsed = _sre_parse.parse(pattern)
    except re.error:
        return []
    gram_sets = [_trigrams_of(c) for c in _node_dnf(list(parsed))]
    grams = sorted(set.intersection(*gram_sets)) if gram_sets else []
    return _sample_grams(grams)


# ---------------------------------------------------------------------------
# index build
# ---------------------------------------------------------------------------

TRIGRAM_DIR = "trigrams"
TRIGRAM_MARKER = "_TRIGRAM_COMPLETE"
_TRIGRAM_SCHEMA = "ghash int, n_docs int, ids_blocks array<binary>"
# full on-disk schema incl. partition cols: reading with an explicit
# schema keeps an empty index (all-binary corpus / all docs removed)
# a valid empty DataFrame instead of a schema-inference failure
_TRIGRAM_TABLE_SCHEMA = _TRIGRAM_SCHEMA + ", seg int, bucket int"


# LSM delta appends live in a _-prefixed subdir (invisible to the base
# table's partition discovery, like _gram_stats): app=K/seg=S dirs with
# bucket as a sorted DATA column. Appending into the base's seg=/bucket=
# dirs paid one file commit per (seg, bucket) touched — ~segs x buckets
# small files per update at production geometry; the delta dir writes
# one dir per seg instead, and a pushed bucket filter over sorted row
# groups prunes the (delta-sized) scan just as well.
TRIGRAM_DELTA_SUBDIR = "_delta"


def _trigram_delta_dir(root: str) -> str:
    import os

    return os.path.join(root, TRIGRAM_DIR, TRIGRAM_DELTA_SUBDIR)


def _read_trigram_table(
    spark: SparkSession, root: str, n_apps: int | None = None
) -> DataFrame:
    """Base ∪ committed delta appends. Only app dirs < the marker's
    n_apps are visible — a crashed partial append (dir present, marker
    never rewritten) is excluded, because a PARTIAL append would be a
    candidate UNDER-approximation (missed matches), the one unsound
    direction. A caller that already read the marker (TrigramIndex)
    passes its n_apps, so every read of the handle sees one snapshot."""
    import os

    base = spark.read.schema(_TRIGRAM_TABLE_SCHEMA).parquet(
        os.path.join(root, TRIGRAM_DIR)
    )
    if n_apps is None:
        n_apps = int(_read_trigram_marker(root).get("n_apps", 0))
    ddir = _trigram_delta_dir(root)
    if n_apps <= 0 or not os.path.isdir(ddir):
        return base
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StructField, StructType

    sch = StructType(
        list(base.schema.fields) + [StructField("app", IntegerType())]
    )
    delta = (
        spark.read.schema(sch).parquet(ddir)
        .where(F.col("app") < int(n_apps))
        .select(*base.columns)
    )
    return base.unionByName(delta)


def _trigram_datasets(root: str, n_apps: int) -> list:
    """Driver-side twin of _read_trigram_table for small reads: pyarrow
    datasets of the base table and of each committed delta append (app <
    n_apps, the marker value the Spark table was read with), read with
    the Spark table's schema."""
    import os

    from ck_spark.plans.schemas import arrow_dataset

    # the base listing skips _-prefixed entries (_delta, _gram_stats),
    # as Spark's partition discovery does
    out = [arrow_dataset(os.path.join(root, TRIGRAM_DIR),
                         _TRIGRAM_TABLE_SCHEMA, ("seg", "bucket"))]
    ddir = _trigram_delta_dir(root)
    for app in range(n_apps):
        d = os.path.join(ddir, f"app={app}")
        if os.path.isdir(d):
            out.append(arrow_dataset(d, _TRIGRAM_TABLE_SCHEMA, ("seg",)))
    return out


def trigram_index_exists(root: str) -> bool:
    import os

    return os.path.exists(os.path.join(root, TRIGRAM_DIR, TRIGRAM_MARKER))


def trigram_index_compatible(root: str) -> bool:
    """Complete AND keyed with the current gram scheme — the reuse gate
    for callers that would otherwise serve a legacy-keyed index (which
    TrigramIndex.load refuses, degrading every grep to a full scan)."""
    return (
        trigram_index_exists(root)
        and _read_trigram_marker(root).get("gram_key") == GRAM_KEY
    )


def invalidate_trigram_marker(root: str) -> None:
    """Drop the completion marker — readers then refuse the index (loud
    full-scan fallback). Called at the start of an incremental update's
    mutation window so a crash mid-refresh can never leave a silently
    stale candidate index."""
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(root, TRIGRAM_DIR, TRIGRAM_MARKER))


# collect the candidate (seg, doc_id) set driver-side when it is at most
# this many rows: a literal seg IN (...) AND doc_id IN (...) filter on the
# seg-partitioned, doc_id-sorted doc_map gives partition pruning PLUS
# parquet row-group/page skipping — content bytes read scale with the
# candidate set, not the corpus. Above the cap (pattern matches a large
# fraction of docs, where a scan is IO-bound regardless) fall back to a
# distributed semi-join. The cap bounds driver memory AND the SQL-text
# predicate size (~0.15 ms/id driver-side to build+parse).
CANDIDATE_COLLECT_MAX = 20_000

# gram triage (TrigramIndex.triage_grams): intersect only the
# SELECTIVE_GRAM_LIMIT rarest grams whose global df is at most
# SELECTIVE_DF_FRACTION of the corpus; if none qualifies — or the RAREST
# gram still matches more than TRIAGE_SCAN_FRACTION of the corpus (the
# candidate superset would be a large slice whose fetch costs what the
# scan costs, plus intersection work) — the grep falls back to the scan
SELECTIVE_GRAM_LIMIT = 3
SELECTIVE_DF_FRACTION = 0.5
TRIAGE_SCAN_FRACTION = 0.05
# with a point-read content store beside the index, pruning keeps paying
# past the parquet path's 5% knee: candidate sets past the driver-collect
# cap stay distributed (doc_map semi-join, or blob pointer join on
# big-doc corpora — see _fetch_candidates). Measured at 1M docs
# (BENCH/SCALE_DEMO.md): the semi-join's regex-only-candidates CPU win
# decays toward 1x as candidates approach ~15% of the corpus, so that is
# the union-level knee past which the plain scan is declared the winner.
STORE_SCAN_FRACTION = 0.15

# blob point reads (seek + per-doc zlib inflate + Arrow framing) carry a
# few KB of fixed per-doc overhead — measured at 1M tiny (~190 B) docs
# the blob tier read ~4x MORE bytes than the sequential columnar scan.
# The pointer-join tier therefore only engages when the store's mean doc
# size amortizes the framing; smaller docs take the doc_map semi-join
# (sequential columnar IO, regex verify over candidates only).
BLOB_MIN_DOC_BYTES = 4096

# on a big-doc store the blob tier's bytes scale with candidates at any
# set size, so its knee sits higher: at 30% candidates it still reads
# ~2-3x fewer content bytes than the scan (framing included at >= 4 KB
# docs); past ~1/3 the sequential scan wins back.
BLOB_SCAN_FRACTION = 0.30

# packed (format-2) SMALL-doc stores: candidates are hash-scattered, so a
# c-candidate fetch hits ~min(c, n_blocks) blocks and block bytes are the
# IO unit. Measured crossover (BENCH/SCALE_DEMO_R5.md, ~700 B
# docs, 8 KB blocks): the blob tier reads LESS than the scan below ~2.5%
# candidate fraction (1.8x less at 0.8%, 9.6x at ~0) and more above it —
# past the crossover the doc_map semi-join (scan-equal IO, candidate-only
# regex CPU) is the better distributed tier, exactly as pre-packing.
PACKED_BLOB_FRACTION = 0.025

# the semi-join tier must BROADCAST the candidate ids: letting the join
# shuffle doc_map moves every content byte through shuffle write+read —
# measured 3x the corpus bytes (BENCH/SCALE_DEMO.md). 5M ids ≈ 40 MB
# broadcast; sets past that (possible only on >33M-doc corpora, where
# the 15% knee exceeds it) fall back to the scan, whose content never
# leaves the sequential columnar read.
SEMIJOIN_BROADCAST_MAX = 5_000_000
# executor-side early stop: once the accumulated intersection is this
# small, further gram decodes cost more than the false positives they
# would remove (the regex verify removes them anyway)
PRUNE_STOP = 2048

# grams are BYTE trigrams of the UTF-8 encoding of lower(content), keyed
# by their packed 3-byte code: ghash = b0<<16 | b1<<8 | b2 — a PERFECT
# (collision-free) key in exactly the 2^24 space, computable fully
# vectorized in numpy straight off the content bytes (no per-position
# string allocation, no hashing). Byte trigrams are Cox's original
# Code Search design; a required CHAR trigram's UTF-8 encoding is >= 3
# bytes, so every byte trigram of a required substring is itself
# required — pruning soundness is unchanged. The query filter is an int
# lookup with parquet page skipping (rows ghash-sorted at write).
# Pre-v7 indexes keyed grams by xxhash64%2^24; the marker records which
# keying built the index and mismatches are rebuilt/refused loudly.
GRAM_HASH_SPACE = 1 << 24
GRAM_KEY = "b3"  # packed UTF-8 byte-trigram codes (index format v7)


def gram_hash(gram: str | bytes) -> int:
    """Driver-side gram -> ghash. ``gram`` is a 3-byte trigram — as bytes,
    or as the latin-1 str rendering _trigrams_of produces (1 char : 1
    byte, identical to the ASCII string for ASCII grams)."""
    b = gram.encode("latin-1") if isinstance(gram, str) else gram
    if len(b) != 3:
        raise ValueError(f"gram must be exactly 3 bytes, got {b!r}")
    return (b[0] << 16) | (b[1] << 8) | b[2]


# extraction processes docs in sub-chunks of at most 255 docs / 1 MB of
# content: with <= 255 docs the (doc_idx << 24 | code) dedupe key fits
# uint32, and a ~1 MB sub-chunk's scratch (~10 bytes/position) stays
# L2/L3-RESIDENT — the uint64 whole-batch variant this replaces streamed
# every sort pass through DRAM and inflated 2.7x under 8-way executor
# concurrency on one box (BENCH/membw_probe.jsonl); the sub-chunked
# kernel measures ~2x faster solo and near-flat at 8-way
_EXTRACT_CHUNK_DOCS = 255
_EXTRACT_CHUNK_BYTES = 1 << 20


def _extract_pairs_sub(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (code, doc_idx) byte-trigram pairs for <= 255
    already-lowercased UTF-8 buffers — fully vectorized: pack every
    3-byte window of the concatenated buffer, mask the 2 window slots at
    each doc's end (the exact cross-boundary set), dedupe per doc via a
    32-bit (doc_idx<<24 | code) key."""
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    big = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    # the packed uint32 key gives doc_idx only 8 bits; callers must chunk
    # (as _extract_pairs does) or doc attribution silently wraps
    assert len(bufs) <= 255, "chunk _extract_pairs_sub inputs to <=255 docs"
    n = big.size
    if n < 3:
        z = np.empty(0, dtype=np.int64)
        return z, z
    codes_all = (
        (big[:-2].astype(np.uint32) << 16)
        | (big[1:-1].astype(np.uint32) << 8)
        | big[2:]
    )
    ends = np.cumsum(lens)
    # window at position p inside doc d is real iff p+2 < ends[d]; the
    # invalid positions are exactly ends[d]-2 and ends[d]-1 for every d
    # (for docs shorter than 3 bytes those indices fall in earlier docs'
    # already-invalid slots, so clipping keeps the set exact)
    valid = np.ones(n - 2, dtype=bool)
    bad = np.concatenate([ends - 2, ends - 1])
    bad = bad[(bad >= 0) & (bad < n - 2)]
    valid[bad] = False
    doc_idx_all = np.repeat(
        np.arange(len(bufs), dtype=np.uint32), lens
    )[: n - 2]
    key = (doc_idx_all[valid] << np.uint32(24)) | codes_all[valid]
    key = np.unique(key)
    didx = (key >> np.uint32(24)).astype(np.int64)
    codes = (key & np.uint32(0xFFFFFF)).astype(np.int64)
    return codes, didx


def _extract_pairs(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (code, doc_idx) pairs for ANY number of buffers, processed
    in cache-resident sub-chunks (see _EXTRACT_CHUNK_DOCS)."""
    code_parts, didx_parts = [], []
    i, N = 0, len(bufs)
    while i < N:
        j, nb = i, 0
        while j < N and j - i < _EXTRACT_CHUNK_DOCS \
                and nb < _EXTRACT_CHUNK_BYTES:
            nb += len(bufs[j])
            j += 1
        c, d = _extract_pairs_sub(bufs[i:j])
        code_parts.append(c)
        didx_parts.append(d + i)
        i = j
    if not code_parts:
        z = np.empty(0, dtype=np.int64)
        return z, z
    return np.concatenate(code_parts), np.concatenate(didx_parts)


def _extract_chunk(bufs: list[bytes], doc_ids: np.ndarray,
                   segs: np.ndarray) -> tuple[np.ndarray, ...]:
    """Distinct (code, doc_id, seg) byte-trigram triples for a chunk of
    already-lowercased UTF-8 buffers (compat wrapper over
    _extract_pairs for callers that hold per-doc id/seg arrays)."""
    codes, didx = _extract_pairs(bufs)
    return codes, doc_ids[didx], segs[didx]


# pairs per in-task encode chunk: 8M pairs ≈ 130 MB of sort/encode
# working set — big enough that per-chunk numpy overhead is noise, small
# enough that the allocator reuses warm pages across chunks
_PAIRS_CHUNK = 8 << 20


def _encode_pairs_chunk(code_parts, didx_parts, id_arrs, seg_arrs,
                        term_buckets: int) -> pd.DataFrame:
    """Sort+group+block-encode one chunk of extracted (code, doc-index)
    pairs into partial posting rows.

    Groups the triples by (seg, code); ids ascending within each group
    (the delta-gap encoder's contract). ONE argsort of a packed
    (seg, code, doc-RANK) uint64 key replaces the former
    lexsort((ids, seg<<24|code)) — two stable int64 argsort passes —
    because ranking the task's doc ids once makes doc order fit 24 bits.
    Keys are unique ((doc, code) pairs are distinct post-dedupe), so an
    unstable sort is exact. Falls back to lexsort if the geometry ever
    exceeds the bit budget (seg >= 2^16 or 16M docs in one task).
    ``didx`` values index the TASK's doc axis, so ``id_arrs``/``seg_arrs``
    must cover every doc seen so far (they are small; the pair streams
    are what chunking bounds)."""
    from ck_spark.codec import encode_id_blocks_flat
    from ck_spark.constants import BLOCK_SIZE

    codes = np.concatenate(code_parts)
    didx = np.concatenate(didx_parts)
    doc_ids = np.concatenate(id_arrs)
    segs = np.concatenate(seg_arrs)
    if codes.size == 0:
        return pd.DataFrame({
            "ghash": np.empty(0, dtype=np.int64),
            "n_docs": np.empty(0, dtype=np.int64),
            "ids_blocks": [],
            "seg": np.empty(0, dtype=np.int64),
            "bucket": np.empty(0, dtype=np.int64),
        })
    nd = doc_ids.size
    if nd < (1 << 24) and (segs.size == 0 or int(segs.max()) < (1 << 16)):
        doc_order = np.argsort(doc_ids, kind="stable")
        rank_of = np.empty(nd, dtype=np.uint64)
        rank_of[doc_order] = np.arange(nd, dtype=np.uint64)
        k = (
            (segs[didx].astype(np.uint64) << np.uint64(48))
            | (codes.astype(np.uint64) << np.uint64(24))
            | rank_of[didx]
        )
        order = np.argsort(k)
        k = k[order]
        ids = doc_ids[didx[order]]
        kgrp = k >> np.uint64(24)  # (seg, code) — rank bits dropped
    else:
        k = (segs[didx].astype(np.uint64) << np.uint64(24)) \
            | codes.astype(np.uint64)
        ids = doc_ids[didx]
        order = np.lexsort((ids, k))
        k, ids = k[order], ids[order]
        kgrp = k
    bounds = np.flatnonzero(np.r_[True, kgrp[1:] != kgrp[:-1]])
    counts = np.diff(np.r_[bounds, kgrp.size])
    uniq = kgrp[bounds]
    gsegs = (uniq >> np.uint64(24)).astype(np.int64)
    gcodes = (uniq & np.uint64(0xFFFFFF)).astype(np.int64)
    f = encode_id_blocks_flat(ids, counts, BLOCK_SIZE)
    fblocks, boff = f["ids_blocks"], f["blk_off"]
    ids_blocks = [fblocks[int(boff[t]):int(boff[t + 1])]
                  for t in range(counts.size)]
    return pd.DataFrame({
        "ghash": gcodes,
        "n_docs": counts.astype(np.int64),
        "ids_blocks": ids_blocks,
        "seg": gsegs,
        "bucket": gcodes % np.int64(term_buckets),
    })


def _partial_posting_rows(docs: DataFrame, term_buckets: int) -> DataFrame:
    """Encoded trigram posting rows straight from (doc_id, seg, content)
    (Zoekt's shard-local build, distributed): each input partition
    extracts byte-trigram codes in numpy, aggregates ITS docs'
    (seg, ghash) -> sorted doc-id lists, and emits block-encoded PARTIAL
    posting rows. A gram touched by k partitions yields k rows under the
    same (seg, bucket) dir — exactly the multi-row-per-key shape the
    reader already unions for LSM delta appends, so partials are sound by
    construction and no gram-level consolidation pass is needed at any
    scale; _encode_and_write_grams bounds k by pre-partitioning the docs
    on (seg, salt).

    Binary (NUL-containing) docs are excluded from the index and instead
    UNIONED unpruned into every indexed grep's scan — so grep_indexed
    stays exactly result-identical to the full scan, which has no binary
    filter (matching the reference's regex_search)."""
    def gen(iterator):
        code_parts, didx_parts, id_arrs, seg_arrs = [], [], [], []
        ndocs = 0
        npairs = 0
        # encoded UTF-8 copies are flushed to extraction every ~8 MB so
        # transient memory stays bounded by the flush budget, not by the
        # Arrow batch size (10k rows of 100 KB docs would otherwise hold
        # ~1 GB of byte copies per task)
        bufs: list[bytes] = []
        nb = 0

        def flush() -> None:
            nonlocal bufs, nb, npairs
            if not bufs:
                return
            c, d = _extract_pairs(bufs)
            code_parts.append(c)
            didx_parts.append(d + (ndocs - len(bufs)))
            npairs += c.size
            bufs, nb = [], 0

        for pdf in iterator:
            texts = pdf["content"].fillna("")
            id_arrs.append(pdf["doc_id"].to_numpy().astype(np.int64))
            seg_arrs.append(pdf["seg"].to_numpy().astype(np.int64))
            for t in texts:
                b = str(t).lower().encode("utf-8")
                bufs.append(b)
                nb += len(b)
                ndocs += 1
                if nb >= 8 * _EXTRACT_CHUNK_BYTES:
                    flush()
                    # emit the accumulated pairs in BOUNDED chunks: the
                    # sort+group+encode working set stays ~_PAIRS_CHUNK
                    # x 16 B instead of growing with the whole task, so
                    # (a) fresh-page faulting per task is capped and the
                    # next chunk reuses the allocator's already-faulted
                    # pages (see session._pin_malloc_env — first-touch
                    # faults dominated the 8-way per-task wall), and
                    # (b) a task of arbitrarily many docs runs in flat
                    # memory. Each emission is one more partial row per
                    # (seg, gram) touched — the reader unions partials
                    # by construction (LSM delta shape), so chunking
                    # changes layout, never candidate sets.
                    if npairs >= _PAIRS_CHUNK:
                        out = _encode_pairs_chunk(
                            code_parts, didx_parts, id_arrs, seg_arrs,
                            term_buckets,
                        )
                        # a pair-less chunk (every doc < 3 bytes) must
                        # not be yielded: its empty ids_blocks column is
                        # float64-typed and Arrow cannot convert that to
                        # list<binary>
                        if len(out):
                            yield out
                        code_parts, didx_parts = [], []
                        npairs = 0
        flush()
        if code_parts:
            out = _encode_pairs_chunk(
                code_parts, didx_parts, id_arrs, seg_arrs, term_buckets
            )
            if len(out):
                yield out

    return (
        docs.where(~F.contains("content", F.lit("\x00")))
        .select("doc_id", "seg", "content")
        .mapInPandas(gen, _TRIGRAM_SCHEMA + ", seg int, bucket int")
    )


def _encode_and_write_grams(
    spark: SparkSession, docs: DataFrame, term_buckets: int, out_dir: str,
    append: bool = False, n_segments: int | None = None,
    n_docs_hint: int | None = None, bucket_dirs: bool = True,
) -> int:
    """Write the trigram table from (doc_id, seg, content) rows.

    ONE narrow exchange, then shard-local everything: the input rows are
    RANGE-partitioned by (seg, doc_id%salt) — content bytes move once,
    which for code corpora is ~10x lighter than the former per-(doc,gram)
    pair shuffle (a doc contributes len(content) bytes here vs ~12 bytes
    PER DISTINCT TRIGRAM there) — and each task then extracts, aggregates
    and block-encodes its docs' (seg, ghash) posting lists in numpy,
    emitting at most (k+1) x ceil(task_pairs/_PAIRS_CHUNK) partial rows
    per (seg, gram) index-wide (k = ceil(width / n_segments); the +1 is
    range-boundary rounding, the chunk factor is the in-task bounded-
    memory emission). Bounded fragmentation is the lesson
    of the pure zero-shuffle variant: letting partials scale with
    arbitrary input partitioning multiplied table rows ~40x at 1M docs
    (256 input splits x 64 segs of tiny groups) and made every
    query-side intersection pay for it.

    Rows are locally sorted so each written file keeps ascending ghash
    within its (seg, bucket) dir (parquet page skipping on the query's
    int-key filter — Spark's dynamic-partition writer sorts by partition
    columns only and is not stable, hence the explicit local sort).
    append=True adds LSM-style delta rows beside the base rows instead
    of replacing. Returns the written row count (Observation on the
    write — no extra count job)."""
    from pyspark.sql import Observation

    # one wave of python tasks: exact placement (below) splits rows
    # evenly, so the 2x-parallelism over-decomposition that hedged
    # against range-boundary imbalance only doubled the fixed per-task
    # Arrow/python overhead (~0.3-0.4 s x an extra wave at 32 cores)
    width = max(spark.sparkContext.defaultParallelism, 16)
    if n_docs_hint is not None and n_docs_hint > 0:
        # a small LSM delta append doesn't need (and shouldn't pay for)
        # the full build width — ~64 docs per task, and fewer tasks also
        # means fewer partial rows per (seg, gram)
        width = max(1, min(width, n_docs_hint // 64 + 1))
    if n_segments is None:
        # callers pass the manifest value; fall back to a salt-only
        # spread (k=width) rather than failing — still bounded
        n_segments = 1
    k = max(1, -(-width // max(int(n_segments), 1)))
    # EXACT partition placement on p = seg*k + (doc_id mod 4k)//4
    # (ck_spark.partitioning): with only segs*k distinct keys, plain hash
    # placement is balls-in-bins — measured at 480k/16 segs it left 6 of
    # 16 tasks EMPTY and gave one task 3 segs (a 3x straggler that
    # flattened 2-vs-8-core scaling) — and the repartitionByRange that
    # previously fixed the balance paid a separate sampling pass over the
    # input per build (~0.5-1 s at sf1.0, a whole extra corpus-chain
    # scan). The probe-table repartition keeps each seg contiguous in
    # [seg*k, (seg+1)*k) (so partials per (seg, gram) stay bounded by k,
    # the property the range layout had) with deterministic, perfectly
    # even placement (hash-uniform doc ids) and NO sampling job. Output
    # layout depends on partitioning; candidate SETS do not (partials
    # union at read).
    from ck_spark.partitioning import exact_repartition

    p_expr = (F.col("seg").cast("int") * F.lit(int(k))
              + (F.pmod(F.col("doc_id"), F.lit(4 * k)) / F.lit(4))
              .cast("int"))
    docs = exact_repartition(docs, int(n_segments) * k, p_expr)
    obs = Observation()
    enc_df = (
        _partial_posting_rows(docs, term_buckets)
        .sortWithinPartitions("seg", "bucket", "ghash")
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    )
    writer = enc_df.write
    if not bucket_dirs:
        # delta-append layout: one dir per seg, bucket stays a (sorted)
        # data column — file commits ∝ segs touched, not segs x buckets
        writer.mode("overwrite").partitionBy("seg").parquet(out_dir)
    elif append:
        writer.mode("append").partitionBy("seg", "bucket").parquet(out_dir)
    else:
        (
            writer.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("seg", "bucket")
            .parquet(out_dir)
        )
    return int(obs.get["rows"])


def _write_grams_local(docs: pd.DataFrame, term_buckets: int,
                       out_dir: str) -> int:
    """Driver twin of _encode_and_write_grams(bucket_dirs=False) for a
    small delta append: the same extraction and block-encode kernels
    (_extract_pairs, _encode_pairs_chunk) over the (doc_id, seg, content)
    rows, NUL-containing docs excluded, written as one file per seg dir
    with bucket a sorted data column. Returns the written row count."""
    import pyarrow as pa

    from ck_spark.plans.schemas import write_partitioned

    texts = docs["content"].fillna("")
    keep = ~texts.str.contains("\x00", regex=False).to_numpy()
    codes, didx = _extract_pairs(
        [str(t).lower().encode("utf-8") for t in texts[keep]])
    rows = _encode_pairs_chunk(
        [codes], [didx], [docs["doc_id"].to_numpy(np.int64)[keep]],
        [docs["seg"].to_numpy(np.int64)[keep]], term_buckets)
    if rows.empty:
        return 0
    write_partitioned(pa.Table.from_pandas(rows, preserve_index=False), out_dir,
                      _TRIGRAM_TABLE_SCHEMA, ("seg",), ("bucket", "ghash"))
    return len(rows)


GRAM_STATS_DIR = "_gram_stats"  # _-prefixed: invisible to partition discovery


def _write_gram_stats(spark: SparkSession, root: str) -> None:
    """Persist global per-gram document frequencies beside the postings
    (the BM25 term_stats analogue): ONE aggregation at build/compact
    time so query-time gram triage is a driver-side dict lookup —
    zero Spark jobs per grep (the previous per-query metadata aggregation
    cost more CPU than the candidate intersection it was optimizing)."""
    import os

    out = os.path.join(root, TRIGRAM_DIR, GRAM_STATS_DIR)
    (
        _read_trigram_table(spark, root)
        .groupBy("ghash").agg(F.sum("n_docs").alias("df"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    )


def _read_gram_stats(root: str) -> dict:
    """Driver-side load (pyarrow, no Spark job); {} when absent."""
    import os

    import pandas as _pd

    path = os.path.join(root, TRIGRAM_DIR, GRAM_STATS_DIR)
    try:
        pdf = _pd.read_parquet(path)
    except (OSError, ValueError):
        return {}
    return dict(zip(pdf["ghash"].astype(int), pdf["df"].astype(int)))


def _write_trigram_marker(
    out_dir: str, rows: int, term_buckets: int, delta_docs: int = 0,
    n_apps: int = 0,
) -> None:
    # dynamic partition overwrite commits per-partition and writes NO
    # top-level _SUCCESS; completion is marked explicitly (tmp+rename,
    # same discipline as the manifest) so presence checks are atomic.
    # delta_docs counts docs covered only by LSM delta appends — the
    # compaction trigger (doc count, NOT posting rows: overlapping gram
    # sets make row counts a distorted proxy; the real rebuild cost and
    # intersection-width bloat both scale with delta DOCS).
    import json
    import os
    import tempfile

    fd, tmp = tempfile.mkstemp(dir=out_dir)
    with os.fdopen(fd, "w") as f:
        json.dump({"rows": rows, "delta_docs": delta_docs,
                   "n_apps": int(n_apps),
                   "gram_hash_space": GRAM_HASH_SPACE,
                   "gram_key": GRAM_KEY,
                   "term_buckets": term_buckets}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(out_dir, TRIGRAM_MARKER))


def _read_trigram_marker(root: str) -> dict:
    import json
    import os

    try:
        with open(os.path.join(root, TRIGRAM_DIR, TRIGRAM_MARKER)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def build_trigram_index(
    spark: SparkSession,
    corpus: DataFrame | None,
    root: str,
    n_segments: int | None = None,
    term_buckets: int | None = None,
) -> int:
    """Build the trigram candidate index beside an existing BM25 index at
    ``root`` (same seg/bucket geometry — read from the manifest so doc ids
    land in the same segments and bucket pruning works identically).

    corpus=None (v6 stored-content indexes) derives the grams from the
    index's own doc_map — no external corpus needed, stored doc_id/seg
    reused instead of rehashing. Returns the number of (seg, bucket,
    ghash) posting rows written."""
    import os

    from ck_spark.index.builder import doc_id_expr, seg_expr
    from ck_spark.index.manifest import Manifest

    meta = Manifest(root).load_meta()
    n_segments = n_segments or int(meta["n_segments"])
    term_buckets = term_buckets or int(meta["term_buckets"])

    if corpus is None:
        if not meta.get("store_content"):
            raise ValueError(
                "build_trigram_index without a corpus needs a stored-content "
                "(v6 store_content=True) index — pass the corpus DataFrame "
                "or rebuild the index with store_content=True"
            )
        from ck_spark.index.lsm import live_doc_map

        docs = live_doc_map(spark, root, meta).select(
            "doc_id", F.col("seg").cast("int").alias("seg"), "content"
        )
    else:
        docs = corpus.withColumn("doc_id", doc_id_expr()).withColumn(
            "seg", seg_expr(n_segments)
        )

    out_dir = os.path.join(root, TRIGRAM_DIR)
    old_key = _read_trigram_marker(root).get("gram_key")
    if old_key is not None and old_key != GRAM_KEY:
        # a legacy-keyed table can't be dynamically overwritten in place:
        # its rows under untouched partitions would survive as key-space
        # pollution (sound over-inclusion, but permanent bloat)
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
    invalidate_trigram_marker(root)
    import shutil as _sh

    # a full (re)build folds everything into base: stale delta apps must
    # not survive to be mistaken for a later append's generation
    _sh.rmtree(_trigram_delta_dir(root), ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    rows = _encode_and_write_grams(spark, docs, term_buckets, out_dir,
                                   n_segments=n_segments)
    _write_gram_stats(spark, root)
    _write_trigram_marker(out_dir, rows, term_buckets)
    return rows


# compaction trigger: when delta appends cover more than this fraction of
# the corpus (delta_docs / n_docs), fold them into a fresh base build
# (over-inclusive stale entries are always CORRECT — the doc_map fetch /
# regex verify drops them — compaction only bounds bloat and
# intersection width)
DELTA_COMPACT_FRACTION = 0.25


def refresh_trigram_append(
    spark: SparkSession, root: str, fresh_docs: DataFrame,
    n_fresh: int | None = None, allow_compact: bool = True,
) -> int:
    """Incremental refresh (the update_index hook) — LSM-style DELTA
    APPEND, not a rebuild.

    Why append is sound: the trigram index is a candidate OVER-approximation
    — correctness only requires that every doc whose CURRENT content
    contains the query grams is a candidate. Appending postings for the
    added/modified docs restores that cover; the old entries of modified/
    removed docs merely over-include (the candidate fetch joins doc_map,
    which holds only live docs with current content, and the regex verify
    is exact). So a 2% update derives grams for 2% of the content — under
    hash-scattered segments a per-segment rebuild would touch EVERY
    segment and cost a full rebuild, the trap this design dodges.

    ``fresh_docs`` as a pandas frame of (doc_id, seg, content) is the
    driver write tier's call: the same append through _write_grams_local,
    no Spark job.

    Caller protocol (builder.update_index): marker invalidated at the
    start of the mutation window; crash => marker absent => full-scan
    fallback; a rerun may append the same delta twice, which is only more
    (harmless) over-inclusion until the next compaction. When the delta
    fraction exceeds DELTA_COMPACT_FRACTION the whole index is compacted
    (rebuilt from doc_map)."""
    import os

    from ck_spark.index.manifest import Manifest

    meta = Manifest(root).load_meta()
    term_buckets = int(meta["term_buckets"])
    n_docs_total = max(int(meta.get("n_docs") or 1), 1)
    out_dir = os.path.join(root, TRIGRAM_DIR)
    old = _read_trigram_marker(root)
    if not old:
        # no committed marker: an earlier refresh crashed inside its window
        # (or the build never finished), and with it went the count of
        # committed appends — appending now would publish an index that
        # lacks them (missed matches). Leave it unmarked (the full-scan
        # fallback); maybe_compact_trigram rebuilds it after the commit.
        return 0
    if old.get("gram_key") != GRAM_KEY:
        # base index keyed with a previous gram scheme: delta rows in the
        # current keying would never intersect — rebuild instead
        return compact_trigram_index(spark, root)
    base_rows = int(old.get("rows", 0))
    old_delta = int(old.get("delta_docs", 0))
    n_apps = int(old.get("n_apps", 0))
    invalidate_trigram_marker(root)
    # GC crashed partial appends: any app dir >= the committed count was
    # never made visible (a partial append would UNDER-approximate —
    # missed matches — so visibility is marker-gated, unlike the
    # harmlessly over-inclusive stale rows of modified docs)
    import shutil

    ddir = _trigram_delta_dir(root)
    if os.path.isdir(ddir):
        for name in os.listdir(ddir):
            if name.startswith("app="):
                try:
                    if int(name[4:]) >= n_apps:
                        shutil.rmtree(os.path.join(ddir, name),
                                      ignore_errors=True)
                except ValueError:
                    pass
    app_dir = os.path.join(ddir, f"app={n_apps}")
    if isinstance(fresh_docs, pd.DataFrame):
        appended = _write_grams_local(fresh_docs, term_buckets, app_dir)
        if n_fresh is None:
            n_fresh = len(fresh_docs)
    else:
        docs = fresh_docs.select("doc_id", "seg", "content")
        if n_fresh is None:
            n_fresh = docs.count()
        # Observation.get would hang on a plan that runs no tasks — guard
        # the nothing-to-append case (update with only removals)
        appended = 0 if n_fresh == 0 else _encode_and_write_grams(
            spark, docs, term_buckets, app_dir, bucket_dirs=False,
            n_segments=int(meta.get("n_segments") or 1),
            n_docs_hint=int(n_fresh),
        )
    rows = base_rows + appended
    delta_docs = old_delta + int(n_fresh)
    if allow_compact and delta_docs > n_docs_total * DELTA_COMPACT_FRACTION:
        return compact_trigram_index(spark, root)
    _write_trigram_marker(out_dir, rows, term_buckets, delta_docs=delta_docs,
                          n_apps=n_apps + (1 if appended else 0))
    return rows


def maybe_compact_trigram(spark: SparkSession, root: str) -> int | None:
    """Run the deferred compaction check (update_index calls this AFTER
    its meta commit, so the rebuilt base derives from the NEW content).
    An unmarked index (a crashed earlier refresh) is rebuilt as well."""
    from ck_spark.index.manifest import Manifest

    m = _read_trigram_marker(root)
    n_docs_total = max(int(Manifest(root).load_meta().get("n_docs") or 1), 1)
    if not m or int(m.get("delta_docs", 0)) > n_docs_total * DELTA_COMPACT_FRACTION:
        return compact_trigram_index(spark, root)
    return None


def compact_trigram_index(spark: SparkSession, root: str) -> int:
    """Fold all delta appends into a fresh base: drop + rebuild from the
    (stored-content) doc_map. Crash-safe via the marker protocol."""
    import os
    import shutil

    invalidate_trigram_marker(root)
    shutil.rmtree(os.path.join(root, TRIGRAM_DIR), ignore_errors=True)
    return build_trigram_index(spark, None, root)


# ---------------------------------------------------------------------------
# query: candidate pruning + exact scan
# ---------------------------------------------------------------------------


class TrigramIndex:
    """Query handle over a built trigram index: caches the table DataFrame
    (one InMemoryFileIndex — partition-dir listing is paid once, not per
    query, same rationale as BM25Index.postings_df) and the bucket
    geometry. Reload after build_trigram_index re-runs.

    Refuses to load without the _TRIGRAM_COMPLETE marker: after a crash
    mid-build/mid-refresh a partial index would silently miss matches —
    callers must fall back to the full-scan grep instead (grep_indexed
    and service.regex_search do exactly that)."""

    def __init__(self, spark: SparkSession, root: str, cache: bool = False):
        from ck_spark.index.manifest import Manifest

        if not trigram_index_exists(root):
            raise FileNotFoundError(
                f"no complete trigram index at {root} (missing "
                f"{TRIGRAM_DIR}/{TRIGRAM_MARKER}) — run build_trigram_index, "
                "or use the full-scan grep"
            )
        marker = _read_trigram_marker(root)
        marker_key = marker.get("gram_key")
        if marker_key != GRAM_KEY:
            # pre-v7 keying (xxhash64%2^24): candidate lookups with the
            # packed-byte keys would silently miss — refuse so callers
            # fall back to the (always-correct) full scan and rebuild
            raise FileNotFoundError(
                f"trigram index at {root} uses gram keying "
                f"{marker_key!r}, this build uses {GRAM_KEY!r} — "
                "rebuild with build_trigram_index"
            )
        self.spark = spark
        self.root = root
        self.meta = Manifest(root).load_meta()
        self.term_buckets = int(self.meta["term_buckets"])
        self.store_content = bool(self.meta.get("store_content"))
        n_apps = int(marker.get("n_apps", 0))
        self.df = _read_trigram_table(spark, root, n_apps=n_apps)
        if cache:
            # hold the (compact, int-keyed) candidate index in executor
            # memory — the Spark analogue of Zoekt's memory-mapped shards;
            # at cluster scale each executor caches its slice
            self.df = self.df.cache()
        # candidates_local's datasets, listed from the same marker read,
        # so both candidate tiers of a handle answer from one snapshot
        self._local_datasets = _trigram_datasets(root, n_apps)
        self._doc_map_df: DataFrame | None = None
        self._gram_stats: dict | None = None
        self._content_store = None
        self._content_store_checked = False

    @classmethod
    def load(cls, spark: SparkSession, root: str, cache: bool = False) -> "TrigramIndex":
        return cls(spark, root, cache=cache)

    @property
    def gram_stats(self) -> dict:
        """ghash -> global df, loaded once driver-side (pyarrow, no Spark
        job). Missing file (pre-stats index) => {} — triage then treats
        every gram as possibly-present and ranks nothing, degrading to
        SCAN; rebuild the trigram index to restore pruning."""
        if self._gram_stats is None:
            self._gram_stats = _read_gram_stats(self.root)
        return self._gram_stats

    @property
    def content_store(self):
        """Point-read blob store handle when a complete one exists beside
        the index, else None (fetch then uses the parquet doc_map). The
        probe is cached: marker checks are cheap but per-query adds up."""
        if not self._content_store_checked:
            from ck_spark.index.content_store import ContentStore

            try:
                self._content_store = ContentStore.load(self.spark, self.root)
            except FileNotFoundError:
                self._content_store = None
            self._content_store_checked = True
        return self._content_store

    @property
    def doc_map_df(self) -> DataFrame:
        """LIVE view (base ∪ delta generations − tombstones,
        index/lsm.py): candidate fetch must see a modified doc's NEWEST
        content — stale trigram entries for superseded versions are then
        dropped by the regex verify (over-approximation soundness)."""
        if self._doc_map_df is None:
            from ck_spark.index.lsm import live_doc_map

            self._doc_map_df = live_doc_map(self.spark, self.root)
        return self._doc_map_df

    def candidates(self, grams) -> DataFrame:
        """(seg, doc_id) candidates for a flat gram list (all required)
        or a trigram_dnf clause list (per-clause AND, clauses unioned)."""
        return _intersect_candidates(self.df, grams, self.term_buckets)

    def candidates_local(self, grams) -> pd.DataFrame:
        """Driver-side twin of candidates for small sets (no Spark job):
        pyarrow reads the same bucket/ghash-pruned rows of the base table
        and every committed delta append, and each segment intersects
        with the same _intersect_segment. Returns a pandas (seg, doc_id)
        frame. It reads every kept gram's whole posting list before any
        intersection, so callers gate it on posting_mass as well as on the
        candidate bound. It reads from disk (the OS page cache) even when
        the handle was loaded with cache=True."""
        import pyarrow.dataset as pads

        clause_hashes, ghashes = _clause_hashes(grams)
        buckets = sorted({h % self.term_buckets for h in ghashes})
        flt = pads.field("bucket").isin(buckets) & pads.field("ghash").isin(ghashes)
        cols = ["seg", "ghash", "n_docs", "ids_blocks"]
        rows = pd.concat(
            [ds.to_table(columns=cols, filter=flt).to_pandas()
             for ds in self._local_datasets], ignore_index=True,
        )
        return pd.concat(
            [_NO_CANDIDATES, *(_intersect_segment(grp, clause_hashes)
                               for _, grp in rows.groupby("seg", sort=True))],
            ignore_index=True,
        )

    def triage_grams(self, grams: list[str]) -> list[str] | str:
        """Zoekt-style gram selection BEFORE any posting decode: rank the
        query's grams by global df (the _gram_stats side table, loaded
        once driver-side — ZERO Spark jobs here) and keep the few RAREST
        selective ones.

        Why: every required gram is individually sufficient for sound
        pruning, so intersecting a subset only widens the candidate set
        (regex verify removes the extras — free), while each SKIPPED
        common gram avoids decoding a near-corpus-sized posting list
        (measured at 1M docs: a 'def'-class gram decodes ~N ids per
        segment for almost no extra pruning). Zoekt ships the same
        heuristic (rarest ngrams per substring).

        Delta soundness: stats are rebuilt at build/compact but NOT
        at delta appends, so with pending deltas (marker delta_docs > 0) a
        gram missing from stats may still exist in the delta — its df is
        then estimated as delta_docs (an upper bound), never declared
        EMPTY. The real intersection decides from actual postings; stats
        only order and select.

        Returns the selected gram subset; "EMPTY" when some gram is
        absent index-wide (no doc can match); "SCAN" when no gram is
        selective (pruning would cost more than the scan it saves)."""
        stats = self.gram_stats
        if not stats:
            # no stats side table (legacy index): cannot rank or prove
            # absence — keep ALL grams (the original exhaustive
            # intersection, still sound and still pruning)
            return list(dict.fromkeys(grams))
        delta_docs = int(_read_trigram_marker(self.root).get("delta_docs", 0))
        ghashes = sorted({gram_hash(g) for g in grams})
        df_map: dict[int, int] = {}
        for h in ghashes:
            df = stats.get(h)
            if df is None:
                if delta_docs == 0:
                    return "EMPTY"
                df = 0  # could only exist in the delta
            df_map[h] = int(df) + delta_docs  # stale-low correction
        n_total = max(int(self.meta.get("n_docs") or 1), 1)
        selective = sorted(
            (df, h) for h, df in df_map.items()
            if df <= n_total * SELECTIVE_DF_FRACTION
        )[:SELECTIVE_GRAM_LIMIT]
        # the scan wins only when the candidate superset is BOTH a large
        # fraction of the corpus (fetch bytes ~ scan bytes) AND large in
        # absolute terms (the literal-IN fetch of ≤10k docs is cheap no
        # matter the corpus, so small corpora never lose pruning). The
        # fraction is tier-aware (scan_fraction): a content store keeps
        # pruning paying past the parquet path's 5% knee — 15% for the
        # semi-join continuation, 30% when the blob pointer-join tier
        # will carry the fetch (bytes ∝ candidates at any set size).
        scan_floor = max(n_total * self.scan_fraction(),
                         CANDIDATE_COLLECT_MAX // 2)
        if not selective or selective[0][0] > scan_floor:
            return "SCAN"
        chosen = {h for _, h in selective}
        # map back to gram strings (collisions: any representative works —
        # same posting list either way)
        out, seen = [], set()
        for g in grams:
            h = gram_hash(g)
            if h in chosen and h not in seen:
                out.append(g)
                seen.add(h)
        return out

    def scan_fraction(self) -> float:
        """The corpus fraction past which the plain scan beats pruning,
        given which fetch tier would carry an over-cap candidate set:
        blob pointer-join (big-doc store, bytes ∝ candidates) > doc_map
        semi-join (scan-equal IO, regex savings decay) > storeless
        parquet fetch."""
        store = self.content_store
        if store is None:
            return TRIAGE_SCAN_FRACTION
        if store.avg_raw_len >= BLOB_MIN_DOC_BYTES:
            return BLOB_SCAN_FRACTION
        # packed small-doc stores: the blob tier extends the LOW-fraction
        # regime (see PACKED_BLOB_FRACTION) but the union-level knee is
        # still the semi-join tier's 15%
        return STORE_SCAN_FRACTION

    def estimate_candidates(self, grams) -> int | None:
        """Driver-side upper bound on the gram-intersection size: the
        global df of the rarest gram (delta-corrected — pending delta
        docs may contain any gram). None without a stats side table.
        Sound as a bound because |∩ lists| <= min |list|."""
        stats = self.gram_stats
        if not stats:
            return None
        delta = int(_read_trigram_marker(self.root).get("delta_docs", 0))
        vals = [stats.get(gram_hash(g), 0) + delta for g in grams]
        return min(vals) if vals else None

    def posting_mass(self, grams) -> int | None:
        """Driver-side upper bound on the doc ids candidates_local reads
        for a flat gram list or a clause list: Σ global df over the
        distinct ghashes, delta-corrected like estimate_candidates. None
        without a stats side table."""
        stats = self.gram_stats
        if not stats:
            return None
        delta = int(_read_trigram_marker(self.root).get("delta_docs", 0))
        return sum(stats.get(h, 0) + delta for h in _clause_hashes(grams)[1])

    def grep(self, corpus: DataFrame | None = None, pattern: str | None = None, **kw):
        """corpus may be None on stored-content (v6) indexes — the scan
        then runs over doc_map's own content column."""
        assert pattern is not None, "pattern is required"
        return _grep_indexed_impl(self, corpus, pattern, **kw)


def trigram_candidates(
    spark: SparkSession, root: str, grams, term_buckets: int
) -> DataFrame:
    """(seg, doc_id) DataFrame of candidate docs. ``grams`` is a flat
    gram list (docs containing ALL of them) or a trigram_dnf clause list
    (per-clause AND, clause results unioned — Cox's OR-of-ANDs).
    Per-segment sorted-array intersection via applyInPandas grouped by
    seg (not mapInPandas) so a segment's gram rows can never be split
    across Arrow batches — a partial group would silently drop
    candidates. Groups are tiny (≤ total grams rows of compressed
    blocks), so the per-group overhead is noise. A gram absent from a
    segment empties that clause in that segment; rarest-first ordering
    makes each intersection cheap."""
    return _intersect_candidates(
        _read_trigram_table(spark, root), grams, term_buckets
    )


def _normalize_clauses(grams_or_clauses) -> list[list[str]]:
    """Accept a flat gram list (legacy single-clause callers) or a DNF
    clause list; [] stays []."""
    if not grams_or_clauses:
        return []
    if isinstance(grams_or_clauses[0], str):
        return [list(grams_or_clauses)]
    return [list(c) for c in grams_or_clauses]


def _intersect_candidates(
    trigram_df: DataFrame, grams_or_clauses, term_buckets: int
) -> DataFrame:
    clause_hashes, ghashes = _clause_hashes(grams_or_clauses)
    buckets = sorted({h % term_buckets for h in ghashes})

    post = (
        trigram_df
        .where(F.col("bucket").isin(buckets) & F.col("ghash").isin(ghashes))
        .select("seg", "ghash", "n_docs", "ids_blocks")
    )
    # seg rides along so a stored-content fetch can prune doc_map's seg
    # partitions without recomputing the hash
    return post.groupBy("seg").applyInPandas(
        lambda pdf: _intersect_segment(pdf, clause_hashes), "seg int, doc_id long"
    )


def _clause_hashes(grams_or_clauses) -> tuple[list[list[int]], list[int]]:
    """(per-clause sorted ghashes, all distinct ghashes) — gram routing,
    all DRIVER-SIDE, no Spark job.

    Distinct ghashes only: two query grams colliding into one key are one
    (sound) constraint. The query is OR-of-ANDs: each clause's posting
    lists intersect, clause results union — ONE postings scan covers
    every clause's ghashes (single IN filter, still page-skippable)."""
    clauses = _normalize_clauses(grams_or_clauses)
    clause_hashes = [sorted({gram_hash(g) for g in cl}) for cl in clauses]
    ghashes = sorted(set().union(*clause_hashes)) if clause_hashes else []
    return clause_hashes, ghashes


_NO_CANDIDATES = pd.DataFrame({
    "seg": np.empty(0, dtype=np.int32),
    "doc_id": np.empty(0, dtype=np.int64),
})


def _intersect_segment(pdf: pd.DataFrame,
                       clause_hashes: list[list[int]]) -> pd.DataFrame:
    """Candidate (seg, doc_id) rows of ONE segment's gram rows: each
    clause's posting lists intersect, clause results union.

    A (seg, ghash) key may carry SEVERAL rows: the base row plus
    LSM-style delta rows appended by incremental updates. A gram's doc
    list is the UNION of its rows (over-inclusion is sound — the doc_map
    fetch/regex verify drops stale ids)."""
    from ck_spark.codec import decode_all_blocks

    by_hash = {int(g): grp for g, grp in pdf.groupby("ghash", sort=False)}
    decoded: dict[int, np.ndarray] = {}

    def ids_of(h: int) -> np.ndarray:
        if h not in decoded:
            parts = [decode_all_blocks(b) for b in by_hash[h]["ids_blocks"]]
            decoded[h] = parts[0] if len(parts) == 1 else np.unique(
                np.concatenate(parts)
            )
        return decoded[h]

    results = []
    for ch in clause_hashes:
        # some gram absent in this segment -> clause empty here
        if any(h not in by_hash for h in ch):
            continue
        # AND across the clause's ghashes, rarest (summed n_docs) first
        order = sorted(ch, key=lambda h: by_hash[h]["n_docs"].sum())
        acc = None
        for h in order:
            if acc is not None and acc.size <= PRUNE_STOP:
                # further decodes cost more than the over-inclusion
                # they remove (extra candidates fail the regex verify)
                break
            ids = ids_of(h)
            acc = ids if acc is None else np.intersect1d(
                acc, ids, assume_unique=True
            )
            if acc.size == 0:
                break
        if acc is not None and acc.size:
            results.append(acc)
    if not results:
        return _NO_CANDIDATES
    union = results[0] if len(results) == 1 else np.unique(
        np.concatenate(results)
    )
    return pd.DataFrame({
        "seg": np.full(union.size, pdf["seg"].iloc[0], dtype=np.int32),
        "doc_id": union.astype(np.int64),
    })


def grep_indexed(
    spark: SparkSession,
    corpus: DataFrame | None,
    root: str,
    pattern: str,
    fixed_string: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
    topk: int | None = None,
    count_matches: bool = False,
):
    """grep() with trigram candidate pruning (one-shot handle; reuse a
    TrigramIndex for repeated queries — it caches the table listing).
    Answers are identical to ck_spark.query.grep.grep on the same corpus —
    when the pattern yields no required trigrams this IS a full-scan grep.
    corpus=None needs a stored-content (v6) index: the scan source is then
    doc_map's own content. If the trigram index is absent or incomplete
    (no completion marker — e.g. a crash mid-build) this falls back to the
    full scan rather than silently missing matches."""
    try:
        idx = TrigramIndex.load(spark, root)
    except FileNotFoundError:
        from ck_spark.index.manifest import Manifest
        from ck_spark.query.grep import grep

        if corpus is None:
            import os

            meta = Manifest(root).load_meta()
            if not meta.get("store_content"):
                raise ValueError(
                    "grep without a corpus needs a stored-content index"
                )
            from ck_spark.index.lsm import live_doc_map

            corpus = live_doc_map(spark, root, meta)
        return grep(corpus, pattern, fixed_string, whole_word, ignore_case,
                    topk=topk, count_matches=count_matches)
    return _grep_indexed_impl(
        idx, corpus, pattern,
        fixed_string=fixed_string, whole_word=whole_word,
        ignore_case=ignore_case, topk=topk, count_matches=count_matches,
    )


def _grep_indexed_impl(
    idx: TrigramIndex,
    corpus: DataFrame | None,
    pattern: str,
    fixed_string: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
    topk: int | None = None,
    count_matches: bool = False,
):
    from ck_spark.index.builder import doc_id_expr
    from ck_spark.query.grep import grep, preprocess_pattern

    use_stored = corpus is None
    if use_stored and not idx.store_content:
        raise ValueError(
            "grep without a corpus needs a stored-content (v6 "
            "store_content=True) index — pass the corpus DataFrame"
        )
    eff = preprocess_pattern(pattern, fixed_string, whole_word, ignore_case)
    clauses = trigram_dnf(eff)
    grams: list = []
    all_empty = False
    est_union: int | None = 0  # Σ per-clause bounds; None = unknown
    if clauses:
        # per-clause triage: rank each clause's grams by global df
        # (metadata-only) and keep the rarest few. One un-selective
        # clause forces the scan (its alternative could match anything
        # cheap pruning can find); a provably-EMPTY clause is dropped
        # (no doc satisfies it); ALL clauses empty -> nothing in the
        # non-binary corpus can match.
        kept: list[list[str]] = []
        scan = False
        for cl in clauses:
            sel = idx.triage_grams(cl)
            if sel == "SCAN":
                scan = True
                break
            if sel == "EMPTY":
                continue
            kept.append(sel)
            e = idx.estimate_candidates(sel)
            est_union = None if (e is None or est_union is None) \
                else est_union + e
        if not scan and kept and est_union is not None:
            # union-level knee: the per-clause floor alone would let a
            # multi-alternation pattern's candidate UNION approach
            # clauses x floor — re-check the summed bound against the
            # same tier-aware fraction. The absolute floor is the full
            # collect cap (not half): a set the literal point-read tier
            # can carry is always worth pruning regardless of fraction.
            n_total = max(int(idx.meta.get("n_docs") or 1), 1)
            if est_union > max(n_total * idx.scan_fraction(),
                               CANDIDATE_COLLECT_MAX):
                scan = True
        if scan:
            grams = []
        elif not kept:
            all_empty = True
        else:
            grams = kept
    if all_empty:
        # every alternative requires a gram that occurs in NO doc —
        # nothing can match the non-binary corpus; only binary docs
        # (never trigram-indexed) remain to check
        if use_stored or idx.store_content:
            dm = idx.doc_map_df
            if not _may_have_binary_docs(idx.meta):
                return grep(dm.limit(0), pattern, fixed_string,
                            whole_word, ignore_case,
                            topk=topk, count_matches=count_matches)
            src = dm.where(F.col("is_binary"))
        else:
            src = corpus.where(F.contains("content", F.lit("\x00")))
        return grep(src, pattern, fixed_string, whole_word, ignore_case,
                    topk=topk, count_matches=count_matches)
    if not grams:
        src = idx.doc_map_df if use_stored else corpus
        return grep(src, pattern, fixed_string, whole_word, ignore_case,
                    topk=topk, count_matches=count_matches)
    from ck_spark.query import bm25

    mass = idx.posting_mass(grams) if est_union is not None else None
    if est_union is not None and est_union <= CANDIDATE_COLLECT_MAX \
            and mass is not None and mass <= bm25.LOCAL_POSTINGS_MAX:
        # the bound proves the set is collect-sized and the kept grams'
        # posting lists are small enough to read on one driver thread
        # (the BM25 driver tier's cap): intersect on the driver (no Spark
        # job) instead of collecting a distributed one
        cands = idx.candidates_local(grams)
    else:
        cands = idx.candidates(grams)

    if use_stored or idx.store_content:
        # Zoekt-style candidate-only content fetch (even when the caller
        # passed a corpus: the stored copy is the same rows by the build's
        # sha256 invariant, and it is the pruned path). The index excludes
        # binary (NUL) docs, whose rows are unioned back unpruned so the
        # result is EXACTLY the full scan's (which has no binary filter);
        # the union branch is skipped when the manifest proves the corpus
        # has no binary docs (total rows == indexed non-binary n_docs).
        dm = idx.doc_map_df
        scoped = _fetch_candidates(dm, cands, store=idx.content_store,
                                   est=est_union,
                                   n_docs=int(idx.meta.get("n_docs") or 0))
        if _may_have_binary_docs(idx.meta):
            scoped = scoped.unionByName(
                dm.where(F.col("is_binary")).select("repo", "path", "content")
            )
    else:
        # no stored content: prune the caller's corpus by joining; AQE
        # turns this into a broadcast join when the candidate set is small.
        # The content bytes of ALL docs are still read (the filter cannot
        # reach the corpus row groups) — that is exactly the IO gap the
        # stored-content layout removes. The join side excludes binary
        # (NUL) docs: a doc updated to binary can linger in stale trigram
        # postings, and the union branch below already covers it — the
        # filter keeps it from matching twice.
        if isinstance(cands, pd.DataFrame):
            cands = idx.spark.createDataFrame(cands, "seg int, doc_id long")
        scoped = corpus.where(
            ~F.contains("content", F.lit("\x00"))
        ).withColumn("doc_id", doc_id_expr()).join(
            cands.drop("seg"), "doc_id"
        ).drop("doc_id").unionByName(
            corpus.where(F.contains("content", F.lit("\x00")))
            .select(*corpus.columns)
        )
    return grep(scoped, pattern, fixed_string, whole_word, ignore_case,
                topk=topk, count_matches=count_matches)


def _may_have_binary_docs(meta: dict) -> bool:
    """False only when the manifest PROVES zero binary docs: the
    input_snapshot token records total doc_map rows ("n<rows>-h<hash>")
    while n_docs counts indexed (non-binary) docs."""
    snap = str(meta.get("input_snapshot", ""))
    try:
        total = int(snap[1:snap.index("-")]) if snap.startswith("n") else None
    except ValueError:
        total = None
    n_docs = meta.get("n_docs")
    if total is None or n_docs is None:
        return True
    return total != int(n_docs)


def _fetch_candidates(dm: DataFrame, cands: "DataFrame | pd.DataFrame",
                      store=None, est: int | None = None,
                      n_docs: int | None = None) -> DataFrame:
    """Content rows for the candidate (seg, doc_id) set: a Spark frame,
    or a pandas one already intersected on the driver
    (TrigramIndex.candidates_local).

    Binary (NUL-flagged) docs are excluded from EVERY tier: a doc
    rewritten to binary by an incremental update can linger in stale
    trigram postings, and grep callers union binary docs back unpruned —
    fetching it here too would duplicate its match rows.

    Tiers, chosen by the driver-side candidate-count bound ``est`` (the
    rarest-gram df sum — an over-estimate, so est <= cap proves the
    probe cannot overflow):

    1. Small sets (<= CANDIDATE_COLLECT_MAX, the common selective-literal
       case) collect driver-side; with a ``store``
       (index.content_store.ContentStore) the fetch is a narrow pointer
       lookup + ranged blob reads — bytes ∝ Σ candidate sizes, the Zoekt
       stored-content path. Without one: literal pushed-down filters on
       the doc_map parquet.
    2. Larger sets stay distributed. On big-doc stores
       (avg_raw_len >= BLOB_MIN_DOC_BYTES) a pointer join + ranged blob
       reads keeps bytes ∝ candidates. On small-doc corpora the per-doc
       seek/inflate/Arrow framing overhead exceeds the content itself
       (measured 4x the scan's bytes at ~190 B docs — BENCH/SCALE_DEMO),
       so the fetch is a doc_map SEMI-JOIN instead: content IO equals
       the sequential columnar scan's, but the regex verify downstream
       runs over candidates only. est also skips the probe collect when
       it proves overflow, so the intersection job runs exactly once."""
    narrow = ["repo", "path", "content"]
    nb = ~F.col("is_binary")
    rows = None
    if isinstance(cands, pd.DataFrame):
        rows = list(zip(cands["seg"].tolist(), cands["doc_id"].tolist()))
    elif est is None or est <= CANDIDATE_COLLECT_MAX:
        rows = [(r["seg"], r["doc_id"])
                for r in cands.limit(CANDIDATE_COLLECT_MAX + 1).collect()]
        if len(rows) > CANDIDATE_COLLECT_MAX:
            rows = None  # est unknown and the probe overflowed
    if rows is None:
        packed_small_ok = (
            store is not None and store.packed and est is not None
            and n_docs and est <= PACKED_BLOB_FRACTION * n_docs
        )
        if store is not None and (
            packed_small_ok or store.avg_raw_len >= BLOB_MIN_DOC_BYTES
        ):
            # blob tier: join the (narrow, ~80-byte-row) pointer table
            # with the candidate set — AQE broadcasts whichever side is
            # small; seg joins too so dynamic partition pruning can skip
            # pointer seg-dirs — then ranged blob reads inflate exactly
            # the candidates' bytes
            ptr_rows = store.ptr.where(nb).join(
                cands.select("seg", "doc_id"), ["seg", "doc_id"]
            )
            return store.fetch_rows(ptr_rows).select(*narrow)
        # semi-join tier: sequential columnar content read (same IO as
        # the scan), regex verify over candidates only. The candidate
        # side MUST broadcast — a shuffled join would move every content
        # byte through shuffle write+read (measured 3x the corpus). When
        # the bound can't prove the set broadcastable, the scan (which
        # never moves content) is the honest choice.
        if est is not None and est <= SEMIJOIN_BROADCAST_MAX:
            return dm.where(nb).join(
                F.broadcast(cands.select("doc_id")), "doc_id"
            ).select(*narrow)
        return dm.where(nb).select(*narrow)
    if not rows:
        return dm.select(*narrow).limit(0)
    segs = sorted({seg for seg, _ in rows})
    ids = sorted(doc_id for _, doc_id in rows)
    if store is not None:
        # small sets read driver-side (pyarrow + ranged reads — no ptr
        # Spark job) and ship back via Arrow; the regex verify still runs
        # distributed over the created frame
        local = store.fetch_pred_local(segs, ids, exclude_binary=True)
        if local is not None:
            return dm.sparkSession.createDataFrame(
                local[narrow], "repo string, path string, content string"
            )
        return store.fetch_pred(segs, ids, exclude_binary=True
                                ).select(*narrow)
    # SQL-text IN lists, not Column.isin: building an In expression
    # over thousands of py4j literals costs seconds of pure driver
    # time (measured 4.1 s construct + 3.2 s run vs 0.6 + 0.5 for the
    # parsed form at 3.9k ids); the parsed predicate reaches parquet
    # as the same pushed In/InSet filter
    pred = (
        f"seg IN ({','.join(map(str, segs))}) AND "
        f"doc_id IN ({','.join(map(str, ids))}) AND NOT is_binary"
    )
    return dm.where(pred).select(*narrow)
