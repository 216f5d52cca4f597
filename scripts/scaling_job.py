"""One scaling-run: build the index over a deterministic synthetic code
corpus and run the query suite, at a given core count. Invoked via
spark-submit --py-files dist.zip (north-rule execution mode); prints one
JSON line with timings, throughput, and a result hash (the N-vs-4N runs
must be result-identical).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
import sys
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--n-docs", type=int, default=60000)
    ap.add_argument("--gen-partitions", type=int, default=64)
    ap.add_argument("--n-segments", type=int, default=16)
    ap.add_argument("--body-scale", type=int, default=3)
    ap.add_argument("--no-store-content", action="store_true",
                    help="ablation: build without the v6 stored-content "
                         "column (isolates its write cost in scaling runs)")
    ap.add_argument("--corpus-path", default=None,
                    help="pre-materialized corpus parquet: the production "
                         "input is a STORED table (north rule: 'over an "
                         "Iceberg table'), so when set, generation is "
                         "excluded from the timed build at both levels")
    ap.add_argument("--stage-metrics", action="store_true",
                    help="enable the Spark UI and report per-stage executor "
                         "run/CPU/GC time via the REST API — attributes "
                         "sub-linear N-vs-4N scaling to compute vs memory-"
                         "bandwidth vs GC vs scheduling, per stage")
    ap.add_argument("--with-trigram", action="store_true",
                    help="also time the (corpus-free, shard-local) trigram "
                         "index build and fingerprint candidate sets — the "
                         "table LAYOUT is partitioning-dependent (bounded "
                         "partial rows) but candidate SETS must be "
                         "level-identical")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ck_spark.session import _pin_malloc_env

    # before the JVM spawns, so the worker daemon inherits it (see
    # session._pin_malloc_env: first-touch fault avoidance is worth 2-5x
    # on the UDF kernels and removes their 8-way fault serialization)
    _pin_malloc_env()

    from ck_spark.corpus import generate_corpus_spark
    from ck_spark.index import build_index
    from ck_spark.query import BM25Index

    spark = (
        SparkSession.builder.appName(f"ck-scaling-{args.cores}")
        .master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(max(args.cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # keep UDF-heavy post-shuffle stages wide (small bytes, big CPU)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one transient python-worker crash should retry (cluster default
        # 4), not abort a 10-minute leg — observed once in ~60 runs
        .config("spark.task.maxFailures", "4")
        # NOTE (measured, A/B'd): forcing small read splits
        # (maxPartitionBytes=8m) to widen the stored-corpus scan did NOT
        # speed the 8-core doc_map stage (27.0 s vs 25.7 s control) and
        # SLOWED the 2-core postings stage ~40% (per-task setup overhead
        # dominates at narrow parallelism) — the default 128m coalescing
        # is kept; the sub-4x doc_map scaling is attributed by
        # --stage-metrics instead (executor run-vs-cpu gap).
        # NOTE: driver memory is set by the LAUNCHER (scripts/scaling.py
        # passes --driver-memory 2g*cores): memory scales
        # WITH the level, as on a real cluster where N executors bring
        # N x memory. An in-process config here would be ignored.
        .config("spark.ui.enabled", "true" if "--stage-metrics" in sys.argv
                else "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: python workers + codegen
    from ck_spark.tokenizer import tokens_udf

    wc = generate_corpus_spark(spark, 256, seed=1, partitions=args.cores)
    wc.select(tokens_udf("code")("content")).count()

    # fixed generation partitioning -> byte-identical corpus at any core count
    if args.corpus_path:
        corpus = spark.read.parquet(args.corpus_path)
    else:
        corpus = generate_corpus_spark(
            spark, args.n_docs, seed=42, partitions=args.gen_partitions,
            body_scale=args.body_scale,
        )

    root = tempfile.mkdtemp(prefix=f"ck_scale_{args.cores}_")
    t0 = time.time()
    build_index(
        spark, corpus, root, mode="code",
        n_segments=args.n_segments, term_buckets=16, build_groups=1,
        resume=False, store_content=not args.no_store_content,
    )
    build_s = time.time() - t0

    idx = BM25Index.load(spark, root)
    queries = [
        ("parse buffer", "or"), ("def", "or"), ("merge split cache", "and"),
        ("getUserName", "or"), ("token index query", "or"),
        ("read write cache", "or"), ("span file line", "and"),
        ("search match rank", "or"), ("doc count batch", "or"),
        ("stream hash chunk", "or"),
    ]
    h = hashlib.sha256()
    t0 = time.time()
    # one Spark job for the whole query set (batch API)
    rows = idx.search_many(queries, k=50).collect()
    for r in rows:
        h.update(f"{r['query_id']}|{r['doc_id']}|{r['score']:.9f}\n".encode())
    query_s = time.time() - t0
    # per-stage build breakdown from the manifest (diagnostic: which stage
    # scales sub-linearly)
    stage_ms = {}
    try:
        from ck_spark.index.manifest import Manifest

        for r in Manifest(root).records():
            key = f"{r['stage']}[{r.get('partition_id')}]"
            stage_ms[key] = r.get("build_ms")
    except Exception:
        pass
    trigram_s = None
    if args.with_trigram:
        from ck_spark.query.trigram import (
            TrigramIndex, build_trigram_index, trigram_dnf,
        )

        t0 = time.time()
        build_trigram_index(spark, None, root)
        trigram_s = time.time() - t0
        tri = TrigramIndex.load(spark, root)
        for pat in ["parse_buffer", "getUserName", "quixotic|obsidian"]:
            cands = sorted(
                (r["seg"], r["doc_id"])
                for r in tri.candidates(trigram_dnf(pat.lower())).collect()
            )
            h.update(f"tri|{pat}|{len(cands)}\n".encode())
            for seg, did in cands:
                h.update(f"{seg}|{did}\n".encode())
    shutil.rmtree(root, ignore_errors=True)

    out = {
        "cores": args.cores,
        "n_docs": args.n_docs,
        "build_s": round(build_s, 2),
        "query_s": round(query_s, 2),
        "total_s": round(build_s + query_s, 2),
        "build_docs_per_sec": round(args.n_docs / build_s, 1),
        "queries_per_sec": round(len(queries) / query_s, 2),
        "store_content": not args.no_store_content,
        "stage_ms": stage_ms,
        "results_sha256": h.hexdigest(),
    }
    if trigram_s is not None:
        out["trigram_build_s"] = round(trigram_s, 2)
    if args.stage_metrics:
        # sum executor task metrics per completed stage: run (wall inside
        # tasks), cpu (on-CPU ns), gc — run >> cpu+gc means tasks were
        # waiting (IO / memory stalls / scheduling), the signature that
        # separates "engine doesn't scale" from "one box's memory bus"
        import urllib.request

        try:
            app_id = spark.sparkContext.applicationId
            ui = spark.sparkContext.uiWebUrl or "http://localhost:4040"
            with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=10,
            ) as r:
                st = json.loads(r.read())
            out["executor_totals"] = {
                "run_s": round(sum(s["executorRunTime"] for s in st) / 1e3, 1),
                "cpu_s": round(sum(s["executorCpuTime"] for s in st) / 1e9, 1),
                "gc_s": round(sum(s["jvmGcTime"] for s in st) / 1e3, 1),
            }
            big = sorted(st, key=lambda s: -s["executorRunTime"])[:8]

            def task_quantiles(stage_id: int, attempt: int) -> dict:
                # per-task duration spread: max/med >> 1 on a wide stage
                # means wave-packing loss (stragglers), a DIFFERENT
                # signature from uniform bandwidth inflation
                with urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app_id}/stages/{stage_id}/"
                    f"{attempt}/taskSummary?quantiles=0.0,0.5,1.0",
                    timeout=10,
                ) as rq:
                    q = json.loads(rq.read())
                lo, med, hi = q["executorRunTime"]
                return {
                    "task_min_s": round(lo / 1e3, 1),
                    "task_med_s": round(med / 1e3, 1),
                    "task_max_s": round(hi / 1e3, 1),
                }

            out["top_stages"] = []
            for s in big:
                row = {
                    "id": s["stageId"], "tasks": s["numCompleteTasks"],
                    "run_s": round(s["executorRunTime"] / 1e3, 1),
                    "cpu_s": round(s["executorCpuTime"] / 1e9, 1),
                    "gc_s": round(s["jvmGcTime"] / 1e3, 1),
                    "name": s["name"].split("\n")[0][:60],
                }
                try:
                    row.update(task_quantiles(s["stageId"], s["attemptId"]))
                except Exception:
                    pass
                out["top_stages"].append(row)
        except Exception as e:  # metrics must never fail the run
            out["executor_totals"] = {"error": str(e)[:200]}
    print("SCALING_RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
