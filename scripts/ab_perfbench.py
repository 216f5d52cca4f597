"""Interleaved A/B of the code-search benchmark between two checkouts.

    python3 scripts/ab_perfbench.py --workload ingest --seeds 101-106 \
        --base HEAD~1 --base-dir ../ab-base --out ab.jsonl

Runs ``perfbench/run.py`` untraced, for BENCHMARK.json's ``run_seconds``,
once per seed on the BASE checkout and once on the CHANGE checkout (this
working tree), alternating which side goes first from seed to seed
so host drift lands on both sides alike. The base checkout is exported
with ``git archive`` of ``--base`` into ``--base-dir`` (kept, and reused
when it already holds that commit). One untimed warm-up run per side
first fills each checkout's cached base index, so no timed ``setup_s``
pays a build.

Every run's result line, with its diagnostics line under ``diag``, goes
to ``--out``. At the end it prints, per metric, both sides' median and
interquartile range, the relative change of the medians and in how many
pairs the change was better (direction from BENCHMARK.json), plus
failed/attempted totals. The numeric diagnostics (per-operation medians
such as ``search_p50_ms`` or ``batch_p50_ms``, and each window's steal)
get the medians, IQRs and relative change of the same pairs, so a
per-operation attribution comes from the same interleaved pairs as the
end-to-end claim; they get no wins count, since some of them are counts
or rates with no lower-is-better direction.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUP_SEED = 1  # not a timed seed: warm-ups only fill the index caches


def parse_seeds(spec: str) -> list[int]:
    """'101-106' or '101,103,107' (or a mix) -> list of ints."""
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        elif part:
            out.append(int(part))
    return out


def export_commit(ref: str, dest: str) -> str:
    """Export commit `ref` of this repository into `dest` with git
    archive; reuse `dest` when it already holds that commit."""
    sha = subprocess.run(["git", "rev-parse", ref], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(dest, ".ab_commit")
    if os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return sha
    os.makedirs(dest, exist_ok=True)
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                       check=True, stdout=tar)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as tf:
            tf.extractall(dest)
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    return sha


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One untraced benchmark run; returns its final JSON line with the
    diagnostics line before it under "diag" (or a failure)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(benchmark_spec()["run_seconds"]),
           "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}", "stderr": p.stderr[-2000:]}
    out = json.loads(lines[-1])
    diag = [json.loads(ln) for ln in lines[:-1] if ln.startswith('{"diag"')]
    if diag:
        out["diag"] = diag[-1]["diag"]
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def compare(pairs: list[tuple[float, float]], name: str,
            lower: bool | None) -> None:
    """Print both sides' median [IQR] of (base, change) value pairs and
    the relative change of the medians; when `lower` says which way is
    better, also the pairs the change won."""
    base, change = [a for a, _ in pairs], [b for _, b in pairs]
    bq, cq = quartiles(base), quartiles(change)
    rel = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
    line = (f"{name:32s} base {bq[1]:12.4f} [{bq[0]:.4f}, {bq[2]:.4f}]  "
            f"change {cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}]  {rel:+.1%}")
    if lower is not None:
        wins = sum((b < a) if lower else (b > a) for a, b in pairs)
        line += f"  better in {wins}/{len(pairs)}"
    print(line)


def summarize(runs: list[dict]) -> None:
    better = {m["name"]: m["better"] for m in benchmark_spec()["end_to_end"]}
    pairs: dict[int, dict[str, dict]] = {}
    for r in runs:
        if "metrics" in r["result"]:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
    full = [p for p in pairs.values() if len(p) == 2]
    print(f"{len(full)} complete pairs")
    names = sorted({m for p in full for m in p["change"]["metrics"]})
    for m in names:
        both = [(p["base"]["metrics"].get(m), p["change"]["metrics"].get(m))
                for p in full]
        both = [(a["value"], b["value"]) for a, b in both
                if a is not None and b is not None]
        if both:
            compare(both, m, better.get(m, "lower") == "lower")
    # diagnostics mix timings with counts and rates (turns, upserts,
    # docs/s) whose better direction differs or is undefined: no wins
    print("diagnostics (pairwise medians):")
    diags = [(p["base"].get("diag", {}), p["change"].get("diag", {}))
             for p in full]
    for m in sorted({m for _, c in diags for m in c}):
        both = [(a[m], b[m]) for a, b in diags
                if isinstance(a.get(m), (int, float))
                and isinstance(b.get(m), (int, float))]
        if both:
            compare(both, m, None)
    for side in ("base", "change"):
        res = [r["result"] for r in runs if r["side"] == side]
        failed = sum(int(x.get("failed", 0)) for x in res)
        attempted = sum(int(x.get("attempted", 0)) for x in res)
        errors = sum("error" in x for x in res)
        print(f"{side}: failed/attempted {failed}/{attempted}, run errors {errors}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101-106")
    ap.add_argument("--base", required=True,
                    help="commit to export as the base side (git archive)")
    ap.add_argument("--base-dir", required=True,
                    help="directory the base commit is exported to")
    ap.add_argument("--out", required=True, help="JSON lines, one per run")
    args = ap.parse_args()

    print("base commit", export_commit(args.base, args.base_dir), flush=True)
    sides = {"base": args.base_dir, "change": ROOT}
    for side, path in sides.items():
        r = run_once(path, args.workload, WARMUP_SEED)
        print(f"warm-up {side}: {'error' if 'error' in r else 'ok'}", flush=True)
    runs = []
    with open(args.out, "a") as out:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_once(sides[side], args.workload, seed)
                rec = {"seed": seed, "side": side, "first": order[0], "result": r}
                runs.append(rec)
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(json.dumps({"seed": seed, "side": side, **{
                    k: v["value"] for k, v in r.get("metrics", {}).items()},
                    **({"error": r["error"]} if "error" in r else {})}), flush=True)
    summarize(runs)


if __name__ == "__main__":
    main()
