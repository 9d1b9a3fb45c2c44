"""Generic interleaved fresh-process A/B: working tree vs a pinned git
worktree (default: the revision the round started from).

Each arm runs the chosen bench queries ALONE in a fresh subprocess and
session from its own checkout, warm-up + best-of-2 per draw, arm order
alternating per round so contention windows hit both arms equally (the
protocol of the removed tools/nsg_ab.py — the chronic bench-weather
defence; SCALE.md records the dedup_minhash_lsh A/B run this way).

Special names (bench sub-sections, not headline queries):
  graph_bucketed  -> knn_graph_bucketed at the bench shape (600k, f32)
  nsg_search      -> NSG build (untimed) + routed search at bench shape

Usage: python tools/ab.py --base SHA [--rounds N] [--cpus N] query ...
Prints one JSON line; working evidence for OPTIMIZATION_r13.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SNIPPET = r"""
import sys, json, time, os
sys.path.insert(0, '.')
import __spark_entry__ as m
import bench
from faiss_spark.session import get_spark
sf = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
cpus = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
spark = get_spark('ab_probe', cpus=cpus)
names = json.loads(os.environ['AB_QUERIES'])
qs = m.queries()
# session warm-up (same as bench.py)
qs['knn_l2'](spark, sf).count()
m._lineitem_features(spark, sf).count()
out = {}
for name in names:
    if name == 'graph_bucketed':
        from faiss_spark.operators.graph import knn_graph_bucketed
        nv = 600_000
        nlist = max(4, min(1024, int((2 * nv) ** 0.5)))
        base = bench._synth_vecs(spark, nv, 64, 424_242).repartition(
            cpus).localCheckpoint(eager=True)
        def run():
            return knn_graph_bucketed(
                base, 10, nlist=nlist, nprobe=2, dtype='f32').count()
        run()
        best = None
        for _ in range(2):
            t0 = time.perf_counter(); run()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        continue
    if name == 'nsg_search':
        from pyspark.sql import functions as F
        from faiss_spark.operators.nsg import NSGIndex
        nv, nq = 600_000, 10_000
        base = bench._synth_vecs(spark, nv, 64, 909_091).repartition(
            cpus).localCheckpoint(eager=True)
        queries = bench._synth_vecs(spark, nq, 64, 13_131).select(
            F.col('id').alias('qid'), 'vec').localCheckpoint(eager=True)
        idx = NSGIndex.build(base, R=16, knn_k=24, nshards=32,
                             sharding='cells', max_shard_rows=8_000)
        idx.table = idx.table.localCheckpoint(eager=True)
        idx.search(queries, 10, search_L=48, nprobe=8).count()
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            idx.search(queries, 10, search_L=48, nprobe=8).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        continue
    fn = (bench.BENCH_OVERRIDES[name]()
          if name in bench.BENCH_OVERRIDES else qs[name])
    force = name in bench.BENCH_FORCE_COLUMNS
    bench._run_once(fn(spark, sf), force)  # warm-up
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        bench._run_once(fn(spark, sf), force)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 3)
print('ABPROBE ' + json.dumps(out))
"""


def _ensure_worktree(path: str, sha: str) -> str:
    if not os.path.exists(os.path.join(path, "bench.py")):
        subprocess.run(
            ["git", "worktree", "add", "--detach", path, sha],
            cwd=REPO, check=True, capture_output=True,
        )
    return path


def _draw(cwd: str, queries: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", SNIPPET],
        cwd=cwd, capture_output=True, text=True, timeout=3600,
        env={**os.environ, "PYTHONPATH": cwd,
             "AB_QUERIES": json.dumps(queries)},
    )
    for line in out.stdout.splitlines():
        if line.startswith("ABPROBE "):
            return json.loads(line[len("ABPROBE "):])
    raise RuntimeError(
        f"no ABPROBE line from {cwd}:\n{out.stdout[-3000:]}\n"
        f"{out.stderr[-3000:]}"
    )


def main() -> None:
    args = sys.argv[1:]
    rounds, base_sha, names = 3, None, []
    i = 0
    while i < len(args):
        if args[i] == "--rounds":
            rounds = int(args[i + 1]); i += 2
        elif args[i] == "--base":
            base_sha = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1
    if base_sha is None or not names:
        print(__doc__)
        sys.exit(2)
    wt = _ensure_worktree(f"/tmp/ab_{base_sha}", base_sha)
    arms = {"base": [], "head": []}
    for r in range(rounds):
        order = (
            [("base", wt), ("head", REPO)]
            if r % 2 == 0
            else [("head", REPO), ("base", wt)]
        )
        for arm, cwd in order:
            arms[arm].append(_draw(cwd, names))
            print(f"# round {r} {arm}: {arms[arm][-1]}", file=sys.stderr)
    summary = {}
    for q in names:
        a = [d[q] for d in arms["base"]]
        b = [d[q] for d in arms["head"]]
        summary[q] = {
            "base_min": min(a), "base_median": statistics.median(a),
            "head_min": min(b), "head_median": statistics.median(b),
            "head_vs_base_min": round(min(b) / min(a), 3),
            "paired_deltas": [round(y - x, 3) for x, y in zip(a, b)],
        }
    print(json.dumps(
        {"probe": "ab", "base": base_sha, "rounds": rounds, **summary}
    ))


if __name__ == "__main__":
    main()
