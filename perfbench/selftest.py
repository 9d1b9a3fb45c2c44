"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at toy size, untraced and traced,
and checks that each run exits 0, passes its output checks and emits
exactly the metrics BENCHMARK.json names, each a finite number with the
declared unit. Every metric that applies to the workload (``APPLIES``) must
read above 0, so a counter that silently reads 0 fails here; every span
metric of a span the workload does not run must read exactly 0. Exits
non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPANS = {
    "ivf_knn": ("ivf.train", "ivf.add", "ivf.search",
                "ivf.pq_search_preassigned", "kernels.topk", "knn.knn",
                "graph.knn_graph_bucketed"),
    "text_dedup": ("text.features", "dedup.minhash_lsh_pairs",
                   "dedup.dedup_components", "dedup.dedup_keep_first"),
}
# ivf.train runs k-means in the driver, so it has no Python worker time
PYTHON_SPANS = SPANS["ivf_knn"][1:4] + SPANS["ivf_knn"][5:]
# per-layer metrics, by workload, that must read above 0 (gc_s, spill_bytes,
# tasks_failed, leaked_storage and error_rate may rightly read 0)
APPLIES = {
    w: {"session.get_spark.wall_s", "session.peak_rss_mb", "warmup_s",
        "trace_overhead", "unattributed_s"}
    | {f"{s}.wall_s" for s in spans}
    | {f"{s}.busy_frac" for s in spans if s != "kernels.topk"}
    for w, spans in SPANS.items()
}
APPLIES["ivf_knn"] |= {f"{s}.python_s" for s in PYTHON_SPANS} | {
    "ivf.add.output_bytes", "kernels.topk.gflops", "kernels.topk.ratio_vs_blas",
    "build_rows_per_s", "search_qps", "bigbatch_qps", "index_bytes_per_vector",
    "ivf_recall_at_10", "knn_qps", "graph_edges_per_s", "graph_recall_at_10"}
APPLIES["text_dedup"] |= {f"{s}.shuffle_bytes" for s in SPANS["text_dedup"][1:]} | {
    "dedup.simhash_neardup_pairs.pairs",
    "dedup.simhash_neardup_pairs.pair_precision",
    "dedup_docs_per_s", "dup_pair_recall", "dup_pair_precision"}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--size", "toy"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    expect(proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(ok: bool, what) -> None:
    if not ok:
        raise SystemExit(f"self-test failed: {what}")


def check_applies(workload: str, got: dict) -> None:
    for name in APPLIES[workload]:
        expect(got[name]["value"] > 0, (workload, name, "reads 0"))
    expect(any(got[f"{s}.plan_s"]["value"] > 0 for s in SPANS[workload]
               if s != "kernels.topk"), (workload, "plan_s reads 0 on every span"))
    others = {s for w, spans in SPANS.items() if w != workload for s in spans}
    for name, v in got.items():
        if name.rsplit(".", 1)[0] in others:
            expect(v["value"] == 0, (workload, name, "of a span not run", v))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for trace in (0, 1):
            res = run(w["name"], trace)
            where = f"{w['name']} trace={trace}"
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   (where, sorted(res)))
            expect(res["correct"] and res["failed"] == 0, (where, res["failed"]))
            expect(res["attempted"] >= 1, (where, res["attempted"]))
            got = res["metrics"]
            expect(set(got) == set(declared[trace]), (
                where, "missing", sorted(set(declared[trace]) - set(got)),
                "extra", sorted(set(got) - set(declared[trace]))))
            for name, unit in declared[trace].items():
                v = got[name]
                expect(v["unit"] == unit, (where, name, v["unit"]))
                expect(isinstance(v["value"], float)
                       and math.isfinite(v["value"]), (where, name, v["value"]))
            if trace:
                check_applies(w["name"], got)
            else:  # every end-to-end metric applies to every workload
                expect(all(v["value"] > 0 for v in got.values()), (where, got))
            print(f"ok {where}: {len(got)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
