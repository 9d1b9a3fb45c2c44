"""Seeded batch benchmark for faiss_spark.

    python3 perfbench/run.py --workload ivf_knn --seed 1 --seconds 15 --trace 0

Run from the root of a source tree. One client drives the job in a closed
loop: each pass starts when the previous one has finished, and Spark runs at
``local[N]`` with N = the cores this process may use. The run

1. sets up once, from a cold JVM: session start, input generation and
   parquet write, ground truth and ``WARMUP_PASSES`` warm-up passes,
2. runs full job passes for ``--seconds`` (at least ``MIN_PASSES``),
3. checks every pass's outputs against numpy ground truth,
4. prints one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics of untraced passes.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics; the Spark listeners are registered only around the traced
passes, and the spans go to ``--spans`` (default: standard error).

Everything the run writes (inputs, index files, Spark local dirs,
warehouse, temp files) lives in one directory under ``.perfbench_tmp/`` in
the tree, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from tracing import SPARK_COUNTERS, Tracer, storage_count

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARMUP_PASSES = 2
MIN_PASSES = 3
MIN_TRACED_PASSES = 2
DRIVER_MEM = {"full": "3g", "toy": "1g"}

SPARK_SPANS = (
    "ivf.train", "ivf.add", "ivf.search", "ivf.pq_search_preassigned",
    "knn.knn", "graph.knn_graph_bucketed", "text.features",
    "dedup.minhash_lsh_pairs", "dedup.dedup_components",
    "dedup.dedup_keep_first",
)
DEDUP_SPANS = SPARK_SPANS[-3:]
# per-pass values a workload reports (median over untraced passes), by unit
PASS_VALUES = {
    "build_rows_per_s": "1/s", "search_qps": "1/s", "bigbatch_qps": "1/s",
    "index_bytes_per_vector": "bytes", "ivf_recall_at_10": "ratio",
    "knn_qps": "1/s", "graph_edges_per_s": "1/s",
    "graph_recall_at_10": "ratio", "dedup_docs_per_s": "1/s",
    "dup_pair_recall": "ratio", "dup_pair_precision": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ivf_knn", "text_dedup"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full",
                   help="toy runs every step on tiny inputs (self-test)")
    p.add_argument("--spans", default=None,
                   help="file for the traced spans (default: stderr)")
    return p.parse_args(argv)


def prepare_env(tmp: str, size: str) -> None:
    """Point every place Spark and Python write to at ``tmp`` and give the
    Python workers the source tree on their path."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    tmpdir = os.path.join(tmp, "tmp")
    os.environ["TMPDIR"] = tmpdir
    tempfile.tempdir = tmpdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM[size]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmpdir} -Dderby.system.home={tmpdir}",
        "spark.ui.showConsoleProgress": "false",
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def process_tree_hwm_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of ``pid`` plus all its descendants, in MB."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Bench:
    def __init__(self, args, tmp: str):
        from workloads import WORKLOADS

        self.args = args
        self.tmp = tmp
        self.cores = len(os.sched_getaffinity(0))
        self.job = WORKLOADS[args.workload](args.size, args.seed)
        self.spark = None
        self.untraced = Tracer(f"{args.workload}-{args.seed}", enabled=False)
        self.tracer = Tracer(f"{args.workload}-{args.seed}", enabled=True)
        self.attempted = 0
        self.failed = 0

    # --------------------------------------------------------------- set-up
    def setup(self) -> float:
        """The run's one set-up, from a cold JVM: start the session, generate
        and write the inputs, compute their ground truth and run the warm-up
        passes (they start the Python workers and compile the JVM code paths
        of a pass). Returns its seconds."""
        from faiss_spark.session import get_spark

        tr = self.tracer if self.args.trace else self.untraced
        t0 = time.perf_counter()
        with tr.span("session.get_spark") as sp:
            self.spark = get_spark("perfbench", cpus=self.cores)
        self.get_spark_s = sp["wall_s"]
        data = os.path.join(self.tmp, "data")
        os.makedirs(data)
        self.job.setup(data)
        t1 = time.perf_counter()
        times = []
        for _ in range(WARMUP_PASSES):
            t = time.perf_counter()
            self.job.run_pass(self.spark, self.untraced)
            times.append(time.perf_counter() - t)
        took = time.perf_counter() - t0
        self.warmup_s = took - (t1 - t0)
        print(f"setup: {took:.3f} s (get_spark {self.get_spark_s:.3f} s, "
              "warm-up " + " ".join(f"{t:.3f}" for t in times) + " s)",
              file=sys.stderr)
        return took

    # -------------------------------------------------------------- passes
    def one_pass(self, tr) -> dict:
        before = storage_count(self.spark)
        raw = None
        with tr.span("job") as root:
            try:
                raw = self.job.run_pass(self.spark, tr)
            except Exception:  # a failed operation counts; the run goes on
                traceback.print_exc(file=sys.stderr)
        rec = {"wall_s": root["wall_s"], "root": root,
               "leaked": storage_count(self.spark) - before}
        print(f"pass: {root['wall_s']:.3f} s", file=sys.stderr)
        out = None if raw is None else self.job.check(raw)
        if out is None:
            self.attempted += 1
            self.failed += 1
            return rec
        self.attempted += out.attempted
        self.failed += len(out.failed)
        for name in out.failed:
            print(f"check failed: {name}", file=sys.stderr)
        rec.update(out.values)
        return rec

    def measure(self) -> tuple[list[dict], list[dict]]:
        """Closed loop for ``--seconds``. With tracing, untraced and traced
        passes alternate. Returns (untraced passes, traced passes)."""
        plain, traced = [], []
        trace = bool(self.args.trace)
        need = MIN_TRACED_PASSES if trace else MIN_PASSES
        t_end = time.perf_counter() + self.args.seconds
        while True:
            if trace and len(traced) < len(plain):
                first = len(self.tracer.spans)
                self.tracer.attach(self.spark)
                rec = self.one_pass(self.tracer)
                rec["spans"] = self.tracer.spans[first:]
                self.tracer.collect(rec["spans"], self.cores)
                self.tracer.detach()
                traced.append(rec)
            else:
                plain.append(self.one_pass(self.untraced))
            done = len(plain) >= need and len(traced) == (
                len(plain) if trace else 0)
            if done and time.perf_counter() >= t_end:
                break
        return plain, traced

    # ------------------------------------------------------------- metrics
    def end_to_end(self, setup_s, plain) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "job_s": (median(p["wall_s"] for p in plain), "s"),
            "recall": (median(p.get("recall", 0.0) for p in plain), "ratio"),
        }

    def per_layer(self, plain, traced) -> dict:
        # peak RSS varies by more than a tenth between runs, so it is a
        # session-layer figure rather than a bounded end-to-end metric
        peak = process_tree_hwm_mb(self.spark.sparkContext._gateway.proc.pid)
        m: dict[str, tuple[float, str]] = {
            "session.get_spark.wall_s": (self.get_spark_s, "s"),
            "session.peak_rss_mb": (peak, "MB"),
            "warmup_s": (self.warmup_s, "s")}
        by_name: dict[str, list[dict]] = {}
        for p in traced:
            for s in p["spans"]:
                by_name.setdefault(s["name"], []).append(s)
        def med(name, key):
            return median(s.get(key, 0.0) for s in by_name.get(name, ()))

        for name in SPARK_SPANS:
            for c, unit in SPARK_COUNTERS.items():
                m[f"{name}.{c}"] = (med(name, c), unit)
        m["ivf.add.output_bytes"] = (med("ivf.add", "output_bytes"), "bytes")
        for name in DEDUP_SPANS:
            m[f"{name}.storage_delta"] = (med(name, "storage_delta"), "count")
        topk_s = med("kernels.topk", "wall_s")
        m["kernels.topk.wall_s"] = (topk_s, "s")
        gflops = ratio = 0.0
        if by_name.get("kernels.topk"):
            gflops = self.job.kernel_flops() / topk_s / 1e9
            ratio = topk_s / self.job.gemm_roofline_s()
        m["kernels.topk.gflops"] = (gflops, "GFLOP/s")
        m["kernels.topk.ratio_vs_blas"] = (ratio, "ratio")
        pairs, precision = 0.0, 0.0
        if hasattr(self.job, "simhash_slice"):
            pairs, precision = self.job.simhash_slice(self.spark)
        m["dedup.simhash_neardup_pairs.pairs"] = (pairs, "count")
        m["dedup.simhash_neardup_pairs.pair_precision"] = (precision, "ratio")
        plain_s = median(p["wall_s"] for p in plain)
        traced_s = median(p["wall_s"] for p in traced)
        m["trace_overhead"] = (traced_s / plain_s, "ratio")
        m["unattributed_s"] = (median(
            p["wall_s"] - sum(s["wall_s"] for s in p["spans"]
                              if s["parent"] == p["root"]["span_id"])
            for p in traced), "s")
        m["leaked_storage"] = (median(p["leaked"] for p in plain), "count")
        m["error_rate"] = (self.failed / max(self.attempted, 1), "ratio")
        for key, unit in PASS_VALUES.items():
            m[key] = (median(p.get(key, 0.0) for p in plain), unit)
        return m

    def run(self) -> dict:
        setup_s = self.setup()
        plain, traced = self.measure()
        if self.args.trace:
            metrics = self.per_layer(plain, traced)
            self.write_spans()
        else:
            metrics = self.end_to_end(setup_s, plain)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def write_spans(self) -> None:
        out = open(self.args.spans, "w") if self.args.spans else sys.stderr
        try:
            for s in self.tracer.spans:
                out.write(json.dumps(s) + "\n")
        finally:
            if out is not sys.stderr:
                out.close()

    def close(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError

        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        except Py4JError:  # connection broken by a signal; stop the JVM below
            traceback.print_exc(file=sys.stderr)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()



def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, _terminate)
    base = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    bench = None
    try:
        prepare_env(tmp, args.size)
        import faiss_spark  # noqa: F401  (fails fast outside a source tree)

        bench = Bench(args, tmp)
        result = bench.run()
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
