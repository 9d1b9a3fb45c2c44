"""Physical-plan assertions: the scale claims in ROUND1_NOTES are CHECKED,
not assumed. Each test pins a plan property that a 100 TB deployment
relies on — if a refactor breaks pushdown/pruning/partial aggregation,
these fail even though results stay correct."""

import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.knn import knn, range_search


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter("id < 5").select(F.col("id").alias("qid"), "vec")


def test_id_predicate_pushed_to_parquet_scan(emb, queries):
    """IDSelectorRange ≡ parquet row-group pruning: the id filter must
    reach the scan as PushedFilters, not run post-scan."""
    vecs = emb.filter((F.col("id") >= 100) & (F.col("id") < 400))
    p = plan(knn(vecs, queries, 3))
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(vec_id,100)" in p.replace(" ", "").replace(
        "vec_id#", "vec_id"
    ) or "GreaterThanOrEqual" in p
    assert "LessThan" in p


def test_column_pruning_reaches_scan(tables):
    """A 2-column projection over the 5-column documents table must scan
    only those columns (ReadSchema pruning)."""
    from faiss_spark.functions.text import token_count

    df = tables["documents"].select(
        "doc_id", token_count(F.col("text")).alias("ntok")
    )
    p = plan(df)
    scan = [seg for seg in p.split("(1) Scan")[1:2]]
    body = scan[0] if scan else p
    assert "ReadSchema" in p
    # untouched columns must not be read
    assert "n_chars" not in body.split("ReadSchema")[1].splitlines()[0]
    assert "source" not in body.split("ReadSchema")[1].splitlines()[0]


def test_ivf_search_prunes_partitions(emb, queries, tmp_path):
    """nprobe cell selection IS Catalyst partition pruning: the codes
    scan must carry a PartitionFilters entry on list_no, and prune to
    nprobe of nlist partitions."""
    from faiss_spark.operators.ivf import IVFIndex

    idx = IVFIndex.train(emb, nlist=8, seed=42, niter=5).add(
        emb, path=str(tmp_path / "ivf_codes")
    )
    res = idx.search(queries, 3, nprobe=2)
    p = plan(res)
    assert "PartitionFilters" in p
    assert "list_no" in p.split("PartitionFilters")[1].splitlines()[0]


def test_range_search_has_no_keyed_shuffle(emb, queries):
    """Range search is embarrassingly parallel: scan + mapInArrow. The
    only Exchange allowed is the explicit hash(id) fan-out of a
    single-split local file (a no-op on real multi-split tables; r13:
    hash on the unique id instead of round-robin, which pays a local
    sort of its input via sortBeforeRepartition); any shuffle REQUIRED
    by a downstream keyed operator would be a scale bug."""
    p = plan(range_search(emb, queries, 4.0))
    # the only permitted keyed exchange is the explicit fan-out on id
    assert p.count("hashpartitioning") <= 1
    if "hashpartitioning" in p:
        assert "hashpartitioning(id" in p
    assert "rangepartitioning" not in p
    assert "RoundRobinPartitioning" not in p
    assert "MapInArrow" in p  # r9: zero-copy Arrow scan


def test_knn_shuffles_only_candidates(emb, queries):
    """The only data-dependent shuffle in brute knn is the candidate
    merge (plus at most one explicit fan-out repartition of a
    single-split local file). The full vector table is never exchanged
    as a REQUIREMENT of a keyed operator — the fan-out is hash(id)
    purely for scan parallelism (r13, replacing the round-robin form
    and its sortBeforeRepartition local sort)."""
    p = plan(knn(emb, queries, 3))
    assert "MapInArrow" in p  # r9: zero-copy Arrow scan
    # the candidate merge (qid) plus at most the explicit id fan-out
    assert "hashpartitioning(qid" in p
    assert p.count("hashpartitioning") <= 2
    assert "RoundRobinPartitioning" not in p


def test_topk_per_group_uses_window_group_limit(tables, spark):
    """row_number <= k over a window must trigger WindowGroupLimit
    (partial top-k pushdown below the shuffle) — the JVM-side twin of
    the knn partial/final merge."""
    from pyspark.sql import Window as W

    li = tables["lineitem"]
    w = W.partitionBy("l_orderkey").orderBy(F.col("l_extendedprice").desc())
    df = li.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 2)
    p = plan(df)
    assert "WindowGroupLimit" in p


def test_term_frequencies_aggregates_map_side(tables):
    """The token shuffle must be preceded by a partial aggregate —
    natural-language head tokens (the, a, …) collapse map-side, so the
    shuffle is skew-safe."""
    from faiss_spark.functions.text import term_frequencies

    p = plan(term_frequencies(tables["documents"]))
    # formatted mode prints the tree top-down (final agg first); the
    # partial_count functions prove the map-side combine exists
    assert "partial_count" in p


def test_exact_dedup_aggregates_map_side(tables):
    from faiss_spark.operators.dedup import exact_dedup

    p = plan(exact_dedup(tables["documents"]))
    assert "partial_count" in p or "partial_min" in p


def test_nn_descent_init_has_no_single_partition_exchange(emb):
    """NN-Descent's random init must not funnel the table through one
    task: no SinglePartition exchange, no global (unpartitioned) sort —
    the earlier row_number-over-unpartitioned-window init did exactly
    that and was a driver-scale bottleneck."""
    from faiss_spark.operators.graph import (
        _random_init_candidates,
        _select_topk,
    )

    cand = _random_init_candidates(emb, 5)
    scored = _select_topk(cand.filter(F.col("src") != F.col("dst")), emb, 5, "l2")
    p = plan(scored)
    assert "SinglePartition" not in p
    # every window/sort in the plan must be partitioned by a key
    for line in p.splitlines():
        if "rangepartitioning" in line:
            raise AssertionError(f"global sort in init plan: {line}")


def test_text_pipeline_stays_in_codegen(tables):
    """The pure-JVM operators (text features, dedup aggregations) must
    compile into WholeStageCodegen spans — no interpreted row loops in
    the hot path. (knn's own plan is MapInArrow + Window, which Spark
    never codegens; its JVM hot path is the scan below the UDF.)"""
    from faiss_spark.operators.dedup import exact_dedup

    df = exact_dedup(tables["documents"])
    df.collect()  # AQE finalizes the plan on execution
    p = plan(df, "simple")
    assert "isFinalPlan=true" in p
    assert "*(" in p  # whole-stage-codegen stage markers


def test_ivf_add_is_map_only(emb):
    """Encode+layout must not join the vector table back to its
    assignments: the assignment map carries the vector through, so the
    unpersisted codes plan has NO join and NO exchange at all (the only
    exchange in the persisted form is the explicit list_no co-location
    ahead of the partitioned write)."""
    from faiss_spark.operators.ivf import IVFIndex

    idx = IVFIndex.train(emb, nlist=4, seed=42, niter=2)
    idx.add(emb)
    p = plan(idx.codes)
    assert "Join" not in p, p
    assert "Exchange" not in p, p


def test_search_preassigned_cogroups_instead_of_pair_join(emb, queries):
    """The r11 big-batch search rewrite: probes and codes must COGROUP
    on list_no (one GEMM per cell, ≤ k survivors to the window) — the
    old plan joined them into (query, candidate) pair rows carrying both
    vectors (~22 GB shuffled at 6M rows; 26.5 s vs 2.8 s at 600k). The
    only join allowed is the left-semi that prunes unprobed cells."""
    from faiss_spark.operators.ivf import IVFIndex, search_preassigned

    idx = IVFIndex.train(emb, nlist=8, seed=7, niter=5).add(emb)
    p = plan(search_preassigned(idx, queries, 5, nprobe=2))
    assert "FlatMapCoGroupsInArrow" in p
    # no pair-materializing equi-join between probes and codes: the ONE
    # join operator in the plan is the LeftSemi cell-pruning one (the
    # formatted mode prints the type in the operator detail block)
    import re as _re

    headers = [
        ln.strip() for ln in p.splitlines()
        if _re.match(r"^\(\d+\) \w*Join", ln.strip())
    ]
    assert len(headers) == 1, headers
    assert "LeftSemi" in p


def test_search_preassigned_bucketed_codes_skip_shuffle(emb, queries, tmp_path):
    """A save_bucketed index (CLUSTERED BY list_no — the reference's
    on-disk invlists grouping, invlists/OnDiskInvertedLists.h:60) must
    feed the cogroup straight off the scan: the codes-side Exchange
    disappears (3 list_no exchanges → 2: probe side + the distinct cell
    prune), the scan reports Bucketed, and results are identical. At
    100 TB this is zero corpus shuffle per big-batch search."""
    from faiss_spark.operators.ivf import IVFIndex, search_preassigned

    idx = IVFIndex.train(emb, nlist=8, seed=7, niter=5).add(emb)
    base = search_preassigned(idx, queries, 5, nprobe=2)
    p0 = plan(base, "simple")
    expect = sorted((r.qid, r.id, round(r.dist, 9)) for r in base.collect())

    idx.save_bucketed(str(tmp_path / "bk"), nbuckets=8)
    res = search_preassigned(idx, queries, 5, nprobe=2)
    p1 = plan(res, "simple")
    assert p1.count("Exchange hashpartitioning(list_no") == (
        p0.count("Exchange hashpartitioning(list_no") - 1
    ), p1
    assert "Bucketed: true" in p1, p1
    got = sorted((r.qid, r.id, round(r.dist, 9)) for r in res.collect())
    assert got == expect

    # load() re-attaches the same files as a bucketed table via the
    # stored DDL (a fresh session's in-memory catalog starts empty)
    spark = emb.sparkSession
    idx2 = IVFIndex.load(spark, str(tmp_path / "bk"))
    res2 = search_preassigned(idx2, queries, 5, nprobe=2)
    assert "Bucketed: true" in plan(res2, "simple")
    assert sorted((r.qid, r.id, round(r.dist, 9)) for r in res2.collect()) == expect


def _ivf4(emb):
    from faiss_spark.operators.ivf import IVFIndex

    return IVFIndex.train(emb, nlist=4, seed=7, niter=5).add(emb)


def _imi4(emb):
    from faiss_spark.operators.ivf import IMIIVFIndex

    return IMIIVFIndex.train(emb, nbits=1, seed=7, niter=5).add(emb)


@pytest.mark.parametrize("build", [_ivf4, _imi4], ids=["ivf", "imi"])
def test_search_preassigned_hot_cell_subshards(build, emb, queries, tmp_path):
    """A cell above max_cell_rows must split into >1 bounded sub-shard
    tasks (probes replicated per shard, codes hash-salted — the dedup
    _hot_cell_shards answer ported to the cogroup search) with results
    identical to the unsplit scan, including at full probe == exact —
    for a k-means and an IMI coarse quantizer alike."""
    from faiss_spark.operators.ivf import (
        _preassigned_subshards,
        search_preassigned,
    )

    # skew: collapse most vectors onto one cell by training on few cells
    idx = build(emb)
    idx.save(str(tmp_path / "skew"))  # file-backed: detection is active
    expect = sorted(
        (r.qid, r.id, round(r.dist, 9))
        for r in search_preassigned(
            idx, queries, 5, nprobe=4, max_cell_rows=None
        ).collect()
    )
    subs = _preassigned_subshards(idx, 40)  # 500 rows / 4 cells → hot
    assert subs and max(subs.values()) > 1, subs
    res = search_preassigned(idx, queries, 5, nprobe=4, max_cell_rows=40)
    # the split plan is a union of the cold cogroup and the salted one
    assert plan(res, "simple").count("FlatMapCoGroupsInArrow") == 2
    got = sorted((r.qid, r.id, round(r.dist, 9)) for r in res.collect())
    assert got == expect
    # unsaved (in-memory) index: detection must stay OFF — counting an
    # unpersisted codes frame would re-run the assign GEMM
    idx_mem = build(emb)
    assert _preassigned_subshards(idx_mem, 40) == {}


def test_range_search_preassigned_map_only_after_cogroup(emb, queries):
    """The big-batch RANGE search shares the cogroup skeleton but must
    end map-only: no Window / global sort after the per-cell emit
    (inverted lists partition the ids, so no pair repeats and nothing
    needs merging), and the only join is the LeftSemi cell prune."""
    from faiss_spark.operators.ivf import IVFIndex, range_search_preassigned

    idx = IVFIndex.train(emb, nlist=8, seed=7, niter=5).add(emb)
    p = plan(range_search_preassigned(idx, queries, 0.5, nprobe=2))
    assert "FlatMapCoGroupsInArrow" in p
    assert "Window" not in p and "row_number" not in p
    import re as _re

    headers = [
        ln.strip() for ln in p.splitlines()
        if _re.match(r"^\(\d+\) \w*Join", ln.strip())
    ]
    assert len(headers) == 1, headers
    assert "LeftSemi" in p


def test_imi_search_scan_shape(emb, queries):
    """IMI search = the shared probed-list scan: one candidate exchange
    (the final top-k merge), no join of the codes table against itself."""
    from faiss_spark.operators.ivf import IMIIVFIndex

    idx = IMIIVFIndex.train(emb, nbits=1, seed=42).add(emb)
    p = plan(idx.search(queries, 3, nprobe=idx.nlist))
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Exchange") <= 2  # candidate merge (+AQE variants)


def test_temperature_sample_is_broadcast_map_only(tables):
    """The corpus scan must not shuffle: domain rates arrive by broadcast
    join, the only exchange in the plan is the tiny per-domain aggregate.
    At 100 TB the documents table is only read, filtered, and emitted."""
    from faiss_spark.functions.corpus import temperature_sample

    p = plan(temperature_sample(tables["documents"], 0.5, 0.25))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_pack_sequences_single_shard_shuffle(tables):
    """Packing is ONE hash exchange on the shard key feeding the window
    cumsum — no join, no extra exchange, no global (empty-key) window."""
    from faiss_spark.functions.corpus import pack_sequences

    p = plan(pack_sequences(tables["documents"], 256))
    # exactly one keyed exchange (formatted mode prints each node in the
    # tree AND a detail section, so count the argument line instead)
    assert p.count("hashpartitioning") == 1
    assert "hashpartitioning(shard" in p
    assert "Join" not in p
    assert "SinglePartition" not in p


def test_nsg_routed_search_prunes_partitions(emb, queries, tmp_path):
    """Cell-routed NSG search on a SAVED index: the shard filter must
    reach the parquet scan as a PartitionFilters entry — unprobed
    shards are never read (the SPANN-style serving property)."""
    from faiss_spark.operators.nsg import NSGIndex

    idx = NSGIndex.build(
        emb, R=16, knn_k=24, nshards=4, sharding="cells", seed=5
    ).save(str(tmp_path / "nsg_plan"))
    res = idx.search(queries, 3, nprobe=1)
    p = plan(res)
    assert "PartitionFilters" in p
    assert "shard" in p.split("PartitionFilters")[1].splitlines()[0]


def test_span_dedup_single_content_shuffle(tables):
    """duplicated_spans shuffles once, keyed on the span hash (both
    window functions share the key); no other content exchange exists."""
    from faiss_spark.operators.dedup import duplicated_spans

    p = plan(duplicated_spans(tables["documents"], n=8))
    assert p.count("hashpartitioning") == 1
    assert "hashpartitioning(span_hash" in p


def test_binary_nsg_unpack_is_codegen(tables):
    """The binary-NSG bit unpack is a pure projection over the codes
    scan — no Python stage before the graph build's groupBy."""
    from faiss_spark.operators.binary import binarize
    from faiss_spark.operators.nsg import _unpack_bits_expr

    vecs = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    codes = binarize(vecs, d=64)
    unpacked = codes.select("id", _unpack_bits_expr(F.col("code"), 64).alias("vec"))
    p = plan(unpacked)
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_line_dedup_firsts_is_agg_not_window(tables):
    """line_dedup's first-occurrence table must be a map-side-combinable
    aggregate on the line hash — NEVER a window over the hash, where one
    10^9-copy boilerplate line would serialize a single sorted task."""
    from faiss_spark.operators.dedup import line_dedup

    p = plan(line_dedup(tables["documents"], sep=" "))
    assert "partial_min" in p  # firsts agg partial-combines in scan tasks
    # the only window-free contract: no Window operator anywhere
    assert "Window" not in p


def test_decontaminate_spans_broadcasts_benchmark(tables):
    """The benchmark window set must broadcast (map-side match) and the
    coverage fold must be an aggregate, never a per-doc Window."""
    from faiss_spark.operators.dedup import decontaminate_spans

    docs = tables["documents"]
    p = plan(decontaminate_spans(docs, docs.filter("doc_id < 25"), n=5))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "Window" not in p


def test_dedup_keep_first_and_best_use_window_group_limit(tables):
    """Both exact-dedup transforms (rn == 1 over the fingerprint window)
    must trigger WindowGroupLimit: each map task pre-filters to its local
    top-1 per group BEFORE the exchange, so a 10^9-copy boilerplate group
    ships <= one row per task instead of serializing a window sort."""
    from faiss_spark.operators.dedup import dedup_keep_best, dedup_keep_first

    docs = tables["documents"]
    assert "WindowGroupLimit" in plan(dedup_keep_first(docs))
    assert "WindowGroupLimit" in plan(dedup_keep_best(docs, F.col("n_chars")))


def test_perplexity_buckets_no_window_broadcast_thresholds(tables):
    """CCNet bucketing must assign by BROADCAST thresholds — never a
    per-language sorted window (the one-task-per-language straggler);
    holds in both the sketch (approx) and exact-percentile modes."""
    from faiss_spark.functions.text import perplexity_buckets

    docs = tables["documents"]
    for exact in (False, True):
        p = plan(perplexity_buckets(docs, exact=exact))
        assert "Window" not in p
        assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_dedup_against_is_left_anti_on_keys(tables):
    """Cross-corpus dedup: one LEFT ANTI join; the reference side is the
    distinct-fingerprint aggregate (keys only), never its text."""
    from faiss_spark.operators.dedup import dedup_against

    docs = tables["documents"]
    p = plan(
        dedup_against(
            docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
        )
    )
    assert "LeftAnti" in p


def test_package_python_boundary_is_arrow_only():
    """One Python boundary idiom: every worker map and query collect in
    the package goes through Arrow. No module calls mapInPandas,
    applyInPandas or toPandas, and none imports pandas, except the
    stateful streaming operators (applyInPandasWithState has no Arrow
    twin)."""
    import ast
    import pathlib

    import faiss_spark

    root = pathlib.Path(faiss_spark.__file__).parent
    allowed = {root / "streaming" / "stateful.py"}
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in (
                "mapInPandas", "applyInPandas", "toPandas",
            ):
                hits.append((path.name, node.lineno, node.attr))
            elif isinstance(node, ast.Import):
                hits += [
                    (path.name, node.lineno, a.name)
                    for a in node.names
                    if a.name.split(".")[0] == "pandas"
                ]
            elif isinstance(node, ast.ImportFrom) and (
                (node.module or "").split(".")[0] == "pandas"
            ):
                hits.append((path.name, node.lineno, node.module))
    assert not hits, hits


def test_one_topk_scan_loop():
    """One scan loop: a TopKAccumulator is constructed only in the shared
    IVF list-scan loop (``ivf._scan_lists``, which every IVF family, the
    flat codes searches and the exact ``knn``/``range_search`` run) and
    the ``graph.knn_graph_bucketed`` cell scan."""
    import ast
    import pathlib

    import faiss_spark

    root = pathlib.Path(faiss_spark.__file__).parent
    allowed = {("ivf", "_scan_lists"), ("graph", "knn_graph_bucketed")}
    hits = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                func = getattr(node, "func", None)
                name = getattr(func, "id", None) or getattr(func, "attr", None)
                if (
                    isinstance(node, ast.Call)
                    and name == "TopKAccumulator"
                    and (path.stem, getattr(top, "name", None)) not in allowed
                ):
                    hits.append((path.name, node.lineno))
    assert not hits, hits


def test_binary_preassigned_bucketed_codes_skip_shuffle(emb, queries, tmp_path):
    """BinaryIVFIndex.save_bucketed must feed the binary cogroup straight
    off the scan, same as the float twin: the codes-side list_no
    Exchange disappears, the scan reports Bucketed, results identical,
    and load() re-attaches the bucketed table in a fresh catalog."""
    from faiss_spark.operators.binary import (
        BinaryIVFIndex,
        binarize,
        binary_search_preassigned,
    )

    codes = binarize(emb, 64, threshold=0.5)
    q = codes.filter(F.col("id") < 5).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    idx = BinaryIVFIndex.train(codes, nlist=8, nbits=64, seed=7, niter=5).add(codes)
    base = binary_search_preassigned(idx, q, 5, nprobe=2)
    p0 = plan(base, "simple")
    expect = sorted((r.qid, r.rank, r.id, r.dist) for r in base.collect())

    idx.save_bucketed(str(tmp_path / "bbk"), nbuckets=8)
    res = binary_search_preassigned(idx, q, 5, nprobe=2)
    p1 = plan(res, "simple")
    assert p1.count("Exchange hashpartitioning(list_no") == (
        p0.count("Exchange hashpartitioning(list_no") - 1
    ), p1
    assert "Bucketed: true" in p1, p1
    assert sorted((r.qid, r.rank, r.id, r.dist) for r in res.collect()) == expect

    spark = emb.sparkSession
    idx2 = BinaryIVFIndex.load(spark, str(tmp_path / "bbk"))
    res2 = binary_search_preassigned(idx2, q, 5, nprobe=2)
    assert "Bucketed: true" in plan(res2, "simple")
    assert sorted((r.qid, r.rank, r.id, r.dist) for r in res2.collect()) == expect
