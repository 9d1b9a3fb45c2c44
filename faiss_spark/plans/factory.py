"""index_factory: the faiss string DSL → a build/search pipeline.

Reference: faiss/index_factory.h:17 + index_factory.cpp (grammar at
:192-804; SURVEY §2.J row 'index_factory'). The DSL is pure string →
config, so the grammar ports directly; what it *builds* here is Spark
pipelines: transform chain (operators/transforms.py) + index stage
(Flat / IVF / IVFPQ / PQ / SQ).

Supported subset (the workhorse combinations):
  transforms : PCAn | PCARn | PCAWn | RRn | ITQn | OPQn | L2norm | Padn
  main       : Flat | IMI2x<b>,{Flat|PQ<M>} |
               IVF<nlist>(<sub>),Flat — nested coarse quantizer
               (index_factory.cpp:241-289 + parse_coarse_quantizer
               :228,841): <sub> = Flat | PQ<M>[x<b>] | IVF<m>[,Flat] |
               LSH[r][t], or the recursive composite
               [IVF<m>,]{Flat|SQ*|PQ*|LSH*}[,Refine(<codec>)|,RFlat]
               (depth > 2 refuses loudly) |
               IVF<nlist>[(RCQ<M>x<b>|LSQ<M>x<b>)][_NSG<R>|_HNSW<M>],
               {Flat|PQ<M>[x<b>][np]|PQ<M1>+<M2>|PQ<M>x4fs[r]|SQ4|SQ6|SQ8|
                SQfp16|RQ<M>|RQ<M>x4fs[r]|PRQ<ns>x<M>x4fs[r]|
                PLSQ<ns>x<M>x4fs[r]}  (additive RCQ/LSQ coarse pairs with
               Flat, SQ<b>, RQ<spec> or LSQ<spec> lists — reference
               IVF1024(RCQ2x5),SQ8 / IVF256(RCQ2x4),RQ3x4) |
               PQ<M>[x<b>][np] | SQ4 | SQ6 | SQ8 | SQfp16 | RQ<M> |
               PRQ<ns>x<M>x<b> | PLSQ<ns>x<M>x<b> |
               PRQ<ns>x<M>x4fs[_bbs] | PLSQ<ns>x<M>x4fs[_bbs] | LSH[r][t] |
               NSG<R>[,Flat|,PQ<m>[np]|,SQ{4|6|8|fp16}] | ZnLattice<n>x<r2>_<b>
  refinement : RFlat | Refine(<codec>) (exact / codec-reconstruction
               re-rank of k*k_factor candidates, reference IndexRefine /
               IndexRefineFlat, index_factory.cpp:664-689); the codec may
               be an orthonormal transform+index chain — e.g.
               Refine(ITQ,LSHt) — decoded through the chain's reverse
               (reference tests/test_standalone_codec.py:341,386)
  binary     : BFlat | BIVF<nlist>[_HNSW<m>] | BHash<b> (index_binary_factory,
               reference faiss/index_factory.cpp:895-915)
e.g. "PCA32,IVF256,PQ8", "L2norm,Flat", "OPQ8,IVF64,PQ8,RFlat",
"IVF65536(RCQ2x8),Flat", "IVF1024_NSG32,Flat", "IMI2x10,Flat", "PQ8x4",
"PRQ2x2x8", "LSHrt", "NSG32,PQ8", "PQ8,Refine(SQ8)".

Unsupported tokens raise ValueError with the offending token — same
contract as the reference's FAISS_THROW on parse failure.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faiss_spark.operators.transforms import (
    ITQTransform,
    OPQMatrix,
    PCAMatrix,
    Pipeline,
    RandomRotation,
    normalize_expr,
    remap_dimensions_expr,
)

_TRANSFORM_RES = [
    (re.compile(r"^PCA(\d+)$"), lambda m: PCAMatrix(int(m.group(1)))),
    (re.compile(r"^PCAR(\d+)$"), lambda m: PCAMatrix(int(m.group(1)), random_rotation=True)),
    (re.compile(r"^PCAW(\d+)$"), lambda m: PCAMatrix(int(m.group(1)), eigen_power=-0.5)),
    (re.compile(r"^RR(\d+)?$"), lambda m: RandomRotation()),
    (re.compile(r"^ITQ(\d+)?$"), lambda m: ITQTransform()),
    (re.compile(r"^OPQ(\d+)$"), lambda m: OPQMatrix(int(m.group(1)))),
]


@dataclass
class IndexPlan:
    """Parsed factory string: transform estimators + index config."""

    transforms: list = field(default_factory=list)
    sql_transforms: list = field(default_factory=list)  # ("l2norm"|"pad", arg)
    index_type: str = "flat"  # flat | ivfflat | ivfpq | ivfsq | ivfrq | pq | sq | rq
    nlist: int | None = None
    pq_m: int | None = None
    pq_nbits: int = 8
    sq_bits: int | None = None
    rq_m: int | None = None
    # additive coarse quantizer (reference RCQ/LSQ-as-quantizer factory
    # strings, faiss/index_factory.cpp parse of "IVFn(RCQMxB)")
    coarse: str | None = None  # None (k-means) | "rcq" | "lsq"
    coarse_m: int | None = None
    coarse_nbits: int | None = None
    # generic nested coarse quantizer (reference index_factory.cpp:241-289
    # `IVF<n>(<sub>)`): ("flat",) | ("pq", M, nbits) | ("ivf", k2)
    nested: tuple | None = None
    # ZnLattice<nsq>x<r2>_<scale_nbit> (reference index_factory.cpp:535)
    lat_nsq: int | None = None
    lat_r2: int | None = None
    lat_scale_nbit: int | None = None
    # fast-scan (reference index_factory.cpp "PQ<M>x4fs[_<bbs>]"): 4-bit
    # codes searched through quantized LUTs (operators/fastscan.py). bbs
    # is the reference's SIMD block size — parsed and kept for round-trip
    # fidelity, physically meaningless on the Arrow/numpy layout.
    fastscan: bool = False
    bbs: int = 32
    # 'r' suffix of x4fsr (reference index_factory.cpp:324-328,367-380:
    # by_residual=true for IVF fast-scan). Both families honor it with
    # reference semantics: plain x4fs = by_residual=false (codec on raw
    # vectors, ONE shared LUT per query, no per-probe bias — at full
    # probe bit-identical to the flat fast-scan over the same codes),
    # x4fsr = residual encoding (per-probe LUTs for PQ; shared LUT +
    # per-probe −2⟨q,c⟩ bias for AQ).
    fs_residual: bool = False
    # NSG<R> (reference index_factory.cpp "NSG<R>[,Flat|,PQ<m>[np]]") —
    # sharded batch graph (operators/nsg.py); PQ storage per parse_IndexNSG
    # (index_factory.cpp:495-501). The reference's default polysemous
    # training of NSGPQ storage ('np' disables it) has no analogue here —
    # our PQ storage ranks on decoded codes, not Hamming prefilters — so
    # the np flag is parsed for round-trip fidelity and otherwise unused.
    nsg_r: int | None = None
    nsg_storage: str = "flat"  # "flat" | "pq" | "sq"
    nsg_pq_m: int | None = None
    nsg_pq_np: bool = False
    nsg_sq_bits: int | None = None
    # IVF<n>_NSG<R> / IVF<n>_HNSW<M> (reference index_factory.cpp:253-268):
    # the coarse quantizer is a graph index over the CENTROIDS, used to
    # route queries to probe lists without scanning all nlist centroids.
    coarse_graph: str | None = None  # None | "nsg" | "hnsw"
    coarse_graph_r: int | None = None
    # PRQ<ns>x<M>x<b> / PLSQ<ns>x<M>x<b> (reference index_factory.cpp
    # :589-607 ProductResidual/ProductLocalSearch quantizer codecs)
    paq_nsplits: int | None = None
    paq_msub: int | None = None
    paq_nbits: int = 8
    paq_lsq: bool = False
    # PQ<M1>+<M2> (reference index_factory.cpp:321-327 IndexIVFPQR):
    # refine PQ with M2 sub-quantizers on the second-level residual
    pqr_m2: int | None = None
    # PQ<M>[np] (reference index_factory.cpp:315-319 / :445:
    # do_polysemous_training defaults TRUE for plain PQ / IVFPQ; 'np'
    # disables). Reordering is codec-identical (decode(perm[c]) ==
    # decode(c)), so results match either way; training it enables the
    # polysemous_ht Hamming pre-filter at search. Annealing is bounded
    # (n_iter=2000) — the reference's default SA budget is a tuning
    # knob, not a semantic.
    pq_polysemous: bool = False
    # IVF<n>,(ITQ|PCA|PCAR)[<d'>],SH[<period>][g|c|m] — IndexIVFSpectralHash
    # via the factory (reference index_factory.cpp:398-424)
    sh_transform: str | None = None  # "itq" | "pca" | "pcar"
    sh_nbit: int | None = None
    sh_period: float | None = None
    sh_threshold: str = "global"
    # additive-quantizer per-level widths + stored-norm search type
    # (reference aq_def_pattern '<k>x<b>[_<k>x<b>...]' and
    # aq_norm_pattern '_N*', index_factory.cpp:159-161). aq_search_type:
    # None = reference default (ST_decompress for L2, LUT for IP);
    # "none" = ST_LUT_nonorm; else the stored-norm kind
    # (float/qint8/qint4/cqint8/cqint4/rq2x4/lsq2x4).
    aq_nbits: list | None = None
    aq_search_type: str | None = None
    # LSQ<M>x<b> flat index (reference IndexLocalSearchQuantizer)
    lsq_m: int | None = None
    lsq_nbits: int = 8
    # LSH[r][t] (reference index_factory.cpp:528-532 IndexLSH: nbits=d,
    # r = rotate_data, t = train_thresholds)
    lsh_rotate: bool = False
    lsh_thresholds: bool = False
    refine_flat: bool = False
    # Refine(<codec>) general form (reference index_factory.cpp:664-677):
    # re-rank against the SUB-CODEC's reconstructions, not raw vectors
    refine_desc: str | None = None
    flat_dedup: bool = False
    k_factor: int = 4
    metric: str = "l2"

    # fitted state
    pipeline: Pipeline | None = None
    index: object | None = None

    def fit(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec",
        seed: int = 1234,
    ) -> "IndexPlan":
        """train + add (reference EP3 lifecycle, SURVEY §3.3)."""
        cur = vectors.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
        )
        for kind, arg in self.sql_transforms:
            if kind == "l2norm":
                cur = cur.select("id", normalize_expr(F.col("vec")).alias("vec"))
            else:
                cur = cur.select(
                    "id", remap_dimensions_expr(F.col("vec"), arg).alias("vec")
                )
        if self.transforms:
            self.pipeline = Pipeline(list(self.transforms)).fit(cur)
            cur = self.pipeline.apply(cur)
        cur = cur.localCheckpoint(eager=False)
        self._transformed = cur

        from faiss_spark.operators.codecs import (
            ProductQuantizer,
            ResidualQuantizer,
            ScalarQuantizer,
        )
        from faiss_spark.operators.ivf import (
            IVFAQIndex,
            IVFIndex,
            IVFPQIndex,
            IVFSQIndex,
        )

        if self.index_type == "flat":
            self.index = None  # brute force over the transformed table
        elif self.index_type == "ivfflat" and self.coarse == "imi":
            from faiss_spark.operators.ivf import IMIIVFIndex

            self.index = IMIIVFIndex.train(
                cur, nbits=self.coarse_nbits, seed=seed
            ).add(cur)
        elif self.index_type == "imipq":
            from faiss_spark.operators.ivf import IMIPQIndex

            self.index = IMIPQIndex.train(
                cur, nbits=self.coarse_nbits, M=self.pq_m, seed=seed
            )
            if self.pq_polysemous:
                # same reference default as PQ / IVF,PQ ('np' disables):
                # codec-identical reorder, enables the polysemous_ht
                # Hamming pre-filter at search
                from faiss_spark.operators.codecs import PolysemousTraining

                self.index.pq, _ = PolysemousTraining(
                    n_iter=2000, seed=seed
                ).optimize_pq(self.index.pq)
            self.index.add(cur)
        elif self.index_type == "ivfflat" and self.coarse is not None:
            from faiss_spark.operators.ivf import IVFRCQIndex

            self.index = IVFRCQIndex.train(
                cur, M=self.coarse_m, nbits=self.coarse_nbits, seed=seed,
                lsq=(self.coarse == "lsq"),
            ).add(cur)
        elif self.index_type == "ivfflat" and self.nested is not None:
            from faiss_spark.operators.ivf import IVFNestedIndex

            self.index = IVFNestedIndex.train(
                cur, nlist=self.nlist, sub=self.nested, seed=seed
            ).add(cur)
        elif self.index_type == "ivfflat" and self.flat_dedup:
            from faiss_spark.operators.refine import dedup_flat

            dd = dedup_flat(cur).localCheckpoint(eager=False)
            reps = dd.select(F.col("rep_id").alias("id"), "vec")
            self._dedup_ids = dd.select(F.col("rep_id").alias("id"), "ids")
            self.index = IVFIndex.train(
                reps, nlist=self.nlist, metric=self.metric, seed=seed
            ).add(reps)
        elif self.index_type == "ivfflat":
            self.index = IVFIndex.train(cur, nlist=self.nlist, metric=self.metric, seed=seed).add(cur)
            if self.coarse_graph:
                # graph over the centroids for routed assignment
                # (reference IVF<n>_NSG<R>: IndexNSGFlat as quantizer;
                # HNSW spelled as the same batch graph — COVERAGE.md)
                from faiss_spark.operators.nsg import _build_shard_graph

                C = np.ascontiguousarray(self.index.centroids, np.float64)
                R = self.coarse_graph_r or 32
                self._cgraph, self._cep = _build_shard_graph(
                    C, R=R, knn_k=max(2 * R, 16)
                )
        elif self.index_type == "ivfpq":
            if self.fastscan:
                from faiss_spark.operators.fastscan import IVFPQFastScanIndex

                # reference semantics (index_factory.cpp:324-328): plain
                # x4fs is by_residual=FALSE (PQ on raw vectors, one LUT
                # per query); x4fsr opts into the residual encoding
                self.index = IVFPQFastScanIndex.train(
                    cur, nlist=self.nlist, M=self.pq_m, seed=seed,
                    by_residual=self.fs_residual,
                ).add(cur)
            else:
                self.index = IVFPQIndex.train(
                    cur, nlist=self.nlist, M=self.pq_m, nbits=self.pq_nbits,
                    seed=seed,
                )
                if self.pq_polysemous:
                    # reference default (index_factory.cpp:315-319):
                    # codec-identical reorder enabling polysemous_ht
                    from faiss_spark.operators.codecs import PolysemousTraining

                    self.index.pq, _ = PolysemousTraining(
                        n_iter=2000, seed=seed
                    ).optimize_pq(self.index.pq)
                self.index.add(cur)
        elif self.index_type == "ivfpqr":
            from faiss_spark.operators.ivf import IVFPQRIndex

            # train() with M_refine encodes (list_no, id, code, rcode) in
            # one map-only pass; search defaults to raw-table rerank here
            # (the table exists in the plan) and pqr_codes works after
            # dropping it — both modes of the reference's IndexIVFPQR
            self.index = IVFPQRIndex.train(
                cur, nlist=self.nlist, M=self.pq_m, M_refine=self.pqr_m2,
                k_factor=self.k_factor, seed=seed,
            )
        elif self.index_type == "ivfsq":
            self.index = IVFSQIndex.train(
                cur, nlist=self.nlist, bits=self.sq_bits, metric=self.metric,
                seed=seed, coarse_q=self._fit_coarse_q(cur, seed),
            ).add(cur)
        elif self.index_type == "ivfsh":
            from faiss_spark.operators.ivf import IVFSpectralHash

            self.index = IVFSpectralHash.train(
                cur, nlist=self.nlist, nbit=self.sh_nbit,
                period=self.sh_period, threshold_type=self.sh_threshold,
                transform=self.sh_transform, seed=seed,
            ).add(cur)
        elif self.index_type in ("ivfrq", "ivflsq"):
            self.index = IVFAQIndex.train(
                cur, nlist=self.nlist,
                M=self.rq_m if self.index_type == "ivfrq" else self.lsq_m,
                nbits=self.aq_nbits or 8,
                lsq=(self.index_type == "ivflsq"),
                search_type=self.aq_search_type,
                metric=self.metric, seed=seed,
                coarse_q=self._fit_coarse_q(cur, seed),
            ).add(cur)
        elif self.index_type == "ivfrqfs":
            if self.metric != "l2":
                raise ValueError(
                    "IVF<n>,RQ<M>x4fs supports METRIC_L2 only (the norm-code "
                    f"decomposition is L2-specific), got metric={self.metric!r}"
                )
            from faiss_spark.operators.fastscan import IVFAQFastScanIndex

            # reference semantics: plain x4fs = by_residual=false
            # (RQ on raw vectors), x4fsr = residual encoding
            self.index = IVFAQFastScanIndex.train(
                cur, nlist=self.nlist, M=self.rq_m, seed=seed,
                by_residual=self.fs_residual,
            ).add(cur)
        elif self.index_type == "ivfpaqfs":
            if self.metric != "l2":
                raise ValueError(
                    "IVF<n>,PRQ/PLSQ<ns>x<M>x4fs supports METRIC_L2 only "
                    "(the norm-code decomposition is L2-specific), got "
                    f"metric={self.metric!r}"
                )
            from faiss_spark.operators.fastscan import train_ivf_paq_fastscan

            self.index = train_ivf_paq_fastscan(
                cur, nlist=self.nlist, nsplits=self.paq_nsplits,
                Msub=self.paq_msub, lsq=self.paq_lsq, seed=seed,
                by_residual=self.fs_residual,
            ).add(cur)
        elif self.index_type == "rq":
            model = ResidualQuantizer(
                M=self.rq_m, nbits=self.aq_nbits or 8, seed=seed
            ).fit(cur)
            self._rq_model = model
            self._rq_codes = model.encode(cur)
            self._aq_norm = self._fit_aq_norm(model, cur, seed)
            self.index = model
        elif self.index_type == "lsq":
            from faiss_spark.operators.codecs import LocalSearchQuantizer

            model = LocalSearchQuantizer(
                M=self.lsq_m, nbits=self.lsq_nbits, seed=seed
            ).fit(cur)
            # same decode/encode surface as the RQ model — the flat AQ
            # search path below is shared
            self._rq_model = model
            self._rq_codes = model.encode(cur)
            self._aq_norm = self._fit_aq_norm(model, cur, seed)
            self.index = model
        elif self.index_type == "rcq":
            from faiss_spark.operators.codecs import ResidualCoarseQuantizer

            self.index = ResidualCoarseQuantizer(
                M=len(self.aq_nbits), nbits=self.aq_nbits, seed=seed
            ).fit(cur)
        elif self.index_type == "rqfs":
            from faiss_spark.operators.fastscan import (
                aq_fastscan_encode,
                train_aq_fastscan,
            )

            model = train_aq_fastscan(cur, M=self.rq_m, seed=seed)
            self._aqfs_model = model
            self._aqfs_codes = aq_fastscan_encode(model, cur)
            self.index = model
        elif self.index_type == "paqfs":
            from faiss_spark.operators.fastscan import (
                aq_fastscan_encode,
                train_paq_fastscan,
            )

            model = train_paq_fastscan(
                cur, nsplits=self.paq_nsplits, Msub=self.paq_msub,
                lsq=self.paq_lsq, seed=seed,
            )
            self._aqfs_model = model
            self._aqfs_codes = aq_fastscan_encode(model, cur)
            self.index = model
        elif self.index_type == "pq":
            model = ProductQuantizer(
                M=self.pq_m, nbits=self.pq_nbits, seed=seed
            ).fit(cur)
            if self.pq_polysemous and not self.fastscan and self.pq_nbits <= 8:
                # the reference's polysemous training is 8-bit-only
                # (IndexPQ.cpp train guards on nbits); wider codes skip
                # it rather than building 2^nbits-sized Hamming tables
                from faiss_spark.operators.codecs import PolysemousTraining

                model, _ = PolysemousTraining(
                    n_iter=2000, seed=seed
                ).optimize_pq(model)
            self._pq_model = model
            self._pq_codes = model.encode(cur)
            self.index = model
        elif self.index_type == "sq":
            model = ScalarQuantizer(bits=self.sq_bits).fit(cur)
            self._sq_model = model
            self._sq_codes = model.encode(cur)
            self.index = model
        elif self.index_type == "paq":
            from faiss_spark.operators.codecs import ProductAdditiveQuantizer

            model = ProductAdditiveQuantizer(
                nsplits=self.paq_nsplits, M_per_split=self.paq_msub,
                nbits=self.paq_nbits, seed=seed, lsq=self.paq_lsq,
            ).fit(cur)
            self._paq_model = model
            self._paq_codes = model.encode(cur)
            self.index = model
        elif self.index_type == "lsh":
            from faiss_spark.operators.binary import LSHIndex

            self.index = LSHIndex(
                rotate=self.lsh_rotate, train_thresholds=self.lsh_thresholds,
                seed=seed,
            ).fit(cur).add(cur)
        elif self.index_type == "nsg":
            from faiss_spark.operators.nsg import NSGIndex

            self.index = NSGIndex.build(
                cur, R=self.nsg_r, storage=self.nsg_storage,
                pq_m=self.nsg_pq_m or 16,
                sq_bits=self.nsg_sq_bits or 8,
            )
        elif self.index_type == "lattice":
            from faiss_spark.operators.lattice import LatticeIndex

            idx = LatticeIndex(
                nsq=self.lat_nsq, scale_nbit=self.lat_scale_nbit,
                r2=self.lat_r2,
            ).fit(cur)
            self._lat_codes = idx.sa_encode(cur)
            self.index = idx
        if self.refine_desc:
            # fit the refine codec on the SAME transformed vectors; the
            # re-rank scores candidates against its reconstructions
            # (reference IndexRefine.cpp:66-100: refine_index holds the
            # codec, distances come from its reconstruct). The codec may
            # itself be a transform+index CHAIN (reference
            # 'RQ2x5,Refine(ITQ,LSHt)', tests/test_standalone_codec.py:
            # 341,386) — reconstruction then decodes through the chain's
            # reverse transforms (IndexPreTransform::reverse_chain).
            sub = index_factory(self.refine_desc, metric=self.metric)
            _validate_refine_sub(sub, self.refine_desc)
            sub.fit(cur)
            table = sub._decoded_table()
            if sub.pipeline:
                # back to the refine chain's INPUT space (== this plan's
                # transformed space, where candidates and queries live)
                table = sub.pipeline.reverse(table)
            self._refine_table = table.localCheckpoint(eager=False)
            self._refine_plan = sub
        return self

    def _fit_coarse_q(self, cur: DataFrame, seed: int):
        """Fit the additive coarse quantizer for coded-list IVF forms
        (reference ``IVF1024(RCQ2x5),SQ8`` / ``IVF256(RCQ2x4),RQ3x4`` —
        its tests/test_factory.py:254, test_residual_quantizer.py:395,
        586). None when the plan's coarse is plain k-means."""
        if self.coarse not in ("rcq", "lsq"):
            return None
        from faiss_spark.operators.codecs import (
            LSCoarseQuantizer,
            ResidualCoarseQuantizer,
        )

        est = (LSCoarseQuantizer if self.coarse == "lsq" else ResidualCoarseQuantizer)(
            M=self.coarse_m, nbits=self.coarse_nbits, seed=seed
        )
        return est.fit(cur)

    def _decoded_table(self) -> DataFrame:
        """(id, vec) reconstructions for the fitted codec index types —
        the table a Refine(...) stage re-ranks against. In the plan's
        own TRANSFORMED space (callers reverse through the pipeline when
        they need the input space)."""
        if self.index_type == "sq":
            return self._sq_model.decode(self._sq_codes)
        if self.index_type == "pq":
            return self._pq_model.decode(self._pq_codes)
        if self.index_type in ("rq", "lsq"):
            return self._rq_model.decode(self._rq_codes)
        if self.index_type == "paq":
            return self._paq_model.decode(self._paq_codes)
        if self.index_type == "lsh":
            # reference IndexLSH::sa_decode — ±1 bits + thresholds,
            # reverse-rotated (binary.py LSHIndex.decode_codes)
            return self.index.decode_codes()
        raise ValueError(f"{self.index_type!r} has no reconstruction table")

    def _fit_aq_norm(self, model, cur: DataFrame, seed: int):
        """Train the stored-norm quantizer for the '_N*' search types on
        RECONSTRUCTION norms of the training sample (reference
        AdditiveQuantizer::train_norm is fed the decoded norms)."""
        if self.aq_search_type in (None, "none"):
            return None
        import numpy as np

        from faiss_spark.operators.codecs import (
            AQNormQuantizer,
            _sampled_matrix,
        )

        X = _sampled_matrix(cur, "vec", 65536, seed)
        Xh = model.decode_np(model.encode_np(X))
        return AQNormQuantizer(self.aq_search_type).fit_np((Xh * Xh).sum(1))

    def search(self, queries: DataFrame, k: int, nprobe: int = 8,
               qid_col: str = "qid", qvec_col: str = "vec",
               polysemous_ht: int | None = None) -> DataFrame:
        from faiss_spark.operators.knn import knn

        if polysemous_ht is not None and (
            self.index_type not in ("pq", "ivfpq") or self.fastscan
        ):
            raise ValueError(
                "polysemous_ht applies to plain PQ / IVFPQ plans only "
                f"(this plan is {self.index_type!r}"
                + (", fastscan" if self.fastscan else "")
                + ")"
            )
        q = queries.select(
            F.col(qid_col).cast("bigint").alias("qid"), F.col(qvec_col).alias("vec")
        )
        for kind, arg in self.sql_transforms:
            if kind == "l2norm":
                q = q.select("qid", normalize_expr(F.col("vec")).alias("vec"))
            else:
                q = q.select("qid", remap_dimensions_expr(F.col("vec"), arg).alias("vec"))
        if self.pipeline:
            q = self.pipeline.apply(q, id_col="qid")
        refining = self.refine_flat or self.refine_desc is not None
        k_cand = k * self.k_factor if refining else k
        if self.index_type == "flat":
            res = knn(self._transformed, q, k_cand, metric=self.metric, qid_col="qid")
        elif self.index_type == "ivfflat" and self.coarse_graph:
            res = self._graph_routed_search(q, k_cand, nprobe)
        elif self.index_type in (
            "ivfflat", "ivfpq", "ivfpqr", "ivfsq", "ivfrq", "ivflsq",
            "ivfrqfs", "ivfpaqfs", "imipq", "ivfsh",
        ):
            kw = (
                {"polysemous_ht": polysemous_ht}
                if polysemous_ht is not None
                else {}
            )
            res = self.index.search(q, k_cand, nprobe=nprobe, qid_col="qid", **kw)
            if self.flat_dedup:
                # IndexIVFFlatDedup: duplicated ids materialize at result
                # time (reference IndexIVFFlatDedup.h:30 instances map)
                res = res.join(self._dedup_ids, "id").select(
                    "qid", F.explode("ids").alias("id"), "dist", "rank"
                )
        elif self.index_type == "pq":
            if self.fastscan:
                from faiss_spark.operators.fastscan import pq_fastscan_search

                res = pq_fastscan_search(
                    self._pq_model, self._pq_codes, q, k_cand, qid_col="qid"
                )
            else:
                res = self._pq_model.adc_search(
                    self._pq_codes, q, k_cand, qid_col="qid",
                    polysemous_ht=polysemous_ht,
                )
        elif self.index_type in ("sq", "rq", "lsq", "paq"):
            res = self._codec_search(q, k_cand)
        elif self.index_type == "rcq":
            # standalone coarse quantizer: top-k VIRTUAL centroids per
            # query by beam (reference ResidualCoarseQuantizer::search) —
            # map-only over the query side, the model broadcasts
            import numpy as np

            model = self.index
            bcm = q.sparkSession.sparkContext.broadcast(model)
            kk = k_cand

            def rank_cells(batches):
                import pyarrow as pa

                from faiss_spark.kernels import arrow_id_vec_blocks

                mdl = bcm.value
                for qids, Q, _ in arrow_id_vec_blocks(batches):
                    lists, dists = mdl.search_np(Q, kk)
                    nq, kr = lists.shape
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(np.repeat(qids, kr), pa.int64()),
                            pa.array(lists.ravel(), pa.int64()),
                            pa.array(dists.ravel(), pa.float64()),
                            pa.array(
                                np.tile(np.arange(1, kr + 1), nq),
                                pa.int32(),
                            ),
                        ],
                        names=["qid", "id", "dist", "rank"],
                    )

            res = q.select("qid", "vec").mapInArrow(
                rank_cells,
                schema="qid bigint, id bigint, dist double, rank int",
            )
        elif self.index_type in ("rqfs", "paqfs"):
            from faiss_spark.operators.fastscan import aq_fastscan_search

            res = aq_fastscan_search(
                self._aqfs_model, self._aqfs_codes, q, k_cand, qid_col="qid"
            )
        elif self.index_type == "lsh":
            res = self.index.search(q, k_cand, qid_col="qid")
        elif self.index_type == "nsg":
            res = self.index.search(
                q, k_cand, search_L=max(32, 2 * k_cand), qid_col="qid"
            )
        else:
            # lattice: reference IndexLattice.search throws; here the codec
            # searches like the other full-table codecs, refine-on-decode
            decoded = self.index.sa_decode(self._lat_codes)
            res = knn(decoded, q, k_cand, metric=self.metric, qid_col="qid")
        if self.refine_flat:
            from faiss_spark.operators.refine import refine_search

            res = refine_search(res, self._transformed, q, k, metric=self.metric)
        elif self.refine_desc:
            from faiss_spark.operators.refine import refine_search

            res = refine_search(res, self._refine_table, q, k, metric=self.metric)
        return res

    def _codec_search(self, q: DataFrame, k: int) -> DataFrame:
        """Flat SQ, RQ/LSQ and PAQ search (a codec's search = refine on
        decode): the codes are the one list of the flat route, decoded
        in the scan. An RQ/LSQ '_N*' search_type under L2 ranks by the
        stored-norm estimator instead (IP has no norm term)."""
        from faiss_spark.operators.ivf import _CodecScanner, _scan_flat_codes

        t = self.index_type
        if t == "sq":
            model, codes, d = self._sq_model, self._sq_codes, self._sq_model.d
        elif t == "paq":
            model, codes = self._paq_model, self._paq_codes
            d = model.dsub * len(model.subs)
        else:
            model, codes = self._rq_model, self._rq_codes
            d = model.codebooks.shape[2]
        # only RQ/LSQ plans parse a '_N*' search_type
        est = self.aq_search_type is not None and self.metric == "l2"
        scanner = _CodecScanner(
            model, self.metric, f32=True, est=est,
            norm_q=self._aq_norm if est else None,
        )
        return _scan_flat_codes(codes, q, d, scanner, "search", "qid", "vec", k=k)

    def _graph_routed_search(
        self, q: DataFrame, k: int, nprobe: int
    ) -> DataFrame:
        """IVF search with GRAPH-ROUTED coarse assignment (reference
        IVF<n>_NSG<R> / IVF<n>_HNSW<M>, index_factory.cpp:253-268: the
        quantizer is a graph index over the centroids). Probe lists come
        from a beam walk over the centroid graph instead of an exact
        nq×nlist scan — at nlist ≥ 1M the assign cost drops from
        nq·nlist·d to nq·L·R·d. The list scan itself is identical to the
        exact-assign plan (partition-pruned, broadcast probes)."""
        from faiss_spark.operators.ivf import (
            _FlatScanner,
            _GraphRouter,
            _probe_planner,
            _scan_probed_lists,
            search_preassigned,
        )

        C = np.ascontiguousarray(self.index.centroids, np.float64)
        planner = _probe_planner(
            self.index, nprobe, router=_GraphRouter(C, self._cgraph, self._cep)
        )
        # past the driver bound: the cogroup twin with the SAME beam walk
        # (and pad fill) running executor-side
        return _scan_probed_lists(
            self.index.codes, self.index._dtype, q, planner,
            _FlatScanner(self.metric), "graph_routed_search", "qid", "vec", k=k,
            fallback=lambda: search_preassigned(
                self.index, q, k, nprobe=nprobe,
                assign_payload=planner, assign_fn=lambda p, Q: p(Q),
            ),
        )

    # -- persistence (reference blanket IO property, tests/test_io.py:
    # every factory-built index survives write_index → read_index →
    # identical search; impl/index_write.cpp:1039) -----------------------
    def save(self, path: str) -> "IndexPlan":
        from faiss_spark.plans.plan_io import save_plan

        return save_plan(self, path)

    @staticmethod
    def load(spark, path: str) -> "IndexPlan":
        from faiss_spark.plans.plan_io import load_plan

        return load_plan(spark, path)


def _nested_codec_of(t: str) -> tuple | None:
    """One codec stage of the nested-coarse sub-grammar."""
    if t == "Flat":
        return ("flat",)
    m = re.match(r"^SQ(4|6|8|fp16)$", t)
    if m:
        return ("sq", {"4": 4, "6": 6, "8": 8, "fp16": 16}[m.group(1)])
    m = re.match(r"^PQ(\d+)(?:x(\d+))?$", t)
    if m:
        return ("pq", int(m.group(1)), int(m.group(2) or 8))
    m = re.match(r"^LSH([rt]*)$", t)
    if m:
        return ("lsh", "r" in m.group(1), "t" in m.group(1))
    return None


def _parse_nested_sub(content: str) -> tuple:
    """Parse the parenthesized sub-description of ``IVF<n>(<sub>)``
    (reference parse_coarse_quantizer, index_factory.cpp:228,841 —
    accepts any description recursively; its own tests build
    ``IVF1000(IVF20,SQ4,Refine(SQ8)),Flat``, tests/test_factory.py:154).

    Single-stage forms map to the enumerated NestedCoarseRouter kinds
    (unchanged artifacts); the recursive grammar
    ``[IVF<m>,]<codec>[,Refine(<codec>)|,RFlat]`` maps to the composite
    router. Depth beyond 2 refuses loudly — refusing beats mis-building."""
    toks = _split_tokens(content)
    if toks and re.match(r"^IVF\d+\(", toks[0]):
        raise ValueError(
            f"nested coarse quantizers recurse at most 2 levels; "
            f"{toks[0]!r} inside {content!r} is a third level"
        )
    if len(toks) == 1:
        t = toks[0]
        legacy = _nested_codec_of(t)
        if legacy is not None and legacy[0] != "sq":
            return legacy
        m = re.match(r"^IVF(\d+)$", t)
        if m:
            return ("ivf", int(m.group(1)))
    if (
        len(toks) == 2
        and re.match(r"^IVF(\d+)$", toks[0])
        and toks[1] == "Flat"
    ):
        return ("ivf", int(toks[0][3:]))
    spec: dict = {"inner_k": None, "codec": None, "refine": None}
    i = 0
    m = re.match(r"^IVF(\d+)$", toks[i]) if toks else None
    if m:
        spec["inner_k"] = int(m.group(1))
        i += 1
    if i >= len(toks):
        raise ValueError(f"nested coarse {content!r} has no codec stage")
    codec = _nested_codec_of(toks[i])
    if codec is None:
        raise ValueError(
            f"unsupported nested coarse stage {toks[i]!r} in {content!r}"
        )
    spec["codec"] = codec
    i += 1
    if i < len(toks):
        t = toks[i]
        rm = re.match(r"^Refine\((.+)\)$", t)
        if t == "RFlat":
            spec["refine"] = ("flat",)
            i += 1
        elif rm:
            rc = _nested_codec_of(rm.group(1))
            if rc is None or rc[0] == "lsh":
                raise ValueError(
                    "nested coarse refine stage must be Flat/SQ<b>/"
                    f"PQ<M>, got {rm.group(1)!r}"
                )
            spec["refine"] = rc
            i += 1
    if i != len(toks):
        raise ValueError(
            f"trailing tokens {toks[i:]} in nested coarse {content!r}"
        )
    return ("composite", spec)


def _validate_refine_sub(sub: "IndexPlan", desc: str) -> None:
    """Shared parse/fit validation of a Refine(<sub>) description
    (reference index_factory.cpp:664-677 builds any sub-index; here the
    refine stage must be able to RECONSTRUCT — a codec, optionally behind
    orthonormal-reversible transforms so decode can come back through
    the chain (reference 'RQ2x5,Refine(ITQ,LSHt)'))."""
    if sub.sql_transforms:
        raise ValueError(
            f"Refine({desc}): L2norm/Pad are not reversible — not "
            "allowed inside the refine codec"
        )
    for t in sub.transforms:
        if not isinstance(t, (ITQTransform, RandomRotation)):
            raise ValueError(
                f"Refine({desc}): only orthonormal-reversible transforms "
                "(ITQ, RR) may wrap the refine codec — reconstruction "
                "decodes through the chain's reverse"
            )
    if sub.index_type not in ("sq", "pq", "rq", "paq", "lsh"):
        raise ValueError(
            f"Refine({desc}): refine stage must be a codec "
            "(SQn/PQm/RQm/PRQ/PLSQ/LSH) or Flat (RFlat)"
        )


def _split_tokens(description: str) -> list[str]:
    """Comma split at paren depth 0 — a parenthesized sub-description is
    ONE token (the reference tokenizer does the same so that nested
    quantizers like ``IVF1000(IVF32,Flat),Flat`` parse,
    index_factory.cpp:214)."""
    toks: list[str] = []
    depth, cur = 0, []
    for ch in description:
        if ch == "," and depth == 0:
            t = "".join(cur).strip()
            if t:
                toks.append(t)
            cur = []
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced parentheses in {description!r}")
        cur.append(ch)
    if depth != 0:
        raise ValueError(f"unbalanced parentheses in {description!r}")
    t = "".join(cur).strip()
    if t:
        toks.append(t)
    return toks


# '_N*' stored-norm suffixes (reference aq_norm_pattern,
# index_factory.cpp:160): suffix → AQNormQuantizer kind / sentinel
_AQ_NORM_SUFFIXES = {
    "_Nnone": "none",
    "_Nfloat": "float",
    "_Nqint8": "qint8",
    "_Nqint4": "qint4",
    "_Ncqint8": "cqint8",
    "_Ncqint4": "cqint4",
    "_Nlsq2x4": "lsq2x4",
    "_Nrq2x4": "rq2x4",
}


def _parse_aq_spec(tok: str, prefix: str) -> tuple[list[int], str | None] | None:
    """Match '<prefix><k1>x<b1>[_<k2>x<b2>...][_N<st>]' (reference
    aq_def_pattern + aq_norm_pattern) → (per-level nbits, search_type).
    Returns None when the token is not this shape."""
    m = re.match(rf"^{prefix}(\d+x\d+(?:_\d+x\d+)*)(_N[a-z0-9]+)?$", tok)
    if not m:
        return None
    if m.group(2) is not None and m.group(2) not in _AQ_NORM_SUFFIXES:
        return None
    bits: list[int] = []
    for grp in m.group(1).split("_"):
        k, b = grp.split("x")
        bits.extend([int(b)] * int(k))
    if not bits:
        return None
    st = _AQ_NORM_SUFFIXES[m.group(2)] if m.group(2) else None
    return bits, st


def index_factory(description: str, metric: str = "l2") -> IndexPlan:
    """Parse a faiss factory string (reference index_factory.cpp:192-804
    grammar, round-1 subset) into an IndexPlan."""
    plan = IndexPlan(metric=metric)
    plan._description = description.strip()  # persisted by plan_io.save_plan
    tokens = _split_tokens(description)
    # IDMap was "used both as a prefix and a suffix" (reference
    # index_factory.cpp:739-751); ids are a column everywhere here, so
    # both spellings are free wrappers
    while len(tokens) > 1 and tokens[-1] in ("IDMap", "IDMap2"):
        tokens.pop()
    i = 0
    # leading transforms
    while i < len(tokens):
        tok = tokens[i]
        if tok in ("L2norm", "L2Norm"):
            # the reference transform grammar is "L2[nN]orm"
            # (index_factory.cpp:202)
            plan.sql_transforms.append(("l2norm", None))
            i += 1
            continue
        if tok in ("IDMap", "IDMap2"):
            # id wrappers are free here — ids are a column everywhere
            # (reference index_factory.cpp:741-751)
            i += 1
            continue
        m = re.match(r"^OPQ(\d+)_(\d+)$", tok)
        if m:
            # OPQ<M>_<d_out> (reference index_factory.cpp:211-216
            # OPQMatrix(d, M, d_out)): dimension reduction + rotation.
            # Composed as PCA(d_out) → OPQ(M) — OPQ's non-parametric
            # init IS the PCA projection (the reference's OPQMatrix
            # starts from it), the rotation then optimizes in d_out.
            plan.transforms.append(PCAMatrix(int(m.group(2))))
            plan.transforms.append(OPQMatrix(int(m.group(1))))
            i += 1
            continue
        m = re.match(r"^Pad(\d+)$", tok)
        if m:
            plan.sql_transforms.append(("pad", int(m.group(1))))
            i += 1
            continue
        matched = False
        for rx, make in _TRANSFORM_RES:
            m = rx.match(tok)
            if m:
                plan.transforms.append(make(m))
                i += 1
                matched = True
                break
        if not matched:
            break
    if i >= len(tokens):
        raise ValueError(f"factory string {description!r} has no index stage")
    tok = tokens[i]
    m = re.match(r"^IMI2x(\d+)$", tok)
    if m:
        # MultiIndexQuantizer coarse (reference index_factory.cpp:241-289
        # "IMI2x<b>" → nlist = 2^(2b) product cells); Flat codes, or
        # PQ<M> residual codes (the classic billion-scale "IMI2x12,PQ16"
        # configuration — IndexIVFPQ over a MultiIndexQuantizer)
        plan.coarse = "imi"
        plan.coarse_nbits = int(m.group(1))
        plan.nlist = 1 << (2 * plan.coarse_nbits)
        i += 1
        pm = (
            re.match(r"^PQ(\d+)(?:x(\d+))?(np)?$", tokens[i])
            if i < len(tokens)
            else None
        )
        if pm:
            if pm.group(2) and int(pm.group(2)) != 8:
                raise ValueError(
                    f"{tokens[i]!r}: IMI PQ codes are 8-bit here "
                    "(byte-packed layout)"
                )
            plan.index_type = "imipq"
            plan.pq_m = int(pm.group(1))
            # same convention as PQ / IVF,PQ below: 'np' disables the
            # codec-identical polysemous reorder
            plan.pq_polysemous = pm.group(3) != "np"
        elif i < len(tokens) and tokens[i] == "Flat":
            plan.index_type = "ivfflat"
        else:
            raise ValueError(f"{tok!r} supports Flat or PQ<M> codes only")
        i += 1
        if i < len(tokens) and tokens[i] == "RFlat":
            plan.refine_flat = True
            i += 1
        if i != len(tokens):
            raise ValueError(f"trailing tokens {tokens[i:]} in {description!r}")
        return plan
    # generic nested coarse quantizer (reference index_factory.cpp:241-289
    # + parse_coarse_quantizer :228,841 — any parenthesized
    # sub-description builds the quantizer; the RCQ/LSQ forms below are
    # the additive special case). Single stages map to the enumerated
    # router kinds; the recursive grammar ``[IVF<m>,]<codec>[,Refine(…)]``
    # maps to the composite router (_parse_nested_sub).
    m = re.match(r"^IVF(\d+)\((.+)\)$", tok)
    if m and not re.match(r"^(RCQ|LSQ)\d+x\d+$", m.group(2)):
        if metric != "l2":
            raise ValueError(
                f"{tok!r}: nested coarse quantizers rank by squared L2 "
                f"(the reference quantizer contract), got {metric!r}"
            )
        plan.nlist = int(m.group(1))
        plan.nested = _parse_nested_sub(m.group(2))
        i += 1
        if i >= len(tokens) or tokens[i] != "Flat":
            raise ValueError(
                f"nested coarse quantizer {tok!r} supports Flat codes only"
                + (f", got {tokens[i]!r}" if i < len(tokens) else "")
            )
        plan.index_type = "ivfflat"
        i += 1
        if i < len(tokens) and tokens[i] == "RFlat":
            plan.refine_flat = True
            i += 1
        if i != len(tokens):
            raise ValueError(f"trailing tokens {tokens[i:]} in {description!r}")
        return plan
    m = re.match(
        r"^IVF(\d+)(?:\((RCQ|LSQ)(\d+)x(\d+)\))?(?:_(HNSW|NSG)(\d+)?)?$", tok
    )
    if m:
        plan.nlist = int(m.group(1))
        if m.group(2):
            plan.coarse = m.group(2).lower()
            plan.coarse_m = int(m.group(3))
            plan.coarse_nbits = int(m.group(4))
            if plan.nlist != 1 << (plan.coarse_m * plan.coarse_nbits):
                raise ValueError(
                    f"{tok!r}: nlist {plan.nlist} != 2^(M·nbits) = "
                    f"{1 << (plan.coarse_m * plan.coarse_nbits)}"
                )
        if m.group(5):
            # IVF<n>_HNSW<M> / IVF<n>_NSG<R> (reference
            # index_factory.cpp:253-268): graph-routed coarse assign.
            # Both spell the same batch structure here (COVERAGE.md on
            # HNSW); the beam walk is L2 — restrict like the reference
            # restricts exotic quantizer/metric combos.
            if m.group(2):
                raise ValueError(
                    f"{tok!r}: additive coarse and graph coarse are "
                    "mutually exclusive"
                )
            if metric != "l2":
                raise ValueError(
                    f"{tok!r}: graph-routed coarse assignment supports "
                    f"METRIC_L2 only, got {metric!r}"
                )
            plan.coarse_graph = m.group(5).lower()
            plan.coarse_graph_r = int(m.group(6)) if m.group(6) else 32
        i += 1
        if i >= len(tokens):
            raise ValueError(f"IVF{plan.nlist} needs a code stage (Flat/PQm/SQ8)")
        code = tokens[i]
        if plan.coarse is not None and not (
            code == "Flat"
            or re.match(r"^SQ(4|6|8|fp16)$", code)
            or _parse_aq_spec(code, "RQ") is not None
            or _parse_aq_spec(code, "LSQ") is not None
        ):
            # reference index_factory.cpp pairs an RCQ/LSQ coarse with any
            # list codec; here the composition covers the list codecs that
            # take a coarse_q (Flat / SQ / RQ / LSQ — the forms the
            # reference's own tests exercise). Others refuse loudly.
            raise ValueError(
                "additive coarse quantizer supports Flat, SQ<b>, RQ<spec> "
                f"or LSQ<spec> codes, got {code!r}"
            )
        if code == "FlatDedup":
            # IndexIVFFlatDedup (reference faiss/IndexIVFFlatDedup.h:21):
            # store one entry per distinct vector, explode ids at result
            plan.index_type = "ivfflat"
            plan.flat_dedup = True
        elif code == "Flat":
            plan.index_type = "ivfflat"
        elif re.match(r"^PQ(\d+)x4fsr?(_\d+)?$", code):
            # IVF<n>,PQ<M>x4fs[r][_<bbs>] (reference index_factory.cpp
            # fast-scan suffix) — 4-bit codes, quantized-LUT search
            pm = re.match(r"^PQ(\d+)x4fs(r?)(?:_(\d+))?$", code)
            plan.index_type = "ivfpq"
            plan.pq_m = int(pm.group(1))
            plan.pq_nbits = 4
            plan.fastscan = True
            plan.fs_residual = pm.group(2) == "r"
            if pm.group(3):
                plan.bbs = int(pm.group(3))
        elif re.match(r"^PQ(\d+)\+(\d+)$", code):
            # IVF<n>,PQ<M1>+<M2> (reference index_factory.cpp:321-327
            # IndexIVFPQR): M1-byte PQ codes + an M2-sub-quantizer refine
            # PQ on the second-level residual. L2 only, as the reference.
            if metric != "l2":
                raise ValueError(
                    f"{code!r}: IVFPQR is L2-only in the reference "
                    "(not implemented for inner product search)"
                )
            pm = re.match(r"^PQ(\d+)\+(\d+)$", code)
            plan.index_type = "ivfpqr"
            plan.pq_m = int(pm.group(1))
            plan.pqr_m2 = int(pm.group(2))
        elif re.match(r"^PQ(\d+)(x\d+)?(np)?$", code):
            pm = re.match(r"^PQ(\d+)(?:x(\d+))?(np)?$", code)
            plan.index_type = "ivfpq"
            plan.pq_m = int(pm.group(1))
            if pm.group(2):
                plan.pq_nbits = int(pm.group(2))
            plan.pq_polysemous = pm.group(3) != "np"
        elif re.match(r"^SQ(4|6|8|fp16)$", code):
            # IVF<n>,SQfp16 (reference index_factory.cpp SQfp16 -> QT_fp16)
            plan.index_type = "ivfsq"
            plan.sq_bits = {"4": 4, "6": 6, "8": 8, "fp16": 16}[code[2:]]
        elif re.match(r"^RQ(\d+)x4fsr?(_\d+)?$", code):
            # IVF<n>,RQ<M>x4fs[r][_<bbs>] — IVF AQ fast-scan
            rm = re.match(r"^RQ(\d+)x4fs(r?)(?:_(\d+))?$", code)
            plan.index_type = "ivfrqfs"
            plan.rq_m = int(rm.group(1))
            plan.fastscan = True
            plan.fs_residual = rm.group(2) == "r"
            if rm.group(3):
                plan.bbs = int(rm.group(3))
        elif re.match(r"^RQ(\d+)$", code):
            plan.index_type = "ivfrq"
            plan.rq_m = int(code[2:])
        elif _parse_aq_spec(code, "RQ") is not None:
            # IVF<n>,RQ<spec>[_N*] (reference IndexIVFResidualQuantizer,
            # index_factory.cpp:336-350)
            bits, st = _parse_aq_spec(code, "RQ")
            plan.index_type = "ivfrq"
            plan.rq_m = len(bits)
            plan.aq_nbits = bits
            plan.aq_search_type = st
        elif _parse_aq_spec(code, "LSQ") is not None:
            # IVF<n>,LSQ<M>x<b>[_N*] (reference
            # IndexIVFLocalSearchQuantizer, same parse branch). The
            # reference LSQ spec is a single group.
            bits, st = _parse_aq_spec(code, "LSQ")
            if len(set(bits)) != 1:
                raise ValueError(f"{code!r}: LSQ takes one <M>x<b> group")
            plan.index_type = "ivflsq"
            plan.lsq_m = len(bits)
            plan.lsq_nbits = bits[0]
            plan.aq_nbits = bits
            plan.aq_search_type = st
        elif re.match(r"^(PRQ|PLSQ)(\d+)x(\d+)x4fsr?(_\d+)?$", code):
            # IVF<n>,PRQ/PLSQ<ns>x<M>x4fs[r][_<bbs>] (reference
            # index_factory.cpp:381-395 IndexIVFProduct{Residual,
            # LocalSearch}QuantizerFastScan) — 4-bit product-additive
            # codes through the AQ fast-scan machinery
            pm = re.match(r"^(PRQ|PLSQ)(\d+)x(\d+)x4fs(r?)(?:_(\d+))?$", code)
            plan.index_type = "ivfpaqfs"
            plan.paq_lsq = pm.group(1) == "PLSQ"
            plan.paq_nsplits = int(pm.group(2))
            plan.paq_msub = int(pm.group(3))
            plan.paq_nbits = 4
            plan.fastscan = True
            plan.fs_residual = pm.group(4) == "r"
            if pm.group(5):
                plan.bbs = int(pm.group(5))
        elif (
            re.match(r"^(ITQ|PCA|PCAR)(\d+)?$", code)
            and i + 1 < len(tokens)
            and re.match(r"^SH(-?[0-9.e]+)?([gcm])?$", tokens[i + 1])
        ):
            # IVF<n>,(ITQ|PCA|PCAR)[<d'>],SH[<period>][g|c|m] —
            # IndexIVFSpectralHash (reference index_factory.cpp:398-424:
            # replace_vt + period + threshold type; no period = plain
            # sign thresholding, spelled -1e10 there)
            tm = re.match(r"^(ITQ|PCA|PCAR)(\d+)?$", code)
            shm = re.match(r"^SH(-?[0-9.e]+)?([gcm])?$", tokens[i + 1])
            plan.index_type = "ivfsh"
            plan.sh_transform = tm.group(1).lower()
            plan.sh_nbit = int(tm.group(2)) if tm.group(2) else None
            plan.sh_period = (
                float(shm.group(1)) if shm.group(1) else -1e10
            )
            plan.sh_threshold = {
                "g": "global", "c": "centroid", "m": "median", None: "global",
            }[shm.group(2)]
            i += 1  # the SH token; the shared i += 1 below covers `code`
        else:
            raise ValueError(f"unsupported IVF code stage {code!r}")
        i += 1
    elif tok == "Flat":
        plan.index_type = "flat"
        i += 1
    elif re.match(r"^PQ(\d+)x4fs(_\d+)?$", tok):
        pm = re.match(r"^PQ(\d+)x4fs(?:_(\d+))?$", tok)
        plan.index_type = "pq"
        plan.pq_m = int(pm.group(1))
        plan.pq_nbits = 4
        plan.fastscan = True
        if pm.group(2):
            plan.bbs = int(pm.group(2))
        i += 1
    elif re.match(r"^PQ(\d+)(x\d+)?(np)?$", tok):
        pm = re.match(r"^PQ(\d+)(?:x(\d+))?(np)?$", tok)
        plan.index_type = "pq"
        plan.pq_m = int(pm.group(1))
        if pm.group(2):
            plan.pq_nbits = int(pm.group(2))
        plan.pq_polysemous = pm.group(3) != "np"
        i += 1
    elif re.match(r"^SQ(4|6|8|fp16)$", tok):
        plan.index_type = "sq"
        plan.sq_bits = {"4": 4, "6": 6, "8": 8, "fp16": 16}[tok[2:]]
        i += 1
    elif re.match(r"^RQ(\d+)x4fs(_\d+)?$", tok):
        # RQ<M>x4fs[_<bbs>] — AQ fast-scan (ST_norm_rq2x4 semantics)
        rm = re.match(r"^RQ(\d+)x4fs(?:_(\d+))?$", tok)
        plan.index_type = "rqfs"
        plan.rq_m = int(rm.group(1))
        plan.fastscan = True
        if rm.group(2):
            plan.bbs = int(rm.group(2))
        i += 1
    elif re.match(r"^RQ(\d+)$", tok):
        plan.index_type = "rq"
        plan.rq_m = int(tok[2:])
        i += 1
    elif _parse_aq_spec(tok, "RQ") is not None:
        # RQ<k1>x<b1>[_<k2>x<b2>...][_N*] (reference
        # IndexResidualQuantizer, index_factory.cpp:563-574)
        bits, st = _parse_aq_spec(tok, "RQ")
        plan.index_type = "rq"
        plan.rq_m = len(bits)
        plan.aq_nbits = bits
        plan.aq_search_type = st
        i += 1
    elif _parse_aq_spec(tok, "LSQ") is not None:
        # LSQ<M>x<b>[_N*] (reference IndexLocalSearchQuantizer,
        # index_factory.cpp:576-587; single group)
        bits, st = _parse_aq_spec(tok, "LSQ")
        if len(set(bits)) != 1:
            raise ValueError(f"{tok!r}: LSQ takes one <M>x<b> group")
        plan.index_type = "lsq"
        plan.lsq_m = len(bits)
        plan.lsq_nbits = bits[0]
        plan.aq_nbits = bits
        plan.aq_search_type = st
        i += 1
    elif _parse_aq_spec(tok, "RCQ") is not None:
        # RCQ<k1>x<b1>[_...] (reference ResidualCoarseQuantizer as a
        # standalone index, index_factory.cpp:563-570): search ranks the
        # VIRTUAL centroid set by beam — the norm suffix is accepted and
        # ignored exactly as the reference ctor ignores it for RCQ
        bits, _ = _parse_aq_spec(tok, "RCQ")
        plan.index_type = "rcq"
        plan.aq_nbits = bits
        i += 1
    elif re.match(r"^(PRQ|PLSQ)(\d+)x(\d+)x4fs(_\d+)?$", tok):
        # flat PRQ/PLSQ fast-scan (reference index_factory.cpp:625-640
        # IndexProduct{Residual,LocalSearch}QuantizerFastScan)
        pm = re.match(r"^(PRQ|PLSQ)(\d+)x(\d+)x4fs(?:_(\d+))?$", tok)
        plan.index_type = "paqfs"
        plan.paq_lsq = pm.group(1) == "PLSQ"
        plan.paq_nsplits = int(pm.group(2))
        plan.paq_msub = int(pm.group(3))
        plan.paq_nbits = 4
        plan.fastscan = True
        if pm.group(4):
            plan.bbs = int(pm.group(4))
        i += 1
    elif re.match(r"^(PRQ|PLSQ)(\d+)x(\d+)x(\d+)$", tok):
        # product additive quantizer codecs (reference
        # index_factory.cpp:589-607: PRQ/PLSQ <nsplits>x<Msub>x<nbit>)
        pm = re.match(r"^(PRQ|PLSQ)(\d+)x(\d+)x(\d+)$", tok)
        plan.index_type = "paq"
        plan.paq_lsq = pm.group(1) == "PLSQ"
        plan.paq_nsplits = int(pm.group(2))
        plan.paq_msub = int(pm.group(3))
        plan.paq_nbits = int(pm.group(4))
        if not 1 <= plan.paq_nbits <= 8:
            raise ValueError(f"{tok!r}: nbits must be 1..8")
        i += 1
    elif re.match(r"^LSH(r?)(t?)$", tok):
        # IndexLSH (reference index_factory.cpp:528-532; L2 only there too)
        lm = re.match(r"^LSH(r?)(t?)$", tok)
        if metric != "l2":
            raise ValueError(f"{tok!r} supports METRIC_L2 only")
        plan.index_type = "lsh"
        plan.lsh_rotate = lm.group(1) == "r"
        plan.lsh_thresholds = lm.group(2) == "t"
        i += 1
    elif re.match(r"^NSG(\d+)?$", tok):
        nm = re.match(r"^NSG(\d+)?$", tok)
        plan.index_type = "nsg"
        plan.nsg_r = int(nm.group(1)) if nm.group(1) else 32
        i += 1
        if i < len(tokens):
            # storage stage (reference parse_IndexNSG,
            # index_factory.cpp:482-506: Flat | PQ<m>[np] | SQ<b>)
            sm = re.match(r"^PQ(\d+)(np)?$", tokens[i])
            qm = re.match(r"^SQ(4|6|8|fp16)$", tokens[i])
            if tokens[i] == "Flat":
                i += 1
            elif sm:
                plan.nsg_storage = "pq"
                plan.nsg_pq_m = int(sm.group(1))
                plan.nsg_pq_np = sm.group(2) == "np"
                i += 1
            elif qm:
                # IndexNSGSQ (reference parse_IndexNSG SQ<b>)
                plan.nsg_storage = "sq"
                plan.nsg_sq_bits = {"4": 4, "6": 6, "8": 8, "fp16": 16}[
                    qm.group(1)
                ]
                i += 1
    elif re.match(r"^ZnLattice(\d+)x(\d+)_(\d+)$", tok):
        lm = re.match(r"^ZnLattice(\d+)x(\d+)_(\d+)$", tok)
        plan.index_type = "lattice"
        plan.lat_nsq = int(lm.group(1))
        plan.lat_r2 = int(lm.group(2))
        plan.lat_scale_nbit = int(lm.group(3))
        i += 1
    else:
        raise ValueError(f"unsupported factory token {tok!r} in {description!r}")
    if i < len(tokens):
        rm = re.match(r"^Refine\((.+)\)$", tokens[i])
        if tokens[i] == "RFlat":
            plan.refine_flat = True
            i += 1
        elif rm:
            # Refine(<sub>) (reference index_factory.cpp:664-677);
            # Refine(Flat) IS IndexRefineFlat (:678-689 maps both).
            # Validate the sub-description NOW — the paren-aware
            # tokenizer keeps "Refine(PCA8,SQ8)" as one token, so a bad
            # codec must still fail at parse time, not first fit
            if rm.group(1) == "Flat":
                plan.refine_flat = True
            else:
                sub = index_factory(rm.group(1), metric=metric)
                _validate_refine_sub(sub, rm.group(1))
                plan.refine_desc = rm.group(1)
            i += 1
    if i != len(tokens):
        raise ValueError(f"trailing tokens {tokens[i:]} in {description!r}")
    return plan


def _aq_spec_str(prefix: str, plan: IndexPlan, default_m: int | None) -> str:
    """Render an AQ token: per-level groups back to '<k>x<b>' spec form
    when one was parsed, '<prefix><M>' otherwise; norm suffix appended."""
    suf = ""
    if plan.aq_search_type is not None:
        suf = {v: k for k, v in _AQ_NORM_SUFFIXES.items()}[plan.aq_search_type]
    if plan.aq_nbits is None:
        return f"{prefix}{default_m}{suf}"
    groups: list[list[int]] = []
    for b in plan.aq_nbits:
        if groups and groups[-1][1] == b:
            groups[-1][0] += 1
        else:
            groups.append([1, b])
    return prefix + "_".join(f"{k}x{b}" for k, b in groups) + suf


def reverse_index_factory(plan: IndexPlan) -> str:
    """IndexPlan → factory string (reference contrib/factory_tools.py:76)."""
    parts = []
    for kind, arg in plan.sql_transforms:
        parts.append("L2norm" if kind == "l2norm" else f"Pad{arg}")
    for t in plan.transforms:
        if isinstance(t, PCAMatrix):
            prefix = "PCAW" if t.eigen_power else ("PCAR" if t.random_rotation else "PCA")
            parts.append(f"{prefix}{t.d_out}")
        elif isinstance(t, OPQMatrix):
            parts.append(f"OPQ{t.M}")
        elif isinstance(t, RandomRotation):
            parts.append("RR")
        elif isinstance(t, ITQTransform):
            parts.append("ITQ")
    def ivf_tok() -> str:
        if plan.coarse in ("rcq", "lsq"):
            return (
                f"IVF{plan.nlist}({plan.coarse.upper()}"
                f"{plan.coarse_m}x{plan.coarse_nbits})"
            )
        suffix = (
            f"_{plan.coarse_graph.upper()}{plan.coarse_graph_r}"
            if plan.coarse_graph
            else ""
        )
        return f"IVF{plan.nlist}{suffix}"

    if plan.index_type == "flat":
        parts.append("Flat")
    elif plan.index_type == "ivfflat":
        if plan.coarse == "imi":
            parts.append(f"IMI2x{plan.coarse_nbits}")
        elif plan.coarse is not None:
            parts.append(ivf_tok())
        elif plan.nested is not None:
            def _codec_str(c: tuple) -> str:
                if c[0] == "flat":
                    return "Flat"
                if c[0] == "sq":
                    return {4: "SQ4", 6: "SQ6", 8: "SQ8", 16: "SQfp16"}[c[1]]
                if c[0] == "pq":
                    return f"PQ{c[1]}" + (f"x{c[2]}" if c[2] != 8 else "")
                return "LSH" + ("r" if c[1] else "") + ("t" if c[2] else "")

            if plan.nested[0] == "composite":
                spec = plan.nested[1]
                segs = []
                if spec["inner_k"]:
                    segs.append(f"IVF{spec['inner_k']}")
                segs.append(_codec_str(spec["codec"]))
                if spec["refine"] == ("flat",):
                    segs.append("RFlat")
                elif spec["refine"]:
                    segs.append(f"Refine({_codec_str(spec['refine'])})")
                sub = ",".join(segs)
            elif plan.nested[0] == "ivf":
                sub = f"IVF{plan.nested[1]},Flat"
            else:
                sub = _codec_str(plan.nested)
            parts.append(f"IVF{plan.nlist}({sub})")
        else:
            parts.append(ivf_tok())
        parts.append("FlatDedup" if plan.flat_dedup else "Flat")
    elif plan.index_type == "ivfpq":
        parts.append(ivf_tok())
        if plan.fastscan:
            parts.append(
                f"PQ{plan.pq_m}x4fs" + ("r" if plan.fs_residual else "")
                + (f"_{plan.bbs}" if plan.bbs != 32 else "")
            )
        else:
            parts.append(
                f"PQ{plan.pq_m}"
                + (f"x{plan.pq_nbits}" if plan.pq_nbits != 8 else "")
                + ("" if plan.pq_polysemous else "np")
            )
    elif plan.index_type == "ivfpqr":
        parts.append(ivf_tok())
        parts.append(f"PQ{plan.pq_m}+{plan.pqr_m2}")
    elif plan.index_type == "imipq":
        parts.append(f"IMI2x{plan.coarse_nbits}")
        parts.append(f"PQ{plan.pq_m}" + ("" if plan.pq_polysemous else "np"))
    elif plan.index_type == "ivfsq":
        parts.append(ivf_tok())
        parts.append({4: "SQ4", 6: "SQ6", 8: "SQ8", 16: "SQfp16"}[plan.sq_bits])
    elif plan.index_type == "ivfrq":
        parts.append(ivf_tok())
        parts.append(_aq_spec_str("RQ", plan, plan.rq_m))
    elif plan.index_type == "ivflsq":
        parts.append(ivf_tok())
        parts.append(_aq_spec_str("LSQ", plan, plan.lsq_m))
    elif plan.index_type == "ivfsh":
        parts.append(ivf_tok())
        parts.append(
            plan.sh_transform.upper()
            + (str(plan.sh_nbit) if plan.sh_nbit is not None else "")
        )
        parts.append(
            "SH"
            + (f"{plan.sh_period:g}" if plan.sh_period != -1e10 else "")
            + {"global": "g", "centroid": "c", "median": "m"}[
                plan.sh_threshold
            ]
        )
    elif plan.index_type == "ivfrqfs":
        parts.append(ivf_tok())
        parts.append(
            f"RQ{plan.rq_m}x4fs" + ("r" if plan.fs_residual else "")
            + (f"_{plan.bbs}" if plan.bbs != 32 else "")
        )
    elif plan.index_type == "ivfpaqfs":
        parts.append(ivf_tok())
        parts.append(
            ("PLSQ" if plan.paq_lsq else "PRQ")
            + f"{plan.paq_nsplits}x{plan.paq_msub}x4fs"
            + ("r" if plan.fs_residual else "")
            + (f"_{plan.bbs}" if plan.bbs != 32 else "")
        )
    elif plan.index_type == "pq":
        if plan.fastscan:
            parts.append(
                f"PQ{plan.pq_m}x4fs" + (f"_{plan.bbs}" if plan.bbs != 32 else "")
            )
        else:
            parts.append(
                f"PQ{plan.pq_m}"
                + (f"x{plan.pq_nbits}" if plan.pq_nbits != 8 else "")
                + ("" if plan.pq_polysemous else "np")
            )
    elif plan.index_type == "sq":
        parts.append({4: "SQ4", 6: "SQ6", 8: "SQ8", 16: "SQfp16"}[plan.sq_bits])
    elif plan.index_type == "rq":
        parts.append(_aq_spec_str("RQ", plan, plan.rq_m))
    elif plan.index_type == "lsq":
        parts.append(_aq_spec_str("LSQ", plan, plan.lsq_m))
    elif plan.index_type == "rcq":
        parts.append(_aq_spec_str("RCQ", plan, None))
    elif plan.index_type == "rqfs":
        parts.append(
            f"RQ{plan.rq_m}x4fs" + (f"_{plan.bbs}" if plan.bbs != 32 else "")
        )
    elif plan.index_type == "paqfs":
        parts.append(
            ("PLSQ" if plan.paq_lsq else "PRQ")
            + f"{plan.paq_nsplits}x{plan.paq_msub}x4fs"
            + (f"_{plan.bbs}" if plan.bbs != 32 else "")
        )
    elif plan.index_type == "nsg":
        parts.append(f"NSG{plan.nsg_r}")
        if plan.nsg_storage == "sq":
            parts.append(
                {4: "SQ4", 6: "SQ6", 8: "SQ8", 16: "SQfp16"}[plan.nsg_sq_bits]
            )
        elif plan.nsg_storage == "pq":
            parts.append(
                f"PQ{plan.nsg_pq_m}" + ("np" if plan.nsg_pq_np else "")
            )
    elif plan.index_type == "paq":
        name = "PLSQ" if plan.paq_lsq else "PRQ"
        parts.append(
            f"{name}{plan.paq_nsplits}x{plan.paq_msub}x{plan.paq_nbits}"
        )
    elif plan.index_type == "lsh":
        parts.append(
            "LSH"
            + ("r" if plan.lsh_rotate else "")
            + ("t" if plan.lsh_thresholds else "")
        )
    elif plan.index_type == "lattice":
        parts.append(
            f"ZnLattice{plan.lat_nsq}x{plan.lat_r2}_{plan.lat_scale_nbit}"
        )
    if plan.refine_flat:
        parts.append("RFlat")
    elif plan.refine_desc:
        parts.append(f"Refine({plan.refine_desc})")
    return ",".join(parts)


def get_code_size(d: int, plan: IndexPlan) -> int:
    """Bytes per encoded vector for a parsed plan (reference
    contrib/factory_tools.py:10-46 get_code_size). Flat forms store raw
    float32; SQ packs d values at sq_bits each; PQ/RQ store one byte per
    sub-quantizer (8-bit codes). Transforms that change dimensionality
    (PCA/OPQ/Pad) apply first."""
    for t in plan.transforms:
        if isinstance(t, PCAMatrix):
            d = t.d_out
    for kind, arg in plan.sql_transforms:
        if kind == "pad":
            d = max(d, arg)
    if plan.index_type in ("flat", "ivfflat"):
        return d * 4
    if plan.index_type in ("pq", "ivfpq"):
        return plan.pq_m
    if plan.index_type in ("rq", "ivfrq"):
        return plan.rq_m
    if plan.index_type in ("lsq", "ivflsq"):
        return plan.lsq_m
    if plan.index_type in ("sq", "ivfsq"):
        return (d * plan.sq_bits + 7) // 8
    if plan.index_type == "paq":
        # one byte per additive level per split (8-bit levels; reference
        # AdditiveQuantizer code_size for nbits ≤ 8)
        return plan.paq_nsplits * plan.paq_msub
    if plan.index_type in ("paqfs", "ivfpaqfs"):
        # 4-bit levels (packed pairs in the reference layout) plus the
        # 2×4-bit norm code (ST_norm_rq2x4)
        return (plan.paq_nsplits * plan.paq_msub * 4 + 7) // 8 + 1
    if plan.index_type == "lsh":
        # nbits = d sign bits (reference IndexLSH ctor: (nbits+7)/8)
        return (d + 7) // 8
    if plan.index_type == "nsg":
        if plan.nsg_storage == "pq":
            return plan.nsg_pq_m
        if plan.nsg_storage == "sq":
            if plan.nsg_sq_bits == 16:
                return 2 * d
            return (d * plan.nsg_sq_bits + 7) // 8
        return d * 4
    if plan.index_type == "lattice":
        from faiss_spark.operators.lattice import ZnSphereCodec

        nv = ZnSphereCodec(d // plan.lat_nsq, plan.lat_r2).nv
        lattice_nbit = max(1, (int(nv) - 1).bit_length())
        total = (lattice_nbit + plan.lat_scale_nbit) * plan.lat_nsq
        return (total + 7) // 8
    raise ValueError(f"unknown index_type {plan.index_type!r}")


# ----------------------------------------------------------- binary factory


@dataclass
class BinaryIndexPlan:
    """Parsed binary factory string (reference index_binary_factory,
    faiss/index_factory.cpp:895-915: BFlat | BIVF<nlist> | BHash<b>).
    Operates on binarized code tables (id, code array<bigint>) — produce
    them with operators/binary.binarize or binarize_rotated."""

    kind: str  # "bflat" | "bivf" | "bhash" | "bmultihash"
    nlist: int | None = None
    hash_b: int | None = None
    nhash: int | None = None
    # BIVF<n>_HNSW<m> (reference index_factory.cpp:895-915): graph-routed
    # coarse assignment over the binary centroids
    coarse_graph_r: int | None = None

    index: object | None = None
    _codes = None

    def fit(
        self, codes: DataFrame, nbits: int, id_col: str = "id",
        code_col: str = "code", seed: int = 1234,
    ) -> "BinaryIndexPlan":
        from faiss_spark.operators.binary import BinaryHashIndex, BinaryIVFIndex

        if self.kind == "bflat":
            self._codes = codes.select(
                F.col(id_col).cast("bigint").alias("id"),
                F.col(code_col).alias("code"),
            )
        elif self.kind == "bivf":
            self.index = BinaryIVFIndex.train(
                codes, nlist=self.nlist, nbits=nbits, code_col=code_col, seed=seed
            ).add(codes, id_col=id_col, code_col=code_col)
            if self.coarse_graph_r is not None:
                # the same batch-graph routing float IVF<n>_HNSW<m> uses
                self.index.build_coarse_graph(R=self.coarse_graph_r)
        elif self.kind == "bmultihash":
            from faiss_spark.operators.binary import BinaryMultiHashIndex

            self.index = BinaryMultiHashIndex(self.nhash, self.hash_b).add(
                codes, id_col=id_col, code_col=code_col
            )
        else:
            self.index = BinaryHashIndex(self.hash_b).add(
                codes, id_col=id_col, code_col=code_col
            )
        return self

    def search(
        self, qcodes: DataFrame, k: int, nprobe: int = 1, radius: int = 1,
        qid_col: str = "qid", qcode_col: str = "qcode",
    ) -> DataFrame:
        from faiss_spark.operators.binary import hamming_knn

        if self.kind == "bflat":
            return hamming_knn(
                self._codes, qcodes.select(
                    F.col(qid_col).cast("bigint").alias("qid"),
                    F.col(qcode_col).alias("qcode"),
                ), k,
            )
        if self.kind == "bivf":
            return self.index.search(
                qcodes, k, nprobe=nprobe, qid_col=qid_col, qcode_col=qcode_col
            )
        return self.index.search(
            qcodes, k, radius=radius, qid_col=qid_col, qcode_col=qcode_col
        )

    def save(self, path: str) -> "BinaryIndexPlan":
        from faiss_spark.plans.plan_io import save_binary_plan

        return save_binary_plan(self, path)

    @staticmethod
    def load(spark, path: str) -> "BinaryIndexPlan":
        from faiss_spark.plans.plan_io import load_binary_plan

        return load_binary_plan(spark, path)


def _binary_plan_with_desc(plan: "BinaryIndexPlan", desc: str) -> "BinaryIndexPlan":
    plan._description = desc  # persisted by plan_io.save_binary_plan
    return plan


def index_binary_factory(description: str) -> BinaryIndexPlan:
    """Binary factory strings (reference faiss/index_factory.cpp:895)."""
    desc = description.strip()
    if desc == "BFlat":
        return _binary_plan_with_desc(BinaryIndexPlan(kind="bflat"), desc)
    m = re.match(r"^BIVF(\d+)(?:_(?:B)?HNSW(\d+)?)?$", desc)
    if m:
        # BIVF<n>[_HNSW<m>] (reference index_factory.cpp:895-915: the
        # binary factory accepts an HNSW-assigned coarse quantizer; the
        # batch twin routes probes through a beam-walk graph over the
        # float-cast centroid bits — 0/1-L2 == Hamming exactly).
        # '_BHNSW<m>' is accepted as the same routing: the reference's
        # sscanf quirkily parses 'BIVF1024_BHNSW32' (its own test
        # corpus spelling) as a PLAIN BIVF1024 because the unanchored
        # '%d' match ignores the tail — honoring the intent (a graph
        # coarse) beats replicating the accident.
        return _binary_plan_with_desc(BinaryIndexPlan(
            kind="bivf",
            nlist=int(m.group(1)),
            coarse_graph_r=(
                (int(m.group(2)) if m.group(2) else 32)
                if desc != f"BIVF{m.group(1)}"
                else None
            ),
        ), desc)
    m = re.match(r"^BHash(\d+)x(\d+)$", desc)
    if m:
        # IndexBinaryMultiHash (reference index_factory.cpp:911)
        return _binary_plan_with_desc(BinaryIndexPlan(
            kind="bmultihash", nhash=int(m.group(1)), hash_b=int(m.group(2))
        ), desc)
    m = re.match(r"^BHash(\d+)$", desc)
    if m:
        return _binary_plan_with_desc(
            BinaryIndexPlan(kind="bhash", hash_b=int(m.group(1))), desc
        )
    raise ValueError(f"unsupported binary factory string {description!r}")


def reverse_index_binary_factory(plan: BinaryIndexPlan) -> str:
    if plan.kind == "bflat":
        return "BFlat"
    if plan.kind == "bivf":
        return f"BIVF{plan.nlist}" + (
            f"_HNSW{plan.coarse_graph_r}" if plan.coarse_graph_r else ""
        )
    if plan.kind == "bmultihash":
        return f"BHash{plan.nhash}x{plan.hash_b}"
    return f"BHash{plan.hash_b}"
