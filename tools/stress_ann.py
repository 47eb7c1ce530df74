"""ANN scale probe past the coarse-cell clamp knee (r11, verdict item
1): the ivfpq codebook is now a STAGED executor-side artifact
(functions/vector._staged_books), so the corpus can grow past the
point where the r10 driver collect hit its 32k-row hard cap. This
probe synthesizes an N-vector planted-cluster corpus (the
clustered_embedding fixture — integer-derived from vec_id, so no file
dependence and no dedup-density caveat; 16 vectors per planted
cluster) and measures engine-side recall@5 of ivfpq and pq8 against
the same corpus's brute-force top-5.

At N=300,000 (150x the sf0.1 embeddings table): 68 coarse cells (the
32-cell clamp floor stops binding past N=65k) and a ~36k-row codebook
— PAST the r10 collect cap, which is the point: nothing codebook-
sized touches the driver anymore.

Usage: python tools/stress_ann.py [N] [methods]
Writes one JSON line to stdout.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from etly_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"  # stage-identity dep anchor only
QC_WHERE = "vec_id % 16 = 0 AND vec_id < 128"  # 8 queries, 8 clusters


def recall_at5(brute, approx) -> float:
    """Mean per-query recall@5 of ``approx`` against ``brute``, from the
    same recall rows ``sim_ann_methods`` emits."""
    from etly_spark.queries.similarity import TOP5, _recall_rows

    rows = _recall_rows(approx, "probe", brute, TOP5)
    return round(float(rows.agg(F.avg("cos_sim")).first()[0]), 4)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    methods = (sys.argv[2].split(",") if len(sys.argv) > 2
               else ["ivfpq", "pq8"])
    spark = get_spark("stress-ann")

    from etly_spark.queries.similarity import (
        _ivfpq_cells,
        _normed,
        _pq_k,
        _query_pdf,
        clustered_embedding,
        sim_ivfpq,
        sim_pq,
        sim_topk_bruteforce,
    )

    corpus = _normed(
        spark.range(n).select(
            F.col("id").alias("vec_id"), clustered_embedding().alias("embedding")
        )
    ).persist()
    corpus.count()

    t0 = time.monotonic()
    q_pdf = _query_pdf(corpus, QC_WHERE)
    brute = sim_topk_bruteforce(spark, SF_DIR, corpus, q_pdf).persist()
    brute.count()
    out = {
        "n": n,
        "cells": _ivfpq_cells(n),
        "pq_k": _pq_k(n),
        "brute_s": round(time.monotonic() - t0, 2),
        "clusters": n // 16,
    }

    if "ivfpq" in methods:
        t0 = time.monotonic()
        ivfpq = sim_ivfpq(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}",
        )
        out["recall_ivfpq"] = recall_at5(brute, ivfpq)
        out["ivfpq_s"] = round(time.monotonic() - t0, 2)
        # the staged codebook's actual size (read back file-side — it
        # was never on the driver)
        from etly_spark.io.staging import _root

        import glob
        import os

        cb_rows = 0
        for d in glob.glob(os.path.join(_root(), "*")):
            parts = glob.glob(os.path.join(d, "*.parquet"))
            if parts:
                cnt = spark.read.parquet(d).count()
                cols = set(spark.read.parquet(d).columns)
                if cols == {"cell", "cb_id", "ce"} and cnt > cb_rows:
                    cb_rows = cnt
        out["codebook_rows"] = cb_rows

    if "ivfpq_probe" in methods:
        # the production IVFPQ query shape (r12): probe nprobe cells,
        # decode+score ONLY their codes. First invocation pays the
        # one-time index build (codebook + codes stage); the second
        # hits the stages — its wall is the steady-state probe cost to
        # hold against the full-reconstruction scan (ivfpq_s).
        from etly_spark.queries.similarity import sim_ivfpq_probe

        t0 = time.monotonic()
        p1 = sim_ivfpq_probe(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}",
        )
        out["recall_ivfpq_probe"] = recall_at5(brute, p1)
        out["ivfpq_probe_build_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        sim_ivfpq_probe(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}",
        ).count()
        out["ivfpq_probe_s"] = round(time.monotonic() - t0, 2)
        # staged codes-table footprint (r13 packed-payload A/B anchor):
        # the cell-partitioned stage is the only one with cell= subdirs
        import glob as _glob
        import os as _os

        from etly_spark.io.staging import _root as _stg_root

        for d in _glob.glob(_os.path.join(_stg_root(), "*")):
            if _glob.glob(_os.path.join(d, "cell=*")):
                out["codes_stage_bytes"] = sum(
                    _os.path.getsize(_os.path.join(dp, f))
                    for dp, _dd, ff in _os.walk(d)
                    for f in ff
                )

    if "ivfpq_adc" in methods:
        # TRUE ADC (r12): score candidates from their codes via
        # per-(query, cell) lookup tables — no reconstruction. Same
        # staged index as ivfpq_probe (stages shared), so the steady
        # wall isolates the scoring-path difference.
        from etly_spark.queries.similarity import sim_ivfpq_adc

        t0 = time.monotonic()
        a1 = sim_ivfpq_adc(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}",
        )
        out["recall_ivfpq_adc"] = recall_at5(brute, a1)
        out["ivfpq_adc_first_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        sim_ivfpq_adc(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}",
        ).count()
        out["ivfpq_adc_s"] = round(time.monotonic() - t0, 2)

    if "ivfpq_rerank" in methods:
        # ADC + exact refine (r13, the FAISS IndexRefineFlat shape):
        # same staged index, top-R ADC candidates re-scored against
        # their raw vectors. The lift over raw ADC is the fraction of
        # true neighbors ADC SURFACES in its top-R but MISRANKS out of
        # its top-5 — the quantization-error recovery the refine buys.
        from etly_spark.queries.similarity import sim_ivfpq_rerank

        t0 = time.monotonic()
        r1 = sim_ivfpq_rerank(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}",
        )
        out["recall_ivfpq_rerank"] = recall_at5(brute, r1)
        out["ivfpq_rerank_first_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        sim_ivfpq_rerank(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}",
        ).count()
        out["ivfpq_rerank_s"] = round(time.monotonic() - t0, 2)

    if "rerank_ladder" in methods:
        # design ladder: where is the (nprobe, refine_k) knee? Probe
        # cost scales with nprobe (candidates scanned), refine cost
        # with refine_k (exact dots) — both corpus-size-independent.
        from etly_spark.queries.similarity import sim_ivfpq_rerank

        ladder = {}
        for np_ in (2, 4, 8):
            for rk in (8, 32, 128):
                t0 = time.monotonic()
                r = recall_at5(
                    brute,
                    sim_ivfpq_rerank(
                        spark, SF_DIR, corpus, qwhere=QC_WHERE,
                        corpus_tag=f"clustered-{n}", nprobe=np_,
                        refine_k=rk,
                    ),
                )
                ladder[f"np{np_}_r{rk}"] = {
                    "recall": r, "s": round(time.monotonic() - t0, 2)
                }
        out["rerank_ladder"] = ladder

    if "filtered" in methods:
        # filtered-search ladder (r14 — verdict item 1): recall vs
        # predicate selectivity (1% / 10% / 50%). Per selectivity:
        # the pushed-predicate probe with scaled width vs the filtered
        # exact baseline, PLUS the naive post-filter baseline (filter
        # the UNFILTERED top-5 by the predicate) whose recall collapse
        # is the whole reason filtered search exists.
        from etly_spark.queries.similarity import (
            _mb_col,
            sim_ivfpq_filtered,
            sim_ivfpq_rerank,
            sim_topk_brute_filtered,
        )

        q_pdf_f = q_pdf
        unfiltered = sim_ivfpq_rerank(
            spark, SF_DIR, corpus, qwhere=QC_WHERE,
            corpus_tag=f"clustered-{n}", q_pdf=q_pdf_f,
        ).persist()
        unfiltered.count()
        ladder = {}
        for sel in (1, 10, 50):
            bf = sim_topk_brute_filtered(
                spark, SF_DIR, corpus, q_pdf_f, mb_lt=sel
            ).persist()
            bf.count()
            t0 = time.monotonic()
            fil = sim_ivfpq_filtered(
                spark, SF_DIR, corpus, qwhere=QC_WHERE,
                corpus_tag=f"clustered-{n}", q_pdf=q_pdf_f, mb_lt=sel,
            )
            rec = recall_at5(bf, fil)
            wall = round(time.monotonic() - t0, 2)
            # naive post-filter: unfiltered top-5 restricted by the
            # predicate (_mb_col over the NEIGHBOR id), scored against
            # the same filtered-exact base
            post = unfiltered.where(
                ((((F.col("neighbor_id") % F.lit(2147483648)) * F.lit(48271))
                  % F.lit(4294967296)) % F.lit(100)) < F.lit(sel)
            )
            ladder[f"sel{sel}"] = {
                "recall": rec,
                "postfilter_recall": recall_at5(bf, post),
                "s": wall,
            }
            bf.unpersist()
        unfiltered.unpersist()
        out["filtered_ladder"] = ladder

    if "radius" in methods:
        # radius-search density accounting (r14 — verdict item 6):
        # result density per query, recall vs the exact threshold
        # brute, and walls, at the gated tau and a tighter one (the
        # density knob a dedup-by-threshold user actually turns).
        from etly_spark.queries.similarity import (
            sim_brute_radius,
            sim_ivfpq_radius,
        )

        rad = {}
        for tau, margin, np_ in (
            (0.7, 0.15, 4),   # loose tau: corpus-wide diffuse neighbors
            (0.9, 0.15, 4),
            (0.9, 0.15, 16),  # recall ~ probed coverage for diffuse sets
            (0.97, 0.1, 4),   # tight tau: cluster-local (the dedup regime)
        ):
            t0 = time.monotonic()
            ex = sim_brute_radius(spark, SF_DIR, corpus, q_pdf, tau=tau).persist()
            n_true = ex.count()
            brute_s = round(time.monotonic() - t0, 2)
            t0 = time.monotonic()
            ap = sim_ivfpq_radius(
                spark, SF_DIR, corpus, qwhere=QC_WHERE,
                corpus_tag=f"clustered-{n}", q_pdf=q_pdf, nprobe=np_,
                tau=tau, adc_thr=tau - margin,
            ).persist()
            n_found = ap.count()
            probe_s = round(time.monotonic() - t0, 2)
            b = ex.select("query_id", "neighbor_id")
            a = ap.select(
                F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n")
            )
            hits = b.join(
                a, (b.query_id == a._q) & (b.neighbor_id == a._n), "left"
            ).where(F.col("_n").isNotNull()).count()
            rad[f"tau{tau}_np{np_}"] = {
                "true_neighbors": n_true,
                "found": n_found,
                "recall": round(hits / n_true, 4) if n_true else None,
                "per_query_density": round(n_true / 8.0, 1),
                "brute_s": brute_s,
                "probe_s": probe_s,
            }
            ex.unpersist()
            ap.unpersist()
        out["radius"] = rad

    if "pq8" in methods:
        t0 = time.monotonic()
        pq8 = sim_pq(spark, SF_DIR, corpus, qwhere=QC_WHERE)
        out["recall_pq8"] = recall_at5(brute, pq8)
        out["pq8_s"] = round(time.monotonic() - t0, 2)

    if "opq" in methods:
        # OPQ permutation ladder (r14 — verdict item 3): plain PQ vs
        # variance-balanced (snake-permuted) PQ on the ANISOTROPIC
        # planted-cluster corpus (decaying spectrum — the regime OPQ
        # exists for). Run at 1x/10x/20x: past the 4096 codeword cap
        # the codebook dilutes and the allocation choice is the recall
        # lever the verdict predicted.
        from etly_spark.queries.similarity import (
            aniso_embedding,
            sim_opq,
        )

        acorpus = _normed(
            spark.range(n).select(
                F.col("id").alias("vec_id"),
                aniso_embedding().alias("embedding"),
            )
        ).persist()
        acorpus.count()
        # 32 queries (vs the gate's 8): recall@5 granularity 1/160 —
        # the plain-vs-grouped deltas are a few pairs at 8 queries
        qopq = "vec_id % 16 = 0 AND vec_id < 512"
        qa = _query_pdf(acorpus, qopq)
        brute_a = sim_topk_bruteforce(spark, SF_DIR, acorpus, qa).persist()
        brute_a.count()
        t0 = time.monotonic()
        pq_a = sim_pq(
            spark, SF_DIR, acorpus, qwhere=qopq, corpus_tag=f"aniso-{n}"
        )
        out["recall_pq8_aniso"] = recall_at5(brute_a, pq_a)
        out["pq8_aniso_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        oq_a = sim_opq(
            spark, SF_DIR, acorpus, qwhere=qopq, corpus_tag=f"aniso-{n}"
        )
        out["recall_opq_aniso"] = recall_at5(brute_a, oq_a)
        out["opq_aniso_s"] = round(time.monotonic() - t0, 2)
        brute_a.unpersist()
        acorpus.unpersist()

    if "nprobe" in methods:
        # recall-vs-NPROBE ladder: is the gated default (4) the right
        # knee on clustered data? Probe cost scales linearly with
        # nprobe (candidates = nprobe * N / cells per query), so the
        # ladder prices each recall point.
        from etly_spark.functions import vector as V2
        from etly_spark.queries.similarity import (
            select_centroids,
            sim_ivf_ann,
        )

        asn = V2.assign_nearest(
            corpus.select("vec_id", "embedding", "nrm"), select_centroids(corpus)
        ).persist()
        asn.count()
        ladder = {}
        for np_ in (1, 2, 4, 8, 16):
            t0 = time.monotonic()
            r = recall_at5(
                brute,
                sim_ivf_ann(spark, SF_DIR, assign=asn, qwhere=QC_WHERE, nprobe=np_),
            )
            ladder[np_] = {"recall": r, "s": round(time.monotonic() - t0, 2)}
        out["nprobe_ladder"] = ladder
        asn.unpersist()

    if "ivf_inc" in methods:
        # index MAINTENANCE at scale (r11): the claim is O(shard) per
        # arrival vs O(corpus) per rebuild. Measure the LAST shard's
        # fold wall against a full one-shot rebuild of the same final
        # index, then probe the folded index and check recall@5.
        import os
        import tempfile

        from etly_spark.functions import vector as V
        from etly_spark.queries.similarity import (
            _probe_ivf_index,
            centroid_plan,
            fold_ivf_epoch,
            select_centroids,
        )

        epochs = 8
        root = tempfile.mkdtemp(prefix="ivfinc_stress_")
        shard0 = corpus.where(F.col("vec_id") % epochs == 0)
        centroid_plan(shard0).write.parquet(os.path.join(root, "quantizer"))
        cent_pdf = select_centroids(shard0)
        fold_walls = []
        for e in range(epochs):
            t0 = time.monotonic()
            fold_ivf_epoch(
                corpus.where(F.col("vec_id") % epochs == e),
                cent_pdf,
                os.path.join(root, "postings"),
                e,
            )
            fold_walls.append(round(time.monotonic() - t0, 2))
        t0 = time.monotonic()
        V.assign_nearest(
            corpus.select("vec_id", "embedding", "nrm"), cent_pdf
        ).write.mode("overwrite").parquet(os.path.join(root, "rebuild"))
        rebuild_s = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        inc = _probe_ivf_index(spark, root, qwhere=QC_WHERE)
        out["recall_ivf_inc"] = recall_at5(brute, inc)
        out["ivf_inc_probe_s"] = round(time.monotonic() - t0, 2)
        out["fold_last_shard_s"] = fold_walls[-1]
        out["fold_walls"] = fold_walls
        out["rebuild_s"] = rebuild_s

    if "ivf_split" in methods:
        # the growable quantizer at scale (r12): freeze 32 cells on
        # shard 0 (the gated maintenance loop's shape), measure the
        # probed fraction + recall, SPLIT the hot cells, re-measure.
        # The claim: cells ~ sqrt(cell_n) per hot parent, probed
        # fraction drops ~sqrt-fold, recall holds, fold stays O(shard).
        import os
        import tempfile

        from etly_spark.functions import vector as V
        from etly_spark.queries.similarity import (
            _read_postings,
            _probe_ivf_index,
            _splits_state,
            centroid_plan,
            fold_ivf_epoch,
            select_centroids,
            split_hot_cells,
        )

        epochs = 8
        root = tempfile.mkdtemp(prefix="ivfsplit_stress_")
        shard0 = corpus.where(F.col("vec_id") % epochs == 0)
        centroid_plan(shard0).write.parquet(os.path.join(root, "quantizer"))
        cent_pdf = select_centroids(shard0)
        for e in range(epochs):
            fold_ivf_epoch(
                corpus.where(F.col("vec_id") % epochs == e),
                cent_pdf,
                os.path.join(root, "postings"),
                e,
            )

        def probed_fraction() -> float:
            # rows the probe's candidate join touches / total postings,
            # for the 8 stress queries (parent expansion included)
            posts = _read_postings(spark, os.path.join(root, "postings"))
            parents, _ = _splits_state(os.path.join(root, "quantizer_splits"))
            if parents:
                posts = posts.where(
                    ~(F.col("parent").isNull() & F.col("cent_id").isin(parents))
                )
            total = posts.count()
            qs = corpus.where(F.expr(QC_WHERE)).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                F.col("nrm").alias("qn"),
            ).toPandas()
            pairs = V.probe_cells(qs, V._staged_pdf(os.path.join(root, "quantizer")), 4)
            touched = 0
            if parents:
                pset = set(parents)
                splits_pdf = V._read_parquet_dir(os.path.join(root, "quantizer_splits"))
                gsz = {
                    (r["parent"], r["cent_id"]): 0 for _, r in splits_pdf.iterrows()
                }
                sizes = {
                    (r["p"], r["c"]): r["n"]
                    for r in posts.groupBy(
                        F.coalesce(F.col("parent"), F.lit(-1)).alias("p"),
                        F.col("cent_id").alias("c"),
                    ).agg(F.count(F.lit(1)).alias("n")).collect()
                }
                for p in sorted({c for _q, c in pairs if c in pset}):
                    sub = splits_pdf[splits_pdf["parent"] == p]
                    qids = [qid for qid, c in pairs if c == p]
                    qsub = qs[qs["query_id"].isin(qids)]
                    for qid, s_ in V.probe_cells(qsub, sub, 4):
                        touched += sizes.get((p, s_), 0)
                touched += sum(
                    sizes.get((-1, c), 0) for qid, c in pairs if c not in pset
                )
            else:
                sizes = {
                    r["cent_id"]: r["n"]
                    for r in posts.groupBy("cent_id")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                touched = sum(sizes.get(c, 0) for _q, c in pairs)
            return round(touched / (total * 8.0), 5)

        out["split_frac_before"] = probed_fraction()
        t0 = time.monotonic()
        pre = _probe_ivf_index(spark, root, qwhere=QC_WHERE)
        out["recall_ivf_frozen"] = recall_at5(brute, pre)
        out["ivf_frozen_probe_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        st = split_hot_cells(spark, root)
        out["split_s"] = round(time.monotonic() - t0, 2)
        out["split_cells"] = len(st["split"])
        out["split_sub_cells"] = st["sub_cells"]
        out["split_frac_after"] = probed_fraction()
        t0 = time.monotonic()
        post_ = _probe_ivf_index(spark, root, qwhere=QC_WHERE)
        out["recall_ivf_split"] = recall_at5(brute, post_)
        out["ivf_split_probe_s"] = round(time.monotonic() - t0, 2)
        # fold one more shard THROUGH the splits — O(shard) claim
        t0 = time.monotonic()
        extra = corpus.where(F.col("vec_id") % 997 == 13)
        fold_ivf_epoch(
            extra, cent_pdf, os.path.join(root, "postings"), 99,
            splits_dir=os.path.join(root, "quantizer_splits"),
        )
        out["fold_after_split_s"] = round(time.monotonic() - t0, 2)

    if "ivfpq_inc" in methods:
        # maintenance with the CODES payload (r13 — verdict item 1,
        # the LSM shape): freeze the quantizer on shard 0 (nlist sized
        # for the anticipated index), fold every epoch RAW — O(shard)
        # write-buffer appends — then ONE offline encode rung selects
        # the per-cell books from the full folded pool and quantizes
        # the buffer into a codes segment. Claims measured: flat fold
        # walls, codes-sized steady postings (vs the raw buffer), and
        # recall PARITY with the static ivfpq_probe path (the
        # fold-time-encode design froze books on shard 0 and measured
        # 0.575 vs 0.925 here).
        import os
        import tempfile

        from etly_spark.functions import vector as V
        from etly_spark.queries.similarity import (
            _ivfpq_cells,
            _probe_ivfpq_index,
            centroid_plan,
            encode_ivfpq_postings,
            fold_ivfpq_epoch,
        )

        epochs = 8
        root = tempfile.mkdtemp(prefix="ivfpqinc_stress_")
        shard0 = corpus.where(F.col("vec_id") % epochs == 0)
        t0 = time.monotonic()
        nlist = _ivfpq_cells(shard0.count() * epochs)
        centroid_plan(shard0, k=nlist).write.parquet(os.path.join(root, "quantizer"))
        cent_pdf = V._staged_pdf(os.path.join(root, "quantizer"))
        out["ivfpq_inc_freeze_s"] = round(time.monotonic() - t0, 2)
        fold_walls = []
        for e in range(epochs):
            t0 = time.monotonic()
            fold_ivfpq_epoch(
                corpus.where(F.col("vec_id") % epochs == e),
                cent_pdf,
                os.path.join(root, "postings"),
                e,
            )
            fold_walls.append(round(time.monotonic() - t0, 2))
        out["ivfpq_inc_fold_walls"] = fold_walls

        def _dirbytes(p: str) -> int:
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _dd, ff in os.walk(p)
                for f in ff
            )

        raw_bytes = _dirbytes(os.path.join(root, "postings"))
        t0 = time.monotonic()
        enc = encode_ivfpq_postings(spark, root)
        out["ivfpq_inc_encode_s"] = round(time.monotonic() - t0, 2)
        out["ivfpq_inc_book_rows"] = enc["book_rows_added"]
        out["ivfpq_inc_bytes_raw_vs_codes"] = [
            raw_bytes,
            _dirbytes(os.path.join(root, "postings")),
            _dirbytes(os.path.join(root, "codebooks")),
        ]
        q_pdf2 = _query_pdf(corpus, QC_WHERE)
        t0 = time.monotonic()
        inc = _probe_ivfpq_index(spark, root, q_pdf2)
        out["recall_ivfpq_inc"] = recall_at5(brute, inc)
        out["ivfpq_inc_probe_first_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        _probe_ivfpq_index(spark, root, q_pdf2).count()
        out["ivfpq_inc_probe_s"] = round(time.monotonic() - t0, 2)
        # one more RAW fold on top of the codes segment: the mixed
        # (memtable + segments) probe the steady operation serves
        t0 = time.monotonic()
        fold_ivfpq_epoch(
            corpus.where(F.col("vec_id") % 997 == 13),
            cent_pdf,
            os.path.join(root, "postings"),
            99,
        )
        out["ivfpq_inc_buffer_fold_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        out["recall_ivfpq_inc_mixed"] = recall_at5(
            brute, _probe_ivfpq_index(spark, root, q_pdf2)
        )
        out["ivfpq_inc_mixed_probe_s"] = round(time.monotonic() - t0, 2)

    if "ivf_split10x" in methods:
        # 10x growth PAST the first split (r13 — verdict item 2): the
        # r12 rung supported exactly one split level; this probe
        # freezes on a base-corpus shard, splits, keeps folding until
        # the corpus is 10x the base, splits AGAIN (hot SUB leaves
        # re-split into negative-id children), and checks the probed
        # fraction stays ~flat while folds stay O(shard).
        import os
        import tempfile

        from etly_spark.functions import vector as V
        from etly_spark.queries.similarity import (
            _expand_probes,
            _probe_ivf_index,
            _splits_state,
            centroid_plan,
            fold_ivf_epoch,
            select_centroids,
            split_hot_cells,
        )

        base_n = n // 10
        epochs = 8
        shard_rows = base_n // epochs
        root = tempfile.mkdtemp(prefix="ivfsplit10x_stress_")
        base = corpus.where(F.col("vec_id") < base_n)
        shard0 = base.where(F.col("vec_id") % epochs == 0)
        centroid_plan(shard0).write.parquet(os.path.join(root, "quantizer"))
        cent_pdf = V._staged_pdf(os.path.join(root, "quantizer"))
        splits_dir = os.path.join(root, "quantizer_splits")
        for e in range(epochs):
            fold_ivf_epoch(
                base.where(F.col("vec_id") % epochs == e),
                cent_pdf,
                os.path.join(root, "postings"),
                e,
                splits_dir=splits_dir,
            )

        def frac() -> float:
            # candidate rows the 8 stress queries touch / live postings
            # — recursion-aware: walk probes to live leaves, sum leaf
            # sizes by (immediate parent, leaf) key
            posts = spark.read.option("mergeSchema", "true").parquet(
                os.path.join(root, "postings")
            )
            if "parent" not in posts.columns:
                posts = posts.withColumn("parent", F.lit(None).cast("long"))
            parents, _ = _splits_state(splits_dir)
            if parents:
                posts = posts.where(~F.col("cent_id").isin(parents))
            total = posts.count()
            qs = corpus.where(F.expr(QC_WHERE)).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                F.col("nrm").alias("qn"),
            ).toPandas()
            pairs = V.probe_cells(qs, cent_pdf, 4)
            if parents:
                splits_pdf = V._read_parquet_dir(splits_dir)
                triples = _expand_probes(qs, pairs, splits_pdf, set(parents), 4)
            else:
                triples = [(q, -1, c) for q, c in pairs]
            sizes = {
                (r["p"], r["c"]): r["n"]
                for r in posts.groupBy(
                    F.coalesce(F.col("parent"), F.lit(-1)).alias("p"),
                    F.col("cent_id").alias("c"),
                ).agg(F.count(F.lit(1)).alias("n")).collect()
            }
            touched = sum(sizes.get((p, c), 0) for _q, p, c in triples)
            return round(touched / (total * 8.0), 5)

        out["s10x_frac_frozen"] = frac()
        st1 = split_hot_cells(spark, root)
        out["s10x_split1"] = [len(st1["split"]), st1["sub_cells"]]
        out["s10x_frac_split1"] = frac()
        # grow 10x: fold the remaining corpus in base-shard-sized epochs
        growth_walls = []
        e = epochs
        lo = base_n
        while lo < n:
            hi = min(n, lo + shard_rows)
            t0 = time.monotonic()
            fold_ivf_epoch(
                corpus.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
                cent_pdf,
                os.path.join(root, "postings"),
                e,
                splits_dir=splits_dir,
            )
            growth_walls.append(round(time.monotonic() - t0, 2))
            lo, e = hi, e + 1
        out["s10x_fold_wall_first_last"] = [growth_walls[0], growth_walls[-1]]
        out["s10x_frac_grown"] = frac()
        t0 = time.monotonic()
        st2 = split_hot_cells(spark, root)
        out["s10x_split2_s"] = round(time.monotonic() - t0, 2)
        neg = 0
        if st2["split"]:
            pdf = V._read_parquet_dir(splits_dir)
            neg = int(sum(1 for c in pdf["cent_id"] if int(c) < 0))
        out["s10x_split2"] = [len(st2["split"]), st2["sub_cells"], neg]
        out["s10x_frac_split2"] = frac()
        # one more shard THROUGH the two-level chain — O(shard) claim
        t0 = time.monotonic()
        fold_ivf_epoch(
            corpus.where(F.col("vec_id") % 997 == 13),
            cent_pdf,
            os.path.join(root, "postings"),
            999,
            splits_dir=splits_dir,
        )
        out["s10x_fold_after_split2_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        deep = _probe_ivf_index(spark, root, qwhere=QC_WHERE)
        out["s10x_recall_split2"] = recall_at5(brute, deep)
        out["s10x_probe_s"] = round(time.monotonic() - t0, 2)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
