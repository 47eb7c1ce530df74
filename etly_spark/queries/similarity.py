"""Similarity-search queries over the embeddings table (north-star
surface; absent in the reference).

Three plans, one semantics (cosine top-k):

- brute-force: broadcast the tiny query set, one scan of the corpus,
  per-query top-k. The O(Q·N) baseline — at 100 TB this is the *right*
  plan when Q is small: one pass, no index, no shuffle except the final
  tiny top-k aggregation.
- LSH: sign-bucket blocking → only same-bucket candidates scored.
- IVF: deterministic coarse centroids → assign every vector to its
  nearest cell (broadcast centroids) → probe only the query's cell.

Floats: dot products run on the vectorized numpy kernel
(functions.vector — einsum per-pair scoring, one BLAS matmul per Arrow
batch for brute-force). einsum's sequential per-row reduction keeps the
same association order as the DuckDB list_reduce twin, and rounding to
6 dp absorbs the matmul's pairwise-summation drift (hash parity
verified at sf0.01 by the correctness gate). L2 norms are precomputed
once per vector; ranking ties broken by vec_id.
"""

from __future__ import annotations

import functools
import os
import shutil
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etly_spark.functions import vector as V
from etly_spark.io.commit import publish_dir, replace_dir, write_file
from etly_spark.io.compact import (
    commit_segment,
    compact_partitions,
    dir_bytes,
    live_partitions,
    parquet_parts,
    read_live,
    supersede_partitions,
)
from etly_spark.io.staging import run_scratch_dir, stage_table
from etly_spark.io.tables import load_table
from etly_spark.queries.catalog import (
    query,
    release_cache,
    release_scope,
    scope_mark,
    scoped_persist,
)

# previous sim_ann_methods invocation's materialization scratch (deleted
# on the next invocation — catalog queries are sequential by contract,
# so the prior run's parquet is dead by then; bounds tmp growth to one
# invocation's ~35 tiny files)
_ANN_SCRATCH: str | None = None

def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x,y) -> x+y)"
    )


_SQL_NRM = f"sqrt({_sql_dot('embedding', 'embedding')})"


def _normed(e: DataFrame) -> DataFrame:
    return e.select("vec_id", "embedding", V.l2_norm_pd(F.col("embedding")).alias("nrm"))


def _cos_pair() -> F.Column:
    return V.dot_pd(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy("query_id", "rank")
    )


def _bf_sql(src: str = "embeddings", qwhere: str = "vec_id < 8") -> str:
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM {src}
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), scored AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 's.embedding')} / (q.qn * s.nrm) AS cos_sim
  FROM q JOIN s ON s.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _query_pdf(s: DataFrame, qwhere: str = "vec_id < 8"):
    """The tiny query set collected once for the closure-broadcast
    scorers — shared by the brute-force and hardneg branches so the
    predicate lives in ONE place and sim_ann_methods pays a single
    collect job."""
    return (
        s.filter(F.expr(qwhere))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
        )
        .toPandas()
    )


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str, s: DataFrame | None = None, q_pdf=None) -> DataFrame:
    if s is None:
        s = scoped_persist(_normed(load_table(spark, sf_dir, "embeddings")), eager=False)
    # the tiny query side rides into the scorer closure — the explicit
    # form of a broadcast join; the corpus is scanned exactly once and
    # each Arrow batch is scored with one BLAS matmul (functions.vector)
    if q_pdf is None:
        q_pdf = _query_pdf(s)
    scored = V.matmul_scores(s, q_pdf).filter(F.col("neighbor_id") != F.col("query_id"))
    return _topk(scored, 5)


_SIGN_BUCKET_SQL = """
         (CASE WHEN embedding[1] > 0 THEN 32 ELSE 0 END
        + CASE WHEN embedding[2] > 0 THEN 16 ELSE 0 END
        + CASE WHEN embedding[3] > 0 THEN 8 ELSE 0 END
        + CASE WHEN embedding[4] > 0 THEN 4 ELSE 0 END
        + CASE WHEN embedding[5] > 0 THEN 2 ELSE 0 END
        + CASE WHEN embedding[6] > 0 THEN 1 ELSE 0 END)
"""

def _lsh_sql(src: str = "embeddings", qwhere: str = "vec_id < 32") -> str:
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket, {_SQL_NRM} AS nrm
  FROM {src}
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, bucket, nrm AS qn FROM s WHERE {qwhere}
), probes AS (
  -- multi-probe (r8): own bucket + every Hamming-distance-1 bucket
  -- (one sign-bit flip). Cells partition the corpus, so the 7 probe
  -- candidate sets are disjoint -- no dedup step needed.
  SELECT query_id, qe, qn, xor(bucket, f.flip) AS pbucket
  FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS flip) f
), scored AS (
  SELECT p.query_id, s.vec_id AS neighbor_id,
         {_sql_dot('p.qe', 's.embedding')} / (p.qn * s.nrm) AS cos_sim
  FROM probes p JOIN s ON s.bucket = p.pbucket AND s.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _sign_bucket() -> F.Column:
    return sum(
        F.when(F.element_at("embedding", i + 1) > 0, F.lit(1 << (5 - i))).otherwise(F.lit(0))
        for i in range(6)
    )


def sim_lsh_ann(
    spark: SparkSession,
    sf_dir: str,
    base: DataFrame | None = None,
    qwhere: str = "vec_id < 32",
) -> DataFrame:
    if base is None:
        base = _normed(load_table(spark, sf_dir, "embeddings"))
    s = base.withColumn("bucket", _sign_bucket())
    # multi-probe (r8): each query probes its own sign cell plus the 6
    # cells at Hamming distance 1 (one hyperplane flip) — the standard
    # multi-probe LSH recall fix (measured: recall@5 0.03 -> see
    # STRESS.md). Cells partition the corpus so the 7 probe candidate
    # sets are disjoint (no dedup), and the probe fan-out is a 7x row
    # multiply of the TINY broadcast query side only — the corpus is
    # still scanned once and joined on its single bucket key.
    q = s.filter(F.expr(qwhere)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(fl)) for fl in (0, 1, 2, 4, 8, 16, 32)])
        ).alias("qbucket"),
        F.col("nrm").alias("qn"),
    )
    scored = F.broadcast(q).join(
        s, (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id"))
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), _cos_pair().alias("cos_sim"))
    # top-5 like ivf/sq8/brute: the recall_lsh row divides hits by 5, so
    # a k=3 method would be structurally capped at 0.6 recall@5
    return _topk(scored, 5)


# IVF coarse-centroid count: FIXED, corpus-independent. Centroids are
# the K vectors with the smallest Knuth multiplicative hash of vec_id
# (((vec_id mod 2^31) * 2654435761) mod 2^32 — odd multiplier, so
# injective on the reduced domain; ties broken by vec_id). The mod-2^31
# pre-reduction keeps the product < 2^63 so the arithmetic is
# overflow-free IN BOTH ENGINES at any vec_id (Spark non-ANSI would
# silently wrap a raw vec_id*multiplier past ~3.5e9 while DuckDB raises
# — cross-engine parity would break exactly at extreme corpus sizes).
# A deterministic uniform sample selected by top-k (TakeOrdered in
# Spark — one scan, no full sort), so the driver collects exactly K
# rows at any N. The previous rule (vec_id % 61 = 0) collected N/61
# rows — a driver-side collect growing linearly with the corpus.
K_CENTROIDS = 32
_CENT_HASH_SQL = "((vec_id % 2147483648) * 2654435761) % 4294967296"

def _ivf_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    cent_where: str = "TRUE",
    del_where: str = "FALSE",
) -> str:
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM {src}
), cent AS (
  SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM s
  WHERE {cent_where}
  ORDER BY {_CENT_HASH_SQL}, vec_id LIMIT {K_CENTROIDS}
), assign0 AS (
  -- zero-norm guard: matches assign_nearest's -2.0 pin (r10)
  SELECT s.vec_id, s.embedding, s.nrm, c.cent_id,
         row_number() OVER (PARTITION BY s.vec_id
             ORDER BY CASE WHEN s.nrm * c.cn = 0 THEN -2.0
                  ELSE {_sql_dot('s.embedding', 'c.ce')} / (s.nrm * c.cn) END DESC,
                      c.cent_id) AS rn
  FROM s CROSS JOIN cent c
), assign AS (
  -- deletions (r11 ivf_inc): a tombstoned vector leaves the candidate
  -- set but the postings partition that holds it is never rewritten
  SELECT vec_id, embedding, nrm, cent_id FROM assign0
  WHERE rn = 1 AND NOT ({del_where})
), q AS (
  -- multi-probe (r8): each query probes its NPROBE=4 nearest coarse
  -- cells, not just its own assignment cell. The index stays top-1
  -- (cells partition the corpus -> probe sets disjoint, no dedup).
  -- Deleted vectors are not queries either (r11): mirrors the Spark
  -- probe, whose query set reads the post-anti-join postings.
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cent_id
  FROM assign0 WHERE ({qwhere}) AND rn <= 4 AND NOT ({del_where})
), scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 'a.embedding')} / (q.qn * a.nrm) AS cos_sim
  FROM q JOIN assign a ON a.cent_id = q.cent_id AND a.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def centroid_plan(s: DataFrame, k: int = K_CENTROIDS) -> DataFrame:
    """The IVF coarse-centroid selection as a DataFrame: top-k of the
    Knuth multiplicative hash of vec_id (mod-2^31 pre-reduction keeps
    the product overflow-free on both engines — see _CENT_HASH_SQL).
    `.limit(k)` compiles to TakeOrderedAndProject: one corpus scan with
    a per-partition top-k, never a full sort. Factored out of
    ``select_centroids`` so plan tests assert on the PRODUCTION plan."""
    return (
        s.select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("ce"),
            F.col("nrm").alias("cn"),
            (((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761))
             % F.lit(4294967296)).alias("__h"),
        )
        .orderBy("__h", "cent_id")
        .limit(k)
        .drop("__h")
    )


def select_centroids(s: DataFrame, k: int = K_CENTROIDS):
    """Collect the coarse-centroid set: exactly ``k`` rows (pandas) at
    any corpus size — O(k) driver memory."""
    return centroid_plan(s, k).toPandas()


def _build_ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index: every vector assigned to its nearest coarse
    centroid — centroid matrix to the driver (exactly K_CENTROIDS rows
    at any corpus size — hash-sample top-k, O(k) driver memory), one
    BLAS matmul per Arrow batch of the corpus. The previous crossJoin +
    per-pair scoring UDF moved N·C array pairs through Arrow —
    quadratic transfer, 10.9 s vs 0.4 s at the 10× corpus."""
    s = _normed(load_table(spark, sf_dir, "embeddings"))
    return V.assign_nearest(s.select("vec_id", "embedding", "nrm"), select_centroids(s))


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged IVF index (vec_id, embedding, nrm, cent_id) — like the
    dedup signature stage, the artifact a production pipeline keeps:
    built once per process, probed by every query afterwards."""
    mark = scope_mark()
    df = stage_table(
        spark,
        f"ivf_assignments::{os.path.abspath(sf_dir)}",
        lambda: _build_ivf_assignments(spark, sf_dir),
        deps=[os.path.join(sf_dir, "embeddings.parquet")],
    )
    release_scope(mark)
    return df


def ivf_assignments_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged IVF index over the planted-cluster fixture — same
    contract as ivf_assignments (built once per process, probed by
    every recall_c run; two probe consumers would otherwise re-run the
    assign matmul in-DAG twice per invocation)."""
    mark = scope_mark()
    df = stage_table(
        spark,
        f"ivf_assignments_clustered::{os.path.abspath(sf_dir)}",
        lambda: _build_clustered_assignments(spark, sf_dir),
        deps=[os.path.join(sf_dir, "embeddings.parquet")],
    )
    release_scope(mark)
    return df


def _build_clustered_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = _normed(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", clustered_embedding().alias("embedding")
        )
    )
    return V.assign_nearest(cb.select("vec_id", "embedding", "nrm"), select_centroids(cb))


NPROBE_IVF = 4


def sim_ivf_ann(
    spark: SparkSession,
    sf_dir: str,
    q_pdf=None,
    assign: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    nprobe: int = NPROBE_IVF,
) -> DataFrame:
    # probe the staged index. Multi-probe (r8): each query visits its
    # `nprobe` (default NPROBE_IVF=4 — the oracle's rn <= 4; callers
    # that override are sweep probes, not gated rows) nearest coarse
    # cells, not just its own assignment cell
    # — the standard FAISS recall lever (measured: recall@5 0.15-0.2 ->
    # see STRESS.md). Probe selection is bounded driver numpy over the
    # tiny query set x K_CENTROIDS (both corpus-size-independent); the
    # index itself stays top-1, so the probed candidate sets are
    # disjoint and the probe list is a Q*NPROBE-row broadcast join key
    # — the corpus side is still one scan of the staged index.
    if assign is None:
        assign = ivf_assignments(spark, sf_dir)
    q = assign.filter(F.expr(qwhere)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    if q_pdf is None:
        q_pdf = q.toPandas()
    cent_pdf = select_centroids(assign.select("vec_id", "embedding", "nrm"))
    pairs = V.probe_cells(q_pdf, cent_pdf, nprobe)
    probes = spark.createDataFrame(pairs, "query_id long, qcent long")
    scored = (
        F.broadcast(probes)
        .join(F.broadcast(q), "query_id")
        .join(assign, (F.col("cent_id") == F.col("qcent")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _cos_pair().alias("cos_sim"))
    )
    return _topk(scored, 5)


# Incremental IVF (r11): index MAINTENANCE, not just index build. A
# production corpus grows shard by shard; rebuilding the ANN index per
# arrival is O(N) per shard (O(N^2/batch) cumulative). The FAISS
# deployment answer is freeze-then-append: train/select the coarse
# quantizer ONCE on the first arrival, then fold every later shard in
# by assigning ONLY its vectors against the frozen centroids and
# appending them as that epoch's own postings partition — the exact
# contract of the staged minhash band index and the streaming line
# index (never read or rewrite an earlier epoch). The checked
# invariant: the incrementally-folded index answers queries
# IDENTICALLY to a batch build over the union under the same frozen
# quantizer — the oracle computes that batch form, so hash equality
# proves the append-only maintenance loses nothing.
_IVFINC_EPOCHS = 4

# the checked row's deterministic deletion batch (arrives AFTER the
# postings epochs): residue chosen so the tombstoned set provably
# intersects the no-delete top-k at sf0.001 AND sf0.01 — the gate
# exercises deletion, it doesn't just tolerate it. vec_id >= 8 keeps
# the query set alive.
_IVFINC_DEL = "vec_id >= 8 AND vec_id % 89 = 13"

_IVFINC_SQL = _ivf_sql(
    cent_where=f"vec_id % {_IVFINC_EPOCHS} = 0", del_where=_IVFINC_DEL
)


def _ivf_split_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    cent_where: str = "TRUE",
    del_where: str = "FALSE",
    nprobe: int = 4,
) -> str:
    """Batch twin of the hot-cell-SPLIT index (r12): the two-level
    quantizer the log-structured split implies — gen-0 assignment
    under the frozen quantizer, cells above cap = ceil(N/nlist) grow
    k_c = clamp(floor(sqrt(cell_n)), 2, 1024) hash-selected
    sub-centroids, their rows re-assign within the cell; a probed
    split parent expands to the query's ``nprobe`` nearest sub-cells.
    Counts/sub-centroid selection run BEFORE the deletion filter
    (split_hot_cells operates on raw postings; tombstones are a side
    table), deletions drop candidates and queries at probe time."""
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM {src}
), cent AS (
  SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM s
  WHERE {cent_where}
  ORDER BY {_CENT_HASH_SQL}, vec_id LIMIT {K_CENTROIDS}
), assign0 AS (
  SELECT s.vec_id, s.embedding, s.nrm, c.cent_id,
         row_number() OVER (PARTITION BY s.vec_id
             ORDER BY CASE WHEN s.nrm * c.cn = 0 THEN -2.0
                  ELSE {_sql_dot('s.embedding', 'c.ce')} / (s.nrm * c.cn) END DESC,
                      c.cent_id) AS rn
  FROM s CROSS JOIN cent c
), assign AS MATERIALIZED (
  SELECT vec_id, embedding, nrm, cent_id FROM assign0 WHERE rn = 1
), hot AS MATERIALIZED (
  SELECT cent_id AS cell, COUNT(*) AS cn_ FROM assign GROUP BY cent_id
  HAVING COUNT(*) > (
    SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE)
                / (SELECT COUNT(*) FROM cent)) AS BIGINT) FROM assign)
), subc AS MATERIALIZED (
  -- own-id exclusion (r13): the cell's own centroid row never becomes
  -- a sub-centroid — leaf ids stay globally unique, so a recursively
  -- split index can key liveness on the cell id alone (a leaf named
  -- like its split parent would be born dead). cn_ stays the FULL
  -- cell count (from hot), matching the engine's sizes[c].
  SELECT cell, vec_id AS sub_id, embedding AS se, nrm AS sn FROM (
    SELECT h.cell, a.vec_id, a.embedding, a.nrm, h.cn_,
           row_number() OVER (PARTITION BY h.cell
               ORDER BY {_CENT_HASH_SQL}, a.vec_id) AS srn
    FROM assign a JOIN hot h ON h.cell = a.cent_id AND a.vec_id <> h.cell)
  WHERE srn <= LEAST(1024, GREATEST(2,
      CAST(FLOOR(sqrt(CAST(cn_ AS DOUBLE))) AS BIGINT)))
), assign2 AS MATERIALIZED (
  SELECT vec_id, embedding, nrm, cell AS parent, sub_id AS cent_id FROM (
    SELECT a.vec_id, a.embedding, a.nrm, sc.cell, sc.sub_id,
           row_number() OVER (PARTITION BY a.vec_id
               ORDER BY CASE WHEN a.nrm * sc.sn = 0 THEN -2.0
                    ELSE {_sql_dot('a.embedding', 'sc.se')} / (a.nrm * sc.sn) END DESC,
                        sc.sub_id) AS rn2
    FROM assign a JOIN subc sc ON sc.cell = a.cent_id)
  WHERE rn2 = 1
), finala AS (
  SELECT vec_id, embedding, nrm, -1 AS parent, cent_id FROM assign
  WHERE cent_id NOT IN (SELECT cell FROM hot) AND NOT ({del_where})
  UNION ALL
  SELECT vec_id, embedding, nrm, parent, cent_id FROM assign2
  WHERE NOT ({del_where})
), qp0 AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cent_id AS pcell
  FROM assign0 WHERE ({qwhere}) AND rn <= {nprobe} AND NOT ({del_where})
), probes AS (
  SELECT query_id, qe, qn, -1 AS pparent, pcell FROM qp0
  WHERE pcell NOT IN (SELECT cell FROM hot)
  UNION ALL
  SELECT query_id, qe, qn, pcell AS pparent, sub_id AS pcell FROM (
    SELECT q.query_id, q.qe, q.qn, q.pcell, sc.sub_id,
           row_number() OVER (PARTITION BY q.query_id, q.pcell
               ORDER BY CASE WHEN q.qn * sc.sn = 0 THEN -2.0
                    ELSE {_sql_dot('q.qe', 'sc.se')} / (q.qn * sc.sn) END DESC,
                        sc.sub_id) AS srn2
    FROM qp0 q JOIN subc sc ON sc.cell = q.pcell)
  WHERE srn2 <= {nprobe}
), scored AS (
  SELECT p.query_id, f.vec_id AS neighbor_id,
         {_sql_dot('p.qe', 'f.embedding')} / (p.qn * f.nrm) AS cos_sim
  FROM probes p JOIN finala f
    ON f.parent = p.pparent AND f.cent_id = p.pcell AND f.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


_IVFSPLIT_SQL = _ivf_split_sql(
    cent_where=f"vec_id % {_IVFINC_EPOCHS} = 0", del_where=_IVFINC_DEL
)


def fold_ivf_epoch(
    shard: DataFrame,
    cent_pdf,
    postings_dir: str,
    epoch: int,
    splits_dir: str | None = None,
) -> None:
    """Fold ONE arriving embedding shard into the postings index:
    assign the shard's vectors against the FROZEN quantizer (one
    broadcast-matmul Arrow pass over the shard only) and write them as
    this epoch's own partition — per-shard work is O(shard), and no
    earlier epoch is read or rewritten (append-only; pinned by
    tests/test_sim_inc.py against byte-level mtimes).

    ``splits_dir`` (r12; r13 made it RECURSIVE): when the index has
    HOT-CELL SPLITS (split_hot_cells), arrivals landing in a split
    node route one level further — nearest sub-centroid among that
    node's splits (assign_nearest_grouped, executor-side against the
    append-only splits table) — repeated down the split chain until
    the row rests in a live leaf; the epoch partition carries
    (cent_id=leaf, parent=immediate split node) for routed rows, NULL
    parent otherwise. Fold work stays O(shard * depth): each routing
    level is one Arrow pass over the shard's own rows, and depth grows
    ~log(growth) (sqrt-scaled sub-cell counts)."""
    asn = V.assign_nearest(shard.select("vec_id", "embedding", "nrm"), cent_pdf)
    asn = _route_through_splits(asn, splits_dir)
    replace_dir(
        os.path.join(postings_dir, f"epoch={epoch}"), lambda tmp: asn.write.parquet(tmp)
    )


def _splits_depth(splits_pdf) -> int:
    """Longest split chain in the append-only splits table: edges
    node-cell -> child-cell, counting only children that were
    THEMSELVES split. Bounded driver work over the (small) splits
    table; 1 when no sub-cell has re-split."""
    kids: dict[int, list] = {}
    for p, c in zip(splits_pdf["parent"], splits_pdf["cent_id"]):
        kids.setdefault(int(p), []).append(int(c))
    memo: dict[int, int] = {}

    def depth(node: int) -> int:
        if node not in kids:
            return 0
        if node not in memo:
            memo[node] = 0  # cycle guard (structurally impossible)
            memo[node] = 1 + max(depth(c) for c in kids[node])
        return memo[node]

    return max((depth(p) for p in kids), default=0)


def _route_through_splits(
    asn: DataFrame, splits_dir: str | None, carry: tuple = ()
) -> DataFrame:
    """Route coarse-assigned rows (vec_id, embedding, nrm, cent_id)
    through the committed split chain: one assign_nearest_grouped pass
    per chain level; rows already resting in a live leaf pass through
    unchanged (identity groups). Output adds ``parent`` (the immediate
    split node a routed row descends from; NULL for unrouted rows).
    ``carry`` columns ride through the passes untouched."""
    parents, token = _splits_state(splits_dir) if splits_dir else ([], "")
    if not parents:
        return asn.withColumn("parent", F.lit(None).cast("long"))
    depth = _splits_depth(V._read_parquet_dir(splits_dir))
    cur = asn.withColumn("parent", F.lit(None).cast("long"))
    for _ in range(depth):
        # group_col names the splits table's group column ("parent"),
        # so the row's current cell is renamed to it for the pass
        routed = V.assign_nearest_grouped(
            cur.withColumnRenamed("parent", "_pprev").withColumnRenamed(
                "cent_id", "parent"
            ),
            splits_dir,
            group_col="parent",
            out_col="_s",
            cache_token=token,
        )
        moved = F.col("_s") != F.col("parent")  # identity => live leaf already
        cur = routed.select(
            "vec_id",
            "embedding",
            "nrm",
            F.col("_s").alias("cent_id"),
            F.when(moved, F.col("parent")).otherwise(F.col("_pprev")).alias("parent"),
            *carry,
        )
    return cur


def _splits_state(splits_dir: str | None):
    """(sorted split-parent cent_ids, cache token) for an index's
    append-only ``quantizer_splits`` table — the token is the file
    listing, so executor-side caches refresh exactly when a new split
    commits. ([], "") when no splits exist."""
    import glob as _glob

    if not splits_dir or not os.path.isdir(splits_dir):
        return [], ""
    files = sorted(_glob.glob(os.path.join(splits_dir, "*.parquet")))
    if not files:
        return [], ""
    pdf = V._read_parquet_dir(splits_dir)
    return sorted({int(p) for p in pdf["parent"]}), "|".join(
        os.path.basename(f) for f in files
    )


def fold_ivf_tombstones(deleted: DataFrame, tombstones_dir: str, epoch: int) -> None:
    """Fold a DELETION batch into the index: write the doomed vec_ids
    as this epoch's own tombstone partition — the postings partitions
    holding those vectors are never rewritten (FAISS's remove_ids
    rewrites the posting lists in place; at 100 TB the log-structured
    answer is a tombstone side-table anti-joined at probe time, folded
    away at the next compaction)."""
    replace_dir(
        os.path.join(tombstones_dir, f"epoch={epoch}"),
        lambda tmp: deleted.select("vec_id").write.parquet(tmp),
    )


# The measured split/refreeze TRIGGER (r12, OPERATORS.md): uniform
# leaf load is 1/nlist, so a leaf holding more than SPLIT_TRIGGER_X
# cells' worth of postings has degraded probe cost on it by that
# factor — time to run split_hot_cells. r13 (verdict item 5) surfaces
# the metric in the LIVE loop instead of only in the offline stress
# tool: every streamed fold updates a per-epoch counts sidecar
# (record_fold_drift — O(batch) + O(leaves)), and the offline rungs
# (compact) recompute it from the index itself.
SPLIT_TRIGGER_X = 4.0
_DRIFT_SIDECAR = "drift_stats.json"


def _leaf_counts_pyarrow(index_dir: str, epoch=None) -> dict:
    """Per-live-leaf postings counts of the live postings (or of one
    ``epoch``) by reading ONLY the leaf-id column of each parquet part
    (pyarrow — no SparkSession, so the offline compaction rung can
    emit drift stats too). Handles both payloads (cent_id = embedding
    index, cell = codes index) and mixed schema generations."""
    import collections

    import pyarrow.parquet as pq

    post = os.path.join(index_dir, "postings")
    dirs = live_partitions(post, "epoch") if epoch is None else [f"epoch={epoch}"]
    counts: collections.Counter = collections.Counter()
    for d in dirs:
        for fn in parquet_parts(os.path.join(post, d)):
            fp = os.path.join(post, d, fn)
            key = "cent_id" if "cent_id" in pq.read_schema(fp).names else "cell"
            counts.update(pq.read_table(fp, columns=[key])[key].to_pylist())
    split_cells = set(_splits_state(os.path.join(index_dir, "quantizer_splits"))[0])
    return {c: n for c, n in counts.items() if c not in split_cells}


def ivf_drift_stats(index_dir: str, counts: dict | None = None) -> dict:
    """Leaf-load drift metric for an incremental index: max live-leaf
    share of the postings vs the uniform 1/nlist, and whether the
    documented split trigger (share > SPLIT_TRIGGER_X / nlist) has
    fired. ``counts`` lets a caller that already holds per-leaf counts
    (the fold sidecar) skip the scan."""
    import pyarrow.parquet as _pq  # noqa: F401 — parquet presence check

    if counts is None:
        counts = _leaf_counts_pyarrow(index_dir)
    qdir = os.path.join(index_dir, "quantizer")
    nlist = 0
    if os.path.isdir(qdir):
        import glob as _glob

        import pyarrow.parquet as pq

        nlist = sum(
            pq.read_metadata(f).num_rows
            for f in _glob.glob(os.path.join(qdir, "*.parquet"))
        )
    total = sum(counts.values())
    max_cell, max_n = (None, 0)
    for c, n in counts.items():
        if n > max_n:
            max_cell, max_n = c, n
    max_share = (max_n / total) if total else 0.0
    trigger = (SPLIT_TRIGGER_X / nlist) if nlist else float("inf")
    return {
        "nlist": nlist,
        "total": total,
        "live_leaves": len(counts),
        "max_cell": max_cell,
        "max_share": round(max_share, 6),
        "trigger_share": round(trigger, 6) if nlist else None,
        "fired": bool(nlist and max_share > trigger),
    }


def record_fold_drift(index_dir: str, epoch) -> dict:
    """Post-fold drift accounting for the LIVE maintenance loop (r13 —
    verdict item 5): add the just-folded epoch's per-leaf counts to the
    index's ``drift_stats.json`` sidecar and return the cumulative
    stats, stamping a one-shot ``alert`` the first time the split
    trigger fires — an operator running the stream learns WHEN to
    schedule split_hot_cells without ever scanning the index. Cost per
    fold: one leaf-id-column read of the new epoch partition plus an
    O(leaves) sidecar rewrite. Replayed epochs overwrite their own
    entry (exactly-once counts). The sidecar resets on topology change
    (split/purge delete it); the first fold after that pays one full
    recount via ivf_drift_stats."""
    import json as _json

    sc_path = os.path.join(index_dir, _DRIFT_SIDECAR)
    state = {"epochs": {}, "alert": None}
    if os.path.isfile(sc_path):
        try:
            with open(sc_path) as f:
                state = _json.load(f)
        except (OSError, ValueError):
            state = {"epochs": {}, "alert": None}
    else:
        # sidecar lost or first fold: one full recount baselines the
        # counts BEFORE this epoch is added (keyed "_base")
        base = _leaf_counts_pyarrow(index_dir)
        ep_now = _leaf_counts_pyarrow(index_dir, epoch)
        for c, n in ep_now.items():
            if c in base:
                base[c] -= n
                if base[c] <= 0:
                    del base[c]
        state["epochs"]["_base"] = {str(c): n for c, n in base.items()}
    ep_counts = _leaf_counts_pyarrow(index_dir, epoch)
    state["epochs"][str(epoch)] = {str(c): n for c, n in ep_counts.items()}
    cum: dict[int, int] = {}
    for _eid, cc in state["epochs"].items():
        for c, n in cc.items():
            cum[int(c)] = cum.get(int(c), 0) + n
    stats = ivf_drift_stats(index_dir, counts=cum)
    if stats["fired"] and not state.get("alert"):
        state["alert"] = {
            "epoch": str(epoch),
            "cell": stats["max_cell"],
            "share": stats["max_share"],
        }

    def write(tmp: str) -> None:
        with open(tmp, "w") as f:
            _json.dump(state, f)

    write_file(sc_path, write)
    stats["alert"] = state.get("alert")
    return stats


def compact_ivf_postings(index_dir: str, threshold: int = 64) -> None:
    """Fold loose per-epoch postings/tombstone partitions into
    never-rewritten compacted segments once their count exceeds
    ``threshold`` (io/compact.py — the signature-index tiering).
    Contract: run with NO active writer, exactly like
    compact_signature_index. Tombstoned rows are NOT purged here
    (purging needs the tombstone set to be final; the anti-join stays
    correct either way) — that is ``purge_ivf_tombstones``, a separate
    offline rung.

    Returns the index's drift stats (r13 — ivf_drift_stats: the
    compaction rung already walks the postings, so the operator gets
    the split-trigger metric for free from every maintenance pass)."""
    compact_partitions(os.path.join(index_dir, "postings"), "epoch", threshold)
    compact_partitions(os.path.join(index_dir, "tombstones"), "epoch", threshold)
    return ivf_drift_stats(index_dir)


def purge_ivf_tombstones(spark: SparkSession, index_dir: str) -> dict:
    """Offline tombstone PURGE (r12 — verdict item 3): rewrite the live
    postings (postings anti-join tombstones, the exact probe-side
    filter) as ONE new compacted segment, then drop every superseded
    postings partition and the whole tombstone side-table. Without this
    rung a long-lived churny index scans ever-growing dead postings and
    broadcasts an unboundedly growing tombstone set at every probe;
    after it, bytes-scanned shrinks by the dead fraction and the
    broadcast set resets to empty.

    Contract: a DRAINED stream (no active writer), like
    compact_ivf_postings — the tombstone set must be final, because
    purged ids are forgotten. The new segment covers every live
    postings partition (io/compact.supersede_partitions); a crash
    after it but before the tombstone removal is benign: re-applying
    final tombstones to already-purged postings anti-joins nothing.

    Returns {"live_rows", "purged_rows", "bytes_before", "bytes_after"}.
    """
    post = os.path.join(index_dir, "postings")
    tomb = os.path.join(index_dir, "tombstones")
    bytes_before = dir_bytes(post, tomb)
    # split-aware (r12) and PAYLOAD-AGNOSTIC (r13): the mergeSchema
    # read preserves the split segments' parent column (a plain read
    # would sample a gen-0 file's schema and silently drop it,
    # detaching every split row from its probe key) without forcing a
    # payload schema — the same purge serves the embedding-payload
    # index (ivf_inc: cent_id) and the codes-payload index (ivfpq_inc:
    # cell, 2m-byte binary codes); gen-0 rows a split superseded are
    # dead weight the purge compacts away along with the tombstoned.
    live = read_live(spark, post, "epoch", merge_schema=True)
    n_before = live.count()
    split_parents, _tok = _splits_state(os.path.join(index_dir, "quantizer_splits"))
    if split_parents:
        key = "cent_id" if "cent_id" in live.columns else "cell"
        if "parent" not in live.columns:
            live = live.withColumn("parent", F.lit(None).cast("long"))
        live = live.where(
            ~(F.col("parent").isNull() & F.col(key).isin(split_parents))
        )
    if live_partitions(tomb, "epoch"):
        live = live.join(
            F.broadcast(read_live(spark, tomb, "epoch").select("vec_id")),
            "vec_id",
            "left_anti",
        )
    # one distributed write, cluster parallelism preserved (an EMPTY
    # live set still writes a schema-carrying part file — SPARK-23271);
    # the segment's dir names its epoch, so the partition-discovered
    # column stays out of its files
    live = live.drop("epoch")
    supersede_partitions(post, "epoch", lambda tmp, _n: live.write.parquet(tmp))
    if os.path.isdir(tomb):
        shutil.rmtree(tomb, ignore_errors=True)
    try:  # purged rows invalidate the drift sidecar's counts
        os.remove(os.path.join(index_dir, _DRIFT_SIDECAR))
    except FileNotFoundError:
        pass
    n_after = read_live(spark, post, "epoch").count()
    return {
        "live_rows": n_after,
        "purged_rows": n_before - n_after,
        "bytes_before": bytes_before,
        "bytes_after": dir_bytes(post),
    }


# Postings columns across generations: gen-0 epochs carry 4 columns;
# split segments and post-split folds add ``parent`` (the split gen-0
# cell a sub-cell row descends from). Read with mergeSchema — NOT a
# forced explicit schema: the embedding element type follows the
# corpus (float32 for the parquet tables, float64 for json-fed
# streams), and forcing array<double> silently UPCASTS float32
# postings so a purge rewrite doubles the embedding bytes on disk
# (caught by test_purge_ivf_tombstones' bytes assertion).
def _read_postings(spark: SparkSession, post: str) -> DataFrame:
    df = read_live(spark, post, "epoch", merge_schema=True)
    if "parent" not in df.columns:
        df = df.withColumn("parent", F.lit(None).cast("long"))
    return df.select("vec_id", "embedding", "nrm", "cent_id", "parent")


def split_hot_cells(spark: SparkSession, index_dir: str, cap: int | None = None) -> dict:
    """GROWABLE quantizer for the incremental ANN indexes (r12 —
    verdict item 2, the log-structured answer; r13 made it RECURSIVE
    and payload-aware): the maintenance loop freezes its coarse
    quantizer on shard 0, so cells grow unboundedly with the corpus
    and probe cost is nprobe/nlist of the whole index. Instead of
    re-freezing (which would invalidate every folded epoch), SPLIT the
    hot leaves:

    - a LIVE LEAF (a gen-0 cell, or any sub-cell from an earlier
      split) whose postings exceed ``cap`` (default ceil(live_rows /
      live_leaves) — above-average load) gains k_c = clamp(floor(sqrt(
      leaf_n)), 2, 1024) SUB-CENTROIDS, hash-selected within the leaf
      (the centroid_plan rule restricted to the leaf's rows);
    - leaf ids are GLOBALLY UNIQUE so liveness keys on the cell id
      alone: a gen-0 split's children keep their member vec_ids (with
      the cell's OWN id excluded from candidacy — a child named like
      its split parent would be born dead), while deeper splits mint
      FRESH NEGATIVE ids (vec_ids are non-negative; a dead leaf id can
      therefore never be reborn, which name-based liveness requires);
    - the leaf's existing postings are re-assigned to its sub-cells by
      one bounded pass over THAT LEAF ONLY and written as a new
      never-rewritten segment (``epoch=_split-<batch>`` — underscore
      partitions are never concat-folded by compaction);
    - the sub-centroids append to ``quantizer_splits/<batch>.parquet``
      rows (parent=node cell, cent_id=child, ce, cn) — append-only;
      gen-0 quantizer untouched, every existing epoch stays valid;
    - commit order is segment THEN splits-entry: the segment is inert
      until the splits table names its node, so a crash in between
      leaves an inert segment an idempotent re-run reuses;
    - later arrivals route through the split CHAIN at fold time
      (fold_ivf_epoch / fold_ivfpq_epoch) — fold stays
      O(shard * chain depth).

    PAYLOAD-AWARE (r13): over the embedding index the leaf's vectors
    re-cluster directly; over the CODES index (ivfpq_inc) the rung
    re-clusters the DECODED reconstructions and the codes payload is
    never re-encoded — "routing splits, frozen encoding": a sub-cell
    inherits its gen-0 root's codebook (rows keep parent=root), so ADC
    scores are bit-unchanged by a split and only the candidate set a
    probe touches shrinks. Segment rows: embedding index
    (vec_id, embedding, nrm, cent_id=child, parent=immediate node);
    codes index (vec_id, cell=child, parent=gen-0 root, codes).

    Offline contract like compact/purge: run with NO active writer.
    Returns {"split": [...], "cap": cap, "sub_cells": total}."""
    import math

    post = os.path.join(index_dir, "postings")
    splits_dir = os.path.join(index_dir, "quantizer_splits")
    already = _splits_state(splits_dir)[0]
    posts = read_live(spark, post, "epoch", merge_schema=True)
    codes_mode = "codes" in posts.columns
    if codes_mode and "embedding" in posts.columns:
        raise ValueError(
            "split_hot_cells: mixed raw+codes postings — run "
            "encode_ivfpq_postings first (the offline rungs run in "
            "order: encode, then split/purge/compact)"
        )
    key = "cent_id"
    if "parent" not in posts.columns:
        posts = posts.withColumn("parent", F.lit(None).cast("long"))
    live = posts.where(~F.col(key).isin(already)) if already else posts
    sizes = {
        int(r[key]): int(r["n"])
        for r in live.groupBy(key).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    k = len(V._staged_pdf(os.path.join(index_dir, "quantizer")))
    n = sum(sizes.values())
    splits_pdf = V._read_parquet_dir(splits_dir) if already else None
    sub_ids = {int(c) for c in splits_pdf["cent_id"]} if already else set()
    # effective leaf count: gen-0 cells minus split ones, plus live subs
    n_split_gen0 = len(set(already) - sub_ids)
    k_eff = k - n_split_gen0 + len(sub_ids - set(already))
    if cap is None:
        cap = int(math.ceil(n / float(k_eff))) if k_eff else 0
    hot = sorted(c for c, cnt in sizes.items() if cnt > cap)
    if not hot:
        return {"split": [], "cap": cap, "sub_cells": 0, "gen0_cells": k}
    import glob as _glob
    import hashlib

    from etly_spark.operators.prefix import banded_row_number

    # one BATCH for all hot leaves (a per-leaf driver loop would be
    # nlist Spark jobs — wrong at 1000 hot cells). Deterministic batch
    # id: a crashed run recomputes the same hot set (its splits were
    # never activated) and resumes the same artifacts.
    batch = hashlib.sha1(",".join(map(str, hot)).encode()).hexdigest()[:12]
    hotrows = live.where(F.col(key).isin(hot))
    if codes_mode:
        # decode against the gen-0 root's book (root from the splits
        # chain map); leaf and codes ride through — the only vectors
        # this rung ever materializes
        cb_dir, token, _have, _nxt = _book_state(index_dir)
        roots = _leaf_root_map(splits_dir)
        if roots:
            rmap = F.create_map([F.lit(x) for kv in roots.items() for x in kv])
            root_col = F.coalesce(rmap[F.col("cent_id")], F.col("cent_id"))
        else:
            root_col = F.col("cent_id")
        hotvecs = V.ivfpq_decode(
            hotrows.select(
                "vec_id",
                root_col.alias("_root"),
                F.col("cent_id").alias("_leaf"),
                "codes",
            ),
            cb_dir,
            m=_PQ_M,
            cell_col="_root",
            keep=("_leaf", "codes"),
            cb_token=token,
        ).select(
            "vec_id",
            "embedding",
            V.l2_norm_pd(F.col("embedding")).alias("nrm"),
            F.col("_leaf").alias("cent_id"),
            "codes",
        )
    else:
        hotvecs = hotrows.select("vec_id", "embedding", "nrm", "cent_id")

    # child ids: gen-0 splits keep member vec_ids; deeper splits mint
    # fresh negative ids (descending from the smallest already minted)
    neg_base = 1 + max((-i for i in sub_ids if i < 0), default=0)
    hot_sub = [c for c in hot if c in sub_ids or c < 0]

    # 1. PENDING sub-centroid table, all hot leaves in one distributed
    # pass: per-leaf top-k_c by the Knuth hash via the banded rank (no
    # window on the low-NDV cell key), the node's own id excluded.
    # coalesce(1): activation below must be ONE atomic file rename — a
    # node whose sub-centroids were only partially visible would probe
    # an incomplete sub list.
    pend = os.path.join(index_dir, f"_splits_pending-{batch}")
    if not os.path.isdir(pend):
        kh = ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
            4294967296
        )
        ranked = banded_row_number(
            hotvecs.where(F.col("vec_id") != F.col("cent_id")).withColumn("_kh", kh),
            ["cent_id"],
            F.floor(F.col("_kh") / F.lit(2097152)),
            [F.col("_kh"), F.col("vec_id")],
            "_srn",
        )
        kc_rows = [
            (int(c), min(1024, max(2, int(math.floor(math.sqrt(float(sizes[c])))))))
            for c in hot
        ]
        kc_map = spark.createDataFrame(kc_rows, "_cell long, _kc long")
        picked = ranked.join(F.broadcast(kc_map), ranked.cent_id == kc_map._cell).where(
            F.col("_srn") <= F.col("_kc")
        )
        sub_df = picked.where(~F.col("cent_id").isin(hot_sub)).select(
            F.col("cent_id").alias("parent"),
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("ce"),
            F.col("nrm").alias("cn"),
        )
        if hot_sub:
            # deeper-level children: bounded driver pandas (sum k_c over
            # the hot subs, the splits-table size class) to mint the
            # deterministic negative ids in (node, rank) order
            import pandas as _pd

            sel = (
                picked.where(F.col("cent_id").isin(hot_sub))
                .select("cent_id", "_srn", "vec_id", "embedding", "nrm")
                .toPandas()
                .sort_values(["cent_id", "_srn"])
                .reset_index(drop=True)
            )
            neg = _pd.DataFrame(
                {
                    "parent": sel["cent_id"].astype("int64"),
                    "cent_id": [-(neg_base + i) for i in range(len(sel))],
                    "ce": sel["embedding"],
                    "cn": sel["nrm"].astype("float64"),
                }
            )
            sub_df = sub_df.unionByName(spark.createDataFrame(neg, sub_df.schema))
        publish_dir(pend, lambda tmp: sub_df.coalesce(1).write.parquet(tmp))

    # 2. reassignment SEGMENT: one grouped-assign of the hot leaves'
    # rows against the pending table (executor-side, cached per batch)
    seg = os.path.join(post, f"epoch=_split-{batch}")
    if not os.path.isdir(seg):
        routed = V.assign_nearest_grouped(
            hotvecs.withColumnRenamed("cent_id", "parent"),
            pend,
            group_col="parent",
            out_col="sub",
            cache_token=batch,
        )
        if codes_mode:
            # codes keep their gen-0 root's encoding ("routing splits,
            # frozen encoding"); roots are re-derived from the splits
            # chain at probe/encode time, so no parent column is stored
            out = routed.select(
                "vec_id", F.col("sub").alias("cent_id"), "codes"
            )
        else:
            out = routed.select(
                "vec_id", "embedding", "nrm", F.col("sub").alias("cent_id"), "parent"
            )
        publish_dir(seg, lambda tmp: out.write.parquet(tmp))

    # 3. ACTIVATE: commit the single pending parquet as
    # quantizer_splits/<batch>.parquet; before it the segment is inert
    # (liveness keys on the split-node cells the table names), after it
    # the superseded leaf rows stop matching.
    entry = os.path.join(splits_dir, f"{batch}.parquet")
    if not os.path.exists(entry):
        parts = sorted(_glob.glob(os.path.join(pend, "*.parquet")))
        if len(parts) != 1:
            raise RuntimeError(f"expected 1 pending splits part, got {parts}")
        write_file(entry, lambda tmp: os.link(parts[0], tmp))
    shutil.rmtree(pend, ignore_errors=True)
    # topology changed: the fold-time drift sidecar's counts refer to
    # leaves that no longer exist — drop it; the next fold re-baselines
    try:
        os.remove(os.path.join(index_dir, _DRIFT_SIDECAR))
    except FileNotFoundError:
        pass
    total_sub = len(V._read_parquet_dir(splits_dir))
    return {"split": hot, "cap": cap, "sub_cells": total_sub, "gen0_cells": k}


def ivf_inc_index(spark: SparkSession, sf_dir: str) -> str:
    """The incrementally-maintained IVF index for ``sf_dir``, staged
    once per process (fingerprinted on the embeddings input): epoch
    shards (vec_id % _IVFINC_EPOCHS — the deterministic stand-in for
    arrival order) folded one at a time via fold_ivf_epoch, then one
    deletion batch (_IVFINC_DEL) folded as a tombstone partition.
    Returns the committed directory holding ``quantizer/`` (the frozen
    coarse-centroid table — selected from the FIRST shard only,
    K_CENTROIDS rows at any corpus size), ``postings/epoch=e/`` (one
    append-only partition per arrival) and ``tombstones/epoch=e/``
    (one per deletion batch)."""
    from etly_spark.io.staging import stage_dir

    def build(tmp: str) -> None:
        s = _normed(load_table(spark, sf_dir, "embeddings"))
        shard0 = s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0)
        # the frozen quantizer: hash-selected from shard 0 alone — the
        # only part of the index later arrivals depend on
        centroid_plan(shard0).write.parquet(os.path.join(tmp, "quantizer"))
        cent_pdf = V._staged_pdf(os.path.join(tmp, "quantizer"))
        for e in range(_IVFINC_EPOCHS):
            fold_ivf_epoch(
                s.where(F.col("vec_id") % _IVFINC_EPOCHS == e),
                cent_pdf,
                os.path.join(tmp, "postings"),
                e,
            )
        # a deletion batch arrives after the inserts (the checked row's
        # deterministic stand-in for a takedown/expiry feed)
        fold_ivf_tombstones(
            s.where(F.expr(_IVFINC_DEL)), os.path.join(tmp, "tombstones"), 0
        )

    return stage_dir(
        "ivf-inc", [os.path.join(sf_dir, "embeddings.parquet")], build
    )


def sim_ivf_inc(
    spark: SparkSession, sf_dir: str, qwhere: str = "vec_id < 8", q_pdf=None
) -> DataFrame:
    """Query the incrementally-folded IVF index — the same multi-probe
    plan as sim_ivf_ann (probe list = Q x NPROBE broadcast join keys,
    one scan of the postings union), but against the frozen shard-0
    quantizer and the per-epoch postings partitions, with tombstoned
    vectors anti-joined out of the candidate set (broadcast — the
    postings scan never shuffles). Result rows are gated hash-identical
    to the oracle's BATCH build-minus-deletes under the same frozen
    quantizer: append-only maintenance, including deletions that never
    rewrite a postings partition, is lossless."""
    return _probe_ivf_index(spark, ivf_inc_index(spark, sf_dir), qwhere, q_pdf)


def ivf_split_index(spark: SparkSession, sf_dir: str) -> str:
    """The ivf_inc index AFTER the hot-cell split rung: a copy of the
    incrementally-folded artifact with split_hot_cells applied at the
    default cap (ceil(N/nlist) — every above-average cell splits, so
    the gate provably exercises splitting at every SF). Staged once per
    process, same fingerprint contract as ivf_inc_index."""
    from etly_spark.io.staging import stage_dir

    base = ivf_inc_index(spark, sf_dir)

    def build(tmp: str) -> None:
        shutil.copytree(base, tmp)
        split_hot_cells(spark, tmp)

    return stage_dir(
        "ivf-split", [os.path.join(sf_dir, "embeddings.parquet")], build
    )


def sim_ivf_split(
    spark: SparkSession, sf_dir: str, qwhere: str = "vec_id < 8", q_pdf=None
) -> DataFrame:
    """Query the hot-cell-SPLIT incremental index (r12 — the growable
    quantizer, gated): same probe plan as sim_ivf_inc, but probed
    parents that were split expand to the query's NPROBE nearest
    sub-cells and candidates match on (parent, sub-cell). The oracle
    computes the batch TWO-LEVEL build (gen-0 assign -> hot cells by
    the same ceil(N/nlist) cap -> hash-selected sub-centroids within
    each hot cell -> re-assign the cell's rows) minus deletions under
    the same frozen shard-0 quantizer, so hash equality proves the
    log-structured split — reassignment segment + append-only splits
    table + superseded-but-never-rewritten gen-0 rows — answers
    queries exactly like the two-level quantizer it implies."""
    return _probe_ivf_index(spark, ivf_split_index(spark, sf_dir), qwhere, q_pdf)


def _expand_probes(q_pdf, pairs, splits_pdf, split_cells: set, nprobe: int) -> list:
    """Recursive probe expansion (r13): walk each (query, cell) probe
    down the split chain — a probe resting on a live leaf emits
    (query_id, immediate_parent, leaf_cell) with parent -1 for gen-0
    leaves; a probe on a split node expands to the query's ``nprobe``
    most cosine-similar children of that node and recurses. Driver
    work is bounded: per level, Q x (children of probed nodes) numpy
    via probe_cells; depth ~ the split-chain length."""
    out = []
    frontier = [(qid, -1, int(c)) for qid, c in pairs]
    while frontier:
        nxt = []
        by_node: dict[int, list] = {}
        for qid, par, c in frontier:
            if c in split_cells:
                by_node.setdefault(c, []).append(qid)
            else:
                out.append((qid, par, c))
        for node in sorted(by_node):
            sub = splits_pdf[splits_pdf["parent"] == node]
            qsub = q_pdf[q_pdf["query_id"].isin(by_node[node])]
            for qid, s_ in V.probe_cells(qsub, sub, nprobe):
                nxt.append((qid, node, int(s_)))
        frontier = nxt
    return out


def _probe_ivf_index(
    spark: SparkSession, d: str, qwhere: str = "vec_id < 8", q_pdf=None
) -> DataFrame:
    """Query an ivf_inc-shaped index directory (quantizer/ + postings/
    [+ tombstones/]) — factored out so tests can probe throwaway
    indexes (pre/post compaction) through the production plan. Pass
    ``q_pdf`` (the _query_pdf frame) when the caller already collected
    the query set — skips one postings scan; the caller then owns the
    queries-are-not-deleted invariant (sim_ann_methods' qwhere is
    disjoint from _IVFINC_DEL by construction)."""
    cent_pdf = V._staged_pdf(os.path.join(d, "quantizer"))
    splits_dir = os.path.join(d, "quantizer_splits")
    parents, _token = _splits_state(splits_dir)
    assign = _read_postings(spark, os.path.join(d, "postings"))
    if parents:
        # a leaf whose cell id the splits table names as a split NODE
        # is superseded by that split's reassignment segment
        # (log-structured: its rows were never rewritten, they just
        # stop matching). Leaf ids are globally unique (r13 — own-id
        # exclusion + negative deep-split ids), so liveness keys on
        # the cell id alone at ANY split depth.
        assign = assign.where(~F.col("cent_id").isin(parents))
    tomb_dir = os.path.join(d, "tombstones")
    if live_partitions(tomb_dir, "epoch"):
        # the deletion side-table is result-density-sized; broadcast it
        # so the anti-join never shuffles the postings scan
        assign = assign.join(
            F.broadcast(read_live(spark, tomb_dir, "epoch").select("vec_id")),
            "vec_id",
            "left_anti",
        )
    if q_pdf is None:
        q_pdf = (
            assign.filter(F.expr(qwhere))
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                F.col("nrm").alias("qn"),
            )
            .toPandas()
        )
    # BOTH branches rebuild q from the collected pandas (r12, ADVICE):
    # broadcasting the postings-derived lazy q frame re-ran the postings
    # scan twice more (broadcast build + main join) after the toPandas
    q = spark.createDataFrame(q_pdf)
    pairs = V.probe_cells(q_pdf, cent_pdf, NPROBE_IVF)
    if parents:
        # recursive probe (r12 two-level, r13 any depth): a probed
        # UNSPLIT leaf matches its rows directly; a probed SPLIT node
        # expands to the query's NPROBE nearest sub-cells, repeated
        # down the chain until every probe rests on a live leaf. All
        # driver work is bounded: Q x nlist + Q x k_c numpy per level.
        splits_pdf = V._read_parquet_dir(splits_dir)
        triples = _expand_probes(
            q_pdf, pairs, splits_pdf, set(parents), NPROBE_IVF
        )
        probes = spark.createDataFrame(
            triples, "query_id long, pparent long, qcent long"
        )
        cond = (
            (F.coalesce(F.col("parent"), F.lit(-1)) == F.col("pparent"))
            & (F.col("cent_id") == F.col("qcent"))
            & (F.col("vec_id") != F.col("query_id"))
        )
    else:
        probes = spark.createDataFrame(pairs, "query_id long, qcent long")
        cond = (F.col("cent_id") == F.col("qcent")) & (
            F.col("vec_id") != F.col("query_id")
        )
    scored = (
        F.broadcast(probes)
        .join(F.broadcast(q), "query_id")
        .join(assign, cond)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _cos_pair().alias("cos_sim"))
    )
    return _topk(scored, 5)


# Hard-negative mining (dense-retrieval training): per query, the
# top-k most similar vectors OUTSIDE the query's positive group. The
# deterministic group stand-in is vec_id % 41 (a same-document /
# same-label family); a real label column swaps in without changing
# the plan. Self-exclusion is implied: the query is in its own group.
_HN_SQL = f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 's.embedding')} / (q.qn * s.nrm) AS cos_sim
  FROM q JOIN s ON s.vec_id % 41 <> q.query_id % 41
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def sim_hard_negatives(
    spark: SparkSession, sf_dir: str, s: DataFrame | None = None, q_pdf=None
) -> DataFrame:
    """Hard-negative mining for dense-retrieval training: per query,
    the top-k most cosine-similar vectors outside the query's positive
    group (vec_id % 41 — deterministic stand-in for a same-document /
    same-label family). Same single-scan BLAS scorer as brute-force;
    the group exclusion is one codegen'd predicate before the tiny
    per-query top-k, so the plan is one corpus pass at any N."""
    if s is None:
        s = scoped_persist(_normed(load_table(spark, sf_dir, "embeddings")), eager=False)
    if q_pdf is None:
        q_pdf = _query_pdf(s)
    scored = V.matmul_scores(s, q_pdf).filter(
        (F.col("neighbor_id") % 41) != (F.col("query_id") % 41)
    )
    return _topk(scored, 5)


_SQ_DIM = 64


def sim_sq8(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
) -> DataFrame:
    """SQ8 scalar quantization — the memory-compression axis of
    100 TB ANN (FAISS's SQ8 baseline): per-dimension corpus min/max,
    each float32 component quantized to an 8-bit code
    (``floor((x-lo)/(hi-lo)*255 + 0.5)``), scoring on the DEQUANTIZED
    vectors (symmetric: queries quantized too). Codes are 4x smaller
    than float32 — at scale the index scan reads a quarter of the
    bytes and the codebook is 2 x dim doubles broadcast in the plan.
    The (lo, hi) row is STAGED (r13, the _pq_codebook_path rule): the
    per-dim extrema are deterministic per corpus and exact through a
    parquet roundtrip (min/max copy input doubles), so the training
    aggregate — one full corpus pass — runs once per corpus snapshot
    instead of once per query; ``corpus_tag`` keys the stage, untagged
    custom frames get a single-use uuid stage. quantize/dequantize is
    a codegen'd ``transform`` with array literals — floor() keeps the
    rounding rule identical across engines (round() half-modes
    differ). Exact same top-k machinery as brute-force, so the oracle
    checks the quantized scores bit-for-bit at 6 dp."""
    import uuid as _uuid

    from etly_spark.io.staging import stage_row

    e = (
        s.select("vec_id", "embedding")
        if s is not None
        else load_table(spark, sf_dir, "embeddings")
    )
    tag = corpus_tag if corpus_tag else ("iid" if s is None else _uuid.uuid4().hex)
    b = stage_row(
        spark,
        f"sq8-minmax:{sf_dir}:{tag}",
        lambda: e.agg(
            F.array(
                *[F.min(F.element_at("embedding", i + 1)) for i in range(_SQ_DIM)]
            ).alias("lo"),
            F.array(
                *[F.max(F.element_at("embedding", i + 1)) for i in range(_SQ_DIM)]
            ).alias("hi"),
        ),
        deps=[os.path.join(sf_dir, "embeddings.parquet")],
    )
    lo_arr = F.array(*[F.lit(float(v)) for v in b["lo"]])
    hi_arr = F.array(*[F.lit(float(v)) for v in b["hi"]])

    def _deq(col):
        def f(x, i):
            lo = F.get(lo_arr, i)
            hi = F.get(hi_arr, i)
            w = hi - lo
            code = F.floor((x.cast("double") - lo) / w * 255 + F.lit(0.5))
            return F.when(hi == lo, lo).otherwise(lo + code / 255.0 * w)

        return F.transform(col, f)

    sq = scoped_persist(
        _normed(e.select("vec_id", _deq(F.col("embedding")).alias("embedding"))),
        eager=False,
    )
    scored = V.matmul_scores(sq, _query_pdf(sq, qwhere)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(scored, 5)


def _sq8_sql(src: str = "embeddings", qwhere: str = "vec_id < 8") -> str:
    return f"""
WITH bounds AS (
  SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM (
    SELECT i, MIN(embedding[i]::DOUBLE) AS lo, MAX(embedding[i]::DOUBLE) AS hi
    FROM {src} CROSS JOIN generate_series(1, {_SQ_DIM}) AS g(i)
    GROUP BY i
  )
), dq AS (
  SELECT vec_id,
         list_transform(generate_series(1, {_SQ_DIM}), i ->
           CASE WHEN b.hi[i] = b.lo[i] THEN b.lo[i]
                ELSE b.lo[i]
                     + floor((embedding[i]::DOUBLE - b.lo[i]) / (b.hi[i] - b.lo[i]) * 255 + 0.5)
                       / 255.0 * (b.hi[i] - b.lo[i]) END
         ) AS embedding
  FROM {src}, bounds b
), s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM dq
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), scored AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 's.embedding')} / (q.qn * s.nrm) AS cos_sim
  FROM q JOIN s ON s.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# Product quantization (FAISS's other compression axis, r9; r10
# re-dimensioned for scale): d=64 splits into _PQ_M=16 subspaces of 4
# dims; each subvector snaps to its most cosine-similar slice of a
# CORPUS-SCALED codebook of k = min(4096, max(64, floor(8*sqrt(N))))
# hash-selected rows (the IVF-centroid rule, still a bounded driver
# collect — 4096 x 64 doubles = 2 MiB worst case). r9 shipped m=8 with
# a FIXED k=64 and measured the honest failure: clustered recall@5
# 0.80 (sf0.1) -> 0.45 (10x) as 64 codewords diluted over 1250 planted
# clusters (STRESS.md). The r10 sweep over (m, k, scale) found the
# fixed-m=8 ceiling at k=256 is 0.70 at 10x, while m=16 with k=8*sqrt(N)
# holds 0.95 / 0.925 / 0.825 at 1x/10x/20x — finer subspaces cut the
# per-slice quantization error below the fixture's intra-cluster noise
# and the sqrt rule keeps codeword ownership tracking cluster count.
# Codes are _PQ_M x ceil(log2 k)/8 bytes/vector (~16-24 B) vs 64
# float32s — a 10-16x smaller index scan at 100 TB. Beyond the 4096
# cap (N > ~260k) dilution resumes by design; the documented scale
# path there is IVF-sharded PQ (per-cell codebooks), not a bigger
# driver collect. Scoring stays symmetric on the reconstructions (the
# sq8 precedent, so the oracle checks the quantized scores exactly).
_PQ_M = 16
_PQ_SUB = _SQ_DIM // _PQ_M
_PQ_K_CAP = 4096

# SQL twin of _pq_k(): FLOOR + CAST truncation mirrors Python's
# int(math.floor(...)) — CAST(double AS BIGINT) alone would ROUND.
_PQ_K_SQL = (
    "LEAST({cap}, GREATEST(64, CAST(FLOOR(8.0 * sqrt(CAST(COUNT(*) AS DOUBLE)))"
    " AS BIGINT)))"
).format(cap=_PQ_K_CAP)


def _pq_k(n: int) -> int:
    """Corpus-scaled codebook size: 8*sqrt(N), clamped to [64, 4096]."""
    import math

    return min(_PQ_K_CAP, max(64, int(math.floor(8.0 * math.sqrt(float(n))))))


# Lloyd refinement (r11, verdict item 6): the hash-selected codebook
# is an INITIALIZATION, refined by _PQ_TRAIN_ITERS deterministic
# k-means iterations per subspace (cosine assignment — the same argmax
# as encode — then the plain elementwise mean). Means are ORDERED
# folds (members sorted by vec_id, sequential left fold seeded with
# 0.0) so both engines produce bit-identical centroids — the proven
# cross-engine float toolbox. Empty codewords keep their previous
# value. Measured on the 20x planted-cluster fixture: recall@5
# 0.80 (hash-selected) -> 0.90 after 2 iterations (STRESS.md r11).
_PQ_TRAIN_ITERS = 2

# Lloyd trains on a deterministic hash-sampled subset once the corpus
# passes the training cap (r11, after the 1M probe: full-corpus
# training cost 622 s at 1M for recall that was dilution-bound at the
# 4096-codeword cap — the FAISS train-on-a-subsample rule). The cap is
# POINTS-PER-CODEWORD-scaled, max(65536, 64*k): a flat 65536 at 1M
# left 16 samples/codeword and measurably hurt (recall@5 0.75 -> 0.575
# on the planted-cluster fixture); 64/codeword is FAISS's documented
# floor. The sample predicate is pure vec_id arithmetic (a DIFFERENT
# multiplier than the centroid-selection hash, so the sample is
# independent of the initialization ranking) and is mirrored verbatim
# in the oracle; at n <= cap the sample is the whole corpus, so every
# gated SF is byte-identical to the unsampled form.
_PQ_TRAIN_FLOOR = 65536
_PQ_TRAIN_PER_CW = 64
_TRAIN_HASH = "((vec_id % 2147483648) * 48271) % 4294967296"


def _pq_train_cap(n: int) -> int:
    return max(_PQ_TRAIN_FLOOR, _PQ_TRAIN_PER_CW * _pq_k(n))


def _pq_train_ctes() -> str:
    """The unrolled training chain cent0 -> cent{_PQ_TRAIN_ITERS}.
    Every CTE is MATERIALIZED — DuckDB inlines multi-referenced CTEs,
    and each iteration references its predecessor several times (the
    SemDeDup recursion lesson)."""
    out = [f"""
, tsd AS MATERIALIZED (
  SELECT GREATEST(1, CAST(CEIL(
           COUNT(*) / CAST(GREATEST({_PQ_TRAIN_FLOOR},
                                    {_PQ_TRAIN_PER_CW} * {_PQ_K_SQL}) AS DOUBLE)
         ) AS BIGINT)) AS d
  FROM __pqsrc
), strain AS MATERIALIZED (
  SELECT s.* FROM subs s CROSS JOIN tsd WHERE ({_TRAIN_HASH}) % tsd.d = 0
), svals AS MATERIALIZED (
  SELECT e.vec_id, (g.i - 1) // {_PQ_SUB} AS m, (g.i - 1) % {_PQ_SUB} AS d,
         e.embedding[g.i]::DOUBLE AS val
  FROM __pqsrc e CROSS JOIN generate_series(1, {_SQ_DIM}) g(i)
  CROSS JOIN tsd WHERE ({_TRAIN_HASH}) % tsd.d = 0
)"""]
    for t in range(1, _PQ_TRAIN_ITERS + 1):
        p = f"cent{t - 1}"
        out.append(f"""
, subc_t{t} AS MATERIALIZED (
  SELECT cent_id, m, ce[m*{_PQ_SUB}+1 : m*{_PQ_SUB}+{_PQ_SUB}] AS cs
  FROM {p} CROSS JOIN generate_series(0, {_PQ_M - 1}) g(m)
), sc_t{t} AS (
  SELECT vec_id, m, cent_id,
         CASE WHEN sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')}) = 0
              THEN -2.0
              ELSE {_sql_dot('xs', 'cs')}
                / (sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')})) END AS cos
  FROM strain JOIN subc_t{t} USING (m)
), best_t{t} AS (
  SELECT vec_id, m, MAX(cos) AS bc FROM sc_t{t} GROUP BY vec_id, m
), asn_t{t} AS MATERIALIZED (
  SELECT sc.vec_id, sc.m, MIN(sc.cent_id) AS cent_id
  FROM sc_t{t} sc JOIN best_t{t} b ON b.vec_id = sc.vec_id AND b.m = sc.m
                   AND sc.cos = b.bc
  GROUP BY sc.vec_id, sc.m
), upd_t{t} AS MATERIALIZED (
  -- ordered fold seeded with 0.0 — bit-identical to the Spark side's
  -- F.aggregate over the vec_id-sorted member list
  SELECT a.cent_id, v.m, v.d,
         list_reduce([0.0::DOUBLE] || list(v.val ORDER BY v.vec_id),
                     (x, y) -> x + y) / CAST(COUNT(*) AS DOUBLE) AS mu
  FROM asn_t{t} a JOIN svals v ON v.vec_id = a.vec_id AND v.m = a.m
  GROUP BY a.cent_id, v.m, v.d
), cent{t} AS MATERIALIZED (
  SELECT c.cent_id,
         list(COALESCE(u.mu, c.ce[g.i]) ORDER BY g.i) AS ce
  FROM cent{t - 1} c
  CROSS JOIN generate_series(1, {_SQ_DIM}) g(i)
  LEFT JOIN upd_t{t} u ON u.cent_id = c.cent_id
       AND u.m = (g.i - 1) // {_PQ_SUB} AND u.d = (g.i - 1) % {_PQ_SUB}
  GROUP BY c.cent_id
)""")
    return "".join(out)


def _pq_sql(src: str = "embeddings", qwhere: str = "vec_id < 8") -> str:
    return f"""
WITH __pqsrc AS MATERIALIZED (
  SELECT vec_id, embedding FROM {src}
), cent0 AS MATERIALIZED (
  SELECT vec_id AS cent_id,
         list_transform(embedding, x -> x::DOUBLE) AS ce FROM __pqsrc
  ORDER BY {_CENT_HASH_SQL}, vec_id
  LIMIT (SELECT {_PQ_K_SQL} FROM __pqsrc)
), subs AS MATERIALIZED (
  SELECT e.vec_id, g.m, e.embedding[g.m*{_PQ_SUB}+1 : g.m*{_PQ_SUB}+{_PQ_SUB}] AS xs
  FROM __pqsrc e CROSS JOIN generate_series(0, {_PQ_M - 1}) g(m)
){_pq_train_ctes()}, subc AS (
  SELECT cent_id, m, ce[m*{_PQ_SUB}+1 : m*{_PQ_SUB}+{_PQ_SUB}] AS cs
  FROM cent{_PQ_TRAIN_ITERS} CROSS JOIN generate_series(0, {_PQ_M - 1}) g(m)
), sc AS (
  -- slim scalar scores only: the N*m*k pair stream must never carry
  -- the subvector payloads into a sort — the row_number formulation
  -- sort-spilled DuckDB's temp disk at the 10x corpus once k became
  -- corpus-scaled. Two streaming hash aggregates replace the window:
  -- max cos per (vec, m), then min cent_id among the argmax rows
  -- (identical to ORDER BY cos DESC, cent_id LIMIT 1).
  -- zero-norm subvector: cosine undefined -> pinned to -2 on BOTH
  -- engines (argmax/MAX then falls to the smallest cent_id) — a NULL
  -- here would silently DROP the (vec_id, m) from the equi-join below
  -- and truncate the reconstructed vector
  SELECT vec_id, m, cent_id,
         CASE WHEN sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')}) = 0
              THEN -2.0
              ELSE {_sql_dot('xs', 'cs')}
                / (sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')})) END AS cos
  FROM subs JOIN subc USING (m)
), best AS (
  SELECT vec_id, m, MAX(cos) AS bc FROM sc GROUP BY vec_id, m
), asn AS (
  SELECT sc.vec_id, sc.m, MIN(sc.cent_id) AS cent_id
  FROM sc JOIN best ON best.vec_id = sc.vec_id AND best.m = sc.m
                   AND sc.cos = best.bc
  GROUP BY sc.vec_id, sc.m
), rec AS (
  SELECT a.vec_id, flatten(list(c.cs ORDER BY a.m)) AS embedding
  FROM asn a JOIN subc c ON c.m = a.m AND c.cent_id = a.cent_id
  GROUP BY a.vec_id
), s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM rec
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), scored AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 's.embedding')} / (q.qn * s.nrm) AS cos_sim
  FROM q JOIN s ON s.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _pq_lloyd_step(base: DataFrame, cent_pdf) -> "object":
    """One deterministic Lloyd iteration for the PQ codebook (r11):
    assign every (vector, subspace) to its codeword via the SAME
    blocked-einsum argmax the encode uses (functions.vector.pq_codes),
    then replace each non-empty codeword slice with the elementwise
    member mean — computed as an ORDERED fold (members sorted by
    vec_id, sequential left fold seeded with 0.0, one exact division
    by the count), so the result is bit-identical to the oracle's
    list_reduce twin. Empty codewords keep their previous value. The
    per-element mean table is k x 64 rows (<= 2 MiB at the 4096 cap) —
    the global codebook's bounded-collect budget, unchanged."""
    import numpy as np
    import pandas as pd

    sub = _SQ_DIM // _PQ_M
    codes = V.pq_codes(base, cent_pdf, m=_PQ_M)
    svals = base.select(
        "vec_id",
        F.explode(F.sequence(F.lit(1), F.lit(_SQ_DIM))).alias("_i"),
        F.col("embedding"),
    ).select(
        "vec_id",
        F.floor((F.col("_i") - 1) / F.lit(sub)).cast("long").alias("m"),
        ((F.col("_i") - 1) % F.lit(sub)).cast("long").alias("d"),
        F.element_at("embedding", F.col("_i")).cast("double").alias("val"),
    )
    upd = (
        codes.join(svals, ["vec_id", "m"])
        .groupBy("cent_id", "m", "d")
        .agg(
            F.collect_list(F.struct("vec_id", "val")).alias("_l"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "cent_id",
            "m",
            "d",
            (
                F.aggregate(
                    F.array_sort("_l"), F.lit(0.0), lambda a, x: a + x["val"]
                )
                / F.col("_n").cast("double")
            ).alias("mu"),
        )
        .toPandas()
    )
    new_ce = {
        int(cid): np.asarray(ce, dtype="float64").copy()
        for cid, ce in zip(cent_pdf["cent_id"], cent_pdf["ce"])
    }
    for cid, m_, d_, mu in zip(upd["cent_id"], upd["m"], upd["d"], upd["mu"]):
        new_ce[int(cid)][int(m_) * sub + int(d_)] = mu
    cids = sorted(new_ce)
    return pd.DataFrame({"cent_id": cids, "ce": [new_ce[c] for c in cids]})


def _pq_codebook_path(
    spark: SparkSession,
    sf_dir: str,
    nsrc: DataFrame,
    n: int,
    corpus_tag: str | None,
) -> str:
    """The TRAINED global PQ codebook as a STAGED artifact (r13):
    hash-selected initialization refined by _PQ_TRAIN_ITERS
    deterministic Lloyd iterations. Training is deterministic per
    corpus, and each iteration is a full assign pass over the training
    sample plus a bounded driver collect — work a production pipeline
    runs ONCE when the index is (re)built, not once per query. The
    product — a k x 64 float64 table, exact through the parquet
    roundtrip — is staged like the IVFPQ books (_ivfpq_index) and
    reused by every consumer in the process; per-branch profile at
    sf0.1 had the in-call retrain at ~4.2 s of sim_pq's 4.7 s warm
    wall, PER consumer of the un-persisted top-k. ``corpus_tag`` keys
    the stage (the _ivfpq_index rule: untagged custom frames get a
    fresh single-use uuid — never another corpus's codebook)."""
    import math
    import uuid as _uuid

    from etly_spark.io.staging import stage_path

    tag = corpus_tag if corpus_tag else _uuid.uuid4().hex

    def build() -> DataFrame:
        cent_pdf = select_centroids(nsrc, k=_pq_k(n))
        # train on the deterministic hash sample (_pq_train_cap):
        # identity at every gated SF, bounds the Lloyd joins at any N
        d_tr = max(1, math.ceil(n / _pq_train_cap(n)))
        tbase = nsrc.select("vec_id", "embedding").where(
            (((F.col("vec_id") % 2147483648) * 48271) % 4294967296) % d_tr == 0
        )
        for _ in range(_PQ_TRAIN_ITERS):
            cent_pdf = _pq_lloyd_step(tbase, cent_pdf)
        return spark.createDataFrame(
            cent_pdf[["cent_id", "ce"]], "cent_id long, ce array<double>"
        )

    return stage_path(
        spark,
        f"pq-cb:{sf_dir}:{tag}",
        build,
        deps=[os.path.join(sf_dir, "embeddings.parquet")],
    )


def sim_pq(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
) -> DataFrame:
    """PQ ANN: the STAGED trained codebook (_pq_codebook_path —
    hash-selected initialization + _PQ_TRAIN_ITERS deterministic Lloyd
    iterations, r11; the fixed k=hash-sample rule measured 0.80
    clustered recall@5 at 20x where two training sweeps reach 0.90,
    STRESS.md) and the STAGED packed codes table (r15, guide §1.2: the
    encode argmax — N·k·m slice cosines, the only super-linear kernel
    on this path and 4-8 s per invocation per corpus at sf0.1 — is
    index-build work a production pipeline runs once per corpus
    snapshot, not once per query; the codes are the 2m-byte/vector
    index payload ivfpq_codes already established). Query time decodes
    the codes with O(N·m) codebook gathers (functions.vector.pq_decode
    — bit-identical float64 slices to the inline pq_reconstruct, same
    ties-to-smallest-cent_id) and runs the standard symmetric brute
    pipeline over the reconstructions. The codebook size is
    corpus-scaled (_pq_k — one count() over the shared persisted
    frame; capped so every training collect stays bounded at any N)."""
    import uuid as _uuid

    from etly_spark.io.staging import stage_table

    # standalone path: persist the normed frame BEFORE the sizing
    # count — it feeds count, centroid selection, per-iteration
    # assignment and encode. Caller-provided frames arrive already
    # scoped_persist'ed.
    nsrc = (
        s
        if s is not None
        else scoped_persist(
            _normed(load_table(spark, sf_dir, "embeddings")), eager=False
        )
    )
    base = nsrc.select("vec_id", "embedding")
    n = nsrc.count()
    # resolve the tag ONCE (the _ivfpq_index rule): the codebook and
    # codes stages must share one identity — an untagged custom frame
    # gets a single-use uuid keying BOTH
    tag = corpus_tag if corpus_tag else ("iid" if s is None else _uuid.uuid4().hex)
    cb_path = _pq_codebook_path(spark, sf_dir, nsrc, n, tag)
    cent_pdf = V._staged_pdf(cb_path)
    codes = stage_table(
        spark,
        f"pq-codes:{sf_dir}:{tag}",
        lambda: V.pq_codes_packed(base, cent_pdf, m=_PQ_M),
        deps=[os.path.join(sf_dir, "embeddings.parquet"), cb_path],
    )
    sq = scoped_persist(
        _normed(V.pq_decode(codes, cent_pdf, m=_PQ_M)), eager=False
    )
    scored = V.matmul_scores(sq, _query_pdf(sq, qwhere)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(scored, 5)


# IVF-sharded PQ (r10): the measured scale path PAST the global
# corpus-scaled codebook. The design sweep (STRESS.md r10) shows the
# global 8*sqrt(N) rule sliding 0.925 -> 0.825 from 10x to 20x, while
# per-CELL codebooks with k_c = clamp(8*sqrt(cell_n), 16, 1024) hold
# recall@5 at 0.95 flat across both — codeword ownership tracks local
# cluster count — and per-vector encode work drops to 8*sqrt(N/cells)
# dots. Total codebook = sum k_c ~ 8*sqrt(N*cells): still one bounded
# driver collect (32k rows hard cap at 32 cells). Residual (FAISS
# IVFPQ) quantization was measured WORSE here (0.45-0.625) — residuals
# destroy the angular structure cosine scoring ranks by — so encoding
# stays on the raw subvectors.
_IVFPQ_KC_SQL = (
    "LEAST(1024, GREATEST(16, CAST(FLOOR(8.0 * sqrt(CAST({n} AS DOUBLE)))"
    " AS BIGINT)))"
)

# Coarse-cell count, ALSO corpus-scaled (FAISS's nlist ~ sqrt(N) rule;
# the r10 30x probe measured the fixed-32-cell layer as the next
# dilution source — 0.95 -> 0.90 once cells hold ~117 clusters each).
# clamp(sqrt(N)/8, 32, 1024): identical to the fixed 32 below N=65k
# (every prior artifact unchanged), 39 cells at the 50x probe, capped
# at 1024 so assignment stays one broadcast matmul. Past the cap the
# codebook collect (~cells * 8*sqrt(N/cells) rows) eventually wants
# the staged-artifact form instead of a driver pandas — the
# ivf_assignments precedent, documented, not needed at tested scales.
_IVFPQ_CELLS_SQL = (
    "LEAST(1024, GREATEST(32, CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) / 8.0)"
    " AS BIGINT)))"
)


def _ivfpq_cells(n: int) -> int:
    import math

    return min(1024, max(32, int(math.floor(math.sqrt(float(n)) / 8.0))))


def _ivfpq_chain(src: str = "embeddings") -> str:
    """The shared IVF-sharded-PQ oracle chain (assign -> per-cell
    codebook -> encode -> reconstruct), ending at ``rec`` with the
    coarse cell carried — consumed by both the full-scan scorer
    (_ivfpq_sql, the compression-recall gate) and the probe-path
    scorer (_ivfpq_probe_sql, the production query shape)."""
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM {src}
), cent AS (
  SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM s
  ORDER BY {_CENT_HASH_SQL}, vec_id
  LIMIT (SELECT {_IVFPQ_CELLS_SQL} FROM s)
), acell AS (
  -- zero-norm guard matches assign_nearest's -2.0 pin (a NULL from
  -- x/0 would sort NULLS LAST here while numpy argmax picks NaN)
  SELECT vec_id, embedding, cell FROM (
    SELECT s.vec_id, s.embedding, c.cent_id AS cell,
           row_number() OVER (PARTITION BY s.vec_id
               ORDER BY CASE WHEN s.nrm * c.cn = 0 THEN -2.0
                    ELSE {_sql_dot('s.embedding', 'c.ce')} / (s.nrm * c.cn) END DESC,
                        c.cent_id) AS rn
    FROM s CROSS JOIN cent c) WHERE rn = 1
), cb AS (
  SELECT cell, vec_id AS cb_id, embedding AS ce FROM (
    SELECT a.*, row_number() OVER (PARTITION BY cell
               ORDER BY {_CENT_HASH_SQL}, vec_id) AS crn,
           COUNT(*) OVER (PARTITION BY cell) AS cn_
    FROM acell a)
  WHERE crn <= {_IVFPQ_KC_SQL.format(n='cn_')}
), subs AS (
  SELECT a.vec_id, a.cell, g.m,
         a.embedding[g.m*{_PQ_SUB}+1 : g.m*{_PQ_SUB}+{_PQ_SUB}] AS xs
  FROM acell a CROSS JOIN generate_series(0, {_PQ_M - 1}) g(m)
), subc AS (
  SELECT cell, cb_id, m, ce[m*{_PQ_SUB}+1 : m*{_PQ_SUB}+{_PQ_SUB}] AS cs
  FROM cb CROSS JOIN generate_series(0, {_PQ_M - 1}) g(m)
), sc AS (
  SELECT vec_id, m, cb_id,
         CASE WHEN sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')}) = 0
              THEN -2.0
              ELSE {_sql_dot('xs', 'cs')}
                / (sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')})) END AS cos
  FROM subs JOIN subc USING (cell, m)
), best AS (
  SELECT vec_id, m, MAX(cos) AS bc FROM sc GROUP BY vec_id, m
), asn AS (
  SELECT sc.vec_id, sc.m, MIN(sc.cb_id) AS cb_id
  FROM sc JOIN best ON best.vec_id = sc.vec_id AND best.m = sc.m
                   AND sc.cos = best.bc
  GROUP BY sc.vec_id, sc.m
), rec AS (
  SELECT a.vec_id, ac.cell, flatten(list(c.cs ORDER BY a.m)) AS embedding
  FROM asn a
  JOIN acell ac ON ac.vec_id = a.vec_id
  JOIN subc c ON c.cell = ac.cell AND c.m = a.m AND c.cb_id = a.cb_id
  GROUP BY a.vec_id, ac.cell
)"""


def _ivfpq_sql(src: str = "embeddings", qwhere: str = "vec_id < 8") -> str:
    return f"""{_ivfpq_chain(src)}, rs AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM rec
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM rs WHERE {qwhere}
), scored AS (
  SELECT q.query_id, rs.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 'rs.embedding')} / (q.qn * rs.nrm) AS cos_sim
  FROM q JOIN rs ON rs.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _ivfpq_probe_sql(
    src: str = "embeddings", qwhere: str = "vec_id < 8", nprobe: int = 4
) -> str:
    """The PRODUCTION IVFPQ query shape (r12 — verdict item 1): the
    query probes its ``nprobe`` nearest coarse cells and distance is
    computed over the PQ reconstructions of ONLY the probed cells'
    postings (the FAISS IVFPQ search shape) — the full-scan _ivfpq_sql
    remains the compression-recall gate. Queries stay RAW (asymmetric
    distance computation): at 100 TB the query vector is in hand, only
    the database side lives as codes."""
    return f"""{_ivfpq_chain(src)}, rs AS (
  SELECT vec_id, cell, embedding, {_SQL_NRM} AS nrm FROM rec
), qp AS (
  SELECT s.vec_id AS query_id, s.embedding AS qe, s.nrm AS qn,
         c.cent_id AS pcell,
         row_number() OVER (PARTITION BY s.vec_id
             ORDER BY CASE WHEN s.nrm * c.cn = 0 THEN -2.0
                  ELSE {_sql_dot('s.embedding', 'c.ce')} / (s.nrm * c.cn) END DESC,
                      c.cent_id) AS prn
  FROM s CROSS JOIN cent c
  WHERE {qwhere}
), probes AS (
  SELECT query_id, qe, qn, pcell FROM qp WHERE prn <= {nprobe}
), scored AS (
  SELECT p.query_id, r.vec_id AS neighbor_id,
         {_sql_dot('p.qe', 'r.embedding')} / (p.qn * r.nrm) AS cos_sim
  FROM probes p JOIN rs r ON r.cell = p.pcell AND r.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _ivfpq_adc_sql(
    src: str = "embeddings", qwhere: str = "vec_id < 8", nprobe: int = 4
) -> str:
    """ADC twin (r12): same chain and probe selection as
    _ivfpq_probe_sql, but the score is the ORDERED FOLD of per-subspace
    partial dots between the RAW query slice and the chosen codeword
    slice — ``list_reduce([0.0] || list(dm ORDER BY m), +)`` — and the
    reconstruction norm folds the per-m squared slice norms the same
    way: exactly the Spark kernel's vectorized m-ascending
    accumulation (functions/vector.ivfpq_adc_scores). No flattened
    reconstruction is ever built on either engine."""
    return f"""{_ivfpq_adc_ranked(src, qwhere, nprobe)}
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _ivfpq_rerank_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    nprobe: int = 4,
    r: int = 32,
) -> str:
    """Refine twin (r13): the ADC chain ranks candidates (UNROUNDED
    scores — the Spark window's float comparisons), the top ``r`` per
    query survive as the refine set, and each survivor is re-scored
    EXACTLY against the raw corpus vector (the brute plan's ordered
    dot fold) before the final top-5. The candidate cut at rank r
    breaks ties on (cos_sim DESC, neighbor_id) on both engines and ADC
    scores are bit-compatible cross-engine, so the refine sets are
    identical by construction."""
    return f"""{_ivfpq_adc_ranked(src, qwhere, nprobe)}, cand AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= {r}
), q2 AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), rescored AS (
  SELECT c.query_id, c.neighbor_id,
         {_sql_dot('q2.qe', 'n.embedding')} / (q2.qn * n.nrm) AS cos_sim
  FROM cand c
  JOIN q2 ON q2.query_id = c.query_id
  JOIN s n ON n.vec_id = c.neighbor_id
), rranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM rescored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM rranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _ivfpq_adc_ranked(
    src: str,
    qwhere: str,
    nprobe: int,
    cand_where: str = "TRUE",
    nprobe_sql: str | None = None,
) -> str:
    """The shared ADC scoring chain through ``ranked`` (per-query
    candidates ordered by the ordered-fold ADC cosine, UNROUNDED) —
    consumed by the ADC top-5 twin (_ivfpq_adc_sql), the refine twin
    (_ivfpq_rerank_sql, which cuts at rank r instead of 5), the
    filtered-search twin (_ivfpq_filtered_sql: ``cand_where``
    restricts candidates to predicate matches and ``nprobe_sql``
    replaces the static probe width with the selectivity-scaled
    integer expression) and the radius twin (_ivfpq_radius_sql, which
    cuts on an ADC score threshold instead of a rank)."""
    limit = nprobe_sql if nprobe_sql is not None else str(nprobe)
    return f"""{_ivfpq_chain(src)}, qp AS (
  SELECT s.vec_id AS query_id, s.embedding AS qe, s.nrm AS qn,
         c.cent_id AS pcell,
         row_number() OVER (PARTITION BY s.vec_id
             ORDER BY CASE WHEN s.nrm * c.cn = 0 THEN -2.0
                  ELSE {_sql_dot('s.embedding', 'c.ce')} / (s.nrm * c.cn) END DESC,
                      c.cent_id) AS prn
  FROM s CROSS JOIN cent c
  WHERE {qwhere}
), probes AS (
  SELECT query_id, qe, qn, pcell FROM qp WHERE prn <= {limit}
), permdot AS (
  SELECT p.query_id, p.qn, a.vec_id, a.m,
         {_sql_dot(f'(p.qe[a.m*{_PQ_SUB}+1 : a.m*{_PQ_SUB}+{_PQ_SUB}])', 'c.cs')} AS dm,
         {_sql_dot('c.cs', 'c.cs')} AS nm2
  FROM probes p
  JOIN acell ac ON ac.cell = p.pcell AND ac.vec_id <> p.query_id
                AND ({cand_where})
  JOIN asn a ON a.vec_id = ac.vec_id
  JOIN subc c ON c.cell = ac.cell AND c.m = a.m AND c.cb_id = a.cb_id
), scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         CASE WHEN qn * sqrt(list_reduce([0.0::DOUBLE] || list(nm2 ORDER BY m),
                                         (x,y) -> x + y)) = 0
              THEN -2.0
              ELSE list_reduce([0.0::DOUBLE] || list(dm ORDER BY m), (x,y) -> x + y)
                   / (qn * sqrt(list_reduce([0.0::DOUBLE] || list(nm2 ORDER BY m),
                                            (x,y) -> x + y))) END AS cos_sim
  FROM permdot
  GROUP BY query_id, qn, vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)"""


def sim_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
) -> DataFrame:
    """IVF-sharded PQ: coarse-assign (the proven IVF kernel), select a
    per-cell hash codebook with the BANDED rank (no window on the
    low-NDV cell key — the hostcap de-skew machinery), stage the
    (cell, cb_id, ce) codebook as a DISTRIBUTED parquet artifact (r11
    — verdict item 1: the r10 form collected it to the driver under a
    32k-row cap; past the 1024-cell clamp knee that collect was the
    last driver-side bottleneck on the ANN path), then one Arrow
    encode+reconstruct pass routed per cell with the codebook loaded
    lazily executor-side (functions.vector._staged_books — the FAISS
    replicate-the-quantizer deployment shape) and the standard
    symmetric scoring. ``corpus_tag`` names the corpus derivation for
    the stage identity when ``s`` is caller-provided; untagged custom
    frames get a fresh single-use stage.

    r15 (guide §1.2): the full-scan recall gate now reads the SAME
    staged codes table the probe/ADC scorers consume
    (_ivfpq_codes_path) and reconstructs via ivfpq_decode's O(N·m)
    codebook gathers, instead of re-running the encode argmax
    (N·k_c·m slice cosines) on every invocation — the encode is
    index-build work, staged once per corpus snapshot and shared by
    all six ivfpq-family branches. Decode gathers the identical
    float64 slices the inline ivfpq_reconstruct produced (same books,
    same argmax stored in the codes), so scores are bit-identical."""
    asn, cb_path, _cent_pdf, tag = _ivfpq_index(spark, sf_dir, s, corpus_tag)
    codes_path = _ivfpq_codes_path(spark, sf_dir, asn, cb_path, tag)
    rec = scoped_persist(
        _normed(
            V.ivfpq_decode(
                spark.read.parquet(codes_path), cb_path, m=_PQ_M, cell_col="cell"
            )
        ),
        eager=False,
    )
    scored = V.matmul_scores(rec, _query_pdf(rec, qwhere)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(scored, 5)


def _cell_codebook_plan(asn: DataFrame, growth: int = 1) -> DataFrame:
    """Per-cell hash-selected PQ codebook as a DataFrame plan: within
    each coarse cell of ``asn`` (vec_id, embedding, [nrm,] cell), the
    top-k_c rows by the Knuth hash via the BANDED rank (no window on
    the low-NDV cell key), k_c = clamp(8*sqrt(cell_n * growth), 16,
    1024) — the _IVFPQ_KC_SQL twin. Shared by the static index
    (_ivfpq_index, cell_n = full-corpus cell size, growth=1) and the
    frozen incremental books (ivfpq_inc_index, cell_n = the FIRST
    SHARD's cell size with growth = the planned arrival count: FAISS's
    train-on-a-sample, SIZE-FOR-THE-INDEX rule — a book sized for the
    sample alone would carry half the codewords the finished index
    wants, a measured recall cliff; when growth matches the plan the
    frozen k_c equals the static build's). Emits (cell, cb_id, ce)."""
    from etly_spark.operators.prefix import banded_row_number

    kh = ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
        4294967296
    )
    ranked = banded_row_number(
        asn.withColumn("_kh", kh),
        ["cell"],
        F.floor(F.col("_kh") / F.lit(2097152)),  # 2048 hash bands, monotone
        [F.col("_kh"), F.col("vec_id")],
        "_crn",
    )
    csz = asn.groupBy("cell").agg(F.count(F.lit(1)).alias("_cn"))
    kc = F.least(
        F.lit(1024),
        F.greatest(
            F.lit(16),
            F.floor(
                F.lit(8.0)
                * F.sqrt((F.col("_cn") * F.lit(int(growth))).cast("double"))
            ).cast("long"),
        ),
    )
    return (
        ranked.join(F.broadcast(csz), "cell")
        .where(F.col("_crn") <= kc)
        .select("cell", F.col("vec_id").alias("cb_id"), F.col("embedding").alias("ce"))
    )


def _ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None,
    corpus_tag: str | None,
):
    """The shared IVFPQ index construction: coarse assignment (lazy
    frame), the STAGED per-cell codebook path, the coarse-centroid
    pandas, and the RESOLVED corpus tag — consumed by the full-scan
    scorer (sim_ivfpq) and the probe path (sim_ivfpq_probe), which
    share the stage key so the codebook is built once per process per
    corpus. The tag is resolved HERE, once (r13, ADVICE): an untagged
    caller-provided frame gets a fresh single-use uuid that downstream
    stages (_ivfpq_codes_path) must reuse — re-deriving the tag there
    defaulted custom frames to 'iid' and either served the iid
    corpus's codes for the custom frame or poisoned the iid stage."""
    import uuid as _uuid

    from etly_spark.io.staging import stage_path

    nsrc = (
        s
        if s is not None
        else scoped_persist(  # three consumers: count, centroids, assign
            _normed(load_table(spark, sf_dir, "embeddings")), eager=False
        )
    )
    cent_pdf = select_centroids(nsrc, k=_ivfpq_cells(nsrc.count()))
    asn = V.assign_nearest(
        nsrc.select("vec_id", "embedding", "nrm"), cent_pdf, out_col="cell"
    )
    cb_df = _cell_codebook_plan(asn)
    tag = corpus_tag if corpus_tag else ("iid" if s is None else _uuid.uuid4().hex)
    cb_path = stage_path(
        spark,
        f"ivfpq-cb:{sf_dir}:{tag}",
        lambda: cb_df,
        deps=[os.path.join(sf_dir, "embeddings.parquet")],
    )
    return asn, cb_path, cent_pdf, tag


def _ivfpq_codes_path(
    spark: SparkSession, sf_dir: str, asn: DataFrame, cb_path: str, tag: str
) -> str:
    """The STAGED codes table (vec_id, cell, codes) — built once per
    process per corpus, shared by the decode-probe and ADC scorers.
    ``tag`` is the tag _ivfpq_index RESOLVED (never re-derived here —
    a custom frame's fresh uuid must key its own codes stage). The
    committed codebook dir is a dependency: codes are only valid
    against the books they were encoded with."""
    from etly_spark.io.staging import stage_path

    return stage_path(
        spark,
        f"ivfpq-codes:{sf_dir}:{tag}",
        # repartition BY THE PARTITION KEY before the partitioned
        # write: without it every write task sprays a fragment into
        # every cell dir (tasks x cells small files — measured 7.7 s
        # probe at 1M vs 4.3 unpartitioned); with it each cell lands in
        # exactly one file. One bounded build-time shuffle of the
        # m-longs-per-vector codes table buys clean pruned reads —
        # and the cell-sorted layout compresses 1.7x better (same-cell
        # codes share codewords; STRESS.md r12 A/B).
        # metadata rides the index (r14 — filtered search): each codes
        # row carries its record's filterable attributes, so a search
        # predicate composes with the cell filter INSIDE the pruned
        # index scan instead of post-filtering results. In production
        # these columns come from joining the document store at encode
        # time; the gated stand-in derives the bucket from vec_id with
        # integer arithmetic both engines reproduce exactly.
        lambda: V.ivfpq_codes(asn, cb_path, m=_PQ_M, cell_col="cell")
        .withColumn("mb", _mb_col())
        .repartition("cell"),
        deps=[os.path.join(sf_dir, "embeddings.parquet"), cb_path],
        # hive-partitioned on the coarse cell: the probe's cell filter
        # prunes DIRECTORIES (PartitionFilters in the scan) — an
        # unpartitioned write interleaves cells across every row group,
        # so min/max stats prune nothing and the "probe touches
        # nprobe/nlist of the index" claim would only hold logically
        partition_by=["cell"],
    )


def sim_ivfpq_adc(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
    q_pdf=None,
    nprobe: int = NPROBE_IVF,
) -> DataFrame:
    """IVFPQ probe with TRUE ADC scoring (r12): same staged index and
    probe plan as sim_ivfpq_probe, but candidates are scored from
    their CODES via per-(query, cell) lookup tables
    (functions/vector.ivfpq_adc_scores) — no reconstruction at all, so
    scoring work is O(k_c·m + candidates·m) per probed cell instead of
    O(candidates·d). HASH-GATED since the r12 closing amendment
    (the ivfpq_adc row of ANN_TABLE): the kernel accumulates the per-m
    partial dots and squared slice norms in ASCENDING m order from a
    0.0 seed — exactly the oracle's ``list_reduce([0.0] || list(dm
    ORDER BY m), +)`` twin in _ivfpq_adc_sql — so ADC scores are
    bit-compatible cross-engine at 6 dp like every other method (they
    legitimately differ in ULPs from the decode probe's 64-dim fold;
    the two paths are separate gated rows, each with its own oracle)."""
    scored, _ctx = _ivfpq_adc_scored(
        spark, sf_dir, s, qwhere, corpus_tag, q_pdf, nprobe
    )
    return _topk(scored, 5)


def _ivfpq_adc_scored(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None,
    qwhere: str,
    corpus_tag: str | None,
    q_pdf,
    nprobe: int,
):
    """The shared ADC probe plan (unranked scored frame) + the normed
    corpus frame — consumed by sim_ivfpq_adc (top-5) and
    sim_ivfpq_rerank (top-R refine set)."""
    asn, cb_path, cent_pdf, tag = _ivfpq_index(spark, sf_dir, s, corpus_tag)
    codes_path = _ivfpq_codes_path(spark, sf_dir, asn, cb_path, tag)
    nsrc = (
        s
        if s is not None
        else scoped_persist(
            _normed(load_table(spark, sf_dir, "embeddings")), eager=False
        )
    )
    if q_pdf is None:
        q_pdf = _query_pdf(nsrc, qwhere)
    pairs = V.probe_cells(q_pdf, cent_pdf, nprobe)
    probed = sorted({int(c) for _q, c in pairs})
    cand = spark.read.parquet(codes_path).where(F.col("cell").isin(probed))
    scored = V.ivfpq_adc_scores(cand, cb_path, q_pdf, pairs, m=_PQ_M).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return scored, (nsrc, q_pdf)


_RERANK_R = 32  # FAISS refine k_factor shape: re-score ~6x the final k


def sim_ivfpq_rerank(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
    q_pdf=None,
    nprobe: int = NPROBE_IVF,
    refine_k: int = _RERANK_R,
) -> DataFrame:
    """ADC probe + EXACT re-rank (r13 — the FAISS refine step,
    IndexRefineFlat): the quantized index is a RECALL device, not a
    precision one — ADC's lookup-table cosines carry PQ quantization
    error, so the production shape keeps the cheap ADC pass for
    candidate GENERATION (top ``refine_k`` per query, ~6x the final k)
    and re-scores only those candidates against their RAW stored
    vectors before the final top-5. Cost at 100 TB: the ADC probe
    (nprobe/nlist of a codes-sized index) + Q*refine_k point lookups
    from the vector store (a pushed IN filter here — the probed-cells
    contract; a key-value fetch on a cluster) + Q*refine_k exact dots
    — refine work is independent of corpus size. The candidate ids
    are a BOUNDED driver collect (Q*refine_k longs — the probe_cells
    precedent), so the refine scan prunes instead of re-reading the
    corpus. Final scores are the brute plan's exact ordered-fold
    cosine, so rank-5 precision equals brute's wherever ADC's top-R
    contains the true neighbors — the recall_ivfpq_rerank rows measure
    exactly that lift over raw ADC."""
    scored, (nsrc, q_pdf) = _ivfpq_adc_scored(
        spark, sf_dir, s, qwhere, corpus_tag, q_pdf, nprobe
    )
    return _exact_refine(spark, scored, refine_k, nsrc, q_pdf)


def _exact_refine(
    spark: SparkSession, scored: DataFrame, refine_k: int, src: DataFrame, q_pdf
) -> DataFrame:
    """The shared refine rung: cut the approximate ``scored`` frame at
    top-``refine_k`` per query (deterministic ties), collect the
    BOUNDED candidate id set driver-side (Q*refine_k longs — the
    probe_cells contract), point-fetch their raw vectors from ``src``
    via a pushed IN filter, and return the exact-cosine top-5. Used by
    the static index (sim_ivfpq_rerank) and the LSM maintenance index
    (_probe_ivfpq_index with refine_k set)."""
    if refine_k < 5:
        # a refine set narrower than the final k silently truncates the
        # answer to refine_k rows per query — a config error, not a
        # tuning choice (the Transfer.validate fail-loud philosophy)
        raise ValueError(
            f"refine_k={refine_k} is smaller than the final top-k (5): "
            "the refine set must contain at least as many candidates "
            "as the rows it is asked to produce"
        )
    cand_rows = (
        _topk(scored, refine_k).select("query_id", "neighbor_id").collect()
    )
    cand_pairs = [(int(r.query_id), int(r.neighbor_id)) for r in cand_rows]
    return _topk(_rescore_pairs(spark, cand_pairs, src, q_pdf), 5)


def _rescore_pairs(
    spark: SparkSession, cand_pairs: list, src: DataFrame, q_pdf
) -> DataFrame:
    """Exact re-scoring of a BOUNDED candidate pair list against the
    raw vector store: point-fetch the candidates' vectors via a pushed
    IN filter and compute the brute plan's exact cosine per pair —
    the shared tail of the refine rung (_exact_refine) and the radius
    rung (_exact_threshold). ``cand_pairs`` is driver-side by contract
    (Q*refine_k for refine; result-density-sized for radius)."""
    ids = sorted({n for _q, n in cand_pairs})
    fetched = scoped_persist(
        src.where(F.col("vec_id").isin(ids)).select(
            "vec_id", "embedding", "nrm"
        ),
        eager=False,
    )  # persisted: consumed by the coverage check AND the rescore join
    # fail-loud coverage check (r14, ADVICE): a stale/partial vector
    # store would silently drop any candidate absent from ``src`` at
    # the inner join below, returning fewer rows per query than asked.
    # The fetch is bounded, so verifying it here is a bounded collect —
    # matching the loud refine_k/refine_src validation instead of
    # quietly shrinking the answer.
    got = {int(r.vec_id) for r in fetched.select("vec_id").collect()}
    missing = sorted(set(ids) - got)
    if missing:
        raise ValueError(
            f"refine source is missing {len(missing)} candidate "
            f"vector(s) (stale or partial vector store): "
            f"vec_ids {missing[:20]}"
        )
    pairs_df = spark.createDataFrame(
        cand_pairs, "query_id long, neighbor_id long"
    )
    q = spark.createDataFrame(q_pdf)
    return (
        F.broadcast(pairs_df)
        .join(F.broadcast(q), "query_id")
        .join(fetched, fetched.vec_id == F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cos_pair().alias("cos_sim"))
    )


# ---------------------------------------------------------- filtered
# Metadata-predicate top-k (r14 — verdict item 1): the most common real
# retrieval shape a production vector index serves is top-k RESTRICTED
# by a record predicate (lang = 'en', date < cutoff, source domain).
# Post-filtering an unfiltered top-k collapses recall under selective
# predicates (k survivors of a 5% filter ≈ k/20 rows), and
# brute-forcing the filtered subset gives up the index. Here the
# predicate is pushed INTO the staged probe:
#
# - the filterable attribute rides the codes stage as its own column
#   (written at encode time — _ivfpq_codes_path), so the predicate
#   composes with the cell IN/partition filter in ONE pruned scan;
# - the probe width scales by MEASURED selectivity: nprobe_f =
#   min(nlist, ceil(nprobe / sel)) with sel read from the index's
#   staged per-bucket histogram (a bounded index statistic, maintained
#   with the codes stage) — under a 5% filter each probed cell holds
#   ~5% matching candidates, so the probe must visit ~20x the cells to
#   keep the candidate pool at its unfiltered size (the FAISS
#   filtered-search guidance);
# - candidates score via the gated ADC kernel and the survivors take
#   the exact re-rank rung (_exact_refine) — the ivfpq_rerank
#   machinery, unchanged.
#
# The gated stand-in attribute is a deterministic 100-bucket hash of
# vec_id (integer arithmetic, bit-identical cross-engine); the gated
# predicate is mb < _FILTER_MB_LT (~5% selectivity). The oracle
# (_ivfpq_filtered_sql) mirrors the scaled probe width and in-scan
# predicate exactly; recall accounts against the filtered-brute base.
_MB_MOD = 100
_FILTER_MB_LT = 5


def _mb_sql(idc: str = "vec_id") -> str:
    """The metadata bucket of ``idc`` in SQL: a Lehmer-style modular
    hash (multiplier 48271 — decorrelated from the 2654435761 centroid
    hash) reduced to 100 buckets. Overflow-free in both engines via
    the mod-2^31 pre-reduction (the _CENT_HASH_SQL rule)."""
    return f"((({idc}) % 2147483648) * 48271) % 4294967296 % {_MB_MOD}"


def _mb_col() -> F.Column:
    """Spark twin of _mb_sql (same integer arithmetic)."""
    return (
        (((F.col("vec_id") % F.lit(2147483648)) * F.lit(48271)) % F.lit(4294967296))
        % F.lit(_MB_MOD)
    )


def _bf_filtered_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    mb_lt: int = _FILTER_MB_LT,
) -> str:
    """Filtered-brute twin: exact top-5 over ONLY the corpus rows
    matching the predicate (queries stay unfiltered — the query is
    external to the corpus restriction)."""
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM {src}
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), sf AS (
  SELECT * FROM s WHERE {_mb_sql('vec_id')} < {mb_lt}
), scored AS (
  SELECT q.query_id, sf.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 'sf.embedding')} / (q.qn * sf.nrm) AS cos_sim
  FROM q JOIN sf ON sf.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def sim_topk_brute_filtered(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame,
    q_pdf,
    mb_lt: int = _FILTER_MB_LT,
) -> DataFrame:
    """Exact filtered search (the filtered-brute baseline and the
    recall base for ivfpq_filtered): one scan of the
    predicate-restricted corpus, the brute scorer unchanged. At 100 TB
    this is the right plan only when the predicate is very selective
    AND pushed to the corpus scan — which it is here (a codegen'd
    integer filter ahead of the matmul kernel)."""
    corpus = s.where(_mb_col() < F.lit(mb_lt))
    scored = V.matmul_scores(corpus, q_pdf).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(scored, 5)


def _ivfpq_filtered_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    nprobe: int = 4,
    mb_lt: int = _FILTER_MB_LT,
    r: int = _RERANK_R,
) -> str:
    """Filtered-probe twin: the ADC chain with (a) the probe width
    scaled by exact selectivity — integer ceil-division, LEAST-clamped
    to nlist, the same arithmetic the Spark side runs on the staged
    histogram — and (b) the predicate applied to candidates INSIDE the
    probed-cell join; then the refine tail (top-r ADC candidates
    re-scored exactly, final top-5) — the _ivfpq_rerank_sql shape."""
    match = f"(SELECT COUNT(*) FROM acell WHERE {_mb_sql('vec_id')} < {mb_lt})"
    limit = (
        f"LEAST((SELECT COUNT(*) FROM cent), "
        f"(({nprobe} * (SELECT COUNT(*) FROM acell)) + {match} - 1) // {match})"
    )
    pred = f"{_mb_sql('ac.vec_id')} < {mb_lt}"
    return f"""{_ivfpq_adc_ranked(src, qwhere, nprobe, cand_where=pred, nprobe_sql=limit)}, cand AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= {r}
), q2 AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), rescored AS (
  SELECT c.query_id, c.neighbor_id,
         {_sql_dot('q2.qe', 'n.embedding')} / (q2.qn * n.nrm) AS cos_sim
  FROM cand c
  JOIN q2 ON q2.query_id = c.query_id
  JOIN s n ON n.vec_id = c.neighbor_id
), rranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM rescored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM rranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _mb_stats(spark: SparkSession, sf_dir: str, codes_path: str, tag: str):
    """The index's staged per-bucket count histogram (mb -> n): the
    BOUNDED index statistic the filtered probe scales its width from —
    built once per corpus snapshot alongside the codes stage (one
    column-pruned pass over the codes table's mb column; in production
    it is maintained at encode time like the books)."""
    from etly_spark.io.staging import stage_table

    return stage_table(
        spark,
        f"ivfpq-mbstats:{sf_dir}:{tag}",
        lambda: spark.read.parquet(codes_path)
        .groupBy("mb")
        .agg(F.count(F.lit(1)).alias("n")),
        deps=[os.path.join(sf_dir, "embeddings.parquet")],
    )


def sim_ivfpq_filtered(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
    q_pdf=None,
    nprobe: int = NPROBE_IVF,
    mb_lt: int = _FILTER_MB_LT,
    refine_k: int = _RERANK_R,
) -> DataFrame:
    """Metadata-filtered ANN over the staged IVFPQ index (r14 — the
    filtered-search mode every production vector index exposes): the
    predicate reaches the codes scan as a pushed filter COMPOSED with
    the probed-cell IN/partition filter, the probe width scales by the
    measured selectivity (nprobe_f = min(nlist, ceil(nprobe/sel)) from
    the staged mb histogram — integer arithmetic mirrored by the
    oracle), ADC scores the matching candidates, and the exact refine
    rung re-ranks the top-refine_k before the final top-5. Cost at
    100 TB: nprobe_f/nlist of the codes-sized index read with BOTH
    filters pruning (partition dirs by cell, row groups by mb), plus
    the refine's bounded point-fetch — never a corpus scan, never a
    post-filtered recall collapse. An empty predicate bucket fails
    loudly (the Transfer.validate philosophy)."""
    asn, cb_path, cent_pdf, tag = _ivfpq_index(spark, sf_dir, s, corpus_tag)
    codes_path = _ivfpq_codes_path(spark, sf_dir, asn, cb_path, tag)
    hist = {
        int(r["mb"]): int(r["n"])
        for r in _mb_stats(spark, sf_dir, codes_path, tag).collect()
    }
    total = sum(hist.values())
    matching = sum(n for b, n in hist.items() if b < mb_lt)
    if matching == 0:
        raise ValueError(
            f"filtered ANN: predicate mb < {mb_lt} matches no indexed "
            "vector — an empty filter bucket answers nothing; widen "
            "the predicate or check the metadata column"
        )
    nlist = len(cent_pdf)
    nprobe_f = min(nlist, (nprobe * total + matching - 1) // matching)
    nsrc = (
        s
        if s is not None
        else scoped_persist(
            _normed(load_table(spark, sf_dir, "embeddings")), eager=False
        )
    )
    if q_pdf is None:
        q_pdf = _query_pdf(nsrc, qwhere)
    pairs = V.probe_cells(q_pdf, cent_pdf, nprobe_f)
    probed = sorted({int(c) for _q, c in pairs})
    cand = (
        spark.read.parquet(codes_path)
        .where(F.col("cell").isin(probed))
        .where(F.col("mb") < F.lit(mb_lt))
        .select("vec_id", "cell", "codes")
    )
    scored = V.ivfpq_adc_scores(cand, cb_path, q_pdf, pairs, m=_PQ_M).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _exact_refine(spark, scored, refine_k, nsrc, q_pdf)


# ------------------------------------------------------------ radius
# Range search (r14 — verdict item 6): "all neighbors with cos >= tau",
# the second standard index mode (FAISS range_search) — dedup-by-
# threshold at query time. Rides the SAME staged ADC scores with a
# threshold cut instead of a top-k: ADC survivors above tau - margin
# (the margin absorbs PQ quantization error, the over-fetch knob) are
# re-scored EXACTLY (the refine rung's point-fetch), and the answer is
# every pair with exact cos >= tau, ranked per query. Result size is
# density-bounded, not k-bounded — the driver-side candidate list is
# proportional to the answer, the same contract as the refine rung.
# Gated on the CLUSTERED fixture (tau = 0.7 recovers each query's
# planted 16-cluster; i.i.d. cosines concentrate near 0, making iid
# radius results SF-dependent noise).
_RADIUS_TAU = 0.7
_RADIUS_MARGIN = 0.15
# computed ONCE and baked into both engines via repr(): 0.7 - 0.15 is
# NOT the double 0.55, and each side re-deriving it could disagree
_RADIUS_ADC_THR = _RADIUS_TAU - _RADIUS_MARGIN


def _bf_radius_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    tau: float = _RADIUS_TAU,
) -> str:
    """Exact threshold-brute twin: every corpus pair with cos >= tau,
    ranked per query (the radius-search ground truth)."""
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM {src}
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), scored AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         {_sql_dot('q.qe', 's.embedding')} / (q.qn * s.nrm) AS cos_sim
  FROM q JOIN s ON s.vec_id <> q.query_id
), hits AS (
  SELECT * FROM scored WHERE cos_sim >= {tau!r}
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank,
       round(cos_sim, 6) AS cos_sim
FROM hits
ORDER BY query_id, rank
"""


def sim_brute_radius(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame,
    q_pdf,
    tau: float = _RADIUS_TAU,
) -> DataFrame:
    """Exact radius search (threshold brute — the ground-truth baseline
    and the density-accounting base for ivfpq_radius): one corpus scan,
    keep every pair with cos >= tau. The threshold compares the
    kernel's score against the same double literal the oracle uses;
    the gated fixture's cosines sit far from tau (~0.94 in-cluster,
    ~0 cross-cluster), so the cut is float-robust."""
    scored = V.matmul_scores(s, q_pdf).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    hits = scored.filter(F.col("cos_sim") >= F.lit(tau))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def _ivfpq_radius_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    nprobe: int = 4,
    adc_thr: float = _RADIUS_ADC_THR,
    tau: float = _RADIUS_TAU,
) -> str:
    """Radius twin: the ADC chain cut on score >= adc_thr (the margin
    over-fetch), survivors re-scored exactly, final cut at tau, ranked
    per query — mirrors sim_ivfpq_radius's plan exactly."""
    return f"""{_ivfpq_adc_ranked(src, qwhere, nprobe)}, cand AS (
  SELECT query_id, neighbor_id FROM ranked WHERE cos_sim >= {adc_thr!r}
), q2 AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM s WHERE {qwhere}
), rescored AS (
  SELECT c.query_id, c.neighbor_id,
         {_sql_dot('q2.qe', 'n.embedding')} / (q2.qn * n.nrm) AS cos_sim
  FROM cand c
  JOIN q2 ON q2.query_id = c.query_id
  JOIN s n ON n.vec_id = c.neighbor_id
), hits AS (
  SELECT * FROM rescored WHERE cos_sim >= {tau!r}
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank,
       round(cos_sim, 6) AS cos_sim
FROM hits
ORDER BY query_id, rank
"""


# Below this survivor count the radius rung point-fetches candidate
# vectors via a pushed IN filter (bounded driver roundtrip, prunes the
# store read); above it the driver roundtrip IS the bottleneck (the 1M
# tau=0.7 probe spent most of its 230 s collecting ~700k pairs) and
# the rung switches to a fully-distributed rescore join — one shuffle
# of the density-sized survivor set against the vector store, nothing
# density-sized on the driver. Same exact-cosine arithmetic either
# way (the einsum pair scorer), so results are identical by plan.
_RADIUS_COLLECT_CAP = 65536


def _exact_threshold(
    spark: SparkSession,
    scored: DataFrame,
    adc_thr: float,
    tau: float,
    src: DataFrame,
    q_pdf,
) -> DataFrame:
    """The radius rung: cut the approximate ``scored`` frame at
    score >= adc_thr (over-fetch below tau by the quantization
    margin), re-score the survivors exactly against the raw vector
    store, and keep every pair with exact cos >= tau, ranked per
    query. Survivor sets up to _RADIUS_COLLECT_CAP take the refine
    rung's bounded point-fetch (pushed IN filter — the store read is
    pruned to the candidates); denser sets take a distributed rescore
    join so the driver never holds a density-sized list."""
    surv = scoped_persist(
        scored.filter(F.col("cos_sim") >= F.lit(adc_thr)).select(
            "query_id", "neighbor_id"
        ),
        eager=False,
    )
    n_surv = surv.count()
    if n_surv == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cos_sim double"
        )
    if n_surv <= _RADIUS_COLLECT_CAP:
        cand_pairs = [
            (int(r.query_id), int(r.neighbor_id)) for r in surv.collect()
        ]
        rescored = _rescore_pairs(spark, cand_pairs, src, q_pdf)
    else:
        # distributed path: broadcast the tiny query panel, shuffle-join
        # the survivor pairs against the store. The fail-loud coverage
        # check becomes a distributed anti-join count (still bounded
        # output — one long).
        missing = (
            surv.join(src, surv.neighbor_id == src.vec_id, "left_anti").count()
        )
        if missing:
            raise ValueError(
                f"refine source is missing {missing} candidate vector(s) "
                "(stale or partial vector store)"
            )
        q = spark.createDataFrame(q_pdf)
        rescored = (
            surv.join(F.broadcast(q), "query_id")
            .join(src, src.vec_id == F.col("neighbor_id"))
            .select("query_id", "neighbor_id", _cos_pair().alias("cos_sim"))
        )
    hits = rescored.filter(F.col("cos_sim") >= F.lit(tau))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def sim_ivfpq_radius(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
    q_pdf=None,
    nprobe: int = NPROBE_IVF,
    tau: float = _RADIUS_TAU,
    adc_thr: float = _RADIUS_ADC_THR,
) -> DataFrame:
    """Radius (range) search over the staged IVFPQ index (r14): every
    neighbor with exact cos >= tau, found by thresholding the SAME
    staged ADC probe the top-k path uses (candidates from the probed
    cells' codes, scores from the gated ADC kernel) at tau - margin,
    then exact-rescoring the survivors (the refine rung's bounded
    point-fetch) and cutting at tau. Cost at 100 TB: identical to the
    ADC probe (nprobe/nlist of a codes-sized index) + point lookups
    proportional to the RESULT density — the radius answer itself —
    so the rung stays bounded exactly when the query is sane."""
    scored, (nsrc, q_pdf) = _ivfpq_adc_scored(
        spark, sf_dir, s, qwhere, corpus_tag, q_pdf, nprobe
    )
    return _exact_threshold(spark, scored, adc_thr, tau, nsrc, q_pdf)


def sim_ivfpq_probe(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame | None = None,
    qwhere: str = "vec_id < 8",
    corpus_tag: str | None = None,
    q_pdf=None,
    nprobe: int = NPROBE_IVF,
) -> DataFrame:
    """The PRODUCTION IVFPQ query shape (r12 — verdict item 1, the
    FAISS IVFPQ search plan): the full-scan sim_ivfpq reconstructs and
    brute-scores the ENTIRE corpus — right for the compression-recall
    gate, wrong at 100 TB where the whole point of the index is to
    touch nprobe/nlist of it. Here:

    - the per-cell codebook AND the codes table (vec_id, cell, codes —
      r13: one 2m-byte packed binary of uint16 dense slots per vector,
      the actual index payload; 16x smaller than the float32 corpus)
      are STAGED parquet artifacts, built once per process
      (_ivfpq_index shares the codebook stage key with sim_ivfpq);
    - each RAW query (asymmetric distance: the query is in hand, only
      the database lives as codes) probes its ``nprobe`` most
      cosine-similar coarse cells (probe_cells — bounded driver numpy,
      the IVF probe contract);
    - ONLY the probed cells' codes are scanned (a codegen'd IN filter
      on the staged parquet — partition-prunable at scale), decoded by
      gathering codebook slices (ivfpq_decode — pure indexing, no
      scoring pass), and scored against the probing queries through
      the same broadcast-join + einsum plan as _probe_ivf_index.

    Probe cost per query is nprobe/nlist of the corpus vs the full
    reconstruct+scan; the oracle (_ivfpq_probe_sql) mirrors cell
    probing, code assignment and reconstruction exactly, so the gated
    rows prove the staged-codes round trip bit-for-bit."""
    asn, cb_path, cent_pdf, tag = _ivfpq_index(spark, sf_dir, s, corpus_tag)
    codes_path = _ivfpq_codes_path(spark, sf_dir, asn, cb_path, tag)
    if q_pdf is None:
        nsrc = (
            s
            if s is not None
            else scoped_persist(
                _normed(load_table(spark, sf_dir, "embeddings")), eager=False
            )
        )
        q_pdf = _query_pdf(nsrc, qwhere)
    pairs = V.probe_cells(q_pdf, cent_pdf, nprobe)
    probes = spark.createDataFrame(pairs, "query_id long, pcell long")
    q = spark.createDataFrame(q_pdf)
    # the probed-cell filter reaches the staged parquet scan as a
    # pushed IN predicate — the scan reads nprobe-cells' codes, not
    # the corpus (partition pruning once the codes table is
    # cell-partitioned on a cluster FS)
    probed = sorted({int(c) for _q, c in pairs})
    cand = spark.read.parquet(codes_path).where(F.col("cell").isin(probed))
    rs = V.ivfpq_decode(cand, cb_path, m=_PQ_M).withColumn(
        "nrm", V.l2_norm_pd(F.col("embedding"))
    )
    scored = (
        F.broadcast(probes)
        .join(F.broadcast(q), "query_id")
        .join(rs, (F.col("cell") == F.col("pcell")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _cos_pair().alias("cos_sim"))
    )
    return _topk(scored, 5)


# Incremental IVFPQ (r13 — verdict item 1, the real FAISS maintenance
# shape): r11's ivf_inc proved append-only IVF maintenance but its
# postings store FULL-PRECISION embeddings (~512 B/vector — at 100 TB
# the maintenance index IS the corpus), while r12's codes payload
# existed only for the statically-built index. Here BOTH freeze on the
# first arrival shard — the coarse quantizer AND the per-cell PQ
# codebooks — and every later shard folds in as that epoch's own
# (vec_id, cell, codes) partition: assign the shard against the frozen
# centroids, encode it against its cells' frozen books (one Arrow pass
# over the shard only — O(shard) per arrival), append. Queries probe
# RAW (asymmetric distance) and score candidates via the gated ADC
# kernel over codes — no reconstruction, postings are codes-sized
# (2m+16 B/vector vs d float32s). Deletions stay tombstone partitions;
# compaction/purge run over the codes table unchanged (the payload is
# opaque to both). The oracle computes the BATCH two-stage build —
# frozen shard-0 quantizer + frozen shard-0 per-cell codebooks, encode
# the union, ADC-score minus deletions — so hash equality proves the
# fold-by-fold index answers exactly like the batch build it implies.


def _ivfpq_inc_sql(
    src: str = "embeddings",
    qwhere: str = "vec_id < 8",
    cent_where: str = "TRUE",
    del_where: str = "FALSE",
    nprobe: int = 4,
) -> str:
    """Batch twin of the incremental IVFPQ index: coarse quantizer
    frozen on ``cent_where`` (the first arrival shard, nlist sized for
    the anticipated index), per-cell PQ codebooks selected AT THE
    ENCODE RUNG from every row it encodes (k_c =
    clamp(8*sqrt(cell_n), 16, 1024) over the full cell — the static
    rule; a book restricted to the freeze shard's rows was measured at
    recall 0.575 vs 0.925 at 1M, STRESS.md r13), the union encoded
    against those books, raw queries probing ``nprobe`` cells, ADC
    ordered-fold scoring (the _ivfpq_adc_sql float contract),
    deletions dropped from candidates and queries. This is exactly
    what fold-raw-epochs + encode_ivfpq_postings produces when one
    encode rung covers every fold (the gated flow)."""
    kc = _IVFPQ_KC_SQL.format(n="cn_")
    # nlist ALSO sizes for the anticipated index (r13, measured): a
    # maintenance quantizer frozen at the ivf_inc 32-cell shape held
    # 32*1024 codewords at 1M where the static build holds 125*715 —
    # recall 0.55 vs 0.925. shard0_n * epochs is the freeze-time
    # estimate of the finished corpus; at the gated SFs the rule still
    # clamps to 32, so the gate shape is unchanged.
    nlist = (
        "LEAST(1024, GREATEST(32, CAST(FLOOR(sqrt(CAST(COUNT(*) "
        f"* {_IVFINC_EPOCHS} AS DOUBLE)) / 8.0) AS BIGINT)))"
    )
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_SQL_NRM} AS nrm FROM {src}
), cent AS (
  SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM s
  WHERE {cent_where}
  ORDER BY {_CENT_HASH_SQL}, vec_id
  LIMIT (SELECT {nlist} FROM s WHERE {cent_where})
), acell AS MATERIALIZED (
  SELECT vec_id, embedding, cell FROM (
    SELECT s.vec_id, s.embedding, c.cent_id AS cell,
           row_number() OVER (PARTITION BY s.vec_id
               ORDER BY CASE WHEN s.nrm * c.cn = 0 THEN -2.0
                    ELSE {_sql_dot('s.embedding', 'c.ce')} / (s.nrm * c.cn) END DESC,
                        c.cent_id) AS rn
    FROM s CROSS JOIN cent c) WHERE rn = 1
), cb AS MATERIALIZED (
  -- encode-rung books: hash-selected from EVERY row the rung encodes
  -- (deleted rows included — tombstones arrive after the encode)
  SELECT cell, vec_id AS cb_id, embedding AS ce FROM (
    SELECT a.vec_id, a.embedding, a.cell,
           row_number() OVER (PARTITION BY a.cell
               ORDER BY {_CENT_HASH_SQL}, a.vec_id) AS crn,
           COUNT(*) OVER (PARTITION BY a.cell) AS cn_
    FROM acell a)
  WHERE crn <= {kc}
), subs AS (
  SELECT a.vec_id, a.cell, g.m,
         a.embedding[g.m*{_PQ_SUB}+1 : g.m*{_PQ_SUB}+{_PQ_SUB}] AS xs
  FROM acell a CROSS JOIN generate_series(0, {_PQ_M - 1}) g(m)
), subc AS MATERIALIZED (
  SELECT cell, cb_id, m, ce[m*{_PQ_SUB}+1 : m*{_PQ_SUB}+{_PQ_SUB}] AS cs
  FROM cb CROSS JOIN generate_series(0, {_PQ_M - 1}) g(m)
), sc AS (
  SELECT vec_id, m, cb_id,
         CASE WHEN sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')}) = 0
              THEN -2.0
              ELSE {_sql_dot('xs', 'cs')}
                / (sqrt({_sql_dot('xs', 'xs')}) * sqrt({_sql_dot('cs', 'cs')})) END AS cos
  FROM subs JOIN subc USING (cell, m)
), best AS (
  SELECT vec_id, m, MAX(cos) AS bc FROM sc GROUP BY vec_id, m
), asn AS MATERIALIZED (
  SELECT sc.vec_id, sc.m, MIN(sc.cb_id) AS cb_id
  FROM sc JOIN best ON best.vec_id = sc.vec_id AND best.m = sc.m
                   AND sc.cos = best.bc
  GROUP BY sc.vec_id, sc.m
), cand AS (
  -- tombstoned vectors leave the candidate set; their codes
  -- partitions are never rewritten
  SELECT vec_id, cell FROM acell WHERE NOT ({del_where})
), qp AS (
  SELECT s.vec_id AS query_id, s.embedding AS qe, s.nrm AS qn,
         c.cent_id AS pcell,
         row_number() OVER (PARTITION BY s.vec_id
             ORDER BY CASE WHEN s.nrm * c.cn = 0 THEN -2.0
                  ELSE {_sql_dot('s.embedding', 'c.ce')} / (s.nrm * c.cn) END DESC,
                      c.cent_id) AS prn
  FROM s CROSS JOIN cent c
  WHERE ({qwhere}) AND NOT ({del_where})
), probes AS (
  SELECT query_id, qe, qn, pcell FROM qp WHERE prn <= {nprobe}
), permdot AS (
  SELECT p.query_id, p.qn, a.vec_id, a.m,
         {_sql_dot(f'(p.qe[a.m*{_PQ_SUB}+1 : a.m*{_PQ_SUB}+{_PQ_SUB}])', 'c.cs')} AS dm,
         {_sql_dot('c.cs', 'c.cs')} AS nm2
  FROM probes p
  JOIN cand ac ON ac.cell = p.pcell AND ac.vec_id <> p.query_id
  JOIN asn a ON a.vec_id = ac.vec_id
  JOIN subc c ON c.cell = ac.cell AND c.m = a.m AND c.cb_id = a.cb_id
), scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         CASE WHEN qn * sqrt(list_reduce([0.0::DOUBLE] || list(nm2 ORDER BY m),
                                         (x,y) -> x + y)) = 0
              THEN -2.0
              ELSE list_reduce([0.0::DOUBLE] || list(dm ORDER BY m), (x,y) -> x + y)
                   / (qn * sqrt(list_reduce([0.0::DOUBLE] || list(nm2 ORDER BY m),
                                            (x,y) -> x + y))) END AS cos_sim
  FROM permdot
  GROUP BY query_id, qn, vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


_IVFPQINC_SQL = _ivfpq_inc_sql(
    cent_where=f"vec_id % {_IVFINC_EPOCHS} = 0", del_where=_IVFINC_DEL
)


def fold_ivfpq_epoch(
    shard: DataFrame,
    cent_pdf,
    postings_dir: str,
    epoch: int,
    splits_dir: str | None = None,
) -> None:
    """Fold ONE arriving embedding shard into the ivfpq_inc index:
    a RAW append — identical to fold_ivf_epoch (assign against the
    frozen quantizer, route through any committed splits, write the
    epoch partition with vectors). The r13 redesign: folds are the
    WRITE BUFFER of an LSM-shaped index — O(shard), no encode — and
    quantization happens at the offline encode rung
    (encode_ivfpq_postings), where the per-cell books can be selected
    from EVERY row being encoded. The first design encoded at fold
    time against books frozen from shard 0 alone and measured recall
    0.575 vs the static path's 0.925 at 1M (STRESS.md r13): codeword
    fidelity comes from slice-variant density, and a 1/epochs sample
    simply does not carry it. Until a row is encoded it is served by
    the probe's exact-scoring raw path (better recall than codes —
    the buffer is small by the compaction contract)."""
    fold_ivf_epoch(shard, cent_pdf, postings_dir, epoch, splits_dir=splits_dir)


def _book_state(index_dir: str):
    """(books path, cache token, per-cell current sizes, next batch id)
    for the index's append-only ``codebooks/batch=N`` table. Token =
    the batch listing (the assign_nearest_grouped cache contract)."""
    import glob as _glob

    cb_dir = os.path.join(index_dir, "codebooks")
    batches = sorted(
        _glob.glob(os.path.join(cb_dir, "batch=*")),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )
    sizes: dict[int, int] = {}
    for b in batches:
        pdf = V._read_parquet_dir(b)
        for c in pdf["cell"]:
            sizes[int(c)] = sizes.get(int(c), 0) + 1
    token = "|".join(os.path.basename(b) for b in batches)
    nxt = (int(batches[-1].rsplit("=", 1)[1]) + 1) if batches else 0
    return cb_dir, token, sizes, nxt


def _leaf_root_map(splits_dir: str | None) -> dict:
    """{leaf or intermediate cell -> gen-0 ROOT cell} from the splits
    chain (bounded driver work over the splits table). Cells not in
    the map are their own root."""
    parents, _tok = _splits_state(splits_dir) if splits_dir else ([], "")
    if not parents:
        return {}
    pdf = V._read_parquet_dir(splits_dir)
    up = {int(c): int(p) for p, c in zip(pdf["parent"], pdf["cent_id"])}
    root: dict[int, int] = {}
    for c in up:
        r = c
        while r in up:
            r = up[r]
        root[c] = r
    return root


def encode_ivfpq_postings(spark: SparkSession, index_dir: str) -> dict:
    """The OFFLINE ENCODE RUNG (r13 — the LSM merge step): quantize the
    index's loose RAW epoch partitions into one never-rewritten codes
    segment (``epoch=_codes-N``), topping up the append-only per-cell
    books first from the very rows being encoded:

    - per gen-0 root cell, target k_c = clamp(8*sqrt(live cell rows),
      16, 1024) — the static rule over the CURRENT corpus, so the
      first encode (covering everything folded so far) selects books
      statistically identical to a static build's (recall parity
      measured at 1M, STRESS.md r13), and later encodes GROW the books
      from their own batches as the corpus grows;
    - book appends are slot-stable (``codebooks/batch=N`` dirs; slot
      order = batch-major, cb_id within batch — functions/vector.
      _staged_books), so codes written against an earlier book state
      stay valid forever;
    - the segment commits with one rename carrying a content-marker
      manifest of the raw dirs it absorbed, which readers stop seeing
      at that instant (io/compact.py);
    - cost is O(rows encoded) per run — the compaction amortization,
      never O(index).

    Offline contract like compact/purge: NO active writer. Returns
    {"encoded_rows", "book_rows_added", "segments", "raw_dirs"}."""
    from etly_spark.operators.prefix import banded_row_number

    post = os.path.join(index_dir, "postings")
    raw_dirs = [d for d in live_partitions(post, "epoch") if not d.startswith("epoch=_")]
    if not raw_dirs:
        return {"encoded_rows": 0, "book_rows_added": 0, "segments": 0,
                "raw_dirs": 0}
    raws = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(post, d) for d in raw_dirs]
    )
    if "parent" not in raws.columns:
        raws = raws.withColumn("parent", F.lit(None).cast("long"))
    splits_dir = os.path.join(index_dir, "quantizer_splits")
    roots = _leaf_root_map(splits_dir)
    root_col = (
        F.coalesce(
            *(
                [F.create_map([F.lit(x) for kv in roots.items() for x in kv])[
                    F.col("cent_id")
                ]]
                if roots
                else []
            ),
            F.col("cent_id"),
        )
        if roots
        else F.col("cent_id")
    )
    base = scoped_persist(
        raws.select(
            "vec_id", "embedding", "nrm",
            F.col("cent_id").alias("_leaf"),
            root_col.alias("_root"),
        ),
        eager=False,
    )
    # --- book top-up: target from CURRENT live rows per root (coded
    # rows counted too — the target tracks the whole index, the quota
    # is what this batch may add)
    cb_dir, token, have, nxt = _book_state(index_dir)
    live = read_live(spark, post, "epoch", merge_schema=True)
    if "parent" not in live.columns:
        live = live.withColumn("parent", F.lit(None).cast("long"))
    parents, _tok = _splits_state(splits_dir)
    if parents:
        live = live.where(~F.col("cent_id").isin(parents))
    lr = {int(k): int(v) for k, v in roots.items()}
    root_of = lambda c: lr.get(int(c), int(c))  # noqa: E731
    sizes: dict[int, int] = {}
    for r in live.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n")).collect():
        rc = root_of(r["cent_id"])
        sizes[rc] = sizes.get(rc, 0) + int(r["n"])
    import math

    quota = {
        c: max(0, min(1024, max(16, int(math.floor(8.0 * math.sqrt(n_))))) - have.get(c, 0))
        for c, n_ in sizes.items()
    }
    quota = {c: q for c, q in quota.items() if q > 0}
    added = 0
    if quota:
        kh = ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
            4294967296
        )
        ranked = banded_row_number(
            base.withColumn("_kh", kh),
            ["_root"],
            F.floor(F.col("_kh") / F.lit(2097152)),
            [F.col("_kh"), F.col("vec_id")],
            "_crn",
        )
        qmap = spark.createDataFrame(sorted(quota.items()), "_qc long, _q long")
        batch_df = (
            ranked.join(F.broadcast(qmap), ranked._root == qmap._qc)
            .where(F.col("_crn") <= F.col("_q"))
            .select(
                F.col("_root").alias("cell"),
                F.col("vec_id").alias("cb_id"),
                F.col("embedding").alias("ce"),
            )
        )
        bdir = publish_dir(
            os.path.join(cb_dir, f"batch={nxt}"),
            lambda tmp: batch_df.coalesce(1).write.parquet(tmp),
        )
        added = spark.read.parquet(bdir).count()
        _cb, token, _have, _nxt = _book_state(index_dir)

    # --- encode the raw rows against the full current book state
    codes = V.ivfpq_codes(
        base, cb_dir, m=_PQ_M, cell_col="_root", keep=("_leaf",), cb_token=token
    ).select("vec_id", F.col("_leaf").alias("cent_id"), "codes")
    seg = commit_segment(
        post,
        "epoch",
        lambda tmp: codes.sortWithinPartitions("cent_id").write.parquet(tmp),
        raw_dirs,
        kind="_codes",
    )
    return {
        "encoded_rows": spark.read.parquet(seg).count(),
        "book_rows_added": added,
        "segments": sum(
            d.startswith("epoch=_codes-") for d in live_partitions(post, "epoch")
        ),
        "raw_dirs": len(raw_dirs),
    }


def ivfpq_inc_index(spark: SparkSession, sf_dir: str) -> str:
    """The incrementally-maintained IVFPQ index for ``sf_dir`` (staged
    once per process, the ivf_inc_index contract): ``quantizer/`` (the
    frozen shard-0 coarse centroids, nlist sized for the ANTICIPATED
    index — shard0_n * epochs), raw epochs folded O(shard) as the
    write buffer (fold_ivfpq_epoch), then ONE encode rung
    (encode_ivfpq_postings) quantizes them into a codes segment with
    books selected from the full folded pool, and a deletion batch
    lands as a tombstone partition. The steady-state payload is
    ``codebooks/batch=N`` + ``postings/epoch=_codes-N`` — codes-sized,
    not corpus-sized."""
    from etly_spark.io.staging import stage_dir

    def build(tmp: str) -> None:
        s = _normed(load_table(spark, sf_dir, "embeddings"))
        shard0 = s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0)
        nlist = _ivfpq_cells(shard0.count() * _IVFINC_EPOCHS)
        centroid_plan(shard0, k=nlist).write.parquet(os.path.join(tmp, "quantizer"))
        cent_pdf = V._staged_pdf(os.path.join(tmp, "quantizer"))
        for e in range(_IVFINC_EPOCHS):
            fold_ivfpq_epoch(
                s.where(F.col("vec_id") % _IVFINC_EPOCHS == e),
                cent_pdf,
                os.path.join(tmp, "postings"),
                e,
            )
        encode_ivfpq_postings(spark, tmp)
        fold_ivf_tombstones(
            s.where(F.expr(_IVFINC_DEL)), os.path.join(tmp, "tombstones"), 0
        )

    return stage_dir(
        "ivfpq-inc", [os.path.join(sf_dir, "embeddings.parquet")], build
    )


def _probe_ivfpq_index(
    spark: SparkSession,
    d: str,
    q_pdf,
    nprobe: int = NPROBE_IVF,
    refine_k: int | None = None,
    refine_src: DataFrame | None = None,
) -> DataFrame:
    """Query an ivfpq_inc-shaped index (quantizer/ + codebooks/ +
    postings with codes segments and possibly a raw write buffer
    [+ tombstones/ + quantizer_splits/]): raw queries (``q_pdf`` — the
    caller owns the queries-are-not-deleted invariant) probe their
    ``nprobe`` nearest frozen cells (split nodes expand recursively to
    live leaves), tombstones broadcast-anti-join out, and candidates
    score on a TWO-PAYLOAD union: coded rows via the gated ADC kernel
    against their gen-0 root's book, raw buffer rows via the exact
    einsum pair scorer — the LSM read path (quantized segments + an
    exactly-scored memtable).

    ``refine_k`` + ``refine_src`` (r13) add the exact re-rank rung over
    the MAINTENANCE index: top-refine_k merged candidates (codes + raw
    buffer, post-tombstone, post-split) are re-scored against their raw
    vectors in ``refine_src`` — the source-of-truth vector store; the
    LSM postings deliberately do NOT carry raw embeddings for coded
    rows, that being the whole codes-sized-index point. Same
    _exact_refine rung as the static index's sim_ivfpq_rerank."""
    cent_pdf = V._staged_pdf(os.path.join(d, "quantizer"))
    pairs = V.probe_cells(q_pdf, cent_pdf, nprobe)
    splits_dir = os.path.join(d, "quantizer_splits")
    parents, _token = _splits_state(splits_dir)
    posts = read_live(spark, os.path.join(d, "postings"), "epoch", merge_schema=True)
    if parents:
        splits_pdf = V._read_parquet_dir(splits_dir)
        triples = _expand_probes(q_pdf, pairs, splits_pdf, set(parents), nprobe)
        leaf_pairs = [(qid, leaf) for qid, _par, leaf in triples]
        posts = posts.where(~F.col("cent_id").isin(parents))
    else:
        leaf_pairs = [(int(q), int(c)) for q, c in pairs]
    probed = sorted({leaf for _q, leaf in leaf_pairs})
    cand = posts.where(F.col("cent_id").isin(probed))
    tomb_dir = os.path.join(d, "tombstones")
    if live_partitions(tomb_dir, "epoch"):
        cand = cand.join(
            F.broadcast(read_live(spark, tomb_dir, "epoch").select("vec_id")),
            "vec_id",
            "left_anti",
        )
    cand = scoped_persist(cand, eager=False)
    has_codes = "codes" in cand.columns
    has_raw = "embedding" in cand.columns
    roots = _leaf_root_map(splits_dir)
    parts = []
    cb_dir, token, _have, _nxt = _book_state(d)
    if has_codes:
        coded = cand.where(F.col("codes").isNotNull()).select(
            "vec_id", "cent_id", "codes"
        )
        if roots:
            rmap = F.create_map([F.lit(x) for kv in roots.items() for x in kv])
            coded = coded.withColumn(
                "_book", F.coalesce(rmap[F.col("cent_id")], F.col("cent_id"))
            )
        else:
            coded = coded.withColumn("_book", F.col("cent_id"))
        parts.append(
            V.ivfpq_adc_scores(
                coded, cb_dir, q_pdf, leaf_pairs, m=_PQ_M,
                cell_col="cent_id", book_col="_book", cb_token=token,
            )
        )
    if has_raw:
        raw = cand.where(
            F.col("codes").isNull() if has_codes else F.lit(True)
        ).select("vec_id", "embedding", "nrm", "cent_id")
        probes = spark.createDataFrame(leaf_pairs, "query_id long, qcent long")
        q = spark.createDataFrame(q_pdf)
        parts.append(
            F.broadcast(probes)
            .join(F.broadcast(q), "query_id")
            .join(
                raw,
                (F.col("cent_id") == F.col("qcent"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                _cos_pair().alias("cos_sim"),
            )
        )
    scored = parts[0]
    for p_ in parts[1:]:
        scored = scored.unionByName(p_)
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    if refine_k:
        if refine_src is None:
            raise ValueError("refine_k requires refine_src (the raw vector store)")
        return _exact_refine(spark, scored, refine_k, refine_src, q_pdf)
    return _topk(scored, 5)


def sim_ivfpq_inc(
    spark: SparkSession, sf_dir: str, qwhere: str = "vec_id < 8", q_pdf=None
) -> DataFrame:
    """Query the incrementally-maintained IVFPQ index (r13): raw
    O(shard) folds as the write buffer, books selected at the offline
    encode rung from the full folded pool (static recall parity —
    measured at 1M), packed codes probed via the gated ADC kernel,
    tombstones anti-joined. Gated hash-identical to the oracle's batch
    two-stage build-minus-deletes (_ivfpq_inc_sql), proving the
    fold-then-encode maintenance loses nothing vs the batch index."""
    d = ivfpq_inc_index(spark, sf_dir)
    if q_pdf is None:
        # queries stay RAW (asymmetric ADC) — from the corpus, not the
        # index; the gated qwhere is disjoint from _IVFINC_DEL by
        # construction (deleted vectors are not queries)
        q_pdf = _query_pdf(
            _normed(load_table(spark, sf_dir, "embeddings")), qwhere
        )
    return _probe_ivfpq_index(spark, d, q_pdf)


TOP5, RADIUS = "top5", "radius"  # recall kinds


def _recall_sql(tag: str, approx_sql: str, base_sql: str, kind: str = TOP5) -> str:
    """Recall accounting row: per query, how many of the exact base's
    neighbors the approximate method recovered. neighbor_id carries the
    hit count, rank the denominator (k for top-5; the TRUE tau-neighbor
    count for radius, which has no fixed k), cos_sim the fraction
    (schema reuse keeps the union uniform under the 50-entry registry
    cap)."""
    rank, den = (
        ("5", "5.0")
        if kind == TOP5
        else ("CAST(COUNT(*) AS INTEGER)", "CAST(COUNT(*) AS DOUBLE)")
    )
    return f"""
SELECT 'recall_{tag}' AS method, query_id,
       CAST(COUNT(hit) AS BIGINT) AS neighbor_id,
       {rank} AS rank,
       round(COUNT(hit) / {den}, 6) AS cos_sim
FROM (
  SELECT b.query_id, a.neighbor_id AS hit
  FROM ({base_sql}) b
  LEFT JOIN ({approx_sql}) a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
) GROUP BY query_id
"""


# ------------------------------------------------------------ clustered
# Planted-cluster recall fixture (r9 — verdict item 2). The corpus's
# i.i.d. random embeddings are the ANN *worst case* (no structure for a
# bucketing method to exploit), so the r8 recall rows certified LSH/IVF
# against a regime users never run them in. This fixture derives a
# mixture-of-clusters corpus deterministically from vec_id with
# INTEGER-only arithmetic, so both engines produce bit-identical
# vectors by construction: vectors come in planted clusters of 16
# (anchor id = vec_id - vec_id % 16); component j = anchor_j + noise_j
# with anchor_j ~ U{-1.000..+1.000 step 0.001} and noise_j ~
# U{-0.256..+0.255875 step 1/8000}, both from Lehmer-style modular
# hashes (mod-2^31 pre-reduction keeps every product < 2^63 — the
# _CENT_HASH_SQL overflow rule). The only float ops are one exact
# division and one add per component.
_QC_WHERE = "vec_id % 16 = 0 AND vec_id < 128"  # 8 queries, 8 distinct clusters

_CEMB_SQL = f"""(
  SELECT vec_id,
         list_transform(generate_series(1, {_SQ_DIM}), j ->
           (((((vec_id - vec_id % 16) % 2147483648) * 2654435761 + j * 40503)
              % 4294967296) % 2001 - 1000) / 1000.0
           + ((((vec_id % 2147483648) * 48271 + j * 9301)
              % 4294967296) % 4096 - 2048) / 8000.0
         ) AS embedding
  FROM embeddings
)"""


def clustered_embedding() -> F.Column:
    """The planted-cluster fixture vector (see _CEMB_SQL — the DuckDB
    twin is the same integer arithmetic verbatim)."""
    anchor = F.col("vec_id") - (F.col("vec_id") % 16)

    def comp(j):
        a = (
            (((anchor % 2147483648) * 2654435761 + j * 40503) % 4294967296) % 2001
            - 1000
        ) / 1000.0
        p = (
            (((F.col("vec_id") % 2147483648) * 48271 + j * 9301) % 4294967296) % 4096
            - 2048
        ) / 8000.0
        return a + p

    return F.transform(F.sequence(F.lit(1), F.lit(_SQ_DIM)), comp)


# ------------------------------------------------------------ OPQ
# Variance-balancing transform for PQ (r14 — verdict item 3). Plain PQ
# slices the vector into contiguous subspaces; when the energy
# spectrum DECAYS (PCA'd embeddings, whitened features), the first
# subspace carries almost all of the cosine's weight while its k
# codewords must jointly quantize 4 correlated high-variance dims, and
# the tail subspaces spend 15/16 of the codebook on noise. The OPQ
# family (Ge et al., "Optimized Product Quantization", CVPR 2013)
# fixes the allocation with an orthogonal transform before slicing.
# Implemented here: a data-derived PERMUTATION matrix (orthogonal,
# det ±1) that ranks dims by a one-pass energy statistic and GROUPS
# comparable-energy dims into the same subspace (energy-sorted
# contiguous allocation).
#
# Why grouping and not OPQ-P's interleaved balancing: this engine's PQ
# assigns codewords by per-slice COSINE (the metric the index serves),
# and cosine is scale-blind WITHIN a slice — a slice mixing one
# high-energy dim with three tiny ones collapses toward a ±1-D
# direction set, so codeword assignment retains almost no information
# about the dominant dim's magnitude. Measured (STRESS.md r14): on a
# monotone 1/j spectrum — where contiguous slices are already
# scale-homogeneous — snake-balanced interleaving DEGRADED recall@5
# 0.925 -> 0.825 at 20k, exactly the degeneracy this predicts; on a
# SHUFFLED spectrum (real embeddings don't arrive variance-sorted)
# plain contiguous slices are the mixed-scale case (0.850) and the
# energy-sorted grouping recovers the homogeneous layout (0.875 at
# 20k; the scale ladder is in STRESS.md). For L2-assignment PQ the
# balanced allocation is the published optimum; for cosine PQ the
# grouping IS the eigenvalue-allocation principle (allocate comparable
# eigenvalues together) applied to the right metric.
#
# The full learned rotation is deliberately NOT implemented: the
# correctness gate requires the transform to be bit-identical
# cross-engine, and a 64-dim eigendecomposition cannot be reproduced
# exactly in the DuckDB oracle (every sum would need the ordered-fold
# form over N*4096 covariance terms), while the permutation needs only
# 64 robustly-separated energy sums and integer rank arithmetic. The
# permutation is STAGED per corpus like the PQ codebook (the rotation
# artifact of a production index).
#
# The gated fixture (_AEMB_SQL / aniso_embedding) is the clustered
# fixture with dim j scaled by 1/(((37*j) mod 64) + 1) — a SHUFFLED
# decaying spectrum (variance ratio 4096:1, scrambled across the dim
# axis by a bijective multiplier), deterministic integer arithmetic so
# both engines build bit-identical corpora.


def aniso_embedding() -> F.Column:
    """The anisotropic planted-cluster fixture vector: the clustered
    fixture's component j scaled by 1/(((37*j) mod 64) + 1) — a
    shuffled decaying energy spectrum (the _AEMB_SQL twin is the same
    arithmetic verbatim — one extra exact-integer division per
    component; 37 is coprime to 64, so the divisor map is a bijection
    over 1..64)."""
    anchor = F.col("vec_id") - (F.col("vec_id") % 16)

    def comp(j):
        a = (
            (((anchor % 2147483648) * 2654435761 + j * 40503) % 4294967296) % 2001
            - 1000
        ) / 1000.0
        p = (
            (((F.col("vec_id") % 2147483648) * 48271 + j * 9301) % 4294967296) % 4096
            - 2048
        ) / 8000.0
        return (a + p) / ((j * 37) % 64 + 1)

    return F.transform(F.sequence(F.lit(1), F.lit(_SQ_DIM)), comp)


_AEMB_SQL = f"""(
  SELECT vec_id,
         list_transform(generate_series(1, {_SQ_DIM}), j ->
           ((((((vec_id - vec_id % 16) % 2147483648) * 2654435761 + j * 40503)
              % 4294967296) % 2001 - 1000) / 1000.0
           + ((((vec_id % 2147483648) * 48271 + j * 9301)
              % 4294967296) % 4096 - 2048) / 8000.0) / ((j * 37) % 64 + 1)
         ) AS embedding
  FROM embeddings
)"""

# The permuted source as a subquery: per-dim energy (one SUM pass —
# plain aggregation on BOTH engines: adjacent energies differ by the
# spectrum's percent-level gaps while float-order noise is ~1e-15
# relative, so the integer RANKS the permutation is built from are
# identical cross-engine even though the sums differ in ULPs), then
# the energy-sorted GROUPING: rank r (energy desc, ties by dim) maps
# to position r+1, so each subspace holds 4 comparable-energy dims.
_AOPQ_SRC_SQL = f"""(
  WITH __an AS MATERIALIZED (
    SELECT vec_id, embedding FROM {_AEMB_SQL}
  ), __en AS (
    SELECT g.j AS dim, SUM(embedding[g.j] * embedding[g.j]) AS e
    FROM __an CROSS JOIN generate_series(1, {_SQ_DIM}) g(j)
    GROUP BY g.j
  ), __sl AS (
    SELECT dim, row_number() OVER (ORDER BY e DESC, dim) AS newpos FROM __en
  ), __pl AS (
    SELECT list(dim ORDER BY newpos) AS p FROM __sl
  )
  SELECT vec_id, list_transform(p, d -> embedding[d]) AS embedding
  FROM __an CROSS JOIN __pl
)"""


def _opq_perm_path(
    spark: SparkSession, sf_dir: str, src: DataFrame, tag: str
) -> str:
    """The STAGED permutation artifact (slot, dim): one energy pass
    over the corpus (64 sums — map-side-combinable, one aggregation at
    any N), dims energy-sorted driver-side (64 ints) so each subspace
    groups comparable-energy dims, the result staged like the PQ
    codebook. Consumers apply it as 64 column gathers — no shuffle,
    no UDF."""
    from etly_spark.io.staging import stage_path

    def build() -> DataFrame:
        en = src.select(
            *[
                F.sum(
                    F.element_at("embedding", j) * F.element_at("embedding", j)
                ).alias(f"e{j}")
                for j in range(1, _SQ_DIM + 1)
            ]
        ).first()
        ranked = sorted(
            range(1, _SQ_DIM + 1), key=lambda j: (-float(en[f"e{j}"]), j)
        )
        rows = [(r + 1, dim) for r, dim in enumerate(ranked)]
        return spark.createDataFrame(sorted(rows), "slot long, dim long")

    return stage_path(
        spark,
        f"opq-perm:{sf_dir}:{tag}",
        build,
        deps=[os.path.join(sf_dir, "embeddings.parquet")],
    )


def opq_permute(
    spark: SparkSession, sf_dir: str, src: DataFrame, tag: str
) -> DataFrame:
    """Apply the staged OPQ permutation to ``src`` (vec_id, embedding
    [, nrm]): reads the bounded 64-row artifact and emits the
    re-ordered vectors (norm recomputed — invariant in value, but the
    fold order over the permuted array must match the oracle's)."""
    pdf = V._staged_pdf(_opq_perm_path(spark, sf_dir, src, tag))
    dim_at = {int(s): int(d) for s, d in zip(pdf["slot"], pdf["dim"])}
    perm = [dim_at[p] for p in range(1, _SQ_DIM + 1)]
    return _normed(
        src.select(
            "vec_id",
            F.array(
                *[F.element_at("embedding", d) for d in perm]
            ).alias("embedding"),
        )
    )


def sim_opq(
    spark: SparkSession,
    sf_dir: str,
    s: DataFrame,
    qwhere: str = "vec_id < 8",
    corpus_tag: str = "aniso",
) -> DataFrame:
    """PQ over the OPQ-permuted corpus: stage the permutation (one
    energy pass), permute (64 column gathers — orthogonal, so cosine
    semantics are unchanged), then the standard trained-PQ pipeline
    (sim_pq) on the permuted vectors. The permutation only changes
    WHICH dims share a subspace codebook — recall lift comes from
    restoring scale-homogeneous slices for the cosine-assignment
    kernel (energy-sorted grouping; the interleaved OPQ-P balancing
    was measured WORSE under cosine and rejected — see the module
    comment and STRESS.md)."""
    permuted = scoped_persist(
        opq_permute(spark, sf_dir, s, corpus_tag), eager=False
    )
    return sim_pq(
        spark, sf_dir, permuted, qwhere=qwhere, corpus_tag=f"{corpus_tag}_opq"
    )


# ------------------------------------------------------- method table
# sim_ann_methods is driven by two tables. A fixture is one corpus
# variant: its embedding column (None = the stored one), its query
# predicate, and the oracle's source relation for the same vectors.
class AnnFixture(NamedTuple):
    embedding: Callable[[], F.Column] | None
    qwhere: str
    src_sql: str


ANN_FIXTURES = {
    "iid": AnnFixture(None, "vec_id < 8", "embeddings"),
    "clustered": AnnFixture(clustered_embedding, _QC_WHERE, _CEMB_SQL),
    "aniso": AnnFixture(aniso_embedding, _QC_WHERE, _AEMB_SQL),
}


class BuiltFixture(NamedTuple):
    tag: str
    s: DataFrame  # persisted, normed corpus
    q_pdf: object  # its query panel, collected once
    qwhere: str


def ann_fixture(spark: SparkSession, sf_dir: str, tag: str) -> BuiltFixture:
    """One scan + norm pass, persisted: the common input of every
    method on this fixture."""
    fx = ANN_FIXTURES[tag]
    e = load_table(spark, sf_dir, "embeddings")
    if fx.embedding is not None:
        e = e.select("vec_id", fx.embedding().alias("embedding"))
    s = scoped_persist(_normed(e))
    return BuiltFixture(tag, s, _query_pdf(s, fx.qwhere), fx.qwhere)


def _scan(fn):
    """Builder for fn(spark, sf_dir, s, q_pdf): the exact scans."""
    return lambda spark, sf_dir, fx: fn(spark, sf_dir, fx.s, fx.q_pdf)


def _staged(fn, with_q: bool = True):
    """Builder for the staged-index methods, keyed by fixture tag."""

    def build(spark, sf_dir, fx):
        kw = {"q_pdf": fx.q_pdf} if with_q else {}
        return fn(spark, sf_dir, fx.s, qwhere=fx.qwhere, corpus_tag=fx.tag, **kw)

    return build


_BRUTE = _scan(sim_topk_bruteforce)
_SQ8 = _staged(sim_sq8, with_q=False)
_PQ = _staged(sim_pq, with_q=False)
_IVFPQ = _staged(sim_ivfpq, with_q=False)
_IVFPQ_PROBE = _staged(sim_ivfpq_probe)
_IVFPQ_ADC = _staged(sim_ivfpq_adc)
_IVFPQ_RERANK = _staged(sim_ivfpq_rerank)


class AnnMethod(NamedTuple):
    tag: str  # output tag; recall rows are tagged recall_<tag>
    fixture: str  # ANN_FIXTURES key
    build: Callable  # (spark, sf_dir, BuiltFixture) -> top-k DataFrame
    sql: Callable[[str, str], str]  # (oracle source, qwhere) -> oracle SQL
    emit: bool  # the method's own rows enter the output
    base: str | None = None  # exact method it is recall-accounted against
    kind: str = TOP5  # recall kind


# One row per method, in pool submit order: longest first (measured
# per-branch wall at sf0.1), so short branches back-fill the heavy ones.
# Rows differing only in fixture share a builder. The clustered rows
# emit only recall (their neighbor lists would double the output for
# no extra signal).
ANN_TABLE = [
    AnnMethod("ivfpq_rerank", "iid", _IVFPQ_RERANK, _ivfpq_rerank_sql, True, "brute"),
    AnnMethod(
        "ivfpq_filtered", "iid", _staged(sim_ivfpq_filtered),
        _ivfpq_filtered_sql, True, "brute_f",
    ),
    AnnMethod(
        "ivfpq_radius_c", "clustered", _staged(sim_ivfpq_radius),
        _ivfpq_radius_sql, True, "brute_r_c", RADIUS,
    ),
    AnnMethod("ivfpq", "iid", _IVFPQ, _ivfpq_sql, True, "brute"),
    AnnMethod(
        "ivfpq_rerank_c", "clustered", _IVFPQ_RERANK, _ivfpq_rerank_sql,
        False, "brute_c",
    ),
    AnnMethod(
        "ivf_split", "iid", lambda sp, d, fx: sim_ivf_split(sp, d, q_pdf=fx.q_pdf),
        lambda *_: _IVFSPLIT_SQL, True, "brute",
    ),
    AnnMethod(
        "ivfpq_inc", "iid", lambda sp, d, fx: sim_ivfpq_inc(sp, d, q_pdf=fx.q_pdf),
        lambda *_: _IVFPQINC_SQL, True, "brute",
    ),
    AnnMethod(
        "ivf_inc", "iid", lambda sp, d, fx: sim_ivf_inc(sp, d, q_pdf=fx.q_pdf),
        lambda *_: _IVFINC_SQL, True, "brute",
    ),
    AnnMethod(
        "ivf", "iid", lambda sp, d, fx: sim_ivf_ann(sp, d, fx.q_pdf),
        _ivf_sql, True, "brute",
    ),
    # iid LSH keeps its own 32-query default
    AnnMethod(
        "lsh", "iid", lambda sp, d, fx: sim_lsh_ann(sp, d, fx.s),
        lambda src, _q: _lsh_sql(src), True, "brute",
    ),
    AnnMethod("sq8", "iid", _SQ8, _sq8_sql, True, "brute"),
    AnnMethod("ivfpq_probe", "iid", _IVFPQ_PROBE, _ivfpq_probe_sql, True, "brute"),
    AnnMethod("ivfpq_adc", "iid", _IVFPQ_ADC, _ivfpq_adc_sql, True, "brute"),
    AnnMethod(
        "ivfpq_probe_c", "clustered", _IVFPQ_PROBE, _ivfpq_probe_sql,
        False, "brute_c",
    ),
    AnnMethod(
        "ivfpq_adc_c", "clustered", _IVFPQ_ADC, _ivfpq_adc_sql, False, "brute_c"
    ),
    AnnMethod("ivfpq_c", "clustered", _IVFPQ, _ivfpq_sql, False, "brute_c"),
    AnnMethod(
        "lsh_c", "clustered",
        lambda sp, d, fx: sim_lsh_ann(sp, d, fx.s, qwhere=fx.qwhere),
        _lsh_sql, False, "brute_c",
    ),
    AnnMethod(
        "ivf_c", "clustered",
        lambda sp, d, fx: sim_ivf_ann(
            sp, d, fx.q_pdf, assign=ivf_assignments_clustered(sp, d),
            qwhere=fx.qwhere,
        ),
        _ivf_sql, False, "brute_c",
    ),
    AnnMethod("sq8_c", "clustered", _SQ8, _sq8_sql, False, "brute_c"),
    AnnMethod("pq8", "iid", _PQ, _pq_sql, True, "brute"),
    AnnMethod("pq8_c", "clustered", _PQ, _pq_sql, False, "brute_c"),
    AnnMethod("pq8_a", "aniso", _PQ, _pq_sql, True, "brute_a"),
    AnnMethod(
        "opq_a", "aniso", _staged(sim_opq, with_q=False),
        lambda _src, qw: _pq_sql(_AOPQ_SRC_SQL, qw), True, "brute_a",
    ),
    AnnMethod("brute", "iid", _BRUTE, _bf_sql, True),
    AnnMethod(
        "hardneg", "iid", _scan(sim_hard_negatives), lambda *_: _HN_SQL, True
    ),
    AnnMethod(
        "brute_f", "iid", _scan(sim_topk_brute_filtered), _bf_filtered_sql, True
    ),
    AnnMethod("brute_c", "clustered", _BRUTE, _bf_sql, False),
    AnnMethod("brute_a", "aniso", _BRUTE, _bf_sql, True),
    AnnMethod(
        "brute_r_c", "clustered", _scan(sim_brute_radius), _bf_radius_sql, True
    ),
]


def _recall_rows(approx: DataFrame, tag: str, base: DataFrame, kind: str) -> DataFrame:
    """Spark twin of _recall_sql. Both sides are Q·k rows (result-
    density rows for radius), so the join is trivially broadcastable at
    any corpus size."""
    b = base.select("query_id", "neighbor_id")
    a = approx.select(F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n"))
    counts = (
        b.join(a, (b.query_id == a._q) & (b.neighbor_id == a._n), "left")
        .groupBy("query_id")
        .agg(F.count("_n").alias("_nh"), F.count(F.lit(1)).alias("_nt"))
    )
    den = F.lit(5) if kind == TOP5 else F.col("_nt").cast("int")
    return counts.select(
        F.lit(f"recall_{tag}").alias("method"),
        "query_id",
        F.col("_nh").alias("neighbor_id"),
        den.alias("rank"),
        F.round(F.col("_nh") / den.cast("double"), 6).alias("cos_sim"),
    )


def _ann_sql() -> str:
    """The oracle: each method's result is one MATERIALIZED CTE (DuckDB
    would otherwise inline and re-run it per consumer), consumed by its
    tagged rows and its recall accounting."""

    def cte(m: AnnMethod) -> str:
        fx = ANN_FIXTURES[m.fixture]
        return f"m_{m.tag} AS MATERIALIZED ({m.sql(fx.src_sql, fx.qwhere)})"

    selects = [
        f"SELECT '{m.tag}' AS method, * FROM m_{m.tag}" for m in ANN_TABLE if m.emit
    ]
    selects += [
        _recall_sql(
            m.tag, f"SELECT * FROM m_{m.tag}", f"SELECT * FROM m_{m.base}", m.kind
        )
        for m in ANN_TABLE
        if m.base
    ]
    return (
        "WITH "
        + ",\n".join(map(cte, ANN_TABLE))
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY method, query_id, rank\n"
    )


_ANN_SQL = _ann_sql()


@query(
    "sim_ann_methods",
    oracle=_ANN_SQL,
    doc="Similarity search, all three plans in one checked row (same "
    "cosine-top-k semantics, tagged by method): brute-force — broadcast "
    "the tiny query set, one corpus scan, per-query top-k (the "
    "exact-answer baseline; at 100 TB the right plan when Q is small); "
    "lsh — sign-bucket (64 cells) blocking key, candidates scored only "
    "within the query's cell; ivf — probes the STAGED index "
    "(ivf_assignments, built once per process): a FIXED-SIZE "
    "deterministic coarse centroid set (top-K_CENTROIDS by "
    "multiplicative hash of vec_id — O(k) driver memory at any corpus "
    "size), every vector pre-assigned to its nearest cell, probe = one "
    "broadcast cell join, zero assign work at query time; ivf_inc "
    "(r11) — IVF index MAINTENANCE: the quantizer is frozen on the "
    "FIRST arrival shard (vec_id % 4 = 0 — the deterministic stand-in "
    "for arrival order) and every later shard is folded in by "
    "assigning ONLY its vectors and appending them as that epoch's own "
    "postings partition (fold_ivf_epoch — O(shard) per arrival, no "
    "earlier epoch read or rewritten, the staged band-index contract); "
    "deletions arrive as TOMBSTONE partitions (fold_ivf_tombstones — "
    "the log-structured remove_ids: doomed vec_ids anti-joined out at "
    "probe time via one broadcast, postings never rewritten; the "
    "deterministic delete batch provably intersects the no-delete "
    "top-k, so the gate exercises deletion); loose epochs fold into "
    "never-rewritten segments via compact_ivf_postings (the signature-"
    "index tiering), purge_ivf_tombstones rewrites live postings and "
    "drops the tombstone side-table offline (r12), and readers see "
    "only partitions no committed segment manifest covers. The "
    "oracle computes the BATCH build-minus-deletes "
    "over the union under the same frozen quantizer, so hash equality "
    "proves append-only maintenance answers queries losslessly; "
    "ivf_split (r12) — the GROWABLE quantizer: the maintenance loop's "
    "frozen cells grow unboundedly with the corpus, so cells above "
    "cap=ceil(N/nlist) SPLIT log-structured (split_hot_cells): "
    "k_c~sqrt(cell_n) hash-selected sub-centroids appended to the "
    "quantizer_splits table (one atomic file rename activates them), "
    "the cell's rows re-assigned into a never-rewritten "
    "epoch=_split-* segment (gen-0 epochs byte-untouched, superseded "
    "rows just stop matching), probes expanding split parents to the "
    "query's nprobe nearest sub-cells on (parent, sub-cell) keys, and "
    "later folds routing through committed splits at O(shard). Oracle "
    "= the batch two-level quantizer build minus deletions; measured "
    "at 1M: probed fraction 12.2% -> 3.5%, recall@5 1.0 flat, "
    "post-split shard fold 1.13 s (STRESS.md r12); the drift trigger "
    "(max cell share > 4/nlist, stress_ann_drift) decides WHEN; "
    "ivfpq_inc (r13) — incremental IVFPQ, the LSM-shaped maintenance "
    "index: the coarse quantizer freezes on shard 0 (nlist sized for "
    "the anticipated index), shards fold RAW as the O(shard) write "
    "buffer, and the offline encode rung (encode_ivfpq_postings) "
    "selects the per-cell books from the rows it encodes (books "
    "frozen from the sample alone measured recall 0.575 vs 0.925 at "
    "1M) and quantizes the buffer into slot-stable codes segments "
    "(2m-byte packed payload); the probe unions ADC over codes with "
    "exact scoring over the raw buffer, tombstones anti-joined; the "
    "steady index is codes-sized (~8x smaller than raw at 1M). "
    "Oracle = the batch two-stage frozen-quantizer build with "
    "encode-rung books, ADC-score minus deletions; hash equality "
    "proves fold-then-encode maintenance loses nothing; "
    "hardneg — "
    "hard-negative mining for dense-retrieval training: the brute "
    "scorer with the query's positive group (vec_id % 41 stand-in) "
    "excluded by one codegen'd predicate before the top-k; sq8 — "
    "scalar quantization (FAISS SQ8 baseline): per-dim corpus min/max "
    "codebook (one bounded collect), float32 -> 8-bit codes (4x "
    "smaller scan at 100 TB), symmetric scoring on the dequantized "
    "vectors through the same BLAS top-k; pq8 (r9) — product "
    "quantization (the FAISS compression workhorse): 8 subspaces x 8 "
    "dims, 64-entry hash-selected codebook (bounded collect), encode+"
    "reconstruct in ONE Arrow pass (functions.vector.pq_reconstruct), "
    "symmetric scoring on reconstructions — codes are ~16-24 "
    "bytes/vector, a 10-16x smaller index scan at 100 TB; r11: the "
    "Lloyd refinement trains on a deterministic hash sample capped at "
    "max(65536, 64*k) vectors (the FAISS points-per-centroid floor — "
    "a flat 65536 measured recall@5 0.75 -> 0.575 at 1M and was "
    "rejected), identity below the cap; ivfpq (r10) "
    "— IVF-sharded PQ, the scale path past one global codebook: each "
    "coarse cell carries its own hash-selected codebook (k_c = "
    "clamp(8*sqrt(cell_n), 16, 1024), selected with the BANDED rank — "
    "no window on the 32-value cell key), so codeword ownership tracks "
    "LOCAL cluster count and clustered recall@5 holds 0.95 FLAT at "
    "10x and 20x where the global rule slides 0.925 -> 0.825 "
    "(STRESS.md sweep; residual/IVFPQ-style encoding measured WORSE "
    "under cosine and is deliberately not used); ivfpq_probe (r12) — "
    "the PRODUCTION IVFPQ query shape (FAISS search plan): the "
    "per-cell codebook AND the codes table (vec_id, cell, codes[m] — "
    "the index payload, ~m bytes/vector bit-packed) are staged parquet "
    "artifacts; each RAW query (asymmetric distance) probes its nprobe "
    "nearest coarse cells and ONLY those cells' codes are scanned "
    "(pushed IN filter on the cell-PARTITIONED codes stage — "
    "PartitionFilters pinned), decoded by codebook gathers "
    "(ivfpq_decode — indexing, not scoring) and scored through the "
    "broadcast probe join. Measured: 150x recall@5 0.95 vs full-scan "
    "0.925, probe 4.6 s vs 50.7 s; 1M recall 0.925 == full-scan, "
    "probe 3.7 s vs 75.2 s (STRESS.md r12); ivfpq_adc (r12) — the "
    "same probe with TRUE ADC scoring: one LUT[codeword, m] einsum "
    "per (query, probed cell), each candidate scored as m table "
    "gathers folded in ascending-m order from a 0.0 seed (the "
    "oracle's list_reduce twin — no reconstruction on either engine; "
    "scoring work O(k_c*m + cand*m) instead of O(cand*d)); 1M: "
    "1.77 s steady at the same 0.925 recall. "
    "recall_{lsh,ivf,sq8,pq8,ivfpq} rows "
    "(r8) account each approximate method against brute's exact top-5 "
    "per query — neighbor_id carries the hit count, cos_sim the "
    "recall@5 — so the quality of the only-runnable-at-100TB plans is "
    "a checked number, not an assumption (values recorded per scale "
    "in STRESS.md). recall_{lsh,ivf,sq8}_c rows (r9) re-run the same "
    "accounting on a planted-cluster fixture (clustered_embedding: 16 "
    "vectors per cluster, integer-derived so both engines build "
    "bit-identical fixtures) — i.i.d. random embeddings are the ANN "
    "worst case, so the _c rows measure the regime users actually run "
    "bucketed methods in: embeddings with neighborhood structure. "
    "ivfpq_filtered (r14) — metadata-predicate top-k, the filtered-"
    "search mode every production vector index exposes: the filterable "
    "attribute rides the codes stage as its own column (written at "
    "encode time), the predicate composes with the probed-cell "
    "IN/partition filter inside ONE pruned index scan, the probe width "
    "scales by MEASURED selectivity (nprobe_f = min(nlist, "
    "ceil(nprobe/sel)) from the index's staged per-bucket histogram — "
    "integer arithmetic the oracle mirrors exactly), and the ADC "
    "survivors take the exact refine rung; brute_f is the filtered-"
    "exact baseline and recall base (post-filtering an unfiltered "
    "top-k would collapse recall under the ~5pct gated predicate). "
    "ivfpq_radius_c (r14) — radius (range) search, the second standard "
    "index mode (dedup-by-threshold at query time): the SAME staged "
    "ADC probe cut at tau - margin (over-fetch absorbing PQ "
    "quantization error), survivors exact-rescored via the refine "
    "rung's bounded point-fetch, final cut at exact cos >= tau; gated "
    "on the clustered fixture where tau = 0.7 recovers each query's "
    "planted 16-cluster, with brute_r_c the exact threshold-brute "
    "ground truth and recall_ivfpq_radius_c dividing by the TRUE "
    "neighbor count per query (density accounting — radius has no "
    "fixed k). pq8_a / opq_a (r14) — the OPQ rung: on a SHUFFLED "
    "decaying energy spectrum (the aniso fixture: clustered "
    "components scaled 1/(((37j) mod 64)+1), variance ratio 4096:1 "
    "scrambled across the dim axis — real embeddings don't arrive "
    "variance-sorted) plain PQ's contiguous slices mix scales, and "
    "per-slice COSINE assignment is scale-blind within a slice, so "
    "mixed slices collapse toward +-1-D direction sets and waste the "
    "codebook; opq_a applies a STAGED data-derived permutation (one "
    "energy pass, dims energy-sorted so each subspace groups "
    "comparable-energy dims; an orthogonal matrix, so cosine "
    "semantics are unchanged) before the standard trained-PQ "
    "pipeline; brute_a is the fixture's exact base and "
    "recall_{pq8_a,opq_a} account both against it. The interleaved "
    "OPQ-P variance balancing was measured WORSE under cosine "
    "(0.925 -> 0.825 on a monotone spectrum at 20k) and rejected; "
    "the full learned rotation is out of scope (not reproducible "
    "bit-identically in the SQL oracle, where the permutation needs "
    "only 64 robustly-separated energy sums); ladder at 1x/10x/20x "
    "in STRESS.md.",
)
def sim_ann_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every method branch is built on a driver thread pool: each issues
    # small driver jobs (query-panel collects, staged-index reads,
    # probe-cell picks, eager persists) that are independent across
    # branches, so pooling overlaps them. The scope machinery
    # (catalog.py) and stage builds (io/staging.py) are thread-aware.
    #
    # Each branch writes its Q·k output to parquet in its own labelled
    # job, so its scorer runs exactly once; its tagged rows and every
    # recall join that reads it scan the tiny files. Persisting instead
    # would put InMemoryRelation barriers into the final union job. The
    # scratch dir is per invocation (never a result cache) and the
    # previous invocation's is deleted on entry.
    from concurrent.futures import ThreadPoolExecutor, as_completed

    global _ANN_SCRATCH
    if _ANN_SCRATCH is not None:
        shutil.rmtree(_ANN_SCRATCH, ignore_errors=True)
    _ANN_SCRATCH = out_root = run_scratch_dir("annout")
    _out_schema = "query_id long, neighbor_id long, rank int, cos_sim double"

    def _labelled(name: str, fn, *args):
        # job descriptions are thread-local: each pooled branch's jobs
        # are attributable and cancellable
        spark.sparkContext.setJobDescription(f"sim_ann_methods: {name}")
        try:
            return fn(*args)
        finally:
            spark.sparkContext.setJobDescription(None)

    def _materialize(m: AnnMethod) -> DataFrame:
        df = m.build(spark, sf_dir, fixtures[m.fixture])
        path = os.path.join(out_root, m.tag)
        df.select("query_id", "neighbor_id", "rank", "cos_sim").write.parquet(path)
        return spark.read.schema(_out_schema).parquet(path)

    pool = ThreadPoolExecutor(max_workers=8)
    try:
        fx_futs = {
            t: pool.submit(_labelled, f"fixture {t}", ann_fixture, spark, sf_dir, t)
            for t in ANN_FIXTURES
        }
        fixtures = {t: f.result() for t, f in fx_futs.items()}
        futs = {
            m.tag: pool.submit(_labelled, m.tag, _materialize, m) for m in ANN_TABLE
        }
        for f in as_completed(futs.values()):
            f.result()  # the first failing branch raises here
        out = {tag: f.result() for tag, f in futs.items()}
    finally:
        # on failure, queued branches never start; either way the
        # fixture persists are dead weight once every branch is
        # committed (or abandoned)
        pool.shutdown(wait=True, cancel_futures=True)
        release_cache()

    parts = [
        out[m.tag].select(F.lit(m.tag).alias("method"), "*")
        for m in ANN_TABLE
        if m.emit
    ]
    parts += [
        _recall_rows(out[m.tag], m.tag, out[m.base], m.kind)
        for m in ANN_TABLE
        if m.base
    ]
    return functools.reduce(DataFrame.unionByName, parts).orderBy(
        "method", "query_id", "rank"
    )
