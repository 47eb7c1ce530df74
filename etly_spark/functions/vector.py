"""Vectorized embedding kernels — the numpy/Arrow scoring path.

The fold twins in ``functions.hashing`` (``aggregate(zip_with(...))``)
are JVM-side but *interpreted*: Spark evaluates HOF lambdas element by
element, ~5-10x slower than a vectorized kernel, and at 100 TB the
scoring kernel IS the cost of similarity search. These replacements move
the arithmetic into numpy over Arrow batches:

- ``dot_pd`` / ``l2_norm_pd``: scalar pandas UDFs (ArrowEvalPython —
  whole Arrow batch per call, ``einsum`` row-wise reduction). einsum's
  per-row sum is sequential left-to-right, the same association order as
  the SQL fold, so results stay bit-compatible with the DuckDB oracle's
  ``list_reduce`` twin (verified at sf0.01 by the correctness gate).
- ``matmul_scores``: a mapInPandas scorer for the dense one-scan case
  (brute-force ANN): broadcast the tiny query matrix into the closure,
  run one BLAS ``emb @ Q.T`` per Arrow batch, emit long-form scores.
  One corpus scan, no shuffle, per-executor BLAS parallelism — the plan
  you want when Q is small and N is 100 TB.

The fold versions remain in ``functions.hashing`` as the documented
parity twins (and for engines where Arrow is unavailable).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_ARR_D = ArrayType(DoubleType())


def _rows(series) -> "object":
    """Stack an Arrow list column into a 2-D float64 matrix."""
    import numpy as np

    if len(series) == 0:
        return np.empty((0, 0), dtype="float64")
    return np.vstack([np.asarray(v, dtype="float64") for v in series])


@pandas_udf(DoubleType())
def dot_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    av, bv = _rows(a), _rows(b)
    return pd.Series(np.einsum("ij,ij->i", av, bv))


@pandas_udf(DoubleType())
def l2_norm_pd(a: pd.Series) -> pd.Series:
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    av = _rows(a)
    return pd.Series(np.sqrt(np.einsum("ij,ij->i", av, av)))


def dot(a, b) -> F.Column:
    """Vectorized dot product of two array<numeric> columns."""
    return dot_pd(F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b)


def l2_norm(a) -> F.Column:
    return l2_norm_pd(F.col(a) if isinstance(a, str) else a)


_SCORE_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos_sim", DoubleType()),
    ]
)


_PAIR_SCHEMA = StructType(
    [
        StructField("vec_a", LongType()),
        StructField("vec_b", LongType()),
        StructField("cos_sim", DoubleType()),
    ]
)


def bucket_pair_scores(
    bucketed: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Within-bucket all-pairs cosine via ONE BLAS gram matrix per bucket
    (``applyInPandas``): each vector ships through the shuffle once, the
    k·k/2 pair scores come out of ``M @ M.T`` — no pair join is ever
    materialized, which is what made the join+per-pair-UDF formulation
    quadratic in Arrow transfer, not just flops. Buckets must be
    size-capped upstream so the gram matrix stays bounded (cap² floats).
    Emits (vec_a < vec_b, cos_sim) for pairs at/above ``threshold``;
    division order ``dot / (nrm_a * nrm_b)`` matches the SQL oracle.
    """
    import numpy as np

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        k = len(pdf)
        if k < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
            )
        M = _rows(pdf[vec_col])
        ids = pdf[id_col].to_numpy(dtype="int64")
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        cos = (M @ M.T) / (nrm[:, None] * nrm[None, :])
        iu, ju = np.triu_indices(k, 1)
        keep = cos[iu, ju] >= threshold
        ii, jj = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ii, jj),
                "vec_b": np.maximum(ii, jj),
                "cos_sim": cos[iu[keep], ju[keep]],
            }
        )

    return bucketed.groupBy(bucket_col).applyInPandas(score, _PAIR_SCHEMA)


def matmul_scores(
    corpus: DataFrame,
    query_pdf: pd.DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str = "nrm",
) -> DataFrame:
    """Score every (query, corpus vector) pair with one BLAS matmul per
    Arrow batch: ``emb(Bxd) @ Q.T(dxq)`` → long-form
    (query_id, neighbor_id, cos_sim).

    ``query_pdf`` needs columns (query_id, qe, qn) and is tiny (it rides
    into the task closure — the explicit form of a broadcast join).
    Division order matches the oracle exactly: ``dot / (qn * nrm)``.
    Self-pairs are emitted; filter them downstream if unwanted.
    """
    import numpy as np

    qids = query_pdf["query_id"].to_numpy(dtype="int64")
    qmat = _rows(query_pdf["qe"])
    qn = query_pdf["qn"].to_numpy(dtype="float64")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = _rows(pdf[vec_col])
            nrm = pdf[norm_col].to_numpy(dtype="float64")
            ids = pdf[id_col].to_numpy(dtype="int64")
            dots = emb @ qmat.T  # B x Q
            cos = dots / (nrm[:, None] * qn[None, :])
            b, q = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids[None, :], b, axis=0).ravel(),
                    "neighbor_id": np.repeat(ids, q),
                    "cos_sim": cos.ravel(),
                }
            )

    return corpus.select(id_col, vec_col, norm_col).mapInPandas(score, _SCORE_SCHEMA)


def probe_cells(query_pdf: pd.DataFrame, cent_pdf: pd.DataFrame, nprobe: int) -> list:
    """Multi-probe cell selection: each query's ``nprobe`` nearest
    coarse centroids by cosine, ties to the smallest cent_id — the same
    ordering as the oracle's ``ORDER BY dot/(qn*cn) DESC, cent_id``.
    Pure bounded driver numpy (Q x K, both corpus-size-independent by
    construction); returns [(query_id, cent_id), ...]."""
    import numpy as np

    if len(query_pdf) == 0 or len(cent_pdf) == 0:
        return []
    Q = _rows(query_pdf["qe"])
    qn = query_pdf["qn"].to_numpy(dtype="float64")
    C = _rows(cent_pdf["ce"])
    cn = cent_pdf["cn"].to_numpy(dtype="float64")
    cids = cent_pdf["cent_id"].to_numpy(dtype="int64")
    qids = query_pdf["query_id"].to_numpy(dtype="int64")
    sims = (Q @ C.T) / (qn[:, None] * cn[None, :])
    out = []
    k = min(nprobe, len(cids))
    for i in range(len(qids)):
        order = np.lexsort((cids, -sims[i]))[:k]
        out.extend((int(qids[i]), int(cids[j])) for j in order)
    return out


def assign_nearest(
    corpus: DataFrame,
    cent_pdf: pd.DataFrame,
    *,
    vec_col: str = "embedding",
    norm_col: str = "nrm",
    out_col: str = "cent_id",
) -> DataFrame:
    """IVF coarse assignment: nearest centroid per vector via one BLAS
    ``emb @ C.T`` per Arrow batch, centroid matrix in the task closure
    (the explicit broadcast join). The crossJoin + per-pair-UDF
    formulation ships N·C array pairs through Arrow — quadratic transfer
    for what is one matmul of flops.

    ``cent_pdf`` needs columns (cent_id, ce, cn). Ties break to the
    smallest cent_id (centroids are scanned in cent_id order and argmax
    keeps the first maximum) — the same ordering as the oracle's
    ``ORDER BY cos DESC, cent_id``. Output: the corpus columns plus
    ``out_col``."""
    import numpy as np

    order = np.argsort(cent_pdf["cent_id"].to_numpy(dtype="int64"), kind="stable")
    C = _rows(cent_pdf["ce"])[order]
    cn = cent_pdf["cn"].to_numpy(dtype="float64")[order]
    cids = cent_pdf["cent_id"].to_numpy(dtype="int64")[order]
    # StructType.add mutates in place — build a fresh schema object so
    # the input DataFrame's own schema is untouched
    schema = StructType(list(corpus.schema.fields) + [StructField(out_col, LongType())])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = _rows(pdf[vec_col])
            nrm = pdf[norm_col].to_numpy(dtype="float64")
            den = nrm[:, None] * cn[None, :]
            # zero-norm vector or centroid: cosine undefined — pin to
            # -2.0 like the PQ kernels (numpy argmax would otherwise
            # return the first NaN index and WIN for every vector,
            # while the SQL twin's CASE yields -2 / sorts it last)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(
                    den > 0, (emb @ C.T) / np.where(den > 0, den, 1.0), -2.0
                )
            out = pdf.copy()
            out[out_col] = cids[cos.argmax(axis=1)]
            yield out

    return corpus.mapInPandas(assign, schema)


def _pq_books(
    cb_pdf: pd.DataFrame, m: int, *, cell_col: str = "cell", presorted: bool = False
) -> dict:
    """Per-cell codebook tensors from a (cell, cb_id, ce) frame:
    {cell: (Cs[k, m, d/m], cn[k, m], cb_ids[k])}, codewords in cb_id
    order so argmax ties break to the smallest cb_id (the oracle's
    ORDER BY) — or, with ``presorted`` (r13, append-only batch books),
    in the frame's OWN row order (the slot order: batch-major,
    cb_id within batch), which argmax's first-max tie rule follows."""
    import numpy as np

    books: dict[int, tuple] = {}
    for cell, grp in cb_pdf.groupby(cell_col, sort=True):
        cbids = grp["cb_id"].to_numpy(dtype="int64")
        order = (
            np.arange(len(cbids))
            if presorted
            else np.argsort(cbids, kind="stable")
        )
        C = _rows(grp["ce"])[order]
        k, d = C.shape
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        Cs = np.ascontiguousarray(C.reshape(k, m, d // m))
        books[int(cell)] = (
            Cs,
            np.sqrt(np.einsum("kms,kms->km", Cs, Cs)),
            cbids[order],
        )
    return books


# Executor-side staged artifacts (r11): kernels that take a committed
# parquet DIRECTORY (io/staging.stage_path) instead of a driver pandas
# frame. Each python worker lazily reads the artifact ONCE and caches
# the derived numpy structures by path — the FAISS deployment shape
# (the quantizer replicates to every search node; it is never resident
# on a coordinator). Nothing codebook-sized ever materializes on the
# driver, so the artifact can grow past any driver-collect cap;
# per-worker memory is bounded by the artifact itself (sum k_c * d
# floats — ~0.5 GiB at the 1024-cell/1024-codeword hard clamps).
_STAGED_CACHE: dict[tuple, object] = {}


def _read_parquet_dir(path: str) -> pd.DataFrame:
    """Uncached flat-dir parquet read (append-only tables — the ivf
    hot-cell splits — must not be served a stale snapshot)."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet parts under staged dir {path}")
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def _staged_pdf(path: str) -> pd.DataFrame:
    key = ("pdf", path)
    if key not in _STAGED_CACHE:
        _STAGED_CACHE[key] = _read_parquet_dir(path)
    return _STAGED_CACHE[key]


def _staged_books(path: str, m: int, token: str = "") -> dict:
    """Per-cell codebook tensors from a staged path. Two layouts:

    - FLAT stage dir (*.parquet): the immutable static codebook —
      codewords ordered by cb_id (the oracle's tie rule), cached by
      path alone.
    - BATCH dirs (``batch=N/``, r13 — the incremental index's
      APPEND-ONLY books): codewords ordered by (batch, cb_id) — the
      SLOT order, stable under appends, so codes encoded against an
      earlier book state stay valid forever; argmax ties break to the
      lowest slot (earliest batch, then smallest cb_id). Pass a
      ``token`` that changes with the batch listing (the
      assign_nearest_grouped cache contract) or workers serve a stale
      book after a top-up."""
    import glob as _glob

    key = ("books", path, m, token)
    if key not in _STAGED_CACHE:
        batches = sorted(
            _glob.glob(os.path.join(path, "batch=*")),
            key=lambda d: int(d.rsplit("=", 1)[1]),
        )
        if batches:
            import pandas as _pd

            pdf = _pd.concat(
                [
                    _read_parquet_dir(b).sort_values("cb_id", kind="stable")
                    for b in batches
                ],
                ignore_index=True,
            )
            _STAGED_CACHE[key] = _pq_books(pdf, m, presorted=True)
        else:
            _STAGED_CACHE[key] = _pq_books(_staged_pdf(path), m)
    return _STAGED_CACHE[key]


def ivfpq_reconstruct(
    corpus: DataFrame,
    cb: "pd.DataFrame | str",
    *,
    m: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cb_token: str = "",
) -> DataFrame:
    """IVF-sharded product quantization (r10): encode+reconstruct each
    vector against ITS COARSE CELL's own codebook — the scale path past
    a single global codebook. ``cb`` holds (cell, cb_id, ce): the
    per-cell hash-selected codeword rows (k_c ~ 8*sqrt(cell_n)); r11:
    pass the stage_path STRING of the codebook table instead of a
    pandas frame and the codebook is loaded lazily executor-side
    (_staged_books) — the whole structure never touches the driver, so
    there is no collect cap on its size. Same contracts as
    pq_reconstruct: cosine assignment per subspace, ties to the
    smallest cb_id, zero-norm cosines pinned to -2.0, row-blocked
    scoring tensor. Input must carry ``cell_col`` (the assign_nearest
    output)."""
    import numpy as np

    staged = isinstance(cb, str)
    books0 = None if staged else _pq_books(cb, m, cell_col=cell_col)
    schema = StructType(
        [StructField(id_col, LongType()), StructField(vec_col, _ARR_D)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = _staged_books(cb, m, cb_token) if staged else books0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _rows(pdf[vec_col])
            sub = X.shape[1] // m
            Xs = X.reshape(len(pdf), m, sub)
            xn = np.sqrt(np.einsum("nms,nms->nm", Xs, Xs))
            rec = np.empty_like(X)
            cells = pdf[cell_col].to_numpy(dtype="int64")
            for cell in np.unique(cells):
                Cs, cn, _cbids = books[int(cell)]
                k = Cs.shape[0]
                idx = np.flatnonzero(cells == cell)
                blk = max(1, int(8_000_000 / (k * m)))
                for lo in range(0, len(idx), blk):
                    ii = idx[lo : lo + blk]
                    num = np.einsum("nms,kms->nkm", Xs[ii], Cs)
                    den = xn[ii][:, None, :] * cn[None, :, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = np.where(
                            den > 0, num / np.where(den > 0, den, 1.0), -2.0
                        )
                    codes = cos.argmax(axis=1)
                    rec[ii] = Cs[codes, np.arange(m)[None, :], :].reshape(
                        len(ii), X.shape[1]
                    )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    vec_col: list(rec),
                }
            )

    return corpus.select(id_col, vec_col, cell_col).mapInPandas(run, schema)


def ivfpq_codes(
    corpus: DataFrame,
    cb: "pd.DataFrame | str",
    *,
    m: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    keep: tuple = (),
    cb_token: str = "",
) -> DataFrame:
    """IVF-sharded PQ ENCODE ONLY (r12 — the true-probe-path codes
    table): for every vector, the per-subspace codes of its most
    cosine-similar codewords in ITS CELL's codebook — exactly
    ivfpq_reconstruct's argmax (same blocked einsum, same -2.0
    zero-norm pin, same ties-to-smallest-cb_id), emitting
    (vec_id, cell, codes: binary) instead of materializing the
    reconstruction. At 100 TB THIS table is the index payload the
    probe scans.

    PACKED payload (r13 — verdict item 4): each code is the DENSE slot
    of the codeword in its cell's cb_id-sorted book (0..k_c-1; the
    bijection _pq_books' ordering defines — k_c is clamped at 1024 so
    a slot fits uint16), and a row's m slots pack into one
    2m-byte little-endian binary. vs the r12 array<long> form this is
    4x smaller in every Arrow batch the decode/ADC kernels vstack and
    on disk before encoding; decode/ADC gather ``Cs[slot]`` directly —
    the searchsorted(cb_id) hop disappears. ``cb`` is a pandas frame or
    a stage_path string (codebook loaded lazily executor-side, the
    _staged_books contract). ``keep`` names extra input columns to pass
    through untouched (r13 — the split-routing fold encodes against the
    ROOT cell's book via ``cell_col`` while the row's leaf/parent ride
    along)."""
    import numpy as np

    staged = isinstance(cb, str)
    books0 = None if staged else _pq_books(cb, m, cell_col=cell_col)
    in_fields = {f.name: f for f in corpus.schema.fields}
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(cell_col, LongType()),
            StructField("codes", BinaryType()),
        ]
        + [in_fields[k] for k in keep]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = _staged_books(cb, m, cb_token) if staged else books0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _rows(pdf[vec_col])
            sub = X.shape[1] // m
            Xs = X.reshape(len(pdf), m, sub)
            xn = np.sqrt(np.einsum("nms,nms->nm", Xs, Xs))
            out_slots = np.empty((len(pdf), m), dtype="<u2")
            cells = pdf[cell_col].to_numpy(dtype="int64")
            for cell in np.unique(cells):
                Cs, cn, _cbids = books[int(cell)]
                k = Cs.shape[0]
                idx = np.flatnonzero(cells == cell)
                blk = max(1, int(8_000_000 / (k * m)))
                for lo in range(0, len(idx), blk):
                    ii = idx[lo : lo + blk]
                    num = np.einsum("nms,kms->nkm", Xs[ii], Cs)
                    den = xn[ii][:, None, :] * cn[None, :, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = np.where(
                            den > 0, num / np.where(den > 0, den, 1.0), -2.0
                        )
                    # argmax IS the dense slot: books are cb_id-sorted,
                    # so first-max == smallest cb_id (the oracle's tie)
                    out_slots[ii] = cos.argmax(axis=1)
            out = {
                id_col: pdf[id_col].astype("int64").to_numpy(),
                cell_col: cells,
                "codes": [row.tobytes() for row in out_slots],
            }
            for k in keep:
                out[k] = pdf[k]
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col, cell_col, *keep).mapInPandas(run, schema)


def _unpack_codes(codes_series, m: int):
    """(n, m) int64 slot matrix from a packed uint16-LE binary codes
    column — one frombuffer over the joined payload, no per-row loop."""
    import numpy as np

    buf = b"".join(bytes(c) for c in codes_series)
    return (
        np.frombuffer(buf, dtype="<u2").reshape(-1, m).astype("int64")
    )


def ivfpq_decode(
    codes_df: DataFrame,
    cb: "pd.DataFrame | str",
    *,
    m: int = 16,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    vec_col: str = "embedding",
    keep: tuple = (),
    cb_token: str = "",
) -> DataFrame:
    """Reconstruct vectors FROM THE STAGED CODES TABLE (r12): gather
    each row's m codebook slices by their packed slot (r13 — the codes
    ARE dense positions in the cb_id-ordered book, so the gather is
    direct indexing; the r12 searchsorted hop is gone) and concatenate.
    The probe path decodes ONLY the candidates in probed cells, so
    decode cost is candidates x m gathers, never a corpus pass. Input:
    (vec_id, cell, codes: binary — uint16-LE packed); output:
    (vec_id, cell, embedding) — the cell rides through for the
    probe-pair join. ``keep`` passes extra input columns through
    untouched (r13 — the codes-index split rung decodes against the
    root book while the row's leaf and original codes ride along)."""
    import numpy as np

    staged = isinstance(cb, str)
    books0 = None if staged else _pq_books(cb, m, cell_col=cell_col)
    in_fields = {f.name: f for f in codes_df.schema.fields}
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(cell_col, LongType()),
            StructField(vec_col, _ARR_D),
        ]
        + [in_fields[k] for k in keep]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = _staged_books(cb, m, cb_token) if staged else books0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _unpack_codes(pdf["codes"], m)
            cells = pdf[cell_col].to_numpy(dtype="int64")
            d = books[int(cells[0])][0].shape[1] * books[int(cells[0])][0].shape[2]
            rec = np.empty((len(pdf), d), dtype="float64")
            for cell in np.unique(cells):
                Cs, _cn, _cbids = books[int(cell)]
                idx = np.flatnonzero(cells == cell)
                rec[idx] = Cs[codes[idx], np.arange(m)[None, :], :].reshape(
                    len(idx), d
                )
            out = {
                id_col: pdf[id_col].astype("int64").to_numpy(),
                cell_col: cells,
                vec_col: list(rec),
            }
            for k in keep:
                out[k] = pdf[k]
            yield pd.DataFrame(out)

    return codes_df.select(
        id_col, cell_col, "codes", *[k for k in keep if k != "codes"]
    ).mapInPandas(run, schema)


def ivfpq_adc_scores(
    codes_df: DataFrame,
    cb: "pd.DataFrame | str",
    query_pdf: pd.DataFrame,
    probe_pairs: list,
    *,
    m: int = 16,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    book_col: str | None = None,
    cb_token: str = "",
) -> DataFrame:
    """ASYMMETRIC DISTANCE COMPUTATION over PQ codes (r12 — the FAISS
    ADC table form, the flop-optimal alternative to decode+einsum):
    per (query, probed cell), ONE einsum builds the lookup table
    LUT[codeword, m] = dot(q_m, c_m) over the cell's codebook (k_c x m
    dots); each candidate's query dot is then m table GATHERS summed —
    never a 64-dim dot per (query, candidate) pair, so scoring work is
    O(k_c·m + candidates·m) instead of O(candidates·d). Reconstruction
    norms come from the codebook's slice-norm table the same way.

    Float contract (r12, gated): the per-m partial sums accumulate in
    ASCENDING m order from a 0.0 seed — a vectorized loop over m, one
    add per step — exactly the oracle's
    ``list_reduce([0.0] || list(dm ORDER BY m), +)``; each per-m dot is
    a 4-element einsum contraction matching _sql_dot's sequential fold
    (the PQ-chain precedent). Reconstruction norms fold the per-m
    squared slice norms the same way. Scores therefore hash-gate at
    6 dp like every other method (note they legitimately differ in
    ULPs from the DECODE path's 64-element fold — the two paths are
    separate gated rows, each matched to its own oracle).

    ``probe_pairs`` is the bounded (query_id, cell) list from
    probe_cells; queries ride in via ``query_pdf`` (query_id, qe, qn).
    Emits (query_id, neighbor_id, cos_sim) for every candidate in a
    probed cell, self-pairs included (filter downstream).

    ``book_col`` (r13 — split indexes): candidates group and match
    probe_pairs on ``cell_col`` (the LEAF a probe selected) while the
    codebook is looked up by ``book_col`` (the gen-0 ROOT whose frozen
    book encoded the row — routing splits never re-encode). LUTs cache
    per (root, query), shared across a root's leaves. Default: the
    cell is its own book key (unsplit index)."""
    import numpy as np

    staged = isinstance(cb, str)
    books0 = None if staged else _pq_books(cb, m, cell_col=cell_col)
    bcol = book_col or cell_col
    qids = query_pdf["query_id"].to_numpy(dtype="int64")
    Q = _rows(query_pdf["qe"])
    qn = query_pdf["qn"].to_numpy(dtype="float64")
    cell_queries: dict[int, list] = {}
    for qid, cell in probe_pairs:
        cell_queries.setdefault(int(cell), []).append(int(qid))
    qrow = {int(q): i for i, q in enumerate(qids)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = _staged_books(cb, m, cb_token) if staged else books0
        d = None
        luts: dict[tuple, "object"] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _unpack_codes(pdf["codes"], m)
            cells = pdf[cell_col].to_numpy(dtype="int64")
            roots = pdf[bcol].to_numpy(dtype="int64") if bcol != cell_col else cells
            ids = pdf[id_col].to_numpy(dtype="int64")
            outs = []
            for cell in np.unique(cells):
                qs = cell_queries.get(int(cell))
                if not qs:
                    continue
                idx = np.flatnonzero(cells == cell)
                Cs, cn, _cbids = books[int(roots[idx[0]])]
                if d is None:
                    d = Cs.shape[1] * Cs.shape[2]
                slots = codes[idx]  # (n, m) — packed slots gather directly (r13)
                # per-candidate reconstruction norm from the slice-norm
                # table: |rec|^2 = sum_m |c_(code_m)|^2 — accumulated
                # in m ORDER from 0.0 (the oracle's list_reduce fold)
                n2 = cn * cn  # (k, m)
                r2 = np.zeros(len(idx), dtype="float64")
                for j in range(m):
                    r2 = r2 + n2[slots[:, j], j]
                rnorm = np.sqrt(r2)  # (n,)
                for qid in qs:
                    qi = qrow[qid]
                    key = (int(roots[idx[0]]), qid)  # LUT shared across a root's leaves
                    if key not in luts:
                        qsub = Q[qi].reshape(m, -1)
                        luts[key] = np.einsum("ms,kms->km", qsub, Cs)
                    lut = luts[key]  # (k_c, m)
                    # ordered fold over m — one add per subspace, ASC
                    dots = np.zeros(len(idx), dtype="float64")
                    for j in range(m):
                        dots = dots + lut[slots[:, j], j]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        den = qn[qi] * rnorm
                        cos = np.where(den > 0, dots / np.where(den > 0, den, 1.0), -2.0)
                    outs.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(len(idx), qid, dtype="int64"),
                                "neighbor_id": ids[idx],
                                "cos_sim": cos,
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cols = [id_col, cell_col, "codes"] + ([bcol] if bcol != cell_col else [])
    return codes_df.select(*cols).mapInPandas(run, _SCORE_SCHEMA)


def assign_nearest_grouped(
    corpus: DataFrame,
    cb_path: str,
    *,
    group_col: str = "bucket",
    vec_col: str = "embedding",
    norm_col: str = "nrm",
    out_col: str = "sub_bucket",
    cache_token: str = "",
) -> DataFrame:
    """Per-group nearest-centroid assignment against a STAGED centroid
    table (r11 — the SemDeDup hot-cell recursion kernel): every row is
    assigned the most cosine-similar centroid among ITS OWN group's
    rows of the staged (bucket, cent_id, ce, cn) artifact, loaded
    lazily executor-side like the PQ codebooks. Ties break to the
    smallest cent_id; zero-norm cosines pin to -2.0 (the assign_nearest
    contracts). Rows whose group has no staged centroids keep
    ``out_col`` = their ``group_col`` value (identity — callers route
    only hot groups through, but a stale row must not crash).

    ``cache_token``: per-worker caching is keyed on (path, token) — a
    STAGED artifact is immutable so the default "" is right, but an
    APPEND-ONLY table (the ivf hot-cell splits) must pass a token that
    changes when the table grows (e.g. its file listing), or workers
    keep routing against a stale snapshot."""
    import numpy as np

    schema = StructType(list(corpus.schema.fields) + [StructField(out_col, LongType())])

    def groups(path: str) -> dict:
        key = ("groups", path, cache_token)
        if key not in _STAGED_CACHE:
            g: dict[int, tuple] = {}
            pdf = _read_parquet_dir(path) if cache_token else _staged_pdf(path)
            for b, grp in pdf.groupby(group_col):
                order = np.argsort(
                    grp["cent_id"].to_numpy(dtype="int64"), kind="stable"
                )
                C = _rows(grp["ce"])[order]
                g[int(b)] = (
                    C,
                    grp["cn"].to_numpy(dtype="float64")[order],
                    grp["cent_id"].to_numpy(dtype="int64")[order],
                )
            _STAGED_CACHE[key] = g
        return _STAGED_CACHE[key]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = groups(cb_path)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = _rows(pdf[vec_col])
            nrm = pdf[norm_col].to_numpy(dtype="float64")
            bks = pdf[group_col].to_numpy(dtype="int64")
            out = bks.copy()  # identity for groups with no centroids
            for b in np.unique(bks):
                if int(b) not in g:
                    continue
                C, cn, cids = g[int(b)]
                idx = np.flatnonzero(bks == b)
                den = nrm[idx][:, None] * cn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(
                        den > 0, (emb[idx] @ C.T) / np.where(den > 0, den, 1.0), -2.0
                    )
                out[idx] = cids[cos.argmax(axis=1)]
            res = pdf.copy()
            res[out_col] = out
            yield res

    return corpus.mapInPandas(assign, schema)


def pq_codes(
    corpus: DataFrame,
    cent_pdf: pd.DataFrame,
    *,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ assignment CODES (r11, the Lloyd-training
    half-step): for every vector and subspace, the cent_id of the most
    cosine-similar codebook slice — EXACTLY pq_reconstruct's argmax
    (same blocked einsum, same -2.0 zero-norm pin, same ties-to-
    smallest-cent_id), emitting (id, m, cent_id) rows instead of the
    reconstruction. The einsum kernel's sequential per-slice reduction
    keeps the cosines bit-identical to the oracle's list_reduce twin —
    the argmax therefore picks the same codeword on both engines."""
    import numpy as np

    order = np.argsort(cent_pdf["cent_id"].to_numpy(dtype="int64"), kind="stable")
    C = _rows(cent_pdf["ce"])[order]
    cids = cent_pdf["cent_id"].to_numpy(dtype="int64")[order]
    k, d = C.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    Cs = np.ascontiguousarray(C.reshape(k, m, sub))
    cn = np.sqrt(np.einsum("kms,kms->km", Cs, Cs))
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("m", LongType()),
            StructField("cent_id", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blk = max(1, int(8_000_000 / (k * m)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _rows(pdf[vec_col]).reshape(len(pdf), m, sub)
            xn = np.sqrt(np.einsum("nms,nms->nm", X, X))
            outs = []
            for lo in range(0, len(pdf), blk):
                Xb, xb = X[lo : lo + blk], xn[lo : lo + blk]
                num = np.einsum("nms,kms->nkm", Xb, Cs)
                den = xb[:, None, :] * cn[None, :, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(den > 0, num / np.where(den > 0, den, 1.0), -2.0)
                outs.append(cids[cos.argmax(axis=1)])  # (n, m)
            codes = np.concatenate(outs) if len(outs) > 1 else outs[0]
            ids = pdf[id_col].astype("int64").to_numpy()
            n = len(ids)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, m),
                    "m": np.tile(np.arange(m, dtype="int64"), n),
                    "cent_id": codes.reshape(n * m),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(run, schema)


def pq_reconstruct(
    corpus: DataFrame,
    cent_pdf: pd.DataFrame,
    *,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode + reconstruct in ONE Arrow pass: the
    d-dim space splits into ``m`` subspaces; each subvector is assigned
    its most cosine-similar centroid slice (codebook = ``cent_pdf``,
    the same hash-selected rows as IVF — (cent_id, ce, cn)); the output
    vector is the concatenation of chosen slices. Codes are m bytes per
    vector vs d float32s — at 100 TB the PQ index scan reads 1/32 of
    the bytes; symmetric scoring on reconstructions keeps the oracle
    exact (the sq8 precedent). Ties break to the smallest cent_id
    (slices scanned in cent_id order, argmax keeps the first maximum —
    the oracle's ORDER BY cos DESC, cent_id)."""
    import numpy as np

    order = np.argsort(cent_pdf["cent_id"].to_numpy(dtype="int64"), kind="stable")
    C = _rows(cent_pdf["ce"])[order]
    k, d = C.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    Cs = np.ascontiguousarray(C.reshape(k, m, sub))
    cn = np.sqrt(np.einsum("kms,kms->km", Cs, Cs))
    schema = StructType(
        [StructField(id_col, LongType()), StructField(vec_col, _ARR_D)]
    )

    # Row-blocked scoring: the (rows, k, m) cosine tensor is the only
    # super-linear allocation in the encode path — with the r10
    # corpus-scaled codebook (k up to 4096) a 10k-row Arrow batch would
    # materialize ~5 GiB per task. Cap the block so the tensor stays
    # ~64 MiB regardless of k; argmax semantics are per-row, so
    # blocking is bit-identical to the whole-batch form.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blk = max(1, int(8_000_000 / (k * m)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _rows(pdf[vec_col]).reshape(len(pdf), m, sub)
            xn = np.sqrt(np.einsum("nms,nms->nm", X, X))
            recs = []
            for lo in range(0, len(pdf), blk):
                Xb, xb = X[lo : lo + blk], xn[lo : lo + blk]
                num = np.einsum("nms,kms->nkm", Xb, Cs)
                den = xb[:, None, :] * cn[None, :, :]
                # zero-norm subvector (all-zero slice): cosine is
                # undefined — both engines pin it to -2.0 so argmax
                # falls back to the smallest cent_id instead of
                # numpy picking a NaN index while SQL drops the row
                # (the oracle's CASE WHEN ... = 0 THEN -2 twin)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(den > 0, num / np.where(den > 0, den, 1.0), -2.0)
                codes = cos.argmax(axis=1)  # (n, m); first max = smallest cent_id
                recs.append(Cs[codes, np.arange(m)[None, :], :].reshape(len(Xb), d))
            rec = np.concatenate(recs) if len(recs) > 1 else recs[0]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    vec_col: list(rec),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(run, schema)


def _sorted_book(cent_pdf: pd.DataFrame, m: int):
    """The global codebook as a (k, m, sub) tensor in cent_id order —
    the shared layout of the packed-codes encode and decode kernels
    (slot = position in this ordering; argmax keeps the first maximum,
    so slot order IS the oracle's ties-to-smallest-cent_id rule)."""
    import numpy as np

    order = np.argsort(cent_pdf["cent_id"].to_numpy(dtype="int64"), kind="stable")
    C = _rows(cent_pdf["ce"])[order]
    k, d = C.shape
    if k > 65535:
        # the packed-codes kernels store each slot as '<u2'
        raise ValueError(f"k={k} codewords exceed the uint16 slot range (max 65535)")
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    return np.ascontiguousarray(C.reshape(k, m, d // m))


def pq_codes_packed(
    corpus: DataFrame,
    cent_pdf: pd.DataFrame,
    *,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Global-codebook PQ ENCODE ONLY (r15 — the staged-codes form of
    pq_reconstruct): EXACTLY pq_reconstruct's argmax (same blocked
    einsum, same -2.0 zero-norm pin, same ties-to-smallest-cent_id via
    the cent_id-sorted book), but emitting each vector's m dense SLOTS
    packed into one 2m-byte uint16-LE binary (the ivfpq_codes payload
    shape; the global k is capped at 4096, well inside uint16) instead
    of materializing the reconstruction. At 100 TB THIS is the index
    payload: the encode — the only super-linear kernel on the PQ path
    (N·k·m slice cosines) — runs once per corpus snapshot when the
    table is staged, and every query-time consumer re-creates vectors
    with pq_decode's O(N·m) gathers."""
    import numpy as np

    Cs = _sorted_book(cent_pdf, m)
    k, _, sub = Cs.shape
    cn = np.sqrt(np.einsum("kms,kms->km", Cs, Cs))
    schema = StructType(
        [StructField(id_col, LongType()), StructField("codes", BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blk = max(1, int(8_000_000 / (k * m)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _rows(pdf[vec_col]).reshape(len(pdf), m, sub)
            xn = np.sqrt(np.einsum("nms,nms->nm", X, X))
            slots = np.empty((len(pdf), m), dtype="<u2")
            for lo in range(0, len(pdf), blk):
                Xb, xb = X[lo : lo + blk], xn[lo : lo + blk]
                num = np.einsum("nms,kms->nkm", Xb, Cs)
                den = xb[:, None, :] * cn[None, :, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(den > 0, num / np.where(den > 0, den, 1.0), -2.0)
                slots[lo : lo + blk] = cos.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    "codes": [row.tobytes() for row in slots],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(run, schema)


def pq_decode(
    codes_df: DataFrame,
    cent_pdf: pd.DataFrame,
    *,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reconstruct vectors from a pq_codes_packed table: gather each
    row's m codebook slices by slot and concatenate — O(N·m) indexing,
    no scoring. The book tensor is _sorted_book's cent_id order (the
    slot bijection), so decode(encode(x)) is bit-identical to
    pq_reconstruct(x) — same float64 slices, only read back from the
    staged codes instead of re-derived by the argmax."""
    import numpy as np

    Cs = _sorted_book(cent_pdf, m)
    d = Cs.shape[1] * Cs.shape[2]
    schema = StructType(
        [StructField(id_col, LongType()), StructField(vec_col, _ARR_D)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            slots = _unpack_codes(pdf["codes"], m)
            rec = Cs[slots, np.arange(m)[None, :], :].reshape(len(pdf), d)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    vec_col: list(rec),
                }
            )

    return codes_df.select(id_col, "codes").mapInPandas(run, schema)
