"""PQ kernel (functions/vector.pq_reconstruct): numpy-reference
equality, tie rule, compression accounting, and partitioning
invariance. The catalog row hash-gates the end-to-end scores at two
scales; this pins the kernel itself."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from etly_spark.functions.vector import pq_reconstruct


def _reference(X, C, m):
    n, d = X.shape
    sub = d // m
    Xs = X.reshape(n, m, sub)
    Cs = C.reshape(len(C), m, sub)
    xn = np.sqrt(np.einsum("nms,nms->nm", Xs, Xs))
    cn = np.sqrt(np.einsum("kms,kms->km", Cs, Cs))
    cos = np.einsum("nms,kms->nkm", Xs, Cs) / (xn[:, None, :] * cn[None, :, :])
    codes = cos.argmax(axis=1)
    return Cs[codes, np.arange(m)[None, :], :].reshape(n, d), codes


def _cent_pdf(C):
    return pd.DataFrame(
        {
            "cent_id": np.arange(len(C), dtype="int64"),
            "ce": list(C),
            "cn": np.sqrt(np.einsum("kd,kd->k", C, C)),
        }
    )


def test_pq_reconstruct_matches_numpy_reference(spark):
    rng = np.random.default_rng(5)
    X = rng.normal(size=(60, 32))
    C = rng.normal(size=(8, 32))
    df = spark.createDataFrame(
        [(i, list(map(float, x))) for i, x in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    got = {
        r.vec_id: np.array(r.embedding)
        for r in pq_reconstruct(df, _cent_pdf(C), m=4).collect()
    }
    want, codes = _reference(X, C, 4)
    for i in range(60):
        assert np.array_equal(got[i], want[i]), i
    # reconstructions draw from the codebook only: each subspace slice
    # of every output is exactly one centroid's slice
    Cs = C.reshape(8, 4, 8)
    for i in range(60):
        for mm in range(4):
            sl = got[i].reshape(4, 8)[mm]
            assert any(np.array_equal(sl, Cs[k, mm]) for k in range(8))


def test_pq_tie_breaks_to_smallest_cent_id(spark):
    # two identical codebook rows: the tie must resolve to cent_id 0
    # (the oracle's ORDER BY cos DESC, cent_id) even when the pandas
    # frame arrives in shuffled cent_id order
    base = np.arange(16, dtype="float64") + 1.0
    C = np.stack([base, base, -base])
    pdf = _cent_pdf(C).iloc[[2, 0, 1]].reset_index(drop=True)
    df = spark.createDataFrame(
        [(0, [float(v) for v in base])], "vec_id long, embedding array<double>"
    )
    out = pq_reconstruct(df, pdf, m=2).collect()[0]
    assert np.array_equal(np.array(out.embedding), base)


def test_pq_rejects_indivisible_dims(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    C = np.ones((2, 3))
    with pytest.raises(ValueError, match="not divisible"):
        pq_reconstruct(df, _cent_pdf(C), m=2)


def test_packed_codes_reject_codebooks_past_uint16(spark):
    """pq_codes_packed/pq_decode store each slot as '<u2': a codebook
    with more than 65535 codewords must fail at the kernel boundary
    instead of wrapping slots into wrong vectors."""
    from etly_spark.functions.vector import _sorted_book, pq_codes_packed, pq_decode

    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<double>")
    big = _cent_pdf(np.ones((65536, 2)))
    with pytest.raises(ValueError, match="uint16"):
        pq_codes_packed(df, big, m=1)
    with pytest.raises(ValueError, match="uint16"):
        pq_decode(df.selectExpr("vec_id", "CAST('' AS BINARY) AS codes"), big, m=1)
    assert _sorted_book(_cent_pdf(np.ones((65535, 2))), 1).shape == (65535, 1, 2)


def test_ivfpq_reconstruct_routes_per_cell(spark):
    """r10 kernel pin: each vector must encode against ITS cell's
    codebook only — verified against a per-cell numpy reference, with
    a deliberate cross-cell decoy (a codeword in cell 1 that would win
    cell 0's argmax if routing leaked)."""
    from etly_spark.functions.vector import ivfpq_reconstruct

    rng = np.random.default_rng(11)
    m, d = 4, 16
    X = rng.normal(size=(40, d))
    cells = (np.arange(40) % 2).astype("int64")
    # cell 1's codebook gets exact copies of cell-0 vectors (the decoy):
    # a routing leak would snap cell-0 rows to them with cos == 1
    cb0 = rng.normal(size=(5, d))
    cb1 = np.vstack([X[cells == 0][:3], rng.normal(size=(4, d))])
    cb_pdf = pd.DataFrame(
        {
            "cell": [0] * 5 + [1] * 7,
            "cb_id": list(range(5)) + list(range(100, 107)),
            "ce": list(cb0) + list(cb1),
        }
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(40, dtype="int64"), "embedding": list(X), "cell": cells}
        )
    )
    got = {
        r.vec_id: np.array(r.embedding)
        for r in ivfpq_reconstruct(df, cb_pdf, m=m).collect()
    }
    for cell, CB in ((0, cb0), (1, cb1)):
        idx = np.flatnonzero(cells == cell)
        ref, _ = _reference(X[idx], CB, m)
        for j, i in enumerate(idx):
            assert np.allclose(got[i], ref[j]), f"vec {i} (cell {cell})"
    # positive control keeping the decoy honest: cb1 really contains
    # exact copies of cell-0 vectors, so if routing leaked, cell-0 row
    # 0 would reconstruct to ITSELF (cos == 1 on every subspace)
    assert any(np.array_equal(X[0], row) for row in cb1)
    assert not np.allclose(got[0], X[0])  # cell-0 row didn't reach the decoy


def test_ivfpq_staged_codebook_matches_pdf_form(spark, tmp_path):
    """r11 (verdict item 1): passing a stage_path STRING routes the
    codebook executor-side (_staged_books) — reconstructions must be
    bit-identical to the driver-pandas form, and the staged artifact
    must be a real distributed parquet write (no driver collect)."""
    from etly_spark.functions.vector import ivfpq_reconstruct
    from etly_spark.io.staging import stage_path

    rng = np.random.default_rng(23)
    m, d = 4, 16
    X = rng.normal(size=(60, d))
    cells = (np.arange(60) % 3).astype("int64")
    cb_rows = []
    for c in range(3):
        for j, v in enumerate(rng.normal(size=(4 + c, d))):
            cb_rows.append((c, 100 * c + j, list(v)))
    cb_pdf = pd.DataFrame(cb_rows, columns=["cell", "cb_id", "ce"])
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(60, dtype="int64"), "embedding": list(X), "cell": cells}
        )
    )
    want = {
        r.vec_id: np.array(r.embedding)
        for r in ivfpq_reconstruct(df, cb_pdf, m=m).collect()
    }
    cb_sdf = spark.createDataFrame(cb_pdf)
    path = stage_path(spark, "test-ivfpq-cb", lambda: cb_sdf, deps=())
    got = {
        r.vec_id: np.array(r.embedding)
        for r in ivfpq_reconstruct(df, path, m=m).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert np.array_equal(got[k], want[k]), k


def test_assign_nearest_grouped_staged(spark):
    """r11 SemDeDup-recursion kernel: per-group nearest assignment
    against a staged centroid table — rows assign only within their
    own group (cross-group decoy must not leak), ties break to the
    smallest cent_id, groups absent from the artifact keep identity."""
    from etly_spark.functions.vector import assign_nearest_grouped
    from etly_spark.io.staging import stage_path

    d = 8
    e1 = [1.0] + [0.0] * (d - 1)
    e2 = [0.0, 1.0] + [0.0] * (d - 2)
    # group 10: centroids 5 (=e1) and 3 (=e1 too -> tie, smaller wins);
    # group 20: centroid 7 (=e1 decoy for group-10 rows) and 9 (=e2)
    cb = pd.DataFrame(
        {
            "bucket": [10, 10, 20, 20],
            "cent_id": [5, 3, 7, 9],
            "ce": [e1, e1, e1, e2],
            "cn": [1.0, 1.0, 1.0, 1.0],
        }
    )
    cb_sdf = spark.createDataFrame(cb)
    path = stage_path(spark, "test-grouped-assign", lambda: cb_sdf, deps=())
    rows = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "embedding": [e1, e2, e1],
            "nrm": [1.0, 1.0, 1.0],
            "bucket": [10, 20, 99],  # 99 has no centroids -> identity
        }
    )
    got = {
        r.vec_id: r.sub
        for r in assign_nearest_grouped(
            spark.createDataFrame(rows), path, out_col="sub"
        ).collect()
    }
    assert got == {1: 3, 2: 9, 3: 99}


def test_pq_lloyd_step_matches_numpy_reference(spark):
    """r11 (verdict item 6): one deterministic Lloyd iteration must
    equal the plain numpy k-means step — cosine argmax assignment
    (ties to smallest cent_id), elementwise member mean, empty
    codewords keep their previous value."""
    from etly_spark.queries.similarity import _PQ_M, _pq_lloyd_step

    rng = np.random.default_rng(7)
    n, d = 120, 64
    X = rng.normal(size=(n, d))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype="int64"), "embedding": list(X)})
    )
    k = 10
    # a zero-norm codeword is unassignable (cosine pinned to -2.0 on
    # both engines) -> a genuinely empty cluster; a merely-distant one
    # would NOT be (cosine is scale-invariant)
    C = np.vstack([X[:k - 1], np.zeros((1, d))])
    cent_pdf = pd.DataFrame(
        {"cent_id": np.arange(k, dtype="int64"), "ce": list(C)}
    )
    out = _pq_lloyd_step(df, cent_pdf)
    got = {int(c): np.asarray(e) for c, e in zip(out["cent_id"], out["ce"])}

    m, sub = _PQ_M, d // _PQ_M
    Xs = X.reshape(n, m, sub)
    Cs = C.reshape(k, m, sub)
    xn = np.sqrt(np.einsum("nms,nms->nm", Xs, Xs))
    cn = np.sqrt(np.einsum("kms,kms->km", Cs, Cs))
    with np.errstate(divide="ignore", invalid="ignore"):
        den = xn[:, None, :] * cn[None, :, :]
        cos = np.where(den > 0, np.einsum("nms,kms->nkm", Xs, Cs) / np.where(den > 0, den, 1.0), -2.0)
    codes = cos.argmax(axis=1)  # (n, m), first max = smallest cent_id
    want = Cs.copy()
    for mm in range(m):
        for c in range(k):
            members = np.flatnonzero(codes[:, mm] == c)
            if len(members):
                want[c, mm, :] = Xs[members, mm, :].mean(axis=0)
    for c in range(k):
        assert np.allclose(got[c], want[c].reshape(d), atol=1e-12), c
    # the decoy codeword attracted nothing and survived verbatim
    assert np.array_equal(got[k - 1][:], C[k - 1])


def test_trained_pq_codebook_is_staged_and_reused(spark):
    """r13: the trained global PQ codebook is a staged artifact — the
    two-Lloyd-iteration training chain runs once per (process, corpus
    tag); a second sim_pq call with the same tag must hit the stage
    (no retrain) and return identical rows through the float64-exact
    parquet roundtrip."""
    from etly_spark.io import staging
    from etly_spark.queries.similarity import sim_pq

    sf = "/root/testdata/sf0.001"
    first = sim_pq(spark, sf, corpus_tag="pqstage-pin").collect()
    misses = staging.stats["misses"]
    hits = staging.stats["hits"]
    second = sim_pq(spark, sf, corpus_tag="pqstage-pin").collect()
    assert staging.stats["misses"] == misses  # nothing rebuilt
    # r15: the packed codes table is staged alongside the codebook
    assert staging.stats["hits"] == hits + 2  # codebook + codes stages hit
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_sq8_minmax_is_staged_and_reused(spark):
    """r13: sim_sq8's per-dim (lo, hi) training row is a staged
    artifact — min/max copy input doubles, so the parquet roundtrip is
    exact and a second call hits the stage with identical rows."""
    from etly_spark.io import staging
    from etly_spark.queries.similarity import sim_sq8

    sf = "/root/testdata/sf0.001"
    first = sim_sq8(spark, sf, corpus_tag="sq8stage-pin").collect()
    misses = staging.stats["misses"]
    hits = staging.stats["hits"]
    second = sim_sq8(spark, sf, corpus_tag="sq8stage-pin").collect()
    assert staging.stats["misses"] == misses
    assert staging.stats["hits"] == hits + 1
    assert first == second


def test_pq_packed_codes_roundtrip_equals_reconstruct(spark):
    """r15: the staged-codes path (pq_codes_packed -> pq_decode) must
    be bit-identical to the inline encode+reconstruct — the catalog's
    pq8/pq8_c/pq8_a/opq_a branches now read staged codes, and any
    drift in the slot bijection or the gather would silently move
    quantized scores."""
    from etly_spark.functions.vector import pq_codes_packed, pq_decode

    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 32))
    X[7] = 0.0  # zero-norm row: the -2.0 pin must survive the packed path
    C = rng.normal(size=(9, 32))
    df = spark.createDataFrame(
        [(i, list(map(float, x))) for i, x in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    # shuffled cent_id order: the slot bijection must be the sorted one
    pdf = _cent_pdf(C).iloc[[4, 0, 8, 2, 6, 1, 7, 3, 5]].reset_index(drop=True)
    inline = {
        r.vec_id: np.array(r.embedding)
        for r in pq_reconstruct(df, pdf, m=4).collect()
    }
    codes = pq_codes_packed(df, pdf, m=4)
    roundtrip = {
        r.vec_id: np.array(r.embedding)
        for r in pq_decode(codes, pdf, m=4).collect()
    }
    assert set(roundtrip) == set(inline)
    for i in inline:
        assert np.array_equal(roundtrip[i], inline[i]), i


def test_sim_pq_codes_are_staged_and_reused(spark):
    """r15: sim_pq's packed codes table is a staged artifact — the
    second call hits the stage (codebook + codes) and returns
    identical rows."""
    from etly_spark.io import staging
    from etly_spark.queries.similarity import sim_pq

    sf = "/root/testdata/sf0.001"
    first = sim_pq(spark, sf, corpus_tag="pqcodes-pin").collect()
    misses = staging.stats["misses"]
    hits = staging.stats["hits"]
    second = sim_pq(spark, sf, corpus_tag="pqcodes-pin").collect()
    assert staging.stats["misses"] == misses  # nothing rebuilt
    assert staging.stats["hits"] == hits + 2  # codebook + codes stages hit
    assert first == second


def test_codes_stages_declare_their_codebook(spark, tmp_path, monkeypatch):
    """The pq-codes and ivfpq-codes stages fingerprint the committed
    codebook dir they encode against: two different codebooks give two
    different codes stages, so a rebuilt codebook never serves codes
    encoded against the old one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etly_spark.io import staging
    from etly_spark.queries import similarity as S

    (tmp_path / "embeddings.parquet").write_bytes(b"corpus")
    books = []
    for i in range(2):
        d = tmp_path / f"cb{i}"
        d.mkdir()
        pq.write_table(
            pa.table({"cent_id": [0], "ce": [[float(i + 1)] * 64]}),
            str(d / "part-0.parquet"),
        )
        books.append(str(d))

    class Stop(Exception):
        pass

    seen: dict[str, list[str]] = {"pq": [], "ivfpq": []}

    def spy(key, deps, write):
        seen["pq" if key.startswith("pq-codes") else "ivfpq"].append(
            staging._fingerprint(key, deps)
        )
        raise Stop

    monkeypatch.setattr(staging, "stage_dir", spy)
    s = spark.createDataFrame(
        [(0, [1.0] * 64, 8.0)], "vec_id long, embedding array<double>, nrm double"
    )
    for cb in books:
        monkeypatch.setattr(S, "_pq_codebook_path", lambda *a, cb=cb: cb)
        with pytest.raises(Stop):
            S.sim_pq(spark, str(tmp_path), s=s, corpus_tag="cb-deps")
        with pytest.raises(Stop):
            S._ivfpq_codes_path(spark, str(tmp_path), s, cb, "cb-deps")
    assert len(seen["pq"]) == len(seen["ivfpq"]) == 2
    assert seen["pq"][0] != seen["pq"][1]
    assert seen["ivfpq"][0] != seen["ivfpq"][1]
