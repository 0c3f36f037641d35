"""Product-quantization (PQ) ANN — the compressed-domain scale path.

At 100 TB an embedding corpus is ~3 KB/row of float32; brute/IVF/LSH
(similarity.py) still ship or scan full vectors for the re-rank.  PQ
is the classic answer (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; the FAISS IVF-PQ design): split
the vector into ``m`` subspaces, k-means each subspace to ``2**nbits``
codewords, store each vector as ``m`` one-byte codes — 8-64 bytes per
row, a 50-400× compression — and answer queries with ASYMMETRIC
DISTANCE (ADC): the exact query sub-vector against a per-query
``m × K`` lookup table, so search never decodes the corpus.

Scale shape mirrors :func:`similarity.knn_join`:

* training is driver-side on a bounded deterministic sample
  (similarity.ivf_topk's documented contract; the codebook is
  ``m × K × dim/m`` doubles — a few hundred KB, broadcastable at any
  corpus size),
* encoding is ONE Arrow pass (a BLAS matmul per subspace per batch),
  no shuffle — at 100 TB this runs once and persists next to the
  corpus as an ordinary binary column,
* search consumes the CODES with mapInPandas computing a PARTIAL
  top-k per Arrow batch from the ADC tables; only
  ``k × |queries| × num_batches`` candidate rows reach the final
  per-query top-k shuffle.  The full-vector corpus never flows
  through search at all — that is the point.

Determinism: seeded sampled init, fixed iteration count, argmin ties
break to the lowest code index, scores rounded to 6 dp with id
tiebreaks — output is stable across partitionings (the rows-only
checksum contract).

The reference engine has no ANN surface (brief: similarity-search
extension); cites none of its files.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _subspace_kmeans(X: np.ndarray, k: int, iters: int = 10,
                     seed: int = 7) -> np.ndarray:
    """Plain (L2) deterministic k-means for one subspace."""
    rs = np.random.RandomState(seed)
    C = X[rs.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    for _ in range(iters):
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
        D = -2.0 * (X @ C.T) + (C * C).sum(axis=1)
        assign = D.argmin(axis=1)
        # vectorized centroid update (a per-centroid boolean-mask loop
        # is ~10× slower at K=256); sequential np.add.at accumulation
        # is deterministic, which is all the checksum contract needs
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=len(C))
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


def train_pq(df: DataFrame, *, m: int = 8, nbits: int = 8,
             train_sample: int = 4096, kmeans_iters: int = 10,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> np.ndarray:
    """Driver-trained PQ codebook on a bounded deterministic sample
    (first ids — at 100 TB a hash-bucket sample feeds the same code).

    Vectors are L2-normalized first, so ADC's L2 ordering matches
    cosine ordering (spherical geometry, same convention as the other
    ANN paths).  Returns ``(m, K, dim // m)`` float64 codewords."""
    pdf = (df.select(F.col(vec_col)).orderBy(F.col(id_col))
           .limit(train_sample).toPandas())
    X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    K = 1 << nbits
    return np.stack([
        _subspace_kmeans(np.ascontiguousarray(X[:, s * sub:(s + 1) * sub]),
                         K, kmeans_iters, seed=7 + s)
        for s in range(m)])


def pq_encode(df: DataFrame, codebook: np.ndarray, *,
              vec_col: str = "embedding",
              code_col: str = "pq_code") -> DataFrame:
    """Append the ``m``-byte PQ code (binary) for every vector — one
    Arrow pass, one BLAS matmul per subspace per batch, no shuffle."""
    m, K, sub = codebook.shape
    if K > 256:
        raise ValueError("nbits > 8 doesn't fit byte codes")
    bc = df.sparkSession.sparkContext.broadcast(codebook)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        C = bc.value
        X = np.vstack(v.to_numpy()).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), m), dtype=np.uint8)
        for s in range(m):
            Xs = X[:, s * sub:(s + 1) * sub]
            Cs = C[s]
            D = -2.0 * (Xs @ Cs.T) + (Cs * Cs).sum(axis=1)
            codes[:, s] = D.argmin(axis=1)
        return pd.Series([c.tobytes() for c in codes])

    return df.withColumn(code_col, encode(F.col(vec_col)))


def pq_topk(df: DataFrame, query_ids, k: int = 5, *,
            m: int = 8, nbits: int = 8, train_sample: int = 4096,
            kmeans_iters: int = 10, id_col: str = "vec_id",
            vec_col: str = "embedding", code_col: str = "pq_code",
            codebook: np.ndarray | None = None,
            encoded: DataFrame | None = None) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance over PQ codes.

    Per query the EXACT sub-vectors index a precomputed ``m × K``
    table of squared sub-distances; a corpus row's score is ``m``
    byte-indexed table lookups summed — no per-pair vector math, and
    the corpus side of the search is the ``m``-byte code column only.
    Returns (q_id, n_id, adc_cos, rank): ``adc_cos = 1 - d²/2`` on
    the unit sphere, directly comparable to the exact paths' cosine.

    Pass ``codebook``/``encoded`` to reuse a persisted index (the
    100 TB deployment shape: encode once, search many)."""
    if encoded is not None and codebook is None:
        raise ValueError(
            "encoded= requires the codebook that produced it — "
            "retraining here would score the stale codes against "
            "different codewords (silently garbage neighbours)")
    if codebook is None:
        codebook = train_pq(df, m=m, nbits=nbits,
                            train_sample=train_sample,
                            kmeans_iters=kmeans_iters,
                            id_col=id_col, vec_col=vec_col)
    m, K, sub = codebook.shape
    if encoded is None:
        encoded = pq_encode(df, codebook, vec_col=vec_col,
                            code_col=code_col)

    qrows = (df.filter(F.col(id_col).isin([int(q) for q in query_ids]))
             .select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
             .collect())
    if not qrows:
        raise ValueError("no query vectors found")
    q_ids = np.array([int(r.q) for r in qrows], dtype=np.int64)
    Q = np.array([[float(x) for x in r.v] for r in qrows])
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # ADC tables: tables[q, s, code] = ||q_sub - codeword||²
    tables = np.empty((len(Q), m, K))
    for s in range(m):
        Qs = Q[:, s * sub:(s + 1) * sub]
        Cs = codebook[s]
        tables[:, s, :] = ((Qs * Qs).sum(axis=1, keepdims=True)
                           - 2.0 * (Qs @ Cs.T) + (Cs * Cs).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((q_ids, tables))

    def batch_topk(batches):
        q_ids_, T = bc.value
        nq = len(q_ids_)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.frombuffer(
                b"".join(pdf["__c"].to_numpy()),
                dtype=np.uint8).reshape(len(pdf), m)
            # S[q, row] = Σ_s T[q, s, codes[row, s]]
            S = np.zeros((nq, len(pdf)))
            for s in range(m):
                S += T[:, s, :][:, codes[:, s]]
            cos = np.round(1.0 - S / 2.0, 6)
            n_ids = pdf["__id"].to_numpy()
            kk = min(k + 1, cos.shape[1])
            out = []
            for qi in range(nq):
                idx = np.lexsort((n_ids, -cos[qi]))[:kk]
                out.append(pd.DataFrame({"q_id": np.full(len(idx),
                                                         q_ids_[qi]),
                                         "n_id": n_ids[idx],
                                         "adc_cos": cos[qi][idx]}))
            yield pd.concat(out, ignore_index=True)

    cand = (encoded.select(F.col(id_col).cast("long").alias("__id"),
                           F.col(code_col).alias("__c"))
            .mapInPandas(batch_topk, "q_id long, n_id long, adc_cos double"))
    w = W.partitionBy("q_id").orderBy(F.col("adc_cos").desc(),
                                      F.col("n_id"))
    return (cand.filter(F.col("q_id") != F.col("n_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "adc_cos", "rank"))


# ------------------------------------------------------------- IVF-PQ

def train_ivfpq(df: DataFrame, *, n_cells: int = 64, m: int = 8,
                nbits: int = 8, train_sample: int = 4096,
                kmeans_iters: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding"):
    """(centroids, codebook) for the composed FAISS-style IVF-PQ
    index: a spherical k-means coarse quantizer picks each vector's
    cell; PQ codes the RESIDUAL against its cell centroid (residuals
    concentrate near zero, so the same code budget quantizes far more
    precisely than raw-vector PQ — Jégou 2011 §IV).  Both stages
    train driver-side on one bounded deterministic sample; the
    combined index parameters (n_cells × dim + m × K × dim/m doubles)
    stay broadcastable at any corpus size."""
    from .similarity import _spherical_kmeans
    pdf = (df.select(F.col(vec_col)).orderBy(F.col(id_col))
           .limit(train_sample).toPandas())
    X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    centroids = _spherical_kmeans(X, n_cells, kmeans_iters)
    R = X - centroids[(X @ centroids.T).argmax(axis=1)]
    sub, K = dim // m, 1 << nbits
    codebook = np.stack([
        _subspace_kmeans(np.ascontiguousarray(R[:, s * sub:(s + 1) * sub]),
                         K, kmeans_iters, seed=7 + s)
        for s in range(m)])
    return centroids, codebook


def ivfpq_encode(df: DataFrame, centroids: np.ndarray,
                 codebook: np.ndarray, *, vec_col: str = "embedding",
                 cell_col: str = "ivf_cell",
                 code_col: str = "pq_code") -> DataFrame:
    """Append (cell id, m-byte residual code) per vector — ONE Arrow
    pass, one BLAS matmul for the cell assignment plus one per
    subspace, no shuffle.  Persisted next to the corpus (ideally
    partitioned by ``cell_col``, so a probe's cell filter prunes
    files before any row is read)."""
    m, K, sub = codebook.shape
    bc = df.sparkSession.sparkContext.broadcast((centroids, codebook))
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cell: int, code: binary>")
    def encode(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "code": pd.Series([], dtype="object")})
        C, B = bc.value
        X = np.vstack(v.to_numpy()).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        cells = (X @ C.T).argmax(axis=1)
        R = X - C[cells]
        codes = np.empty((len(X), m), dtype=np.uint8)
        for s in range(m):
            Rs = R[:, s * sub:(s + 1) * sub]
            Cs = B[s]
            D = -2.0 * (Rs @ Cs.T) + (Cs * Cs).sum(axis=1)
            codes[:, s] = D.argmin(axis=1)
        return pd.DataFrame({"cell": cells.astype("int32"),
                             "code": [c.tobytes() for c in codes]})

    return (df.withColumn("__e", encode(F.col(vec_col)))
            .withColumn(cell_col, F.col("__e.cell"))
            .withColumn(code_col, F.col("__e.code"))
            .drop("__e"))


def ivfpq_topk(df: DataFrame, query_ids, k: int = 5, *,
               n_cells: int = 64, n_probe: int = 8, m: int = 8,
               nbits: int = 8, train_sample: int = 4096,
               kmeans_iters: int = 10, id_col: str = "vec_id",
               vec_col: str = "embedding",
               centroids: np.ndarray | None = None,
               codebook: np.ndarray | None = None,
               encoded: DataFrame | None = None,
               cell_col: str = "ivf_cell",
               code_col: str = "pq_code") -> DataFrame:
    """Approximate cosine top-k over the IVF-PQ index — the standard
    100 TB ANN deployment (FAISS IVFPQ): each query probes its
    ``n_probe`` nearest cells and scores ONLY those cells' m-byte
    residual codes by ADC.

    Scale shape: the cell filter is a plan-side ``isin`` over the
    (tiny) union of probed cells — partition/file pruning when the
    encoded index is stored partitioned by cell — so search touches
    ~``n_probe / n_cells`` of the code column and none of the raw
    vectors; per-(query, cell) ADC tables
    (nq × n_probe × m × K doubles, ~1 MB) broadcast; per-batch
    partial top-k as in :func:`pq_topk`.  Pass
    ``centroids``/``codebook``/``encoded`` to reuse a persisted index
    (built once, probed many — see also
    ``streaming.pq_index_ingest_stream`` for the incremental-encode
    shape)."""
    if encoded is not None and (centroids is None or codebook is None):
        raise ValueError(
            "encoded= requires the centroids and codebook that "
            "produced it — retraining here would score the stale "
            "codes against different codewords")
    if centroids is None or codebook is None:
        centroids, codebook = train_ivfpq(
            df, n_cells=n_cells, m=m, nbits=nbits,
            train_sample=train_sample, kmeans_iters=kmeans_iters,
            id_col=id_col, vec_col=vec_col)
    n_cells = len(centroids)
    m, K, sub = codebook.shape
    n_probe = min(n_probe, n_cells)
    if encoded is None:
        encoded = ivfpq_encode(df, centroids, codebook, vec_col=vec_col,
                               cell_col=cell_col, code_col=code_col)

    qrows = (df.filter(F.col(id_col).isin([int(q) for q in query_ids]))
             .select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
             .collect())
    if not qrows:
        raise ValueError("no query vectors found")
    q_ids = np.array([int(r.q) for r in qrows], dtype=np.int64)
    Q = np.array([[float(x) for x in r.v] for r in qrows])
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    nq = len(Q)
    # n_probe nearest cells per query (deterministic: stable argsort)
    probes = np.argsort(-(Q @ centroids.T), axis=1,
                        kind="stable")[:, :n_probe].astype(np.int32)
    # T[q, p, s, code] = ||(q - c_probe)_s - codeword||²
    T = np.empty((nq, n_probe, m, K))
    for qi in range(nq):
        resid = Q[qi] - centroids[probes[qi]]        # (n_probe, dim)
        for s in range(m):
            Rs = resid[:, s * sub:(s + 1) * sub]     # (n_probe, sub)
            Cs = codebook[s]                         # (K, sub)
            T[qi, :, s, :] = ((Rs * Rs).sum(axis=1, keepdims=True)
                              - 2.0 * (Rs @ Cs.T)
                              + (Cs * Cs).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((q_ids, probes, T))
    probed_cells = sorted({int(c) for c in probes.ravel()})

    def batch_topk(batches):
        q_ids_, probes_, T_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.frombuffer(
                b"".join(pdf["__c"].to_numpy()),
                dtype=np.uint8).reshape(len(pdf), m)
            cells = pdf["__cell"].to_numpy()
            n_ids = pdf["__id"].to_numpy()
            out = []
            for qi in range(len(q_ids_)):
                ids_parts, d2_parts = [], []
                for pi in range(probes_.shape[1]):
                    mask = cells == probes_[qi, pi]
                    if not mask.any():
                        continue
                    sc = codes[mask]
                    S = np.zeros(len(sc))
                    for s in range(m):
                        S += T_[qi, pi, s, sc[:, s]]
                    ids_parts.append(n_ids[mask])
                    d2_parts.append(S)
                if not ids_parts:
                    continue
                ids = np.concatenate(ids_parts)
                cos = np.round(1.0 - np.concatenate(d2_parts) / 2.0, 6)
                kk = min(k + 1, len(ids))
                idx = np.lexsort((ids, -cos))[:kk]
                out.append(pd.DataFrame({
                    "q_id": np.full(len(idx), q_ids_[qi]),
                    "n_id": ids[idx], "adc_cos": cos[idx]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = (encoded
            .filter(F.col(cell_col).isin(probed_cells))
            .select(F.col(id_col).cast("long").alias("__id"),
                    F.col(cell_col).alias("__cell"),
                    F.col(code_col).alias("__c"))
            .mapInPandas(batch_topk, "q_id long, n_id long, adc_cos double"))
    w = W.partitionBy("q_id").orderBy(F.col("adc_cos").desc(),
                                      F.col("n_id"))
    return (cand.filter(F.col("q_id") != F.col("n_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "adc_cos", "rank"))


# --------------------------------------------- IVF-PQ md5 oracle path

def _md5_codebook(m: int, K: int, sub: int, seed: int = 13) -> np.ndarray:
    """(m, K, sub) codewords from md5 bytes, values in ±0.125 — the
    fixed-literal stand-in for the trained residual codebook.  Every
    value is (b - 127.5)/1020 with b an exact small integer, so the
    repr() decimal literal round-trips to the identical double in
    DuckDB."""
    import hashlib as _hl
    Wb = np.empty((m, K, sub), dtype=np.float64)
    for s in range(m):
        for j in range(K):
            for i in range(sub):
                b = _hl.md5(f"pqw:{seed}:{s}:{j}:{i}".encode()).digest()[0]
                Wb[s, j, i] = (b - 127.5) / 1020.0
    return Wb


def _chain_normalize(X: np.ndarray) -> np.ndarray:
    """Unit-normalize rows with a sequential sum-of-squares chain over
    the dims — the fixed left-to-right order the SQL norm uses."""
    q1 = np.zeros(len(X))
    for i in range(X.shape[1]):
        q1 += X[:, i] * X[:, i]
    return X / np.sqrt(q1)[:, None]


def _chain_encode(R: np.ndarray, Wb: np.ndarray) -> np.ndarray:
    """(n, m) int32 codes of ``R`` against the (m, K, sub) codebook:
    per subspace, the argmin (lowest code on ties) of a sequential
    squared-distance chain — the order the SQL encode replays."""
    m, K, sub = Wb.shape
    codes = np.empty((len(R), m), dtype=np.int32)
    for s in range(m):
        D = np.empty((len(R), K))
        for j in range(K):
            acc = np.zeros(len(R))
            for i in range(sub):
                t = R[:, s * sub + i] - Wb[s, j, i]
                acc += t * t
            D[:, j] = acc
        codes[:, s] = D.argmin(axis=1)
    return codes


def ivfpq_topk_md5(df: DataFrame, query_ids, k: int = 5, *,
                   n_cells: int = 4, n_probe: int = 2, m: int = 8,
                   K: int = 16, dim: int | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed_cells: int = 11, seed_code: int = 13) -> DataFrame:
    """Composed IVF-PQ ANN under a FULL dual-dialect oracle — the
    same plan shape as :func:`ivfpq_topk` (cell-pruned plan-side
    filter, residual codes, per-(query, probe) ADC tables, per-batch
    partial top-k), but the coarse quantizer is the fixed md5 ±1 sign
    matrix (scaled to unit norm, entries ±1/√dim — exactly
    representable when dim is a power of four) and the residual
    codebook is md5-byte-derived literals, so normalization, cell
    argmax, residual encoding (argmin, lowest code on ties) and the
    ADC sums all replay bit-for-bit in DuckDB
    (:func:`ivfpq_topk_oracle_sql`).  Every accumulation is a fixed
    left-to-right chain on both sides.  Production search stays on
    the trained ivfpq_topk path."""
    from .similarity import _dim, _ivf_sign_matrix
    query_ids = [int(q) for q in query_ids]
    if not query_ids:
        raise ValueError("query_ids must not be empty")
    if dim is None:
        dim = _dim(df, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    n_probe = min(n_probe, n_cells)
    C = _ivf_sign_matrix(dim, n_cells, seed_cells) * (1.0 / np.sqrt(dim))
    Wb = _md5_codebook(m, K, sub, seed_code)

    def _cell_scores(X: np.ndarray) -> np.ndarray:
        S = np.empty((len(X), n_cells))
        sign = C * np.sqrt(dim)      # back to ±1 chain coefficients
        for c in range(n_cells):
            acc = np.zeros(len(X))
            for i in range(dim):
                if sign[c, i] > 0:
                    acc += X[:, i]
                else:
                    acc -= X[:, i]
            S[:, c] = acc
        return S

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cell: int, code: array<int>>")
    def enc(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "code": pd.Series([], dtype="object")})
        X = np.vstack(v.to_numpy()).astype(np.float64)
        cells = _cell_scores(X).argmax(axis=1)
        codes = _chain_encode(_chain_normalize(X) - C[cells], Wb)
        return pd.DataFrame({"cell": cells.astype("int32"),
                             "code": [c.tolist() for c in codes]})

    encoded = (df.select(F.col(id_col).cast("long").alias("__id"),
                         enc(F.col(vec_col)).alias("__e"))
               .select("__id", F.col("__e.cell").alias("__cell"),
                       F.col("__e.code").alias("__code")))

    qrows = (df.filter(F.col(id_col).isin(query_ids))
             .select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
             .collect())
    if not qrows:
        raise ValueError("no query vectors found")
    q_ids = np.array([int(r.q) for r in qrows], dtype=np.int64)
    Q = np.array([[float(x) for x in r.v] for r in qrows])
    probes = np.argsort(-_cell_scores(Q), axis=1,
                        kind="stable")[:, :n_probe].astype(np.int32)
    Qh = _chain_normalize(Q)
    nq = len(Q)
    # T[q, p, s, j] = chain ||(q̂ - c_probe)_s - w_{s,j}||²
    T = np.empty((nq, n_probe, m, K))
    for qi in range(nq):
        for pi in range(n_probe):
            qr = Qh[qi] - C[probes[qi, pi]]
            for s in range(m):
                for j in range(K):
                    acc = 0.0
                    for i in range(sub):
                        t = qr[s * sub + i] - Wb[s, j, i]
                        acc += t * t
                    T[qi, pi, s, j] = acc
    bc = df.sparkSession.sparkContext.broadcast((q_ids, probes, T))
    probed_cells = sorted({int(c) for c in probes.ravel()})

    def batch_topk(batches):
        q_ids_, probes_, T_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.vstack(pdf["__code"].to_numpy()).astype(np.int64)
            cells = pdf["__cell"].to_numpy()
            n_ids = pdf["__id"].to_numpy()
            out = []
            for qi in range(len(q_ids_)):
                ids_parts, d2_parts = [], []
                for pi in range(probes_.shape[1]):
                    mask = cells == probes_[qi, pi]
                    if not mask.any():
                        continue
                    sc = codes[mask]
                    S = np.zeros(mask.sum())
                    for s in range(m):
                        S = S + T_[qi, pi, s, sc[:, s]]
                    ids_parts.append(n_ids[mask])
                    d2_parts.append(S)
                if not ids_parts:
                    continue
                ids = np.concatenate(ids_parts)
                cos = np.round(1.0 - np.concatenate(d2_parts) / 2.0, 6)
                kk = min(k + 1, len(ids))
                idx = np.lexsort((ids, -cos))[:kk]
                out.append(pd.DataFrame({
                    "q_id": np.full(len(idx), q_ids_[qi]),
                    "n_id": ids[idx], "adc_cos": cos[idx]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = (encoded.filter(F.col("__cell").isin(probed_cells))
            .mapInPandas(batch_topk, "q_id long, n_id long, adc_cos double"))
    w = W.partitionBy("q_id").orderBy(F.col("adc_cos").desc(),
                                      F.col("n_id"))
    return (cand.filter(F.col("q_id") != F.col("n_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "adc_cos", "rank"))


def ivfpq_topk_oracle_sql(query_ids, k: int = 5, *, n_cells: int = 4,
                          n_probe: int = 2, m: int = 8, K: int = 16,
                          dim: int = 64, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          table: str = "embeddings",
                          seed_cells: int = 11,
                          seed_code: int = 13) -> str:
    """DuckDB mirror of :func:`ivfpq_topk_md5` — identical
    normalization, cell chains, residual encoding and ADC sums as
    generated fixed left-to-right expression chains."""
    from .similarity import _argmax_case, _ivf_sign_matrix, ivf_cell_exprs
    sub = dim // m
    n_probe = min(n_probe, n_cells)
    C = _ivf_sign_matrix(dim, n_cells, seed_cells) * (1.0 / np.sqrt(dim))
    Wb = _md5_codebook(m, K, sub, seed_code)
    ids = ", ".join(str(int(q)) for q in query_ids)
    cells_list = ", ".join(str(c) for c in range(n_cells))

    cell_exprs = ivf_cell_exprs(dim, n_cells, vec_col="vec",
                                seed=seed_cells, base=1)
    score_cols = ", ".join(f"{e} AS d{c}" for c, e in enumerate(cell_exprs))
    cell_case = _argmax_case([f"d{c}" for c in range(n_cells)])
    norm_chain = " + ".join(
        f"cast(vec[{i+1}] as double) * cast(vec[{i+1}] as double)"
        for i in range(dim))

    def resid_cols(prefix: str, cell_ref: str) -> str:
        cols = []
        for i in range(dim):
            case = ("CASE " + cell_ref + " " + " ".join(
                f"WHEN {c} THEN {float(C[c, i])!r}" for c in range(n_cells))
                + " END")
            cols.append(f"cast(vec[{i+1}] as double) / nrm - ({case})"
                        f" AS {prefix}{i}")
        return ",\n         ".join(cols)

    def dist_cols(rp: str, dp: str) -> str:
        cols = []
        for s in range(m):
            for j in range(K):
                chain = " + ".join(
                    f"({rp}{s*sub+i} - {float(Wb[s, j, i])!r}) * "
                    f"({rp}{s*sub+i} - {float(Wb[s, j, i])!r})"
                    for i in range(sub))
                cols.append(f"({chain}) AS {dp}{s}_{j}")
        return ",\n         ".join(cols)

    code_cols = ",\n         ".join(
        _argmax_case([f"dd{s}_{j}" for j in range(K)], cmp="<=")
        + f" AS code{s}" for s in range(m))
    probe_score_case = ("CASE u.cell " + " ".join(
        f"WHEN {c} THEN d{c}" for c in range(n_cells)) + " END")
    adc = " + ".join(
        "(CASE co.code%d %s END)" % (s, " ".join(
            f"WHEN {j} THEN qd.qd{s}_{j}" for j in range(K)))
        for s in range(m))

    return f"""
WITH base AS (
  SELECT {id_col} AS id, {vec_col} AS vec,
         sqrt({norm_chain}) AS nrm, {score_cols}
  FROM {table}),
cells AS (
  SELECT *, {cell_case} AS cell FROM base),
res AS (
  SELECT id, cell,
         {resid_cols('r', 'cell')}
  FROM cells),
dist AS (
  SELECT id, cell,
         {dist_cols('r', 'dd')}
  FROM res),
codes AS (
  SELECT id, cell,
         {code_cols}
  FROM dist),
probes AS (
  SELECT id AS q_id, cell AS pcell FROM (
    SELECT c.id, u.cell, row_number() OVER (
      PARTITION BY c.id ORDER BY {probe_score_case} DESC, u.cell) AS pr
    FROM cells c, (SELECT unnest([{cells_list}]) AS cell) u
    WHERE c.id IN ({ids})) WHERE pr <= {n_probe}),
qres AS (
  SELECT p.q_id, p.pcell,
         {resid_cols('qr', 'p.pcell')}
  FROM probes p JOIN (SELECT id, vec, nrm FROM cells) q2
    ON q2.id = p.q_id),
qdist AS (
  SELECT q_id, pcell,
         {dist_cols('qr', 'qd')}
  FROM qres),
pairs AS (
  SELECT qd.q_id, co.id AS n_id,
         round(1 - ({adc}) / 2, 6) AS adc_cos
  FROM codes co JOIN qdist qd ON co.cell = qd.pcell
  WHERE co.id <> qd.q_id)
SELECT q_id, n_id, adc_cos, rank FROM (
  SELECT q_id, n_id, adc_cos,
         cast(row_number() OVER (PARTITION BY q_id
                                 ORDER BY adc_cos DESC, n_id) AS INTEGER)
           AS rank
  FROM pairs) WHERE rank <= {k}"""


# ------------------------------------------------ raw-PQ md5 oracle path

def pq_topk_md5(df: DataFrame, query_ids, k: int = 5, *, m: int = 8,
                K: int = 16, dim: int | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                seed_code: int = 13) -> DataFrame:
    """Raw PQ ANN under a FULL dual-dialect oracle — the same plan
    shape as :func:`pq_topk` (code column + broadcast per-query ADC
    tables + per-batch partial top-k + WindowGroupLimit), but the
    codebook is the fixed md5-byte literal matrix (:func:`_md5_
    codebook`), so normalization, encode argmin (lowest code on ties)
    and the ADC sums replay bit-for-bit in DuckDB
    (:func:`pq_topk_oracle_sql`).  Every accumulation is a fixed
    left-to-right chain on both sides.  Production search stays on
    the trained pq_topk path (r8 verdict: raw PQ was the one ANN
    family with no hash-checked sibling)."""
    from .similarity import _dim
    query_ids = [int(q) for q in query_ids]
    if not query_ids:
        raise ValueError("query_ids must not be empty")
    if dim is None:
        dim = _dim(df, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    Wb = _md5_codebook(m, K, sub, seed_code)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        X = np.vstack(v.to_numpy()).astype(np.float64)
        codes = _chain_encode(_chain_normalize(X), Wb)
        return pd.Series([c.tolist() for c in codes])

    encoded = df.select(F.col(id_col).cast("long").alias("__id"),
                        enc(F.col(vec_col)).alias("__code"))

    qrows = (df.filter(F.col(id_col).isin(query_ids))
             .select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
             .collect())
    if not qrows:
        raise ValueError("no query vectors found")
    q_ids = np.array([int(r.q) for r in qrows], dtype=np.int64)
    Q = _chain_normalize(np.array([[float(x) for x in r.v] for r in qrows]))
    nq = len(Q)
    # T[q, s, j] = chain ||q̂_s - w_{s,j}||²
    T = np.empty((nq, m, K))
    for qi in range(nq):
        for s in range(m):
            for j in range(K):
                acc = 0.0
                for i in range(sub):
                    t = Q[qi, s * sub + i] - Wb[s, j, i]
                    acc += t * t
                T[qi, s, j] = acc
    bc = df.sparkSession.sparkContext.broadcast((q_ids, T))

    def batch_topk(batches):
        q_ids_, T_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.vstack(pdf["__code"].to_numpy()).astype(np.int64)
            n_ids = pdf["__id"].to_numpy()
            out = []
            for qi in range(len(q_ids_)):
                S = np.zeros(len(codes))
                for s in range(m):
                    S = S + T_[qi, s, codes[:, s]]
                cos = np.round(1.0 - S / 2.0, 6)
                kk = min(k + 1, len(n_ids))
                idx = np.lexsort((n_ids, -cos))[:kk]
                out.append(pd.DataFrame({
                    "q_id": np.full(len(idx), q_ids_[qi]),
                    "n_id": n_ids[idx], "adc_cos": cos[idx]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = encoded.mapInPandas(batch_topk,
                               "q_id long, n_id long, adc_cos double")
    w = W.partitionBy("q_id").orderBy(F.col("adc_cos").desc(),
                                      F.col("n_id"))
    return (cand.filter(F.col("q_id") != F.col("n_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "adc_cos", "rank"))


def pq_topk_oracle_sql(query_ids, k: int = 5, *, m: int = 8,
                       K: int = 16, dim: int = 64,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       table: str = "embeddings",
                       seed_code: int = 13) -> str:
    """DuckDB mirror of :func:`pq_topk_md5` — identical
    normalization, encode argmin and ADC sums as generated fixed
    left-to-right expression chains."""
    from .similarity import _argmax_case
    sub = dim // m
    Wb = _md5_codebook(m, K, sub, seed_code)
    ids = ", ".join(str(int(q)) for q in query_ids)
    norm_chain = " + ".join(
        f"cast(vec[{i+1}] as double) * cast(vec[{i+1}] as double)"
        for i in range(dim))
    hat_cols = ",\n         ".join(
        f"cast(vec[{i+1}] as double) / nrm AS r{i}" for i in range(dim))

    def dist_cols(rp: str, dp: str) -> str:
        cols = []
        for s in range(m):
            for j in range(K):
                chain = " + ".join(
                    f"({rp}{s*sub+i} - {float(Wb[s, j, i])!r}) * "
                    f"({rp}{s*sub+i} - {float(Wb[s, j, i])!r})"
                    for i in range(sub))
                cols.append(f"({chain}) AS {dp}{s}_{j}")
        return ",\n         ".join(cols)

    code_cols = ",\n         ".join(
        _argmax_case([f"dd{s}_{j}" for j in range(K)], cmp="<=")
        + f" AS code{s}" for s in range(m))
    adc = " + ".join(
        "(CASE co.code%d %s END)" % (s, " ".join(
            f"WHEN {j} THEN qd.qd{s}_{j}" for j in range(K)))
        for s in range(m))

    return f"""
WITH base AS (
  SELECT {id_col} AS id, {vec_col} AS vec, sqrt({norm_chain}) AS nrm
  FROM {table}),
res AS (
  SELECT id,
         {hat_cols}
  FROM base),
dist AS (
  SELECT id,
         {dist_cols('r', 'dd')}
  FROM res),
codes AS (
  SELECT id,
         {code_cols}
  FROM dist),
qdist AS (
  SELECT id AS q_id,
         {dist_cols('r', 'qd')}
  FROM res WHERE id IN ({ids})),
pairs AS (
  SELECT qd.q_id, co.id AS n_id,
         round(1 - ({adc}) / 2, 6) AS adc_cos
  FROM codes co CROSS JOIN qdist qd
  WHERE co.id <> qd.q_id)
SELECT q_id, n_id, adc_cos, rank FROM (
  SELECT q_id, n_id, adc_cos,
         cast(row_number() OVER (PARTITION BY q_id
                                 ORDER BY adc_cos DESC, n_id) AS INTEGER)
           AS rank
  FROM pairs) WHERE rank <= {k}"""
