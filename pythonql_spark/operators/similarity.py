"""Similarity search over embedding columns (array<float>).

* dot / cosine — engine-portable expression built as an explicit
  left-to-right sum of element products, so Spark and DuckDB produce
  bit-identical doubles (no engine-internal accumulation order).
* brute_topk   — exact top-k neighbours for a set of query vectors:
  broadcast the queries, one pass over the corpus, per-query top-k via
  window row_number (TakeOrdered shape after AQE).
* cosine_pairs — near-duplicate pairs within a blocking key.
* lsh_topk     — random-hyperplane LSH: 16-bit signature buckets as
  candidate filter, exact cosine re-rank inside buckets.  The scale
  path: shuffles on bucket keys, never all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pythonql_spark.helpers import local_rows_df


def dot_expr(a: str, b: str, dim: int, base: int = 0) -> str:
    """Explicit sum of products — deterministic accumulation order.
    ``base``: array index origin (Spark SQL brackets are 0-based,
    DuckDB lists are 1-based), letting the SAME formula serve as the
    engine expression and the DuckDB oracle."""
    return "(" + " + ".join(
        f"cast({a}[{i + base}] as double) * cast({b}[{i + base}] as double)"
        for i in range(dim)) + ")"


def norm_expr(a: str, dim: int, base: int = 0) -> str:
    return f"sqrt({dot_expr(a, a, dim, base)})"


def cosine_expr(a: str, b: str, dim: int, base: int = 0) -> str:
    return (f"round({dot_expr(a, b, dim, base)} / "
            f"({norm_expr(a, dim, base)} * {norm_expr(b, dim, base)}), 6)")


def _dim(df: DataFrame, col: str) -> int:
    row = (df.select(F.size(F.col(col)).alias("d"))
           .filter(F.col("d").isNotNull()).first())
    if row is None:
        raise ValueError(
            f"cannot infer the vector dimension of {col!r}: input has "
            "no non-null vectors (empty corpus?)")
    return int(row["d"])


# Above this dimension cosine/norm go through the vectorized Arrow
# path.  Measured on this Spark: the unrolled expression falls out of
# whole-stage codegen in join-side projections well before 64 dims
# (zero codegen spans in the executed plan; ~22 µs/row interpreted vs
# ~6 µs/row Arrow at dim 64 — 3.5×), and at real embedding dims
# (768–4096) interpreted is the only possibility for it, ~10× worse.
# The unrolled form is kept for tiny dims where its left-to-right
# accumulation is bit-identical to the DuckDB oracle; above it the
# 6-dp rounding of the cosine absorbs the ~1e-13 accumulation
# difference (verified: all cosine-oracled keys hash-match on the
# Arrow path at sf0.001 and sf0.01).
CODEGEN_DIM_LIMIT = 16


def vector_norm(vec_col: str, dim: int):
    """L2-norm Column, dim-thresholded: unrolled codegen expression at
    small dims, one BLAS pass per Arrow batch above the limit."""
    if dim <= CODEGEN_DIM_LIMIT:
        return F.expr(norm_expr(vec_col, dim))
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def nrm(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy()).astype(np.float64)
        return pd.Series(np.linalg.norm(A, axis=1))

    return nrm(F.col(vec_col))


def cosine_score(a_col: str, b_col: str, a_norm: str, b_norm: str,
                 dim: int):
    """Rounded-6dp cosine Column from two vector columns and their
    precomputed norms, dim-thresholded like :func:`vector_norm`.
    Column names may be alias-qualified (``a.v``)."""
    if dim <= CODEGEN_DIM_LIMIT:
        return F.expr(f"round({dot_expr(a_col, b_col, dim)} / "
                      f"({a_norm} * {b_norm}), 6)")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series, na: pd.Series,
            nb: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy()).astype(np.float64)
        B = np.vstack(b.to_numpy()).astype(np.float64)
        s = np.einsum("ij,ij->i", A, B)
        return pd.Series(np.round(
            s / (na.to_numpy() * nb.to_numpy()), 6))

    return cos(F.col(a_col), F.col(b_col), F.col(a_norm), F.col(b_norm))


def brute_topk(df: DataFrame, query_ids, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int | None = None) -> DataFrame:
    """Exact cosine top-k: queries × corpus (queries broadcast), then
    per-query top-k.  At 100 TB the corpus side streams; the only
    shuffle is the final per-query top-k (tiny).  ``dim``: callers
    that know their embedding width skip the one-job probe (the same
    documented fast path as the trained/ivf operators)."""
    if dim is None:
        dim = _dim(df, vec_col)
    # norms once per vector (not per pair): the per-pair work drops to
    # one dot product + one divide
    qs = F.broadcast(
        df.filter(F.col(id_col).isin(list(query_ids)))
          .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
                  vector_norm(vec_col, dim).alias("q_norm")))
    corpus = df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"),
                       vector_norm(vec_col, dim).alias("c_norm"))
    scored = (corpus.crossJoin(qs)
              .filter(F.col("q_id") != F.col("n_id"))
              .select(F.col("q_id"), F.col("n_id"),
                      cosine_score("q_vec", "c_vec", "q_norm", "c_norm",
                                   dim).alias("cosine")))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank"))


def cosine_pairs(df: DataFrame, block_col: str, threshold: float,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int | None = None) -> DataFrame:
    """Near-duplicate embedding pairs within a blocking key.
    ``dim``: known-width callers skip the one-job probe."""
    if dim is None:
        dim = _dim(df, vec_col)
    side = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     F.col(block_col).alias("blk"),
                     vector_norm(vec_col, dim).alias("nrm"))
    return (side.alias("a")
            .join(side.alias("b"),
                  on=[F.col("a.blk") == F.col("b.blk"),
                      F.col("a.id") < F.col("b.id")])
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    cosine_score("a.v", "b.v", "a.nrm", "b.nrm",
                                 dim).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def _probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """All bit masks over n_planes bits with popcount ≤ probe_hamming."""
    from itertools import combinations
    masks = []
    for h in range(probe_hamming + 1):
        for bits in combinations(range(n_planes), h):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def _hyperplanes(dim: int, n_planes: int, n_tables: int,
                 seed: int = 11) -> "np.ndarray":
    """Deterministic gaussian hyperplane matrix — re-derived from the
    seed wherever needed (executors, driver), no broadcast state."""
    return np.random.RandomState(seed).standard_normal(
        (dim, n_planes * n_tables))


def _pack_sigs(X: "np.ndarray", H: "np.ndarray",
               n_planes: int, n_tables: int) -> "np.ndarray":
    """(rows, n_tables) int64 signatures: sign bits of X @ H, packed
    per table."""
    bits = (X @ H) > 0
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    return (bits.reshape(len(X), n_tables, n_planes) * weights).sum(axis=2)


def _lsh_sigs_col(vec_col: str, dim: int, n_planes: int, n_tables: int,
                  seed: int = 11):
    """array<long> of n_tables signatures per vector, via an
    Arrow-batched Pandas UDF: ONE BLAS matmul (batch×dim @ dim×(L·P))
    per batch, then sign + bit-pack.  Dense float math is the one
    place a vectorized UDF beats built-in expressions: the unrolled
    per-element CASE expression (planes×tables×dim terms) blows past
    codegen method limits and runs interpreted, ~10× slower."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        H = _hyperplanes(dim, n_planes, n_tables, seed)
        S = _pack_sigs(np.vstack(v.to_numpy()), H, n_planes, n_tables)
        return pd.Series([row.tolist() for row in S])

    return sigs(F.col(vec_col))


def _spherical_kmeans(X: "np.ndarray", n_centroids: int,
                      iters: int = 10, seed: int = 7) -> "np.ndarray":
    """Deterministic spherical k-means (cosine geometry): rows of the
    result are unit-norm centroids."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rs = np.random.RandomState(seed)
    C = Xn[rs.choice(len(Xn), size=min(n_centroids, len(Xn)),
                     replace=False)].copy()
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = Xn[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def ivf_topk(df: DataFrame, query_ids, k: int = 5, *,
             n_centroids: int = 64, n_probe: int = 16,
             train_sample: int = 4096, kmeans_iters: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the other
    classic ANN scale path next to :func:`lsh_topk`.

    A spherical k-means coarse quantizer is trained driver-side on a
    deterministic ``train_sample`` (first ids — at 100 TB a hash-bucket
    sample; centroids are n_centroids × dim doubles, broadcastable at
    any corpus size).  The corpus is assigned to its nearest centroid
    in ONE Arrow-batched pass (one BLAS matmul per batch), then
    candidates are the corpus rows in each query's ``n_probe`` nearest
    cells, via an equi-join on the broadcast (q_id, cell) probe list —
    the corpus never shuffles; unlike multi-table LSH each corpus row
    carries exactly one cell, so there is no candidate dedup step.
    Recall is tuned by ``n_probe`` (= n_centroids → exact).  Defaults
    scan ~25% of cells: 0.76 recall@5 on the UNclustered synthetic
    testdata (the hard case — real embedding corpora cluster, pushing
    recall up at the same scan fraction)."""
    # shared bounded-train + assignment helpers (also used by
    # semantic_pairs / cluster_embeddings): one copy of the
    # normalization/argmax logic keeps the determinism contract
    C = _train_centroids(df, n_clusters=n_centroids,
                         train_sample=train_sample,
                         kmeans_iters=kmeans_iters,
                         id_col=id_col, vec_col=vec_col)
    dim = C.shape[1]
    cell_of = _cell_udf(C)

    qrows = (df.filter(F.col(id_col).isin(list(query_ids)))
             .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
             .collect())
    if not qrows:
        raise ValueError("no query_ids found in the corpus")
    Q = np.array([[float(x) for x in r.q_vec] for r in qrows])
    q_norms = np.linalg.norm(Q, axis=1)
    Qn = Q / np.maximum(q_norms[:, None], 1e-12)
    probe_cells = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]

    spark = df.sparkSession
    probes = F.broadcast(local_rows_df(
        spark,
        [(int(r.q_id), int(c)) for r, cells in zip(qrows, probe_cells)
         for c in cells], "q_id long, cell int"))
    qvecs = F.broadcast(local_rows_df(
        spark,
        [(int(r.q_id), [float(x) for x in r.q_vec], float(n))
         for r, n in zip(qrows, q_norms)],
        "q_id long, q_vec array<double>, q_norm double"))

    corpus = df.select(F.col(id_col).alias("n_id"),
                       F.col(vec_col).alias("c_vec"),
                       vector_norm(vec_col, dim).alias("c_norm"),
                       cell_of(F.col(vec_col)).alias("cell"))
    scored = (corpus.join(probes, "cell")
              .filter(F.col("n_id") != F.col("q_id"))
              .join(qvecs, "q_id")
              .select("q_id", "n_id",
                      cosine_score("q_vec", "c_vec", "q_norm", "c_norm",
                                   dim).alias("cosine")))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank"))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 5, *,
             q_id_col: str = "vec_id", c_id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Exact cosine k-NN JOIN: every row of ``queries`` → its top-k
    neighbours in ``corpus``.  Generalizes :func:`brute_topk` (fixed
    query-id list, cross-join + full window) to table-vs-table.

    Scale shape: the query side is collected and broadcast (it must be
    the small side — probe sets, benchmark suites; for corpus-sized
    query sides use :func:`lsh_topk`/:func:`ivf_topk` per chunk), and
    the corpus side is consumed by ``mapInPandas`` computing a PARTIAL
    top-k per Arrow batch with one BLAS matmul.  Only
    k × |queries| × num_batches candidate rows ever reach the final
    per-query top-k shuffle — the |Q|×|C| score matrix is never
    materialized, which is what makes this survive a 100 TB corpus
    where the cross-join + row_number shape shuffles every pair.

    Ranking uses the ROUNDED cosine (6 dp) with id tiebreak so the
    total order is engine-portable (DuckDB oracle ranks identically)."""
    qrows = queries.select(F.col(q_id_col).alias("q"),
                           F.col(vec_col).alias("v")).collect()
    if not qrows:
        raise ValueError("empty query side")
    q_ids = np.array([int(r.q) for r in qrows], dtype=np.int64)
    Q = np.array([[float(x) for x in r.v] for r in qrows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Qn))

    def batch_topk(batches):
        q_ids_, Qn_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            S = np.round(Qn_ @ Mn.T, 6)                    # q × batch
            n_ids = pdf["__id"].to_numpy()
            kk = min(k, S.shape[1])
            out_q, out_n, out_c = [], [], []
            for qi in range(S.shape[0]):
                # total order: cosine desc, then neighbour id asc
                idx = np.lexsort((n_ids, -S[qi]))[:kk]
                out_q.append(np.full(kk, q_ids_[qi]))
                out_n.append(n_ids[idx])
                out_c.append(S[qi][idx])
            yield pd.DataFrame({"q_id": np.concatenate(out_q),
                                "n_id": np.concatenate(out_n),
                                "cosine": np.concatenate(out_c)})

    cand = (corpus.select(F.col(c_id_col).cast("long").alias("__id"),
                          F.col(vec_col).alias("__v"))
            .mapInPandas(batch_topk, "q_id long, n_id long, cosine double"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank"))


def _label_topk(anchors: DataFrame, corpus: DataFrame, k: int, *,
                match: bool, label_col: str, q_id_col: str,
                c_id_col: str, vec_col: str) -> DataFrame:
    """Shared engine for :func:`mine_hard_negatives` /
    :func:`mine_positives`: exact cosine top-k per anchor over the
    corpus rows whose label does (``match=True``) / does not
    (``match=False``) equal the anchor's label.  Self-pairs
    (same id) are always excluded.

    Same scale shape as :func:`knn_join` — the anchor side is the
    small broadcast side; the corpus streams through ``mapInPandas``
    emitting a PARTIAL top-k per Arrow batch (label mask applied to
    the batch score matrix before selection), so only
    k x |anchors| x num_batches rows reach the final per-anchor
    top-k shuffle.  The |A| x |C| matrix is never materialized."""
    qrows = anchors.select(F.col(q_id_col).alias("q"),
                           F.col(label_col).alias("l"),
                           F.col(vec_col).alias("v")).collect()
    if not qrows:
        raise ValueError("empty anchor side")
    q_ids = np.array([int(r.q) for r in qrows], dtype=np.int64)
    if any(r.l is None for r in qrows):
        raise ValueError("anchor labels must be non-null")
    q_labels = np.array([r.l for r in qrows])   # any hashable dtype
    Q = np.array([[float(x) for x in r.v] for r in qrows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (q_ids, q_labels, Qn, match))

    def batch_topk(batches):
        q_ids_, q_labels_, Qn_, match_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            Mn = M / np.maximum(
                np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            S = np.round(Qn_ @ Mn.T, 6)                    # q × batch
            n_ids = pdf["__id"].to_numpy()
            c_labels = pdf["__l"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for qi in range(S.shape[0]):
                keep = ((c_labels == q_labels_[qi]) if match_
                        else (c_labels != q_labels_[qi]))
                keep &= n_ids != q_ids_[qi]                # never self
                if not keep.any():
                    continue
                ids_k, s_k = n_ids[keep], S[qi][keep]
                idx = np.lexsort((ids_k, -s_k))[:min(k, len(ids_k))]
                out_q.append(np.full(len(idx), q_ids_[qi]))
                out_n.append(ids_k[idx])
                out_c.append(s_k[idx])
            if not out_q:
                continue
            yield pd.DataFrame({"q_id": np.concatenate(out_q),
                                "n_id": np.concatenate(out_n),
                                "cosine": np.concatenate(out_c)})

    cand = (corpus.filter(F.col(label_col).isNotNull())  # unlabeled rows
            .select(F.col(c_id_col).cast("long").alias("__id"),  # are
                    F.col(label_col).alias("__l"),  # neither pos nor neg
                    F.col(vec_col).alias("__v"))
            .mapInPandas(batch_topk, "q_id long, n_id long, cosine double"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank"))


def mine_hard_negatives(anchors: DataFrame, corpus: DataFrame,
                        k: int = 5, *, label_col: str = "label",
                        q_id_col: str = "vec_id",
                        c_id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for
    each anchor, the top-``k`` most-similar corpus vectors with a
    DIFFERENT label — the highest-scoring wrong answers, which are the
    negatives that actually move a bi-encoder (random negatives are
    trivially separable).  Output: (q_id, n_id, cosine, rank).

    The label mask lives INSIDE the per-batch partial top-k (not a
    post-filter on plain knn_join, which would be wrong whenever an
    anchor has more than k same-label near neighbours).  See
    :func:`_label_topk` for the scale shape."""
    return _label_topk(anchors, corpus, k, match=False,
                       label_col=label_col, q_id_col=q_id_col,
                       c_id_col=c_id_col, vec_col=vec_col)


def mine_positives(anchors: DataFrame, corpus: DataFrame,
                   k: int = 1, *, label_col: str = "label",
                   q_id_col: str = "vec_id", c_id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Top-``k`` most-similar SAME-label corpus vectors per anchor
    (self excluded) — the positive side of a training triplet."""
    return _label_topk(anchors, corpus, k, match=True,
                       label_col=label_col, q_id_col=q_id_col,
                       c_id_col=c_id_col, vec_col=vec_col)


def mine_triplets(anchors: DataFrame, corpus: DataFrame,
                  n_neg: int = 3, *, label_col: str = "label",
                  q_id_col: str = "vec_id", c_id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(anchor, positive, negative) training triplets: the single
    nearest same-label vector joined with the ``n_neg`` nearest
    different-label vectors per anchor.  ``margin`` =
    pos_cosine - neg_cosine (rounded 6 dp; both inputs are already
    6-dp, so the subtraction is engine-portable) — a triplet with a
    small or negative margin is exactly the hard case contrastive
    losses want.  One broadcast-keyed equi-join of two k x |anchors|
    frames; the corpus is scanned twice (once per side), never
    shuffled.  Anchors with no same-label peer or no different-label
    candidate drop out (inner join) — an untrainable triplet is not
    emitted half-formed."""
    pos = (mine_positives(anchors, corpus, 1, label_col=label_col,
                          q_id_col=q_id_col, c_id_col=c_id_col,
                          vec_col=vec_col)
           .select("q_id", F.col("n_id").alias("pos_id"),
                   F.col("cosine").alias("pos_cosine")))
    neg = (mine_hard_negatives(anchors, corpus, n_neg,
                               label_col=label_col, q_id_col=q_id_col,
                               c_id_col=c_id_col, vec_col=vec_col)
           .select("q_id", F.col("n_id").alias("neg_id"),
                   F.col("cosine").alias("neg_cosine"),
                   F.col("rank").alias("neg_rank")))
    return (pos.join(neg, "q_id")
            .withColumn("margin", F.round(
                F.col("pos_cosine") - F.col("neg_cosine"), 6))
            .select("q_id", "pos_id", "pos_cosine", "neg_id",
                    "neg_cosine", "neg_rank", "margin"))


def lsh_topk(df: DataFrame, query_ids, k: int = 5, *,
             n_planes: int = 10, probe_hamming: int = 2,
             n_tables: int = 6,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via multi-table, multiprobe random-hyperplane
    LSH — the scale path next to brute_topk.

    ``n_tables`` independent signature tables (independent hyperplane
    sets); a corpus vector is a candidate for a query if, in ANY
    table, its signature is within ``probe_hamming`` bits of the
    query's.  Instead of a hamming-distance join predicate (a
    nested-loop scan of the corpus per query), each query expands
    driver-side into its C(n_planes, ≤probe_hamming) probe signatures
    per table (79 for 12/2; the query set is small and is the
    broadcast side regardless), and candidates come from an EQUI-join
    on (table, exact signature) — a broadcast hash join the corpus
    streams through once.  Candidates are deduped across tables, then
    exact-cosine re-ranked.  No shuffle touches the corpus; only the
    candidate set (data-dependent, small) is shuffled for dedup +
    per-query top-k."""
    # query side first: a handful of rows — collect the raw vectors,
    # compute signatures/norms driver-side with the SAME numpy code the
    # executors run (one job total for the query side)
    qrows = (df.filter(F.col(id_col).isin(list(query_ids)))
             .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
             .collect())
    if not qrows:
        raise ValueError("no query_ids found in the corpus")
    Q = np.array([[float(x) for x in r.q_vec] for r in qrows])
    dim = Q.shape[1]
    H = _hyperplanes(dim, n_planes, n_tables)
    q_sigs = _pack_sigs(Q, H, n_planes, n_tables)
    q_norms = (Q * Q).sum(axis=1) ** 0.5
    sigs = _lsh_sigs_col(vec_col, dim, n_planes, n_tables)
    corpus = (df.select(F.col(id_col).alias("n_id"),
                        F.col(vec_col).alias("c_vec"),
                        vector_norm(vec_col, dim).alias("c_norm"),
                        F.posexplode(sigs).alias("t", "sig")))
    masks = _probe_masks(n_planes, probe_hamming)
    spark = df.sparkSession
    probes = local_rows_df(
        spark,
        [(r.q_id, t, int(s) ^ m) for r, srow in zip(qrows, q_sigs)
         for t, s in enumerate(srow) for m in masks],
        "q_id long, t int, probe_sig long")
    qvecs = F.broadcast(local_rows_df(
        spark,
        [(r.q_id, [float(x) for x in r.q_vec], float(nrm))
         for r, nrm in zip(qrows, q_norms)],
        "q_id long, q_vec array<double>, q_norm double"))
    cand = (corpus.join(F.broadcast(probes),
                        (corpus.t == probes.t)
                        & (corpus.sig == probes.probe_sig)
                        & (corpus.n_id != probes.q_id))
            .dropDuplicates(["q_id", "n_id"]))
    scored = (cand.join(qvecs, "q_id")
              .select("q_id", "n_id",
                      cosine_score("q_vec", "c_vec", "q_norm", "c_norm",
                                   dim).alias("cosine")))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank"))


def lsh_sign_exprs(dim: int, n_planes: int, n_tables: int, *,
                   vec_col: str = "embedding", seed: int = 5,
                   dialect: str = "spark") -> list[str]:
    """One bigint signature expression per LSH table whose hyperplanes
    are ±1 sign matrices derived from md5 parity (the jl_project
    trick): bit ``p`` of table ``t`` is 1 iff the fixed left-to-right
    ± chain over the vector's elements is positive.  Both dialects run
    the identical IEEE double chain, so signatures — and therefore the
    LSH candidate sets — reproduce bit-for-bit in DuckDB.  The signs
    are :func:`_md5_sign_matrix`'s, shared with the Arrow UDF."""
    S = _md5_sign_matrix(dim, n_planes, n_tables, seed)
    sig_exprs = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            terms = []
            for i in range(dim):
                el = (f"cast(element_at({vec_col}, {i + 1}) as double)"
                      if dialect == "spark"
                      else f"cast({vec_col}[{i + 1}] as double)")
                terms.append(("+ " if S[t, p, i] > 0 else "- ") + el)
            chain = " ".join(terms).lstrip("+ ")
            bits.append(f"(cast(({chain}) > 0 as bigint) << {p})")
        sig_exprs.append("(" + " + ".join(bits) + ")")
    return sig_exprs


def _md5_sign_matrix(dim: int, n_planes: int, n_tables: int,
                     seed: int = 5) -> "np.ndarray":
    """(n_tables, n_planes, dim) ±1 matrix, md5-parity derived — the
    one sign source for :func:`lsh_sign_exprs` (SQL) and
    :func:`_md5_sigs_col` (Arrow)."""
    import hashlib as _hl
    S = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for i in range(dim):
                S[t, p, i] = 1.0 if _hl.md5(
                    f"lsh:{seed}:{t}:{p}:{i}".encode()).digest()[0] & 1 \
                    else -1.0
    return S


def _md5_sigs_col(dim: int, n_planes: int, n_tables: int,
                  vec_col: str, seed: int = 5):
    """array<long> signature column computing the SAME left-to-right
    IEEE chains as :func:`lsh_sign_exprs`, but vectorized over the
    Arrow batch: the dim-loop accumulates ``acc ± x_i`` sequentially
    per row (bit-identical to the SQL chain — each step is one double
    add; numpy's pairwise-summing ``sum()`` would NOT be), while every
    row in the batch advances together.  ~50× faster than evaluating
    the 1000+-term unrolled expression interpreted (it exceeds janino
    codegen limits), with the identical result."""
    from pyspark.sql.functions import pandas_udf
    S = _md5_sign_matrix(dim, n_planes, n_tables, seed)

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.vstack(v.to_numpy()).astype(np.float64)
        out = np.zeros((len(X), n_tables), dtype=np.int64)
        for t in range(n_tables):
            sig = np.zeros(len(X), dtype=np.int64)
            for p in range(n_planes):
                acc = np.zeros(len(X))
                for i in range(dim):
                    if S[t, p, i] > 0:
                        acc += X[:, i]
                    else:
                        acc -= X[:, i]
                sig |= (acc > 0).astype(np.int64) << p
            out[:, t] = sig
        return pd.Series([row.tolist() for row in out])

    return sigs(F.col(vec_col))


def lsh_topk_md5(df: DataFrame, query_ids, k: int = 5, *,
                 n_planes: int = 10, n_tables: int = 2,
                 probe_hamming: int = 1, dim: int | None = None,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Multi-table multiprobe LSH ANN on md5-derived sign hyperplanes
    — the dual-dialect oracle path of :func:`lsh_topk` (same plan
    shape: signature explode, broadcast probe expansion, equi-join
    candidates, exact-cosine re-rank; nothing driver-side but the
    query-id literals).  Signature bits are fixed left-to-right IEEE
    ± chains over the vector elements, evaluated Arrow-vectorized
    with sequential per-row accumulation (:func:`_md5_sigs_col`) so
    they reproduce BIT-FOR-BIT in DuckDB's unrolled expression form
    (`lsh_topk_oracle_sql`) without paying interpreted-expression
    cost.  ``probe_hamming`` ≤ 1 (0 = exact bucket, 1 adds
    single-bit flips)."""
    query_ids = [int(q) for q in query_ids]
    if not query_ids:
        raise ValueError("query_ids must not be empty")
    if df.filter(F.col(id_col).isin(query_ids)).limit(1).count() == 0:
        raise ValueError("no query_ids found in the corpus")
    if dim is None:
        dim = _dim(df, vec_col)
    sigs = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col),
        _md5_sigs_col(dim, n_planes, n_tables, vec_col).alias("__sigs"))
    corpus = (sigs.select(F.col("__id").alias("n_id"),
                          F.col(vec_col).alias("c_vec"),
                          vector_norm(vec_col, dim).alias("c_norm"),
                          F.posexplode("__sigs").alias("t", "sig")))
    masks = [0] + ([1 << j for j in range(n_planes)]
                   if probe_hamming >= 1 else [])
    ids = ", ".join(str(int(q)) for q in query_ids)
    probes = (sigs.filter(F.expr(f"__id in ({ids})"))
              .select(F.col("__id").alias("q_id"),
                      F.col(vec_col).alias("q_vec"),
                      vector_norm(vec_col, dim).alias("q_norm"),
                      F.posexplode("__sigs").alias("t", "qsig"))
              .select("q_id", "q_vec", "q_norm", "t",
                      F.explode(F.array(*[F.expr(f"qsig ^ {m}")
                                          for m in masks]))
                      .alias("probe_sig")))
    cand = (corpus.join(F.broadcast(probes),
                        (corpus.t == probes.t)
                        & (corpus.sig == probes.probe_sig)
                        & (corpus.n_id != probes.q_id))
            .dropDuplicates(["q_id", "n_id"]))
    scored = cand.select(
        "q_id", "n_id",
        cosine_score("q_vec", "c_vec", "q_norm", "c_norm",
                     dim).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank"))


def lsh_topk_oracle_sql(query_ids, k: int = 5, *, n_planes: int = 10,
                        n_tables: int = 2, probe_hamming: int = 1,
                        dim: int = 64, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        table: str = "embeddings") -> str:
    """DuckDB mirror of :func:`lsh_topk_md5` — identical sign chains,
    probe expansion, candidate dedup and cosine re-rank."""
    sig_exprs = lsh_sign_exprs(dim, n_planes, n_tables, vec_col=vec_col,
                               dialect="duck")
    sig_cols = ", ".join(f"{e} AS s{t}" for t, e in enumerate(sig_exprs))
    sig_case = ("CASE t " + " ".join(
        f"WHEN {t} THEN s{t}" for t in range(n_tables)) + " END")
    masks = [0] + ([1 << j for j in range(n_planes)]
                   if probe_hamming >= 1 else [])
    ids = ", ".join(str(int(q)) for q in query_ids)
    cos = cosine_expr("qv.q_vec", "cv.c_vec", dim, base=1)
    return f"""
WITH sigs AS (
  SELECT {id_col} AS id, {vec_col} AS vec, {sig_cols} FROM {table}),
banded AS (
  SELECT id, vec, tt.t AS t, {sig_case} AS sig
  FROM sigs, (SELECT unnest([{', '.join(map(str, range(n_tables)))}]) AS t) tt),
probes AS (
  SELECT id AS q_id, t, xor(sig, m.m) AS probe_sig
  FROM banded, (SELECT unnest([{', '.join(map(str, masks))}]) AS m) m
  WHERE id IN ({ids})),
cand AS (
  SELECT DISTINCT p.q_id, c.id AS n_id
  FROM banded c JOIN probes p
    ON c.t = p.t AND c.sig = p.probe_sig AND c.id <> p.q_id),
qv AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
       WHERE {id_col} IN ({ids})),
cv AS (SELECT {id_col} AS n_id, {vec_col} AS c_vec FROM {table}),
s AS (
  SELECT cand.q_id, cand.n_id, {cos} AS cosine
  FROM cand JOIN qv ON qv.q_id = cand.q_id
            JOIN cv ON cv.n_id = cand.n_id)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT q_id, n_id, cosine,
         cast(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, n_id) AS INTEGER)
           AS rank
  FROM s) WHERE rank <= {k}"""


# ------------------------------------------------- IVF md5 oracle path

def _ivf_sign_matrix(dim: int, n_cells: int, seed: int = 11) -> "np.ndarray":
    """(n_cells, dim) ±1 coarse 'centroids', md5-parity derived.  All
    rows share the same norm (√dim), so argmax dot == nearest
    spherical centroid — the fixed-literal stand-in for the trained
    k-means quantizer that lets BOTH engines replay the cell
    assignment bit-for-bit."""
    import hashlib as _hl
    S = np.empty((n_cells, dim), dtype=np.float64)
    for c in range(n_cells):
        for i in range(dim):
            S[c, i] = 1.0 if _hl.md5(
                f"ivf:{seed}:{c}:{i}".encode()).digest()[0] & 1 else -1.0
    return S


def ivf_cell_exprs(dim: int, n_cells: int, *, vec_col: str = "embedding",
                   seed: int = 11, base: int = 1) -> list[str]:
    """One per-cell score expression (fixed left-to-right ± chain over
    the vector's elements) — the SQL mirror of the Arrow chains in
    :func:`_ivf_scores_col`, reading the same :func:`_ivf_sign_matrix`
    signs."""
    S = _ivf_sign_matrix(dim, n_cells, seed)
    out = []
    for c in range(n_cells):
        terms = []
        for i in range(dim):
            terms.append(("+ " if S[c, i] > 0 else "- ")
                         + f"cast({vec_col}[{i + base}] as double)")
        out.append("(" + " ".join(terms).lstrip("+ ") + ")")
    return out


def _argmax_case(cols: list[str], *, cmp: str = ">=") -> str:
    """Ordered CASE returning the index of the max (min for ``<=``)
    with lowest-index tie-break — matches np.argmax/argmin."""
    branches = []
    for j, cj in enumerate(cols[:-1]):
        conds = " AND ".join(f"{cj} {cmp} {cl}"
                             for l, cl in enumerate(cols) if l != j)
        branches.append(f"WHEN {conds} THEN {j}")
    return "(CASE " + " ".join(branches) + f" ELSE {len(cols) - 1} END)"


def _ivf_scores_col(dim: int, n_cells: int, vec_col: str, seed: int = 11):
    """array<double> of per-cell chain scores — sequential per-row
    accumulation over the dims (bit-identical to the SQL chains),
    vectorized across the Arrow batch."""
    from pyspark.sql.functions import pandas_udf
    S = _ivf_sign_matrix(dim, n_cells, seed)

    @pandas_udf("array<double>")
    def scores(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.vstack(v.to_numpy()).astype(np.float64)
        out = np.empty((len(X), n_cells))
        for c in range(n_cells):
            acc = np.zeros(len(X))
            for i in range(dim):
                if S[c, i] > 0:
                    acc += X[:, i]
                else:
                    acc -= X[:, i]
            out[:, c] = acc
        return pd.Series([row.tolist() for row in out])

    return scores(F.col(vec_col))


def ivf_topk_md5(df: DataFrame, query_ids, k: int = 5, *,
                 n_cells: int = 8, n_probe: int = 3,
                 dim: int | None = None, id_col: str = "vec_id",
                 vec_col: str = "embedding", seed: int = 11) -> DataFrame:
    """IVF ANN under a FULL dual-dialect oracle — same plan shape as
    :func:`ivf_topk` (corpus keeps ONE cell each, probe list joins by
    cell, exact-cosine re-rank), but the coarse quantizer is the
    fixed md5 ±1 sign matrix, so cell assignment (argmax of fixed
    left-to-right IEEE chains, lowest index on ties) and the probe
    ranking (score desc, cell asc) reproduce bit-for-bit in DuckDB
    (:func:`ivf_topk_oracle_sql`).  Production search stays on the
    trained-kmeans BLAS ivf_topk path."""
    query_ids = [int(q) for q in query_ids]
    if not query_ids:
        raise ValueError("query_ids must not be empty")
    if dim is None:
        dim = _dim(df, vec_col)
    n_probe = min(n_probe, n_cells)
    scored = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col),
        _ivf_scores_col(dim, n_cells, vec_col, seed).alias("__scores"))
    corpus = scored.select(
        F.col("__id").alias("n_id"), F.col(vec_col).alias("c_vec"),
        vector_norm(vec_col, dim).alias("c_norm"),
        F.expr("array_position(__scores, array_max(__scores)) - 1")
        .cast("int").alias("cell"))
    ids = ", ".join(str(q) for q in query_ids)
    probes = (scored.filter(F.expr(f"__id in ({ids})"))
              .select(F.col("__id").alias("q_id"),
                      F.col(vec_col).alias("q_vec"),
                      vector_norm(vec_col, dim).alias("q_norm"),
                      F.posexplode("__scores").alias("cell", "score"))
              .withColumn("pr", F.row_number().over(
                  W.partitionBy("q_id").orderBy(F.col("score").desc(),
                                                F.col("cell"))))
              .filter(F.col("pr") <= n_probe)
              .drop("score", "pr"))
    cand = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("n_id") != F.col("q_id"))
    out = cand.select("q_id", "n_id",
                      cosine_score("q_vec", "c_vec", "q_norm", "c_norm",
                                   dim).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (out.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank"))


def ivf_topk_oracle_sql(query_ids, k: int = 5, *, n_cells: int = 8,
                        n_probe: int = 3, dim: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        table: str = "embeddings",
                        seed: int = 11) -> str:
    """DuckDB mirror of :func:`ivf_topk_md5` — identical cell chains,
    argmax tie-break, probe ranking and cosine re-rank."""
    cell_exprs = ivf_cell_exprs(dim, n_cells, vec_col=vec_col, seed=seed)
    score_cols = ", ".join(f"{e} AS d{c}" for c, e in enumerate(cell_exprs))
    cell_case = _argmax_case([f"d{c}" for c in range(n_cells)])
    ids = ", ".join(str(int(q)) for q in query_ids)
    cells_list = ", ".join(str(c) for c in range(n_cells))
    score_case = ("CASE u.cell " + " ".join(
        f"WHEN {c} THEN d{c}" for c in range(n_cells)) + " END")
    cos = cosine_expr("qv.q_vec", "cv.c_vec", dim, base=1)
    return f"""
WITH scored AS (
  SELECT {id_col} AS id, {vec_col} AS vec, {score_cols} FROM {table}),
corpus AS (
  SELECT id AS n_id, {cell_case} AS cell FROM scored),
probes AS (
  SELECT id AS q_id, cell FROM (
    SELECT s.id, u.cell, row_number() OVER (
      PARTITION BY s.id ORDER BY {score_case} DESC, u.cell) AS pr
    FROM scored s, (SELECT unnest([{cells_list}]) AS cell) u
    WHERE s.id IN ({ids})) WHERE pr <= {n_probe}),
cand AS (
  SELECT p.q_id, c.n_id FROM corpus c JOIN probes p USING (cell)
  WHERE c.n_id <> p.q_id),
qv AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
       WHERE {id_col} IN ({ids})),
cv AS (SELECT {id_col} AS n_id, {vec_col} AS c_vec FROM {table}),
s AS (
  SELECT cand.q_id, cand.n_id, {cos} AS cosine
  FROM cand JOIN qv ON qv.q_id = cand.q_id
            JOIN cv ON cv.n_id = cand.n_id)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT q_id, n_id, cosine,
         cast(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, n_id) AS INTEGER)
           AS rank
  FROM s) WHERE rank <= {k}"""


# -------------------------------------------------------------- SemDeDup

def _train_centroids(df: DataFrame, *, n_clusters: int, train_sample: int,
                     kmeans_iters: int, id_col: str,
                     vec_col: str) -> "np.ndarray":
    """Driver-trained spherical k-means centroids on a bounded
    deterministic sample (same contract as ivf_topk).  Arrow transfer
    (toPandas) — ~2.5× faster than row-wise collect for array
    columns."""
    pdf = (df.select(F.col(vec_col)).orderBy(F.col(id_col))
           .limit(train_sample).toPandas())
    if pdf.empty:
        # callers derive dim from the trained matrix (no separate
        # _dim job), so give the empty-corpus case its clear error
        raise ValueError(
            f"cannot train centroids over {vec_col!r}: input has no "
            "vectors (empty corpus?)")
    X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    return _spherical_kmeans(X, n_clusters, kmeans_iters)


def _cell_udf(C: "np.ndarray"):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cell_of(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        M = np.vstack(v.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((M @ C.T).argmax(axis=1).astype("int32"))
    return cell_of


def semantic_pairs(df: DataFrame, threshold: float = 0.85, *,
                   n_clusters: int = 64, train_sample: int = 4096,
                   kmeans_iters: int = 10, max_cluster_size: int = 4096,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al.
    2023): cluster the embedding space with a driver-trained spherical
    k-means coarse quantizer, then compare pairs ONLY within a
    cluster — never all-pairs.

    Scale shape: ONE Arrow pass assigns every vector its cell (one
    BLAS matmul per batch); the pair join shuffles on the cell id, so
    cost is Σ|cell|², the SemDeDup design point.  Skew guard: cluster
    sizes are a bounded n_clusters-row aggregate; any cell over
    ``max_cluster_size`` is refined by random-hyperplane signature
    bits (near-duplicates agree on sign bits w.h.p., so refinement
    keeps dup pairs co-blocked while splitting the bulk) — the same
    argument as the LSH band cap in dedup.py."""
    C = _train_centroids(df, n_clusters=n_clusters,
                         train_sample=train_sample,
                         kmeans_iters=kmeans_iters,
                         id_col=id_col, vec_col=vec_col)
    # the trained centroid matrix already knows the dimension — a
    # separate _dim() first() would be one extra driver job per call
    dim = int(C.shape[1])
    assigned = df.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("v"),
                         vector_norm(vec_col, dim).alias("nrm"),
                         _cell_udf(C)(F.col(vec_col)).alias("cell"))
    assigned = assigned.localCheckpoint(eager=False)  # assign once
    sizes = {r.cell: r.n for r in
             assigned.groupBy("cell").agg(
                 F.count(F.lit(1)).alias("n")).collect()}
    over = [c for c, n in sizes.items() if n > max_cluster_size]
    if over:
        import math as _math
        worst = max(sizes[c] for c in over)
        bits = max(1, _math.ceil(_math.log2(worst / max_cluster_size)))
        # refine oversized cells by the low `bits` of a 1-table
        # hyperplane signature; untouched cells keep refinement 0
        sigs = _lsh_sigs_col("v", dim, bits, 1)
        assigned = assigned.withColumn(
            "ref", F.when(F.col("cell").isin(over),
                          F.element_at(sigs, 1)).otherwise(F.lit(0)))
    else:
        assigned = assigned.withColumn("ref", F.lit(0))
    a, b = assigned.alias("a"), assigned.alias("b")
    return (a.join(b, on=[F.col("a.cell") == F.col("b.cell"),
                          F.col("a.ref") == F.col("b.ref"),
                          F.col("a.id") < F.col("b.id")])
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    cosine_score("a.v", "b.v", "a.nrm", "b.nrm",
                                 dim).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def semantic_dedup(df: DataFrame, threshold: float = 0.85, *,
                   n_clusters: int = 64, train_sample: int = 4096,
                   kmeans_iters: int = 10, max_cluster_size: int = 4096,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup end-to-end: semantic pair generation → connected
    components → keep the min-id representative per duplicate set.
    Deterministic at any parallelism (seeded k-means, deterministic
    signatures, min-id keep rule)."""
    from .dedup import dedup_keep
    pairs = semantic_pairs(df, threshold, n_clusters=n_clusters,
                           train_sample=train_sample,
                           kmeans_iters=kmeans_iters,
                           max_cluster_size=max_cluster_size,
                           id_col=id_col, vec_col=vec_col)
    return dedup_keep(df, pairs, id_col=id_col)


def cluster_embeddings(df: DataFrame, n_clusters: int = 16, *,
                       train_sample: int = 4096, kmeans_iters: int = 10,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Topic/content clustering of an embedding column: assign every
    vector to a spherical k-means cell and report its cosine to the
    centroid.

    Scale shape: the quantizer trains driver-side on a bounded
    deterministic sample (ivf_topk's documented contract); assignment
    is ONE Arrow pass — one BLAS matmul per batch, no shuffle at all.
    Deterministic (seeded init, deterministic sample), so downstream
    splits and dedup keyed on the cluster id are reproducible.

    Returns (id_col, cluster, centroid_cos).
    """
    C = _train_centroids(df, n_clusters=n_clusters,
                         train_sample=train_sample,
                         kmeans_iters=kmeans_iters,
                         id_col=id_col, vec_col=vec_col)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cluster:int, centroid_cos:double>")
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cluster": pd.Series([], dtype="int32"),
                                 "centroid_cos": pd.Series([], dtype="f8")})
        M = np.vstack(v.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = M @ C.T
        cell = S.argmax(axis=1)
        return pd.DataFrame({
            "cluster": cell.astype("int32"),
            "centroid_cos": S[np.arange(len(cell)), cell].round(6)})

    return (df.select(F.col(id_col), assign(F.col(vec_col)).alias("a"))
            .select(id_col, F.col("a.cluster").alias("cluster"),
                    F.col("a.centroid_cos").alias("centroid_cos")))


def cluster_profile(df: DataFrame, n_clusters: int = 16, *,
                    label_col: str | None = None,
                    train_sample: int = 4096, kmeans_iters: int = 10,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-cluster summary of :func:`cluster_embeddings`: member
    count, mean cosine-to-centroid (cohesion), and — when
    ``label_col`` is given — the dominant label with its share.
    One keyed aggregate over the assignment (n_clusters rows out)."""
    assigned = cluster_embeddings(
        df, n_clusters, train_sample=train_sample,
        kmeans_iters=kmeans_iters, id_col=id_col, vec_col=vec_col)
    base = (F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.expr("cast(round(cast(sum(cast(centroid_cos as "
                   "decimal(20,10))) as double) / count(1), 6) as double)")
            .alias("mean_cos"))
    if label_col is None:
        return assigned.groupBy("cluster").agg(*base)
    joined = assigned.join(df.select(id_col, label_col), id_col)
    by_label = (joined.groupBy("cluster", label_col)
                .agg(F.count(F.lit(1)).alias("n_label")))
    top = (by_label.withColumn("rn", F.expr(
        f"row_number() OVER (PARTITION BY cluster "
        f"ORDER BY n_label DESC, {label_col})"))
        .filter("rn = 1")
        .select("cluster", F.col(label_col).alias("top_label"),
                F.col("n_label").alias("top_label_n")))
    stats = joined.groupBy("cluster").agg(*base)
    return (stats.join(top, "cluster")
            .withColumn("top_label_share", F.expr(
                "cast(round(top_label_n / cast(n_members as double), 6) "
                "as double)"))
            .drop("top_label_n"))


# ------------------------------- md5-quantized oracle twins (SemDeDup
# pair stage + embedding clustering).  Same plan shapes as the
# production semantic_pairs / cluster_embeddings, with the TRAINED
# spherical-k-means quantizer replaced by the fixed md5 ±1 sign matrix
# (_ivf_sign_matrix) so DuckDB replays cell assignment, max-score and
# cosine bit-for-bit — the ivf_topk_md5 pattern.  Production stays on
# the trained paths; these exist so no capability family is ever
# hash-unchecked.

def semantic_pairs_md5(df: DataFrame, threshold: float = 0.55, *,
                       n_cells: int = 16, dim: int | None = None,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       seed: int = 11) -> DataFrame:
    """SemDeDup pair generation under a FULL dual-dialect oracle:
    one Arrow pass assigns every vector its md5-sign cell (argmax of
    fixed left-to-right chains, lowest index on ties), the pair join
    shuffles on the cell id (Σ|cell|² work — never all-pairs), exact
    6-dp cosine filter."""
    if dim is None:
        dim = _dim(df, vec_col)
    assigned = (df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        vector_norm(vec_col, dim).alias("nrm"),
        _ivf_scores_col(dim, n_cells, vec_col, seed).alias("__scores"))
        .select("id", "v", "nrm",
                F.expr("array_position(__scores, array_max(__scores)) - 1")
                .cast("int").alias("cell")))
    a, b = assigned.alias("a"), assigned.alias("b")
    return (a.join(b, on=[F.col("a.cell") == F.col("b.cell"),
                          F.col("a.id") < F.col("b.id")])
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    cosine_score("a.v", "b.v", "a.nrm", "b.nrm",
                                 dim).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def semantic_pairs_md5_oracle_sql(threshold: float = 0.55, *,
                                  n_cells: int = 16, dim: int = 64,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  table: str = "embeddings",
                                  seed: int = 11) -> str:
    """DuckDB mirror of :func:`semantic_pairs_md5` — identical cell
    chains, argmax tie-break and 6-dp cosine."""
    cell_exprs = ivf_cell_exprs(dim, n_cells, vec_col=vec_col, seed=seed)
    score_cols = ", ".join(f"{e} AS d{c}" for c, e in enumerate(cell_exprs))
    cell_case = _argmax_case([f"d{c}" for c in range(n_cells)])
    cos = cosine_expr("a.vec", "b.vec", dim, base=1)
    return f"""
WITH scored AS (
  SELECT {id_col} AS id, {vec_col} AS vec, {score_cols} FROM {table}),
assigned AS (SELECT id, vec, {cell_case} AS cell FROM scored),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, {cos} AS cosine
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.id < b.id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {threshold}"""


def cluster_embeddings_md5(df: DataFrame, n_cells: int = 16, *,
                           dim: int | None = None,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           seed: int = 11) -> DataFrame:
    """Embedding clustering under a FULL dual-dialect oracle: cell =
    argmax md5-sign chain; centroid_cos = score / (‖v‖·√dim) — the
    md5 'centroids' all have norm √dim, so this IS the cosine to the
    assigned centroid.  One scan, no shuffle (the production
    cluster_embeddings contract)."""
    if dim is None:
        dim = _dim(df, vec_col)
    return (df.select(
        F.col(id_col),
        vector_norm(vec_col, dim).alias("__nrm"),
        _ivf_scores_col(dim, n_cells, vec_col, seed).alias("__scores"))
        .select(
            id_col,
            F.expr("array_position(__scores, array_max(__scores)) - 1")
            .cast("int").alias("cluster"),
            F.expr(f"cast(round(array_max(__scores) / "
                   f"(__nrm * sqrt(cast({dim} as double))), 6) as double)")
            .alias("centroid_cos")))


def cluster_embeddings_md5_oracle_sql(n_cells: int = 16, *,
                                      dim: int = 64,
                                      id_col: str = "vec_id",
                                      vec_col: str = "embedding",
                                      table: str = "embeddings",
                                      seed: int = 11) -> str:
    cell_exprs = ivf_cell_exprs(dim, n_cells, vec_col=vec_col, seed=seed)
    score_cols = ", ".join(f"{e} AS d{c}" for c, e in enumerate(cell_exprs))
    cell_case = _argmax_case([f"d{c}" for c in range(n_cells)])
    gmax = "greatest(" + ", ".join(f"d{c}" for c in range(n_cells)) + ")"
    nrm = norm_expr(vec_col, dim, base=1)
    return f"""
WITH scored AS (
  SELECT {id_col}, {vec_col}, {score_cols} FROM {table})
SELECT {id_col}, {cell_case} AS cluster,
       cast(round({gmax} / ({nrm} * sqrt(cast({dim} as double))), 6)
            as double) AS centroid_cos
FROM scored"""
