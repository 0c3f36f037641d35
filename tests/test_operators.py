"""Unit tests: dedup, similarity, text, multimodal operators."""

import math

import pytest
from pyspark.sql import functions as F

from pythonql_spark.operators import multimodal as MM
from pythonql_spark.operators import text as TX
from pythonql_spark.operators.dedup import (
    connected_components,
    dedup_keep,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from pythonql_spark.operators.similarity import brute_topk, knn_join, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "a"),
        (1, "the quick brown fox jumps over the lazy dog", "a"),   # exact dup
        (2, "the quick brown fox leaps over the lazy dog", "a"),   # near dup
        (3, "completely different text about spark engines", "a"),
        (4, "THE QUICK  BROWN fox jumps over the lazy dog", "a"),  # case/ws dup
        (5, "yet another unrelated document entirely here", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(docs):
    kept = exact_dedup(docs)
    rows = {r.doc_id: r.dup_count for r in kept.collect()}
    # 0,1,4 collapse (case/whitespace-insensitive); min id 0 kept
    assert rows[0] == 3
    assert set(rows) == {0, 2, 3, 5}


def test_minhash_finds_near_dups(docs):
    # word-level shingles: the one-word edit keeps jaccard ≈ 0.78
    pairs = minhash_lsh_pairs(docs, ngram=1, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got           # identical
    assert (0, 2) in got           # near dup
    assert all(a < b for a, b in got)


def test_simhash_pairs(docs):
    pairs = simhash_pairs(docs, max_hamming=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert (0, 5) not in got


def test_ngram_jaccard(docs):
    pairs = ngram_jaccard_pairs(docs, ["source"], ngram=1, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] == pytest.approx(round(7 / 9, 6), abs=1e-6)


def test_connected_components_chain(spark):
    # a 6-node chain exercises pointer jumping (diameter > 1 round),
    # plus a separate 2-clique and an isolated node via nodes=
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6, 10, 11, 99]],
                                  "doc_id long")
    comp = {r.id: r.comp
            for r in connected_components(pairs, nodes=nodes).collect()}
    assert all(comp[i] == 1 for i in range(1, 7))
    assert comp[10] == comp[11] == 10
    assert comp[99] == 99


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(7,), (8,)], "doc_id long")
    comp = {r.id: r.comp
            for r in connected_components(pairs, nodes=nodes).collect()}
    assert comp == {7: 7, 8: 8}


def test_connected_components_no_union_edges(spark):
    # edges present but no union ever fires (self-loops / duplicate
    # pairs): the driver fast path must still emit every edge node once
    # (regression: comp was built inside the union branch -> unbound)
    pairs = spark.createDataFrame(
        [(5, 5), (7, 7), (5, 5)], "id_a long, id_b long")
    comp = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert comp == {5: 5, 7: 7}


def test_connected_components_single_frame_build(spark, monkeypatch):
    # the driver fast path must build its result frame exactly ONCE
    # from the final union-find state, not once per union (regression:
    # a mis-indent made it O(unions * nodes) driver work)
    from pythonql_spark.operators import dedup as DD

    calls = {"n": 0}
    real = DD.local_rows_df

    def counting(sess, rows, schema):
        calls["n"] += 1
        return real(sess, rows, schema)

    monkeypatch.setattr(DD, "local_rows_df", counting)
    n = 2000  # 1999 unions in one chain
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    comp = {r.id: r.comp for r in DD.connected_components(pairs).collect()}
    assert calls["n"] == 1
    assert comp == {i: 0 for i in range(n)}


def test_dedup_keep(docs):
    pairs = ngram_jaccard_pairs(docs, ["source"], ngram=1, threshold=0.5)
    kept = {r.doc_id for r in dedup_keep(docs, pairs).collect()}
    # cluster {0,1,2,4} keeps 0; 3 and 5 are isolated
    assert kept == {0, 3, 5}


MINHASH_FAMILIES = ["xxhash64", "md5"]


@pytest.fixture(scope="module")
def new_batch(spark):
    return spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog", "a"),  # dup of corpus 0
         (101, "a genuinely novel document about incremental ingest", "a"),
         (102, "a genuinely novel document about incremental ingest!", "a"),  # dup of 101
         (103, "the quick brown fox leaps over the lazy dog", "b")],  # near-dup of corpus 2
        "doc_id long, text string, source string")


@pytest.mark.parametrize("hash_fn", MINHASH_FAMILIES)
def test_bipartite_cross_pairs(new_batch, docs, hash_fn):
    from pythonql_spark.operators.dedup import minhash_lsh_pairs_bipartite
    cross = minhash_lsh_pairs_bipartite(new_batch, docs, ngram=1,
                                        jaccard_threshold=0.5,
                                        hash_fn=hash_fn)
    got = {(r.id_a, r.id_b) for r in cross.collect()}
    assert (100, 0) in got and (103, 2) in got
    assert not any(a == 101 for a, _ in got)


def test_dedup_increment(new_batch, docs):
    from pythonql_spark.operators.dedup import dedup_increment
    kept = {r.doc_id
            for r in dedup_increment(new_batch, docs, ngram=1,
                                     jaccard_threshold=0.5).collect()}
    # 100/103 collide with the corpus; 102 loses to 101 within-batch
    assert kept == {101}


@pytest.mark.parametrize("hash_fn", MINHASH_FAMILIES)
def test_oversize_bucket_clique_still_dedups(spark, hash_fn):
    """The no-silent-caps rule: a clique of max_bucket_size + 10
    identical-shingle docs lands every band bucket over the cap; the
    star-pair fallback must still fully dedup it (one survivor), and
    the bucket report must surface the demoted buckets."""
    from pythonql_spark.operators.dedup import minhash_bucket_report
    cap = 8
    n = cap + 10
    rows = [(i, "the same boilerplate text repeated everywhere forever")
            for i in range(n)] + \
           [(1000, "a genuinely unique document unlike the others")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, ngram=1, jaccard_threshold=0.5,
                              max_bucket_size=cap, hash_fn=hash_fn)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # star pairing: min id 0 paired with every clique member
    assert {(0, j) for j in range(1, n)} <= got
    kept = {r.doc_id for r in dedup_keep(df, pairs).collect()}
    assert kept == {0, 1000}
    # the report bands with xxhash64; identical texts share every
    # bucket under either family
    report = minhash_bucket_report(df, ngram=1, max_bucket_size=cap)
    rrows = report.collect()
    assert rrows and all(r.n == n for r in rrows)
    assert all((r.min_id, r.max_id) == (0, n - 1) for r in rrows)


def test_oversize_bucket_star_simhash(spark):
    cap = 6
    n = cap + 10
    rows = [(i, "identical words every time across this whole clique")
            for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_pairs(df, max_hamming=3, max_bucket_size=cap)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, j) for j in range(1, n)}


@pytest.mark.parametrize("hash_fn", MINHASH_FAMILIES)
def test_oversize_corpus_bucket_keeps_representatives(spark, hash_fn):
    """Bipartite path: an oversize corpus bucket is truncated to its
    smallest-id representatives, not dropped — a new doc duplicating
    mass-replicated corpus content is still caught."""
    from pythonql_spark.operators.dedup import minhash_lsh_pairs_bipartite
    cap = 5
    corpus = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere forever")
         for i in range(cap + 7)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(500, "the same boilerplate text repeated everywhere forever")],
        "doc_id long, text string")
    cross = minhash_lsh_pairs_bipartite(new, corpus, ngram=1,
                                        jaccard_threshold=0.5,
                                        max_bucket_size=cap,
                                        hash_fn=hash_fn)
    got = {(r.id_a, r.id_b) for r in cross.collect()}
    assert got                                  # caught, not dropped
    assert got <= {(500, j) for j in range(cap)}  # min-id representatives


@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    base = rng.randn(20, 8).astype("float32")
    base[1] = base[0] + 0.01 * rng.randn(8)      # near-dup of 0
    rows = [(i, [float(x) for x in base[i]], int(i % 2)) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_topk(vecs):
    top = brute_topk(vecs, query_ids=[0], k=3)
    rows = sorted(top.collect(), key=lambda r: r.rank)
    assert rows[0].n_id == 1            # the planted near-duplicate
    assert rows[0].cosine > 0.99
    assert [r.rank for r in rows] == [1, 2, 3]


def test_lsh_topk_recall(vecs):
    exact = {r.n_id for r in brute_topk(vecs, [0], k=3).collect()}
    approx = {r.n_id for r in lsh_topk(vecs, [0], k=3, n_planes=8,
                                       probe_hamming=3).collect()}
    # hamming-probe LSH should recover most of the true top-k
    assert len(exact & approx) >= 2


def test_ivf_topk(vecs):
    from pythonql_spark.operators.similarity import ivf_topk
    exact = {r.n_id for r in brute_topk(vecs, [0], k=3).collect()}
    # probe every cell -> IVF must equal exact search
    full = {r.n_id for r in ivf_topk(vecs, [0], k=3, n_centroids=4,
                                     n_probe=4, train_sample=20).collect()}
    assert full == exact
    # partial probe still finds the planted near-dup (same cell as 0)
    part = {r.n_id for r in ivf_topk(vecs, [0], k=3, n_centroids=4,
                                     n_probe=1, train_sample=20).collect()}
    assert 1 in part


def test_knn_join_matches_brute(vecs):
    # knn_join(probe, corpus-without-probe) must equal brute_topk,
    # which excludes self-matches by id
    got = knn_join(vecs.filter("vec_id = 0"), vecs.filter("vec_id != 0"),
                   k=3, vec_col="embedding")
    exact = brute_topk(vecs, query_ids=[0], k=3)
    g = [(r.n_id, r.rank) for r in sorted(got.collect(), key=lambda r: r.rank)]
    e = [(r.n_id, r.rank) for r in sorted(exact.collect(), key=lambda r: r.rank)]
    assert g == e
    # partial top-k survives multi-partition corpora
    got4 = knn_join(vecs.filter("vec_id = 0"),
                    vecs.filter("vec_id != 0").repartition(4), k=3)
    assert sorted(r.n_id for r in got4.collect()) == sorted(n for n, _ in g)


def test_mine_hard_negatives_matches_numpy(vecs):
    import numpy as np
    from pythonql_spark.operators.similarity import mine_hard_negatives
    got = mine_hard_negatives(vecs.filter("vec_id = 0"), vecs, k=3)
    rows = sorted(got.collect(), key=lambda r: r.rank)
    data = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label)
            for r in vecs.collect()}
    q, ql = data[0]
    qn = q / np.linalg.norm(q)
    scored = sorted(
        ((-round(float(qn @ (v / np.linalg.norm(v))), 6), i)
         for i, (v, l) in data.items() if l != ql and i != 0))
    assert [r.n_id for r in rows] == [i for _, i in scored[:3]]
    assert all(data[r.n_id][1] != ql for r in rows)
    # label mask must live INSIDE the partial top-k: a post-filter on
    # knn_join would lose negatives whenever > k same-label vectors
    # outrank them; the multi-partition run must agree with 1-partition
    got4 = mine_hard_negatives(vecs.filter("vec_id = 0"),
                               vecs.repartition(4), k=3)
    assert sorted(r.n_id for r in got4.collect()) == \
        sorted(r.n_id for r in rows)


def test_mine_positives_same_label_no_self(vecs):
    from pythonql_spark.operators.similarity import mine_positives
    rows = mine_positives(vecs.filter("vec_id = 0"), vecs, k=4).collect()
    labels = {r.vec_id: r.label for r in vecs.collect()}
    assert len(rows) == 4
    assert all(labels[r.n_id] == labels[0] for r in rows)
    assert all(r.n_id != 0 for r in rows)
    assert rows[0].n_id != 0


def test_mine_triplets(vecs):
    from pythonql_spark.operators.similarity import (mine_hard_negatives,
                                                     mine_positives,
                                                     mine_triplets)
    trip = mine_triplets(vecs.filter("vec_id < 4"), vecs, n_neg=2)
    rows = trip.collect()
    assert len(rows) == 4 * 2                    # 1 pos x 2 negs each
    pos = {r.q_id: (r.n_id, r.cosine) for r in
           mine_positives(vecs.filter("vec_id < 4"), vecs, k=1).collect()}
    neg = {(r.q_id, r.n_id): r.cosine for r in
           mine_hard_negatives(vecs.filter("vec_id < 4"), vecs,
                               k=2).collect()}
    for r in rows:
        assert (r.pos_id, r.pos_cosine) == pos[r.q_id]
        assert neg[(r.q_id, r.neg_id)] == r.neg_cosine
        assert r.margin == round(r.pos_cosine - r.neg_cosine, 6)


def test_mine_negatives_string_and_null_labels(spark):
    import numpy as np
    from pythonql_spark.operators.similarity import (mine_hard_negatives,
                                                     mine_positives)
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(6)],
             None if i == 7 else ("web" if i % 2 else "code"))
            for i in range(12)]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    neg = mine_hard_negatives(vecs.filter("vec_id = 0"), vecs, k=20).collect()
    pos = mine_positives(vecs.filter("vec_id = 0"), vecs, k=20).collect()
    got_neg = {r.n_id for r in neg}
    got_pos = {r.n_id for r in pos}
    assert got_neg == {i for i in range(12) if i % 2 and i != 7}
    assert got_pos == {i for i in range(2, 12, 2)}        # self excluded
    assert 7 not in got_neg | got_pos                     # null label


def test_psi_drift(spark):
    import math
    from pythonql_spark.operators.profile import psi_drift
    a = spark.createDataFrame([(i, float(i % 10)) for i in range(200)],
                              "id long, x double")
    # identical distributions: every bin contribution is exactly 0
    same = psi_drift(a, a, "x", 0.0, 10.0, 10).collect()
    assert len(same) == 1 and same[0].psi == 0.0
    assert (same[0].n_a, same[0].n_b) == (200, 200)
    # shifted by half the range: clearly over the 0.25 "shifted" bar
    b = spark.createDataFrame([(i, float(i % 10) / 2) for i in range(200)],
                              "id long, x double")
    psi = psi_drift(a, b, "x", 0.0, 10.0, 10).collect()[0].psi
    assert psi > 0.25
    # hand-check the smoothed formula on a tiny two-bin case
    c = spark.createDataFrame([(0, 0.0), (1, 0.0), (2, 1.0)],
                              "id long, x double")
    d = spark.createDataFrame([(0, 0.0), (1, 1.0), (2, 1.0)],
                              "id long, x double")
    got = psi_drift(c, d, "x", 0.0, 2.0, 2, smooth=0.5).collect()[0].psi
    exp = 0.0
    for ca, cb in ((2, 1), (1, 2)):
        pa, pb = (ca + 0.5) / 4.0, (cb + 0.5) / 4.0
        exp += round((pa - pb) * math.log(pa / pb), 9)
    assert got == round(exp, 6)


def test_group_stats_filter(spark):
    import pytest as _pytest
    from pythonql_spark.operators.profile import group_stats_filter
    df = spark.createDataFrame(
        [(i, "good" if i < 20 else "bad", 100 + (i % 3)) for i in range(30)],
        "id long, src string, score long")
    out = group_stats_filter(df, ["src"],
                             {"n": "count(*)", "avg_s": "avg(score)"},
                             "n >= 15 AND avg_s >= 100")
    rows = out.collect()
    assert {r.src for r in rows} == {"good"} and len(rows) == 20
    assert sorted(out.columns) == sorted(df.columns)   # rows unchanged
    # the group list must be the broadcast side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    with _pytest.raises(ValueError):
        group_stats_filter(df, [], {"n": "count(*)"}, "n > 0")
    with _pytest.raises(ValueError):
        group_stats_filter(df, ["src"], {}, "true")
    with _pytest.raises(ValueError):
        group_stats_filter(df, ["src"], {"score": "count(*)"}, "score > 0")


def test_check_expectations(spark):
    import pytest as _pytest
    from pythonql_spark.operators.profile import check_expectations
    df = spark.createDataFrame(
        [(i, None if i == 5 else f"t{i}") for i in range(10)],
        "id long, text string")
    out = {r.check_name: (r.value, r.passed)
           for r in check_expectations(df, {
               "null_rate": ("avg(cast(text IS NULL as double))",
                             "value <= 0.1"),
               "rows": ("cast(count(*) as double)", "value >= 100"),
               "distinct_values_ok": ("cast(count(distinct text) as double)",
                                      "value = 9"),
           }).collect()}
    assert out["null_rate"] == (0.1, True)
    assert out["rows"] == (10.0, False)          # discriminates
    assert out["distinct_values_ok"] == (9.0, True)
    with _pytest.raises(ValueError):
        check_expectations(df, {})
    # single aggregation pass: no data shuffle beyond the 1-row final
    from pythonql_spark.plans import plan_report
    rep = plan_report(check_expectations(
        df, {"rows": ("cast(count(*) as double)", "value > 0")}))
    assert rep["exchanges"] - rep["broadcast_exchanges"] <= 1
    # keyed mode: one verdict row per (group, check)
    df2 = spark.createDataFrame(
        [(i, "g" + str(i % 2)) for i in range(10)], "id long, g string")
    keyed = {(r.g, r.check_name): r.passed
             for r in check_expectations(
                 df2, {"rows": ("cast(count(*) as double)", "value >= 5")},
                 keys=["g"]).collect()}
    assert keyed == {("g0", "rows"): True, ("g1", "rows"): True}


def test_psi_drift_keys_and_validation(spark):
    import pytest as _pytest
    from pythonql_spark.operators.profile import psi_drift
    a = spark.createDataFrame(
        [(i, "g" + str(i % 2), float(i % 5)) for i in range(100)],
        "id long, g string, x double")
    out = psi_drift(a, a, "x", 0.0, 5.0, 5, keys=["g"]).collect()
    assert sorted(r.g for r in out) == ["g0", "g1"]
    assert all(r.psi == 0.0 for r in out)
    with _pytest.raises(ValueError):
        psi_drift(a, a, "x", 0.0, 0.0, 5)
    with _pytest.raises(ValueError):
        psi_drift(a, a, "x", 0.0, 5.0, 5, smooth=0.0)


def test_interleave_order(spark):
    import pytest as _pytest
    from pythonql_spark.operators.sampling import interleave_order
    # uneven strata: a=6, b=3, c=1
    rows = ([(i, "a", 100 - i) for i in range(6)]
            + [(10 + i, "b", 50 - i) for i in range(3)]
            + [(20, "c", 5)])
    df = spark.createDataFrame(rows, "doc_id long, src string, score long")
    out = sorted(interleave_order(df.repartition(4), "src",
                                  ["score DESC", "doc_id"]).collect(),
                 key=lambda r: r.train_key)
    # round 0: one doc from each stratum, in stratum order, each
    # stratum's HIGHEST score first (DESC honoured)
    assert [r.src for r in out[:3]] == ["a", "b", "c"]
    assert out[0].doc_id == 0 and out[1].doc_id == 10 and out[2].doc_id == 20
    # strata stay internally ordered and keys are unique
    for s in ("a", "b", "c"):
        scores = [r.score for r in out if r.src == s]
        assert scores == sorted(scores, reverse=True)
    assert len({r.train_key for r in out}) == len(out)
    # after c exhausts, a and b keep alternating
    assert [r.src for r in out[3:5]] == ["a", "b"]
    with _pytest.raises(ValueError):
        interleave_order(df, "src", [])


def test_quantile_buckets(spark):
    import pytest as _pytest
    from pythonql_spark.operators.sampling import quantile_buckets
    df = spark.createDataFrame([(i, float(i)) for i in range(103)],
                               "id long, x double")
    out = quantile_buckets(df.repartition(5), ["x", "id"], 4).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r.x)
    # 4 buckets, sizes differ by at most 1, order-respecting
    assert set(by_bucket) == {0, 1, 2, 3}
    sizes = [len(v) for _, v in sorted(by_bucket.items())]
    assert max(sizes) - min(sizes) <= 1 and sum(sizes) == 103
    assert max(by_bucket[0]) < min(by_bucket[1])
    assert max(by_bucket[2]) < min(by_bucket[3])
    with _pytest.raises(ValueError):
        quantile_buckets(df, ["x"], 0)
    with _pytest.raises(ValueError):
        quantile_buckets(df, [], 4)


def test_quantile_buckets_weighted(spark):
    from pythonql_spark.operators.sampling import quantile_buckets
    # one heavy row (weight 50) among 50 light ones (weight 1 each)
    rows = [(0, 50)] + [(i, 1) for i in range(1, 51)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = sorted(quantile_buckets(df.repartition(4), ["id"], 4,
                                  weight_col="w").collect(),
                 key=lambda r: r.id)
    # total weight 100 -> 25 per bucket: the heavy head row spans
    # buckets 0-1 but is assigned its STARTING bucket (exclusive
    # prefix 0), then ids 1..25 fill bucket 2, 26..50 bucket 3
    assert out[0].bucket == 0
    weights = {}
    for r in out:
        weights[r.bucket] = weights.get(r.bucket, 0) + r.w
    assert weights == {0: 50, 2: 25, 3: 25}
    # buckets are non-decreasing in sort order
    buckets = [r.bucket for r in out]
    assert buckets == sorted(buckets)
    # partition-layout invariance
    again = sorted(quantile_buckets(df.repartition(11), ["id"], 4,
                                    weight_col="w").collect(),
                   key=lambda r: r.id)
    assert [r.bucket for r in again] == buckets


def test_moving_agg(spark):
    import datetime as dt
    import pytest as _pytest
    from pythonql_spark.operators.timeseries import moving_agg
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(minutes=m), float(v))
            for m, v in ((0, 10.0), (30, 20.0), (59, 30.0),
                         (61, 40.0), (200, 50.0))]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, value double")
    out = {int(r.ts.timestamp() - t0.timestamp()) // 60:
           (r.mov_n, r.mov_sum, r.mov_avg)
           for r in moving_agg(df, "ts", "value", 3600, "uid").collect()}
    assert out[0] == (1, 10.0, 10.0)
    assert out[59] == (3, 60.0, 20.0)           # 0, 30, 59 all inside
    # frame is [ts-3600s, ts] inclusive: at minute 61 the minute-0
    # event is 61 min back and falls out; 30, 59, 61 remain
    assert out[61] == (3, 90.0, 30.0)
    assert out[200] == (1, 50.0, 50.0)          # everything expired
    with _pytest.raises(ValueError):
        moving_agg(df, "ts", "value", 0, "uid")


def test_shuffle_rows(spark):
    from pythonql_spark.operators.sampling import shuffle_rows
    df = spark.createDataFrame([(i, f"d{i}") for i in range(500)],
                               "doc_id long, text string")
    out = {r.doc_id: r.shuffle_pos
           for r in shuffle_rows(df, seed=3).collect()}
    assert sorted(out.values()) == list(range(500))      # a permutation
    assert out != {i: i for i in range(500)}             # actually shuffled
    # deterministic across partition layouts
    out2 = {r.doc_id: r.shuffle_pos
            for r in shuffle_rows(df.repartition(7), seed=3).collect()}
    assert out == out2
    # a different seed gives a different permutation
    out4 = {r.doc_id: r.shuffle_pos
            for r in shuffle_rows(df, seed=4).collect()}
    assert out4 != out


def test_text_expressions(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog, in a house!"),
         (1, "el que de la y en los del las por")], "doc_id long, text string")
    out = df.selectExpr(
        TX.token_count("text") + " as n",
        TX.bpe_token_count("text") + " as nb",
        TX.lang_id("text") + " as lang",
        TX.quality_score("text") + " as q",
        TX.fingerprint("text") + " as fp").collect()
    assert out[0]["n"] == 8
    assert out[0]["lang"] == "en" and out[1]["lang"] == "es"
    assert 0.0 <= out[0]["q"] <= 1.0
    assert len(out[0]["fp"]) == 32
    # fingerprint invariant to case/whitespace
    df2 = spark.createDataFrame([(0, "THE CAT  and the DOG, in a house!")],
                                "doc_id long, text string")
    fp2 = df2.selectExpr(TX.fingerprint("text") + " as fp").first().fp
    assert fp2 == out[0]["fp"]


def test_clean_text_and_pii(spark):
    df = spark.createDataFrame(
        [(0, "see https://example.com/x?q=1 and mail bob@site.org now"),
         (1, "call +1 (555) 123-4567 today"),
         (2, "plain   text    only")], "doc_id long, text string")
    out = {r.doc_id: r.cleaned for r in df.selectExpr(
        "doc_id", TX.clean_text("text") + " as cleaned").collect()}
    assert out[0] == "see and mail <EMAIL> now"
    assert out[1] == "call <PHONE> today"
    assert out[2] == "plain text only"


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(0, "spam spam spam spam"),
         (1, "all words here differ"),
         (2, "dup line\ndup line\nfresh line")], "doc_id long, text string")
    rows = {r.doc_id: r for r in df.selectExpr(
        "doc_id",
        TX.repetition_ratio("text", unit="word") + " as w",
        TX.repetition_ratio("text", unit="line") + " as l").collect()}
    assert rows[0].w == pytest.approx(0.75)
    assert rows[1].w == 0.0
    assert rows[2].l == pytest.approx(round(1 - 2 / 3, 6))


def test_decontaminate(spark):
    from pythonql_spark.operators import decontaminate
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),      # contains bench 5-gram
         (1, "one two three four five six seven"),        # disjoint
         (2, "alpha beta gamma delta epsilon")],          # exactly a bench doc
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    rows = {r.doc_id: r for r in decontaminate(corpus, bench, ngram=5).collect()}
    # doc 0: 2 distinct 5-grams, 1 matches the single bench shingle
    assert (rows[0].n_grams, rows[0].n_matched) == (2, 1)
    assert rows[0].contamination == pytest.approx(0.5)
    assert rows[1].n_matched == 0
    assert rows[2].contamination == 1.0


def test_sample_deterministic(spark):
    from pythonql_spark.operators.sampling import sample_fraction, stratified_sample
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id") \
        .withColumn("lang", F.expr("CASE WHEN doc_id % 4 = 0 THEN 'en' ELSE 'fr' END"))
    s1 = {r.doc_id for r in sample_fraction(df, 0.3).collect()}
    s2 = {r.doc_id for r in sample_fraction(df, 0.3).collect()}
    assert s1 == s2                       # reproducible, not rand()
    assert 0.2 < len(s1) / 1000 < 0.4
    # a smaller fraction selects a subset of the larger one
    s3 = {r.doc_id for r in sample_fraction(df, 0.1).collect()}
    assert s3 <= s1
    strat = stratified_sample(df, "lang", {"en": 1.0}, default_fraction=0.0)
    assert {r.lang for r in strat.collect()} == {"en"}
    assert strat.count() == 250


def test_chunk_documents(spark):
    from pythonql_spark.operators.packing import chunk_documents
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(0, words), (1, "tiny doc")],
                               "doc_id long, text string")
    rows = sorted(chunk_documents(df, chunk=4, overlap=1).collect(),
                  key=lambda r: (r.doc_id, r.chunk_idx))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # stride 3: starts at w0, w3, w6 (w9 window would be past size-overlap)
    assert [c.chunk_text for c in by_doc[0]] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"]
    assert [c.chunk_idx for c in by_doc[0]] == [0, 1, 2]
    assert by_doc[0][0].n_chunk_tokens == 4
    assert [c.chunk_text for c in by_doc[1]] == ["tiny doc"]


def test_pack_sequences(spark):
    from pythonql_spark.operators.packing import pack_sequences
    df = spark.createDataFrame(
        [(i, "a", "x " * 40) for i in range(5)]      # 40 tokens each
        + [(9, "b", "y y y")],
        "doc_id long, source string, text string")
    rows = {r.doc_id: r for r in pack_sequences(df, max_tokens=100).collect()}
    # shard a stream: offsets 0,40,80,120,160 -> seqs 0,0,0,1,1
    assert [rows[i].start_offset for i in range(5)] == [0, 40, 80, 120, 160]
    assert [rows[i].seq_id for i in range(5)] == [0, 0, 0, 1, 1]
    assert rows[9].start_offset == 0 and rows[9].seq_id == 0


def test_multimodal_decoder_seam(spark):
    """The four unsupported-payload operators route unknown formats
    through their documented callback seams (decode_image decoder=,
    resize_image transcode=, sample_frames frame_decoder=) — the
    schema/partitioning plumbing runs for real, the payload decode is
    the pluggable stage."""
    def stub_image_decoder(data, meta):
        # test fixture for the decoder= seam: deterministic pixels
        # from the blob's sha256 (a GPU/ffmpeg stage plugs in here)
        return 4, 4, 1, bytes(MM.stub_pixels(data))

    rows = [(i, bytes(range(i, i + 32)), 64 + i, 48, 400) for i in range(4)]
    df = (spark.createDataFrame(rows, "id long, data binary, w int, h int, dur int")
          .select("id", MM.make_media("data", "video", "avc1", F.col("w"),
                                      F.col("h"), F.col("dur")).alias("media")))
    dec = MM.decode_image(df, decoder=stub_image_decoder)
    got = dec.select("id", "pixels_sample", "mean_intensity").collect()
    assert len(got) == 4
    assert all(len(r.pixels_sample) == 16 for r in got)
    # deterministic: same bytes → same features
    again = MM.decode_image(df, decoder=stub_image_decoder) \
        .select("mean_intensity").collect()
    assert [r.mean_intensity for r in again] == [r.mean_intensity for r in got]

    resized = MM.resize_image(df, 32, 24,
                              transcode=lambda d, meta, w, h: d)
    m = resized.select("media.meta.width", "media.meta.height").first()
    assert (m[0], m[1]) == (32, 24)

    def stub_frames(data, meta, every_ms):
        for ts in range(0, max(meta["duration_ms"] or 0, 1), every_ms):
            lo = (ts * 7) % max(len(data), 1)
            yield ts, bytes(data[lo:lo + 16])

    frames = MM.sample_frames(df, every_ms=100, frame_decoder=stub_frames)
    per = frames.groupBy("id").count().collect()
    assert all(r["count"] == 4 for r in per)   # 400ms / 100ms


def test_decode_audio_decoder_seam(spark):
    df = (spark.createDataFrame([(0, b"\xff\xfbmp3bytes", 0, 0, 500)],
                                "id long, data binary, w int, h int, dur int")
          .select("id", MM.make_media("data", "audio", "mp3",
                                      duration_ms=F.col("dur")).alias("media")))
    got = MM.decode_audio(
        df, decoder=lambda d, meta: (8000, 1, [1, -2, 3, -4] * 100)).first()
    assert (got.sample_rate, got.n_channels) == (8000, 1)
    assert got.audio_ms == 400 // 8            # 400 samples at 8 kHz
    assert got.mean_abs_amplitude == pytest.approx(2.5)
    assert got.samples_head == [1, -2, 3, -4] * 4


def test_multimodal_real_decode_raises(spark):
    df = (spark.createDataFrame([(0, b"xx", 1, 1, 1)],
                                "id long, data binary, w int, h int, dur int")
          .select(MM.make_media("data", "image", "png", F.col("w"),
                                F.col("h"), F.col("dur")).alias("media")))
    with pytest.raises(Exception):
        MM.decode_image(df).collect()


def test_remove_boilerplate(spark):
    docs = spark.createDataFrame(
        [(i, f"unique content line {i}\nCookie Policy: accept all\n"
             f"more unique text {i}") for i in range(10)]
        + [(99, "totally standalone document")],
        "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_removed)
           for r in TX.remove_boilerplate(docs, min_doc_frac=0.5).collect()}
    # the shared banner line is gone from every doc, unique lines stay
    assert out[0][0] == "unique content line 0\nmore unique text 0"
    assert out[0][1] == 1
    assert out[99] == ("totally standalone document", 0)
    # below-threshold corpus: nothing removed
    none = TX.remove_boilerplate(docs, min_doc_frac=2.0)
    assert none.agg(F.sum("n_removed")).first()[0] == 0


def test_asof_join(spark):
    from pythonql_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")],
        "k long, ts long, lv string")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 9, 900.0)],
        "k long, ts long, rv double")
    out = {(r.k, r.ts): (r.ts_r, r.rv_r)
           for r in asof_join(left, right, "k").collect()}
    assert out[(1, 10)] == (10, 100.0)       # equal ts matches (>=)
    assert out[(1, 20)] == (15, 150.0)       # latest prior
    assert out[(2, 5)] == (None, None)       # nothing prior -> nulls
    inner = asof_join(left, right, "k", how="inner")
    assert {(r.k, r.ts) for r in inner.collect()} == {(1, 10), (1, 20)}


def test_table_profile(spark):
    from pythonql_spark.operators.profile import table_profile
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "x int, s string")
    prof = {r.column: r for r in table_profile(df).collect()}
    assert prof["x"].n == 3 and prof["x"].n_null == 1
    assert prof["x"].n_distinct == 3
    assert (prof["x"].min_value, prof["x"].max_value) == ("1", "3")
    assert prof["s"].n_distinct == 2 and prof["s"].n_null == 1
    # HLL mode: exact on tiny cardinalities, never crashes
    approx = {r.column: r.n_distinct
              for r in table_profile(df, approx=True).collect()}
    assert approx["s"] == 2


def test_operators_on_empty_input(spark):
    """Every pipeline operator must yield an empty (not crashing)
    result on an empty corpus — partial files, over-filtered stages,
    and fresh streams all produce empty inputs in practice."""
    from pythonql_spark.operators.decontam import decontaminate
    from pythonql_spark.operators.packing import chunk_documents, pack_sequences
    from pythonql_spark.operators.sampling import shuffle_rows, stratified_sample

    empty = spark.createDataFrame(
        [], "doc_id long, text string, source string, lang string")
    assert exact_dedup(empty).count() == 0
    assert minhash_lsh_pairs(empty).count() == 0
    assert simhash_pairs(empty).count() == 0
    assert ngram_jaccard_pairs(empty, ["source"]).count() == 0
    assert dedup_keep(empty, ngram_jaccard_pairs(empty, ["source"])).count() == 0
    assert decontaminate(empty, empty).count() == 0
    assert chunk_documents(empty, chunk=8).count() == 0
    assert pack_sequences(empty, 128).count() == 0
    assert stratified_sample(empty, "lang", {"en": 0.5}).count() == 0
    assert shuffle_rows(empty).count() == 0


def test_range_join_semantics(spark):
    """Points land in every containing interval; bounds semantics and
    interval-spanning-multiple-bins both exact."""
    from pythonql_spark.operators.rangejoin import band_join, range_join
    pts = spark.createDataFrame(
        [(1, 0.0), (2, 5.0), (3, 10.0), (4, 25.0)], "pid long, x double")
    ivs = spark.createDataFrame(
        [(10, 0.0, 10.0),    # spans several 3-wide bins
         (20, 5.0, 5.0),     # degenerate single point
         (30, 24.0, 26.0),
         (40, 9.0, 3.0)],    # inverted → dropped
        "iid long, lo double, hi double")
    got = {(r.pid, r.iid) for r in range_join(
        pts, ivs, point="x", start="lo", end="hi",
        bin_width=3.0, bounds="[)").collect()}
    assert got == {(1, 10), (2, 10), (4, 30)}  # x=10 excluded by ')'
    got_closed = {(r.pid, r.iid) for r in range_join(
        pts, ivs, point="x", start="lo", end="hi",
        bin_width=3.0, bounds="[]").collect()}
    assert got_closed == {(1, 10), (2, 10), (2, 20), (3, 10), (4, 30)}

    # band join: |l.x - r.x| <= 2 within a key
    l = spark.createDataFrame([(1, "a", 1.0), (2, "a", 8.0), (3, "b", 1.0)],
                              "lid long, k string, x double")
    r = spark.createDataFrame([(10, "a", 2.5), (20, "b", 9.0)],
                              "rid long, k string, x double")
    pairs = {(x.lid, x.rid) for x in band_join(
        l, r, left_val="x", right_val="x", eps=2.0, on="k").collect()}
    assert pairs == {(1, 10)}


def test_range_join_keys_and_empty(spark):
    from pythonql_spark.operators.rangejoin import range_join
    pts = spark.createDataFrame([(1, "a", 5.0)], "pid long, k string, x double")
    ivs = spark.createDataFrame([(10, "b", 0.0, 10.0)],
                                "iid long, k string, lo double, hi double")
    # same range, different key → no match
    assert range_join(pts, ivs, point="x", start="lo", end="hi",
                      bin_width=5.0, on="k").count() == 0
    empty = spark.createDataFrame([], "iid long, k string, lo double, hi double")
    assert range_join(pts, empty, point="x", start="lo", end="hi",
                      bin_width=5.0, on="k").count() == 0


def test_top_k_per_group(spark):
    from pythonql_spark.operators.topk import top_k_per_group
    df = spark.createDataFrame(
        [("a", 1, 9.0), ("a", 2, 9.0), ("a", 3, 5.0), ("b", 4, 1.0)],
        "k string, id long, v double")
    got = {(r.k, r.id, r.rank) for r in top_k_per_group(
        df, "k", ["v desc", "id"], 2).collect()}
    assert got == {("a", 1, 1), ("a", 2, 2), ("b", 4, 1)}
    # dense=True: ties share rank and can exceed k rows
    dense = top_k_per_group(df, "k", ["v desc"], 1, dense=True)
    assert {r.id for r in dense.collect()} == {1, 2, 4}
    # rank_col=None drops the rank
    assert "rank" not in top_k_per_group(df, "k", ["v desc", "id"], 1,
                                         rank_col=None).columns


def test_pivot_unpivot_roundtrip(spark):
    from pythonql_spark.operators.pivot import pivot_table, unpivot
    df = spark.createDataFrame(
        [("p1", "O", 10.0), ("p1", "F", 5.0), ("p2", "O", 1.0)],
        "pri string, st string, amt double")
    wide = pivot_table(df, "pri", "st", "sum(amt)", values=["O", "F", "P"])
    rows = {r.pri: (r.O, r.F, r.P) for r in wide.collect()}
    assert rows == {"p1": (10.0, 5.0, None), "p2": (1.0, None, None)}
    long = unpivot(wide, "pri", ["O", "F"], var_name="st", value_name="amt")
    back = {(r.pri, r.st, r.amt) for r in long.collect()}
    assert back == {("p1", "O", 10.0), ("p1", "F", 5.0),
                    ("p2", "O", 1.0), ("p2", "F", None)}


def test_sample_weighted(spark):
    from pythonql_spark.operators.sampling import sample_weighted
    df = spark.range(1000).selectExpr("id as doc_id", "id % 10 as w")
    # weight 0 never kept; huge weight always kept; deterministic
    assert sample_weighted(df, "0", 1.0).count() == 0
    assert sample_weighted(df, "1000", 1.0).count() == 1000
    a = sorted(r.doc_id for r in sample_weighted(df, "w / 10.0", 0.5).collect())
    b = sorted(r.doc_id for r in sample_weighted(df, "w / 10.0", 0.5).collect())
    assert a == b and 0 < len(a) < 1000


def test_resample_gap_fill(spark):
    from pyspark.sql import functions as F

    from pythonql_spark.operators.timeseries import resample
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:10:00", 1.0),
         ("a", "2024-01-01 02:20:00", 2.0),   # hour 1 empty for a
         ("b", "2024-01-01 01:30:00", 5.0)],
        "k string, ts string, v double").withColumn("ts", F.col("ts").cast("timestamp"))
    out = resample(df, "ts", 3600,
                   start="2024-01-01 00:00:00", end="2024-01-01 03:00:00",
                   keys=["k"],
                   aggs={"n": F.count(F.lit(1)), "s": F.sum("v")})
    rows = {(r.k, str(r.bin_start), r.n, r.s) for r in out.collect()}
    assert rows == {
        ("a", "2024-01-01 00:00:00", 1, 1.0),
        ("a", "2024-01-01 01:00:00", 0, 0.0),   # gap filled
        ("a", "2024-01-01 02:00:00", 1, 2.0),
        ("b", "2024-01-01 00:00:00", 0, 0.0),
        ("b", "2024-01-01 01:00:00", 1, 5.0),
        ("b", "2024-01-01 02:00:00", 0, 0.0),
    }
    # out-of-range events dropped; bad range rejected
    import pytest
    with pytest.raises(ValueError):
        resample(df, "ts", 3600, start="2024-01-02 00:00:00",
                 end="2024-01-01 00:00:00")


def test_unigram_logprob(spark):
    from pythonql_spark.operators.text import unigram_logprob
    import math
    df = spark.createDataFrame(
        [(1, "the the cat"), (2, "the dog")], "doc_id long, text string")
    # freqs: the=3, cat=1, dog=1; total=5
    got = {r.doc_id: (r.mean_logprob, r.n_tokens)
           for r in unigram_logprob(df).collect()}
    lp = lambda c: round(math.log(c / 5), 10)
    exp1 = (2 * lp(3) + lp(1)) / 3
    exp2 = (lp(3) + lp(1)) / 2
    assert got[1][1] == 3 and got[2][1] == 2
    assert abs(got[1][0] - exp1) < 1e-9
    assert abs(got[2][0] - exp2) < 1e-9


def test_forward_fill(spark):
    from pythonql_spark.operators.timeseries import forward_fill
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 7.0),
         ("b", 1, None), ("b", 2, 3.0)],
        "k string, t int, v double")
    got = {(r.k, r.t): r.v for r in forward_fill(
        df, "v", order_by="t", keys=["k"]).collect()}
    assert got == {("a", 1): 10.0, ("a", 2): 10.0, ("a", 3): 10.0,
                   ("a", 4): 7.0,
                   ("b", 1): None,   # nothing observed yet stays NULL
                   ("b", 2): 3.0}


def test_highdim_vectorized_rerank(spark):
    """At dim 768 the cosine/norm path must switch to the Arrow BLAS
    UDF (the unrolled expression would overflow codegen and run
    interpreted), and results must match a numpy reference exactly."""
    import numpy as np
    from pythonql_spark.operators.similarity import (CODEGEN_DIM_LIMIT,
                                                     brute_topk)
    dim = 768
    assert dim > CODEGEN_DIM_LIMIT
    rng = np.random.RandomState(3)
    X = rng.randn(50, dim).astype("float32")
    X[7] = X[0] + 0.01 * rng.randn(dim).astype("float32")
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    top = brute_topk(df, query_ids=[0], k=5)
    # the scoring must run in ArrowEvalPython (pandas UDF), not an
    # unrolled 768-term projection
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan[:2000]

    got = sorted(top.collect(), key=lambda r: r.rank)
    Xd = X.astype(np.float64)
    sims = Xd @ Xd[0] / (np.linalg.norm(Xd, axis=1) * np.linalg.norm(Xd[0]))
    sims[0] = -np.inf
    expect = np.lexsort((np.arange(len(X)), -np.round(sims, 6)))[:5]
    assert [r.n_id for r in got] == [int(i) for i in expect]
    assert got[0].n_id == 7


def test_png_decode_roundtrip_pure():
    """Pure-python round trip for every supported color type."""
    import numpy as np
    from pythonql_spark.operators import png

    rng = np.random.RandomState(5)
    for ch in (1, 2, 3, 4):
        w, h = 13, 7          # odd sizes exercise stride handling
        pix = bytes(rng.randint(0, 256, size=w * h * ch, dtype=np.uint8))
        blob = png.encode_png(w, h, ch, pix)
        W, H, C, out = png.decode_png(blob)
        assert (W, H, C) == (w, h, ch)
        assert bytes(out) == pix


def test_png_decode_all_filter_types():
    """Hand-build IDAT streams using filters 1-4 and verify the
    unfilter recovers the original pixels."""
    import struct
    import zlib

    import numpy as np
    from pythonql_spark.operators import png

    rng = np.random.RandomState(9)
    w, h, ch = 6, 5, 3
    pix = rng.randint(0, 256, size=(h, w * ch), dtype=np.int64)

    def forward_filter(ftype, y):
        line = pix[y]
        prev = pix[y - 1] if y else np.zeros_like(line)
        left = np.roll(line, ch)
        left[:ch] = 0
        upleft = np.roll(prev, ch)
        upleft[:ch] = 0
        if ftype == 0:
            return line % 256
        if ftype == 1:
            return (line - left) % 256
        if ftype == 2:
            return (line - prev) % 256
        if ftype == 3:
            return (line - (left + prev) // 2) % 256
        pa = [png._paeth(int(a), int(b), int(c))
              for a, b, c in zip(left, prev, upleft)]
        return (line - np.array(pa)) % 256

    filters = [1, 2, 3, 4, 2]
    raw = b"".join(bytes([f]) + bytes(forward_filter(f, y).astype(np.uint8))
                   for y, f in enumerate(filters))

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    blob = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))
    W, H, C, out = png.decode_png(blob)
    assert (W, H, C) == (w, h, ch)
    assert bytes(out) == bytes(pix.astype(np.uint8).reshape(-1))


def test_png_palette_expands_to_rgb():
    import struct
    import zlib

    from pythonql_spark.operators import png

    w, h = 4, 2
    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])   # R, G, B
    idx = bytes([0, 1, 2, 0, 2, 2, 1, 0])
    raw = b"\x00" + idx[:4] + b"\x00" + idx[4:]

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    blob = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", palette)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))
    W, H, C, out = png.decode_png(blob)
    assert (W, H, C) == (w, h, 3)
    assert bytes(out[:6]) == bytes([255, 0, 0, 0, 255, 0])


def test_multimodal_decodes_real_png(spark):
    """decode_image must decode genuine PNG bytes distributed, without
    a decoder seam, and report the true mean intensity."""
    from pythonql_spark.operators import png

    imgs = []
    for i in range(3):
        w, h, ch = 8, 4, 3
        pix = bytes(((x * 37 + i * 11) % 256) for x in range(w * h * ch))
        imgs.append((i, png.encode_png(w, h, ch, pix), w, h,
                     sum(pix) / len(pix)))
    df = (spark.createDataFrame(
            [(i, blob, w, h) for i, blob, w, h, _ in imgs],
            "id long, data binary, w int, h int")
          .select("id", MM.make_media("data", "image", "png",
                                      F.col("w"), F.col("h")).alias("media")))
    got = {r.id: r for r in
           MM.decode_image(df).select("id", "pixels_sample",
                                      "mean_intensity").collect()}
    for i, blob, w, h, mean in imgs:
        assert abs(got[i].mean_intensity - mean) < 1e-9
        _, _, _, out = png.decode_png(blob)
        assert got[i].pixels_sample == list(out[:16])


def test_band_join_on_timestamps(spark, tables):
    """band_join with timestamp columns (eps in seconds): the dtype
    branch in rangejoin._num must convert via epoch micros — this was
    the round-2 TIMESTAMP_NTZ crash path.  Verified against a plain
    SQL self-join on the same rows."""
    from pyspark.sql import functions as F

    from pythonql_spark.operators.rangejoin import band_join

    ev = tables["events"].select("event_id", "user_id", "ts") \
        .filter("event_id < 400")
    left = ev.select(F.col("event_id").alias("lid"), "user_id",
                     F.col("ts").alias("lts"))
    right = ev.select(F.col("event_id").alias("rid"), "user_id",
                      F.col("ts").alias("rts"))
    got = {(r.lid, r.rid) for r in band_join(
        left, right, left_val="lts", right_val="rts",
        eps=600.0, on="user_id").collect()}

    want = {(r.lid, r.rid) for r in left.alias("a").join(
        right.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.abs(F.col("a.lts").cast("double")
                 - F.col("b.rts").cast("double")) <= 600.0)).collect()}
    assert got == want and got


def test_hll_sketch_incremental_profile(spark, tables):
    """Sketches built on two disjoint halves and MERGED (pure sketch
    algebra, no rescan) must estimate the full table's distinct counts
    within HLL error (~2% at lg_k=12), and match a sketch built on the
    whole table exactly."""
    from pythonql_spark.operators.sketch import (distinct_sketch,
                                                 merge_sketches,
                                                 sketch_estimates)

    docs = tables["documents"]
    cols = ["doc_id", "lang", "source"]
    half1 = docs.filter("doc_id % 2 = 0")
    half2 = docs.filter("doc_id % 2 = 1")
    merged = merge_sketches(distinct_sketch(half1, cols),
                            distinct_sketch(half2, cols))
    got = {r.column: r.n_distinct
           for r in sketch_estimates(merged).collect()}

    exact = docs.agg(*[F.countDistinct(c).alias(c) for c in cols]).first()
    for c in cols:
        assert abs(got[c] - exact[c]) <= max(2, 0.03 * exact[c]), (c, got, exact)

    # merge-of-parts tracks sketch-of-whole (not bit-identical: union
    # promotion order differs from single-pass build, but both are
    # inside the same error envelope)
    whole = {r.column: r.n_distinct for r in sketch_estimates(
        distinct_sketch(docs, cols)).collect()}
    for c in cols:
        assert abs(got[c] - whole[c]) <= max(2, 0.02 * whole[c]), (c, got, whole)


def test_asof_join_directions(spark):
    from pythonql_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (1, 14, "d")],
        "k long, ts long, lv string")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 9, 900.0)],
        "k long, ts long, rv double")

    fwd = {(r.k, r.ts): (r.ts_r, r.rv_r) for r in
           asof_join(left, right, "k", direction="forward").collect()}
    assert fwd[(1, 10)] == (10, 100.0)      # equal ts matches (>=)
    assert fwd[(1, 14)] == (15, 150.0)      # earliest following
    assert fwd[(1, 20)] == (None, None)     # nothing after -> nulls
    assert fwd[(2, 5)] == (9, 900.0)

    near = {(r.k, r.ts): (r.ts_r, r.rv_r) for r in
            asof_join(left, right, "k", direction="nearest").collect()}
    assert near[(1, 10)] == (10, 100.0)
    assert near[(1, 14)] == (15, 150.0)     # |14-15| < |14-10|
    assert near[(1, 20)] == (15, 150.0)     # only a prior row exists
    assert near[(2, 5)] == (9, 900.0)       # only a following row

    # tie: equidistant -> backward match wins
    l2 = spark.createDataFrame([(1, 12)], "k long, ts long")
    t2 = {r.ts_r for r in
          asof_join(l2, right, "k", direction="nearest").collect()}
    assert t2 == {10}


def test_asof_join_compound_keys(spark):
    from pythonql_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, "x", 10, "a"), (1, "y", 10, "b")],
        "k long, g string, ts long, lv string")
    right = spark.createDataFrame(
        [(1, "x", 9, 1.0), (1, "y", 8, 2.0), (1, "x", 11, 3.0)],
        "k long, g string, ts long, rv double")
    out = {(r.k, r.g): (r.ts_r, r.rv_r) for r in
           asof_join(left, right, ["k", "g"]).collect()}
    assert out[(1, "x")] == (9, 1.0)     # (1,y) rows invisible to (1,x)
    assert out[(1, "y")] == (8, 2.0)


def test_multimodal_decodes_real_wav(spark):
    """decode_audio must decode genuine 16-bit PCM WAV distributed,
    without any decoder seam, reporting true rate/duration/amplitude."""
    import math as m

    rows = []
    for i, (rate, secs) in enumerate([(8000, 0.25), (16000, 0.1)]):
        n = int(rate * secs)
        samples = [int(10000 * m.sin(2 * m.pi * 440 * t / rate))
                   for t in range(n)]
        rows.append((i, MM.encode_wav(samples, rate), rate, n,
                     sum(abs(s) for s in samples) / n))
    df = (spark.createDataFrame([(i, b) for i, b, *_ in rows],
                                "id long, data binary")
          .select("id", MM.make_media("data", "audio", "wav").alias("media")))
    got = {r.id: r for r in MM.decode_audio(df).collect()}
    for i, _, rate, n, mean_abs in rows:
        assert got[i].sample_rate == rate
        assert got[i].n_channels == 1
        assert got[i].audio_ms == int(n * 1000 / rate)
        assert abs(got[i].mean_abs_amplitude - mean_abs) < 1e-9
        assert len(got[i].samples_head) == 16

    bad = (spark.createDataFrame([(0, b"not audio")], "id long, data binary")
           .select(MM.make_media("data", "audio", "mp3").alias("media")))
    with pytest.raises(Exception):
        MM.decode_audio(bad).collect()


def test_resize_image_real_png(spark):
    """Real PNG resize: decode → box filter → re-encode, distributed.
    A 2x2-block checkerboard downscaled 8x8→4x4 averages each block
    pair to 127; a constant image stays constant at any size."""
    from pythonql_spark.operators.png import decode_png, encode_png

    checker = bytes(
        (0 if ((x // 2) + (y // 2)) % 2 == 0 else 255)
        for y in range(8) for x in range(8))
    const = bytes([200]) * 64
    df = (spark.createDataFrame(
            [(0, encode_png(8, 8, 1, checker)),
             (1, encode_png(8, 8, 1, const))],
            "id long, data binary")
          .select("id", MM.make_media("data", "image", "png", 8, 8)
                  .alias("media")))

    out = {r.id: r for r in
           MM.resize_image(df, 4, 4).select("id", "media").collect()}
    for i in (0, 1):
        assert (out[i].media.meta.width, out[i].media.meta.height) == (4, 4)
    w, h, ch, px = decode_png(bytes(out[1].media.data))
    assert (w, h, ch) == (4, 4, 1) and set(px) == {200}
    w, h, ch, px = decode_png(bytes(out[0].media.data))
    # each 1x1 target pixel averages a 2x2 source box spanning one
    # checker cell boundary? no: 8->4 means 2x2 boxes, each inside one
    # 2x2 checker cell -> pure 0 or 255, alternating
    assert sorted(set(px)) == [0, 255]
    assert px[0] == 0 and px[1] == 255

    # 8 -> 2: each 4x4 box covers four 2x2 cells (two 0, two 255) -> 127
    out2 = MM.resize_image(df.filter("id = 0"), 2, 2).first()
    _, _, _, px2 = decode_png(bytes(out2.media.data))
    assert set(px2) == {127}


def test_resize_image_real_upscale_and_rgb(spark):
    from pythonql_spark.operators.png import decode_png, encode_png

    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])  # 2x2 RGB
    df = (spark.createDataFrame([(0, encode_png(2, 2, 3, rgb))],
                                "id long, data binary")
          .select(MM.make_media("data", "image", "png", 2, 2)
                  .alias("media")))
    out = MM.resize_image(df, 4, 4).first()
    w, h, ch, px = decode_png(bytes(out.media.data))
    assert (w, h, ch) == (4, 4, 3)
    assert tuple(px[0:3]) == (255, 0, 0)       # top-left replicated
    assert tuple(px[3 * 3:3 * 3 + 3]) == (0, 255, 0)


def test_sample_frames_real_png_filmstrip(spark):
    """Real frame sampling from a PNG filmstrip: every sampled frame
    is a standalone decodable PNG whose content matches its frame's
    scanlines (per-frame constant intensity here)."""
    from pythonql_spark.operators.png import decode_png

    df = (spark.range(3)
          .select("id", MM.render_filmstrip_png("id", side=6, n_frames=4)
                  .alias("strip"))
          .select("id", MM.make_media("strip", "video", "png", 6, 24,
                                      duration_ms=1000).alias("media")))
    frames = MM.sample_frames(df, every_ms=250)
    rows = frames.select("id", "frame_ts_ms", "frame").collect()
    per = {}
    for r in rows:
        per.setdefault(r.id, []).append(r)
    assert set(len(v) for v in per.values()) == {4}   # 1000ms / 250ms
    for i, rs in per.items():
        for r in sorted(rs, key=lambda x: x.frame_ts_ms):
            w, h, ch, px = decode_png(bytes(r.frame))
            assert (w, h, ch) == (6, 6, 1)
            fi = r.frame_ts_ms * 4 // 1000
            assert set(px) == {(i * 31 + fi * 40) % 256}


def test_sample_frames_real_non_png_raises(spark):
    df = (spark.createDataFrame([(0, b"notapng")], "id long, data binary")
          .select(MM.make_media("data", "video", "mp4", 4, 4,
                                duration_ms=100).alias("media")))
    with pytest.raises(Exception):
        MM.sample_frames(df, every_ms=50).collect()


def test_bmp_roundtrip_and_decode(spark):
    """Real BMP decode: 24-bit round-trip through our encoder, 8-bit
    palette and 32-bit BGRA paths, and the decode_image operator
    accepting BMP media distributed."""
    from pythonql_spark.operators.bmp import decode_bmp, encode_bmp

    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])  # 2x2
    w, h, ch, px = decode_bmp(encode_bmp(2, 2, 3, rgb))
    assert (w, h, ch) == (2, 2, 3) and bytes(px) == rgb

    gray = bytes([0, 128, 255, 64])
    w, h, ch, px = decode_bmp(encode_bmp(2, 2, 1, gray))
    assert ch == 3 and bytes(px[0:3]) == b"\x00\x00\x00" \
        and bytes(px[3:6]) == b"\x80\x80\x80"

    df = (spark.createDataFrame([(0, encode_bmp(2, 2, 3, rgb))],
                                "id long, data binary")
          .select("id", MM.make_media("data", "image", "bmp", 2, 2)
                  .alias("media")))
    got = MM.decode_image(df).first()
    assert got.pixels_sample[:3] == [255, 0, 0]

    out = MM.resize_image(df, 4, 4).first()
    w, h, ch, px = decode_bmp(bytes(out.media.data))
    assert (w, h) == (4, 4) and tuple(px[:3]) == (255, 0, 0)


def test_wav_ulaw_decode(spark):
    """Real G.711 mu-law WAV decode (stdlib wave refuses format 7):
    encoder/decoder round-trip is within mu-law quantization error and
    the decode_audio operator reports the right rate/duration."""
    import math

    from pythonql_spark.operators.multimodal import (_linear_to_ulaw,
                                                     _ulaw_to_linear)

    for v in (0, 1, -1, 500, -500, 8000, -8000, 32000, -32000):
        dec = _ulaw_to_linear(_linear_to_ulaw(v))
        assert abs(dec - max(min(v, 32635), -32635)) <= \
            max(64, abs(v) / 16), (v, dec)

    rate, n = 8000, 800
    samples = [int(8000 * math.sin(2 * math.pi * 440 * t / rate))
               for t in range(n)]
    blob = MM.encode_wav_ulaw(samples, rate)
    df = (spark.createDataFrame([(0, blob)], "id long, data binary")
          .select("id", MM.make_media("data", "audio", "ulaw")
                  .alias("media")))
    got = MM.decode_audio(df).first()
    assert got.sample_rate == rate and got.n_channels == 1
    assert got.audio_ms == 100                      # 800 / 8000 s
    ref = sum(abs(s) for s in samples) / n
    assert abs(got.mean_abs_amplitude - ref) / ref < 0.02


def test_gif_codec_roundtrip():
    """LZW round-trip incl. code widening and multi-subblock streams;
    per-frame delays surface from the Graphic Control Extension."""
    import random

    from pythonql_spark.operators.gif import decode_gif, encode_gif

    frames = [(100, bytes([v]) * 16) for v in (10, 120, 250)]
    w, h, out = decode_gif(encode_gif(4, 4, frames))
    assert (w, h) == (4, 4) and len(out) == 3
    for (dly, px), v in zip(out, (10, 120, 250)):
        assert dly == 100 and set(px) == {v}

    random.seed(1)
    big = bytes(random.randrange(256) for _ in range(64 * 64))
    _, _, out2 = decode_gif(encode_gif(64, 64, [(50, big)]))
    px = out2[0][1]
    assert all(px[3 * i] == big[i] for i in range(64 * 64))


def test_sample_frames_real_animated_gif(spark):
    """Real animated-GIF frame sampling: the sampled timestamp walks
    the actual per-frame delay timeline; every emitted frame is a
    standalone decodable PNG with that frame's content."""
    from pythonql_spark.operators.png import decode_png

    df = (spark.range(3)
          .select("id", MM.render_gif_anim("id", side=6, n_frames=4,
                                           delay_ms=250).alias("anim"))
          .select("id", MM.make_media("anim", "video", "gif", 6, 6,
                                      duration_ms=1000).alias("media")))
    rows = MM.sample_frames(df, every_ms=250).collect()
    per = {}
    for r in rows:
        per.setdefault(r.id, []).append(r)
    assert set(len(v) for v in per.values()) == {4}
    for i, rs in per.items():
        for r in sorted(rs, key=lambda x: x.frame_ts_ms):
            w, h, ch, px = decode_png(bytes(r.frame))
            assert (w, h, ch) == (6, 6, 3)
            fi = r.frame_ts_ms // 250
            assert set(px) == {(i * 31 + fi * 40) % 256}

    # decode_image takes the first frame of an animation
    got = MM.decode_image(df).orderBy("id").collect()
    assert [r.mean_intensity for r in got] == \
        [float((i * 31) % 256) for i in range(3)]


def test_jpeg_codec_roundtrip():
    """Baseline JPEG: constant blocks are exact, smooth gradients stay
    within ~1 intensity level at q90 (4:4:4) / a few levels at 4:2:0,
    odd dimensions exercise partial MCUs on both axes."""
    from pythonql_spark.operators.jpeg import decode_jpeg, encode_jpeg

    w, h, ch, px = decode_jpeg(encode_jpeg(16, 16, 1, bytes([128]) * 256))
    assert (w, h, ch) == (16, 16, 1) and set(px) == {128}

    grad = bytes((x * 8 + y * 4) % 256 for y in range(16) for x in range(16))
    _, _, _, px = decode_jpeg(encode_jpeg(16, 16, 1, grad, quality=90))
    assert sum(abs(a - b) for a, b in zip(px, grad)) / len(grad) < 1.5

    rgb = bytes(b for y in range(24) for x in range(24)
                for b in ((x * 10) % 256, (y * 10) % 256, ((x + y) * 5) % 256))
    for sub, tol in ((False, 1.5), (True, 5.0)):
        W, H, C, px = decode_jpeg(
            encode_jpeg(24, 24, 3, rgb, quality=90, subsample=sub))
        assert (W, H, C) == (24, 24, 3)
        assert sum(abs(a - b) for a, b in zip(px, rgb)) / len(rgb) < tol

    W, H, C, px = decode_jpeg(encode_jpeg(
        21, 13, 3, bytes([(i * 7) % 256 for i in range(21 * 13 * 3)]),
        subsample=True))
    assert (W, H, C, len(px)) == (21, 13, 3, 21 * 13 * 3)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")


def test_jpeg_through_operators(spark):
    """decode_image and resize_image accept real JPEG media
    distributed; resize re-encodes JPEG."""
    from pythonql_spark.operators.jpeg import decode_jpeg, encode_jpeg

    blob = encode_jpeg(8, 8, 3, bytes([200, 30, 90]) * 64, quality=95)
    df = (spark.createDataFrame([(0, blob)], "id long, data binary")
          .select("id", MM.make_media("data", "image", "jpeg", 8, 8)
                  .alias("media")))
    got = MM.decode_image(df).first()
    assert got.pixels_sample[:3] == [200, 30, 90]

    out = MM.resize_image(df, 4, 4).first()
    w, h, ch, px = decode_jpeg(bytes(out.media.data))
    assert (w, h, ch) == (4, 4, 3)
    assert abs(px[0] - 200) <= 3 and abs(px[1] - 30) <= 3


# ------------------------------------------------------- gopher quality rules

def test_gopher_metrics_known_values(spark):
    from pythonql_spark.operators import text as TX
    # 3 lines: bullet, ellipsis-terminated, plain; 6 words total
    doc = "- alpha beta\ngamma delta...\nepsilon 123"
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    m = TX.gopher_metrics("text")
    row = df.selectExpr("doc_id",
                        *[f"{v} as {k}" for k, v in m.items()]).first()
    assert row.n_words == 7  # '-' splits as its own token
    # non-ws chars: len("-alphabetagammadelta...epsilon123") = 33
    assert row.mean_word_len == round(33 / 7, 6)
    assert row.bullet_frac == round(1 / 3, 6)
    assert row.ellipsis_frac == round(1 / 3, 6)
    # words with a letter: alpha beta gamma delta... epsilon = 5 of 7
    assert row.alpha_frac == round(5 / 7, 6)
    # one '...' and no '#': 1/7
    assert row.symbol_ratio == round(1 / 7, 6)


def test_gopher_pass_thresholds(spark):
    from pythonql_spark.operators import text as TX
    good = " ".join(["solid"] * 60)                      # clean 60 words
    hashy = " ".join(["#tag"] * 60)                      # symbol ratio 1.0
    bullets = "\n".join(["- item " + str(i) for i in range(20)])
    df = spark.createDataFrame(
        [(1, good), (2, hashy), (3, bullets)], "doc_id long, text string")
    out = {r.doc_id: r.keep for r in df.selectExpr(
        "doc_id", TX.gopher_pass("text", min_words=5) + " as keep").collect()}
    assert out[1] is True
    assert out[2] is False       # symbol ratio
    assert out[3] is False       # 100% bullet lines


def test_dup_line_fraction_exact(spark):
    from pythonql_spark.operators import text as TX
    # "aa" appears twice (2 chars * 2), "bbb" once; total = 2*2+3 = 7
    df = spark.createDataFrame([(1, "aa\nbbb\naa"), (2, "x\ny")],
                               "doc_id long, text string")
    out = {r.doc_id: (r.dup_line_frac, r.n_lines)
           for r in TX.dup_line_fraction(df).collect()}
    assert out[1] == (round(4 / 7, 6), 3)
    assert out[2] == (0.0, 2)


def test_dup_line_fraction_case_folds(spark):
    from pythonql_spark.operators import text as TX
    df = spark.createDataFrame([(1, "Foo\nfoo ")], "doc_id long, text string")
    (row,) = TX.dup_line_fraction(df).collect()
    # 'Foo' and 'foo ' fold to the same line; lengths 3 and 4 -> max 4
    assert row.dup_line_frac == 1.0


def test_top_ngram_fraction_exact(spark):
    from pythonql_spark.operators import text as TX
    # "a b" occurs twice in "a b c a b" (len 9); gram len 3
    df = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    (row,) = TX.top_ngram_fraction(df, n=2).collect()
    assert row.top_gram == "a b"
    assert row.gram_count == 2
    assert row.top_ngram_frac == round(2 * 3 / 9, 6)


def test_top_ngram_tie_breaks_lexicographically(spark):
    from pythonql_spark.operators import text as TX
    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    (row,) = TX.top_ngram_fraction(df, n=2).collect()
    # 'a b' and 'b a' both occur twice; tie -> lexicographically smallest
    assert row.top_gram == "a b"
    assert row.gram_count == 2


# ----------------------------------------------------------------- bpe

def test_bpe_train_classic_example(spark):
    from pythonql_spark.operators.bpe import train_bpe
    df = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        "doc_id long, text string")
    merges = train_bpe(df, num_merges=10, sample_docs=10)
    # 'es' then 'est' (then 'est</w>') dominate the classic corpus
    assert ("e", "s") in merges[:2]
    assert ("es", "t") in merges[:3]


def test_bpe_encode_replays_training(spark):
    from pythonql_spark.operators.bpe import (bpe_encode, encode_word,
                                              train_bpe)
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(4)], "doc_id long, text string")
    merges = train_bpe(df, num_merges=50, sample_docs=4)
    ranks = {p: i for i, p in enumerate(merges)}
    out = {r.doc_id: r for r in bpe_encode(df, merges).collect()}
    # distributed encode == direct per-word replay
    expect = sum(len(encode_word(w, ranks))
                 for w in ("the quick brown fox jumps over the lazy dog "
                           * 3).lower().split())
    assert out[0].n_bpe_tokens == expect
    assert out[0].preview == out[3].preview     # identical docs
    # a word fully merged into one symbol must carry the EOW marker
    assert encode_word("the", ranks) == ["the</w>"]


def test_bpe_deterministic_and_compresses(spark, tables):
    from pythonql_spark.operators.bpe import bpe_encode, train_bpe
    docs = tables["documents"]
    m1 = train_bpe(docs, num_merges=60, sample_docs=64)
    m2 = train_bpe(docs, num_merges=60, sample_docs=64)
    assert m1 == m2
    out = bpe_encode(docs.limit(50), m1).toPandas()
    ws = docs.limit(50).selectExpr(
        "doc_id", "size(split(trim(lower(text)), '\\\\s+')) as nw").toPandas()
    j = out.merge(ws, on="doc_id")
    # BPE token count is bounded below by word count (>= 1 token/word)
    # and above by character count; with 60 merges on a 30-word
    # vocabulary most words collapse to few symbols
    assert (j.n_bpe_tokens >= j.nw).all()
    assert (j.n_bpe_tokens <= 6 * j.nw).all()


# ----------------------------------------------------------- semdedup

def test_semantic_pairs_single_cluster_is_exact(vecs):
    from pythonql_spark.operators.similarity import (cosine_pairs,
                                                     semantic_pairs)
    # n_clusters=1 -> every pair considered -> must equal the exact
    # all-pairs cosine join (constant blocking key)
    got = {(r.id_a, r.id_b) for r in semantic_pairs(
        vecs, 0.9, n_clusters=1, train_sample=20).collect()}
    allp = vecs.withColumn("one", F.lit(1))
    exact = {(r.id_a, r.id_b)
             for r in cosine_pairs(allp, "one", 0.9).collect()}
    assert got == exact
    assert (0, 1) in got                 # the planted near-duplicate


def test_semantic_dedup_drops_planted_dup(vecs):
    from pythonql_spark.operators.similarity import semantic_dedup
    kept = {r.vec_id for r in semantic_dedup(
        vecs, 0.99, n_clusters=4, train_sample=20).collect()}
    assert 0 in kept and 1 not in kept   # rep kept, dup dropped
    assert len(kept) == 19


def test_semantic_pairs_skew_refinement_keeps_exact_dups(spark):
    from pythonql_spark.operators.similarity import semantic_pairs
    import numpy as np
    rng = np.random.RandomState(3)
    base = rng.randn(30, 8).astype("float64")
    base[7] = base[3]                    # exact duplicate pair (3, 7)
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # max_cluster_size=4 forces the signature-refinement path
    got = {(r.id_a, r.id_b) for r in semantic_pairs(
        df, 0.999, n_clusters=2, train_sample=30,
        max_cluster_size=4).collect()}
    # identical vectors share cell AND signature -> never split apart
    assert (3, 7) in got


def test_semantic_dedup_deterministic(vecs):
    from pythonql_spark.operators.similarity import semantic_dedup
    a = sorted(r.vec_id for r in semantic_dedup(
        vecs, 0.9, n_clusters=4, train_sample=20).collect())
    b = sorted(r.vec_id for r in semantic_dedup(
        vecs.repartition(5), 0.9, n_clusters=4, train_sample=20).collect())
    assert a == b


# ------------------------------------------------ KLL quantile sketches

def test_quantile_sketch_merge_equals_whole(spark, tables):
    from pythonql_spark.operators.sketch import (merge_quantile_sketches,
                                                 quantile_sketch,
                                                 sketch_quantiles)
    o = tables["orders"].select("o_totalprice", "o_orderkey")
    half1 = o.filter("o_orderkey % 2 = 0")
    half2 = o.filter("o_orderkey % 2 = 1")
    merged = merge_quantile_sketches(
        quantile_sketch(half1, ["o_totalprice"]),
        quantile_sketch(half2, ["o_totalprice"]))
    whole = quantile_sketch(o, ["o_totalprice"])
    qm = sketch_quantiles(merged, [0.5, 0.9]).first()
    qw = sketch_quantiles(whole, [0.5, 0.9]).first()
    assert qm.n == qw.n == o.count()
    # KLL at k=200: rank error ~1.3%; sketch-vs-sketch on the same
    # data stream should be close, and both near the exact quantile
    exact = o.selectExpr(
        "percentile(o_totalprice, 0.5) as p50").first().p50
    for got in (qm.q_50, qw.q_50):
        assert abs(got - exact) / exact < 0.05


def test_quantile_sketch_keyed(spark, tables):
    from pythonql_spark.operators.sketch import (quantile_sketch,
                                                 sketch_quantiles)
    li = tables["lineitem"]
    sk = quantile_sketch(li, ["l_quantity"], keys=["l_returnflag"])
    out = sketch_quantiles(sk, [0.5], keys=["l_returnflag"]).collect()
    flags = {r.l_returnflag for r in out}
    assert flags == {"A", "N", "R"}
    exact = {r.l_returnflag: r.p50 for r in li.groupBy("l_returnflag")
             .agg(F.expr("percentile(l_quantity, 0.5)").alias("p50"))
             .collect()}
    for r in out:
        assert abs(r.q_50 - exact[r.l_returnflag]) <= 2.0


# --------------------------------------------------- train/test split

def test_train_test_split_deterministic_and_stable(spark):
    from pythonql_spark.operators.sampling import train_test_split
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {r.doc_id: r.split for r in train_test_split(df).collect()}
    b = {r.doc_id: r.split
         for r in train_test_split(df.repartition(7)).collect()}
    assert a == b                                    # layout-independent
    # growing the corpus never moves an existing row's split
    big = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    c = {r.doc_id: r.split for r in train_test_split(big).collect()}
    assert all(c[i] == a[i] for i in a)
    # fractions roughly respected
    from collections import Counter
    frac = Counter(a.values())
    assert 0.75 < frac["train"] / 2000 < 0.85
    assert 0.05 < frac["val"] / 2000 < 0.15
    assert 0.05 < frac["test"] / 2000 < 0.15


def test_train_test_split_seed_changes_assignment(spark):
    from pythonql_spark.operators.sampling import train_test_split
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r.doc_id: r.split for r in train_test_split(df, seed=0).collect()}
    b = {r.doc_id: r.split for r in train_test_split(df, seed=1).collect()}
    assert a != b


def test_split_expr_rejects_bad_fractions():
    import pytest as _pytest
    from pythonql_spark.operators.sampling import split_expr
    with _pytest.raises(ValueError, match="sum to 1"):
        split_expr({"train": 0.8, "val": 0.1})


# ------------------------------------------------ budget-constrained mixing

def test_select_to_budget_respects_budgets(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.sampling import select_to_budget
    rows = [Row(doc_id=i, grp="a", sz=100) for i in range(50)] + \
           [Row(doc_id=100 + i, grp="b", sz=100) for i in range(50)] + \
           [Row(doc_id=200 + i, grp="c", sz=100) for i in range(5)]
    df = spark.createDataFrame(rows)
    out = select_to_budget(df, "grp", {"a": 1000, "b": 250},
                           size_col="sz", default_budget=10_000)
    by = {}
    for r in out.collect():
        by.setdefault(r.grp, []).append(r.doc_id)
    # budget 1000 / size 100 -> exactly 10 docs
    assert len(by["a"]) == 10
    # 250 -> 2 full + the one that crosses the line = 3
    assert len(by["b"]) == 3
    # default budget is ample -> whole stratum
    assert len(by["c"]) == 5


def test_select_to_budget_priority_order_and_determinism(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.sampling import select_to_budget
    rows = [Row(doc_id=i, grp="a", sz=10, q=float(i)) for i in range(20)]
    df = spark.createDataFrame(rows)
    # highest-q first: budget 50 -> docs 19..15
    out = select_to_budget(df, "grp", {"a": 50}, size_col="sz",
                           order="q DESC")
    assert sorted(r.doc_id for r in out.collect()) == [15, 16, 17, 18, 19]
    # empty budget -> nothing from that stratum
    none = select_to_budget(df, "grp", {"a": 0}, size_col="sz")
    assert none.count() == 0
    # deterministic default order across partitionings
    a = sorted(r.doc_id for r in select_to_budget(
        df, "grp", {"a": 70}, size_col="sz").collect())
    b = sorted(r.doc_id for r in select_to_budget(
        df.repartition(7), "grp", {"a": 70}, size_col="sz").collect())
    assert a == b and len(a) == 7


# ------------------------------------------------- theta set sketches

def test_theta_overlap_exact_below_k(spark):
    from pythonql_spark.operators.sketch import set_sketch, sketch_overlap
    a = set_sketch(spark.range(1000), "id")
    b = set_sketch(spark.range(600, 1600), "id")
    r = sketch_overlap(a, b).collect()[0]
    assert (r.n_a, r.n_b, r.n_union, r.n_intersection, r.n_only_a) == \
        (1000, 1000, 1600, 400, 600)
    assert r.jaccard == 0.25


def test_theta_merge_is_union(spark):
    from pythonql_spark.operators.sketch import (
        merge_set_sketches, set_sketch, sketch_overlap)
    a = set_sketch(spark.range(500), "id")
    b = set_sketch(spark.range(250, 750), "id")
    merged = merge_set_sketches(a, b)
    r = sketch_overlap(merged, a).collect()[0]
    assert r.n_a == 750          # merged sketch holds the union
    assert r.n_intersection == 500


def test_theta_estimates_within_tolerance_above_k(spark):
    """Past exact mode (2^lg_k entries) estimates must stay within a
    few percent — the 100 TB regime."""
    from pythonql_spark.operators.sketch import set_sketch, sketch_overlap
    n = 200_000
    a = set_sketch(spark.range(n), "id", lg_k=12)
    b = set_sketch(spark.range(n // 2, n + n // 2), "id", lg_k=12)
    r = sketch_overlap(a, b).collect()[0]
    assert abs(r.n_a - n) / n < 0.05
    assert abs(r.n_union - 1.5 * n) / (1.5 * n) < 0.05
    assert abs(r.n_intersection - 0.5 * n) / (0.5 * n) < 0.10


def test_bigram_logprob_flags_word_salad(spark):
    """The bigram score must separate fluent from scrambled text even
    when both use identical word FREQUENCIES (where the unigram score
    is blind by construction)."""
    from pyspark.sql import Row

    from pythonql_spark.operators.text import bigram_logprob, unigram_logprob
    fluent = "the quick fox jumps over the lazy dog"
    rows = [Row(doc_id=i, text=fluent) for i in range(10)]
    # same words, scrambled order -> unseen bigrams
    rows.append(Row(doc_id=99, text="dog the over lazy jumps fox quick the"))
    df = spark.createDataFrame(rows)
    bi = {r.doc_id: r.mean_bigram_logprob
          for r in bigram_logprob(df).collect()}
    un = {r.doc_id: r.mean_logprob
          for r in unigram_logprob(df).collect()}
    # unigram can't tell them apart (identical word multiset)
    assert abs(un[99] - un[0]) < 1e-9
    # bigram penalizes the scramble hard
    assert bi[99] < bi[0] - 1.0
    # deterministic across partitioning
    again = {r.doc_id: r.mean_bigram_logprob
             for r in bigram_logprob(df.repartition(5)).collect()}
    assert again == bi


def test_connected_components_driver_and_distributed_parity(spark):
    """The bounded driver union-find fast path must produce exactly
    the distributed label-propagation result (chains, cliques,
    isolates), and driver_limit=0 must force the distributed path."""
    from pyspark.sql import Row

    from pythonql_spark.operators.dedup import connected_components
    edges = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in
         [(1, 2), (2, 3), (3, 4),          # chain -> comp 1
          (10, 11), (11, 10),              # duplicate edge
          (20, 21), (22, 21),              # V shape -> comp 20
          (30, 31)]])
    nodes = spark.createDataFrame([Row(doc_id=i) for i in
                                   [1, 2, 3, 4, 10, 11, 20, 21, 22,
                                    30, 31, 99]])
    fast = {(r.id, r.comp) for r in connected_components(
        edges, nodes=nodes).collect()}
    dist = {(r.id, r.comp) for r in connected_components(
        edges, nodes=nodes, driver_limit=0).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20), (30, 30), (31, 30), (99, 99)}
    assert fast == want and dist == want


# ------------------------------------------------- C4 line-rule cleaning

def test_c4_clean_line_and_page_rules(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.text import c4_clean
    docs = spark.createDataFrame([
        # two good lines + one unpunctuated + one short + one js line
        Row(doc_id=1, text="This is a perfectly fine sentence here.\n"
                           "no terminal punctuation on this line\n"
                           "Too short.\n"
                           "Please enable JavaScript to view this page.\n"
                           'Another good line ends with a quote."'),
        # page killed by lorem ipsum despite good lines
        Row(doc_id=2, text="Lorem ipsum dolor sit amet consectetur elit.\n"
                           "A second acceptable line is right here."),
        # page killed by curly brace (code/templating)
        Row(doc_id=3, text="function with a brace { is not prose at all.\n"
                           "This line would otherwise be kept fine.\n"
                           "And this other line would also be kept."),
        # clean page: three good lines
        Row(doc_id=4, text="First proper sentence of the document here.\n"
                           "Second proper sentence of the document too.\n"
                           "Third proper sentence wraps the page up."),
        Row(doc_id=5, text=""),
    ])
    out = {r.doc_id: r for r in
           c4_clean(docs, min_words=5, min_lines=2).collect()}
    assert out[1].n_lines == 5 and out[1].n_kept == 2
    assert out[1].text == ("This is a perfectly fine sentence here.\n"
                           'Another good line ends with a quote."')
    assert out[1].c4_keep
    assert out[2].n_kept == 2 and not out[2].c4_keep      # lorem ipsum
    assert out[3].n_kept == 3 and not out[3].c4_keep      # curly brace
    assert out[4].n_kept == 3 and out[4].c4_keep
    assert out[5].n_kept == 0 and not out[5].c4_keep
    assert out[5].text == ""


# ------------------------------------------------- bloom decontamination

def test_bloom_decontam_no_false_negatives_and_parity(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.bloom import decontaminate_bloom
    from pythonql_spark.operators.decontam import decontaminate
    bench = spark.createDataFrame([
        Row(doc_id=1000, text="the quick brown fox jumps over the lazy dog "
                              "again and again tonight")])
    corpus = spark.createDataFrame([
        # exact copy -> fully contaminated
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog "
                           "again and again tonight"),
        # clean doc
        Row(doc_id=2, text="completely unrelated words about mountains "
                           "rivers forests and deserts stretching far"),
        # partial overlap (shares a 5-gram span)
        Row(doc_id=3, text="intro words first the quick brown fox jumps "
                           "over something else entirely today"),
    ])
    exact = {r.doc_id: r for r in
             decontaminate(corpus, bench, ngram=5).collect()}
    bloom = {r.doc_id: r for r in
             decontaminate_bloom(corpus, bench, ngram=5).collect()}
    for d in (1, 2, 3):
        assert bloom[d].n_grams == exact[d].n_grams
        # no false negatives: every exact match is a bloom maybe
        assert bloom[d].n_maybe >= exact[d].n_matched, d
    assert bloom[1].contaminated and bloom[3].contaminated
    # at 2^20 bits / ~10 reference shingles, fp prob ~ 0: exact parity
    for d in (1, 2, 3):
        assert bloom[d].n_maybe == exact[d].n_matched, d
    assert not bloom[2].contaminated


def test_bloom_bits_bounded_and_fp_direction(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.bloom import bloom_bits, bloom_mark
    ref = spark.createDataFrame(
        [Row(v=f"item-{i}") for i in range(200)])
    # tiny filter -> saturated bits -> false positives MUST appear,
    # while every true member still hits (no false negatives)
    bits = bloom_bits(ref, "v", n_bits=256, k=3)
    assert len(bits) == 4
    probe = spark.createDataFrame(
        [Row(v=f"item-{i}") for i in range(200)] +
        [Row(v=f"other-{i}") for i in range(200)])
    out = bloom_mark(probe, bits, "v", n_bits=256, k=3).collect()
    members = [r for r in out if r.v.startswith("item-")]
    others = [r for r in out if r.v.startswith("other-")]
    assert all(r.bloom_hit for r in members)          # never miss
    assert any(r.bloom_hit for r in others)           # saturated -> fp
    # and a roomy filter keeps fp near zero
    bits2 = bloom_bits(ref, "v", n_bits=1 << 16, k=5)
    out2 = bloom_mark(probe, bits2, "v", n_bits=1 << 16, k=5).collect()
    assert all(r.bloom_hit for r in out2 if r.v.startswith("item-"))
    fp = sum(r.bloom_hit for r in out2 if r.v.startswith("other-"))
    assert fp <= 2


def test_bloom_bits_row_matches_driver_build(spark):
    """The in-Spark one-row build (no driver collect) must produce the
    exact word array of the driver-list path, including the empty-
    reference case (all zeros, still one row)."""
    from pyspark.sql import Row
    from pythonql_spark.operators.bloom import bloom_bits, bloom_bits_row
    ref = spark.createDataFrame([Row(v=f"item-{i}") for i in range(50)])
    bits = bloom_bits(ref, "v", n_bits=512, k=3)
    [row] = bloom_bits_row(ref, "v", n_bits=512, k=3).collect()
    assert list(row["__bloom"]) == bits
    empty = ref.filter("v = 'nope'")
    [zrow] = bloom_bits_row(empty, "v", n_bits=512, k=3).collect()
    assert list(zrow["__bloom"]) == [0] * 8


# ------------------------------------------------- learned quality classifier

def test_quality_classifier_separates_planted_vocab(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.classifier import (
        quality_score, train_quality_classifier)
    rows = []
    for i in range(120):
        good = i % 2 == 0
        vocab = ("excellent wonderful insightful rigorous thorough"
                 if good else "spam clickbait garbage noise junk")
        rows.append(Row(doc_id=i, text=f"{vocab} filler words here {i % 7}",
                        label=good))
    df = spark.createDataFrame(rows)
    model = train_quality_classifier(df, "label", sample_docs=120)
    assert model["train_acc"] >= 0.95
    out = {r.doc_id: r.q_prob for r in
           quality_score(df, model, out_col="q").collect()}
    good_m = sum(out[i] for i in range(0, 120, 2)) / 60
    bad_m = sum(out[i] for i in range(1, 120, 2)) / 60
    # tf normalization bounds the per-doc logit (5 signal words over 9
    # tokens), so assert a clean margin rather than saturation
    assert good_m > 0.58 and bad_m < 0.42, (good_m, bad_m)
    assert min(out[i] for i in range(0, 120, 2)) > \
        max(out[i] for i in range(1, 120, 2))


def test_quality_classifier_deterministic_and_xxhash_path(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.classifier import (
        quality_score, train_quality_classifier)
    rows = [Row(doc_id=i, text=f"alpha beta gamma delta {i % 11} token",
                label=i % 3 == 0) for i in range(90)]
    df = spark.createDataFrame(rows)
    m1 = train_quality_classifier(df, "label", sample_docs=64)
    m2 = train_quality_classifier(df.repartition(7), "label",
                                  sample_docs=64)
    assert m1["weights"] == m2["weights"] and m1["bias"] == m2["bias"]
    mx = train_quality_classifier(df, "label", sample_docs=64,
                                  hash_fn="xxhash64")
    sx = quality_score(df, mx).collect()
    assert len(sx) == 90 and all(r.quality_logit is not None for r in sx)


# ------------------------------------------------- JL random projection

def test_jl_projection_preserves_distances(spark):
    """Achlioptas sign-matrix JL: pairwise squared distances in the
    projected space track the originals (rank correlation), and the
    projection is a pure function of (seed, j, i) — identical across
    repartitionings and re-runs."""
    import random as _r

    import numpy as np
    from pyspark.sql import Row
    from pythonql_spark.operators.projection import jl_project

    rnd = _r.Random(0)
    X = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(60)]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(v) for v in x])
         for i, x in enumerate(X)])
    out = (jl_project(df, 64, 32).orderBy("vec_id").collect())
    Y = np.array([[r[f"jl_{j}"] for j in range(32)] for r in out])
    Xa = np.array(X)
    iu = np.triu_indices(len(X), 1)
    do = ((Xa[:, None, :] - Xa[None, :, :]) ** 2).sum(-1)[iu]
    dp = ((Y[:, None, :] - Y[None, :, :]) ** 2).sum(-1)[iu]
    # JL is a per-pair distortion bound, not a correlation claim
    # (gaussian pairwise distances concentrate, so correlation is the
    # wrong property): median ratio ~1, bulk within moderate ε at k=32
    r = dp / do
    assert 0.9 < np.median(r) < 1.12, np.median(r)
    assert np.percentile(r, 5) > 0.45 and np.percentile(r, 95) < 1.8
    # determinism across partition layouts
    again = (jl_project(df.repartition(7), 64, 32)
             .orderBy("vec_id").collect())
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


# ------------------------------------------------- audio resampling

def test_resample_audio_real_wav_and_ulaw(spark):
    """resample_audio: real decode (PCM + mu-law) -> linear-interp
    resample -> PCM re-encode; sample count scales with the rate
    ratio, amplitude is preserved, output decodes again."""
    import math

    from pyspark.sql import Row

    from pythonql_spark.operators import multimodal as MM

    tone = [int(8000 * math.sin(2 * math.pi * 440 * t / 8000))
            for t in range(800)]
    wav = MM.encode_wav(tone, 8000)
    ul = MM.encode_wav_ulaw(
        [int(100 * math.sin(t / 5)) for t in range(400)], 8000)
    df = spark.createDataFrame([Row(doc_id=1, snd=wav),
                                Row(doc_id=2, snd=ul)])
    media = df.select("doc_id",
                      MM.make_media("snd", "audio", "wav").alias("media"))
    out = {r.doc_id: r for r in
           MM.decode_audio(MM.resample_audio(media, 4000))
           .orderBy("doc_id").collect()}
    assert out[1].sample_rate == 4000 and out[1].audio_ms == 100
    assert out[2].sample_rate == 4000 and out[2].audio_ms == 50
    # mean |sin| amplitude survives interpolation within a few %
    assert abs(out[1].mean_abs_amplitude - 8000 * 2 / math.pi) < 300
    # identity resample keeps the exact sample count
    same = MM.decode_audio(MM.resample_audio(media, 8000)).collect()
    assert {r.audio_ms for r in same} == {100, 50}


def test_decontaminate_multi_attribution(spark):
    """Per-benchmark attribution in one scan: overlapping docs hit
    exactly the benchmarks containing their shingles; clean docs
    produce no rows; shared shingles attribute to EVERY benchmark."""
    from pythonql_spark.operators.decontam import decontaminate_multi
    bench = spark.createDataFrame(
        [("arc", "alpha beta gamma delta epsilon zeta"),
         ("mmlu", "one two three four five six"),
         ("gsm", "alpha beta gamma delta epsilon zeta")],
        "bench string, text string")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta extra words here"),
         (2, "one two three four five six and some more padding"),
         (3, "completely clean document with no overlap at all here")],
        "doc_id long, text string")
    out = decontaminate_multi(corpus, bench, ngram=5)
    got = {(r.doc_id, r.bench): (r.n_matched, r.contamination)
           for r in out.collect()}
    # the 6-word bench phrase yields two 5-gram shingles
    assert got[(1, "arc")][0] == 2 and got[(1, "gsm")][0] == 2
    assert got[(2, "mmlu")][0] == 2
    assert not any(d == 3 for d, _ in got)
    assert set(b for _, b in got) == {"arc", "gsm", "mmlu"}
    with pytest.raises(ValueError, match="max_benchmarks"):
        decontaminate_multi(corpus, bench, max_benchmarks=2)


def test_sample_temperature_null_stratum_kept(spark):
    """NULL strata are real strata: their rows survive (null-safe
    join) and the smallest stratum keeps fraction 1 as documented."""
    from pythonql_spark.operators.sampling import sample_temperature
    rows = [(i, "en") for i in range(400)] + \
           [(1000 + i, None) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample_temperature(df, "lang", alpha=0.5)
    by = {k: v for k, v in
          out.groupBy("lang").count().collect()}
    assert by.get(None) == 3              # smallest stratum keeps all
    assert 0 < by["en"] < 400             # en downsampled toward sqrt


def test_split_single_fraction_and_quotes(spark):
    from pythonql_spark.operators.sampling import (stratified_sample,
                                                   train_test_split)
    df = spark.createDataFrame([(i, "O'Reilly") for i in range(20)],
                               "doc_id long, source string")
    assert train_test_split(df, {"all": 1.0}) \
        .filter("split = 'all'").count() == 20
    # quoted stratum values must not break the CASE builder
    assert stratified_sample(df, "source", {"O'Reilly": 1.0}).count() == 20


def test_upsample_integer_repeats_no_dead_copies(spark):
    """Integer repeat factors fan out exactly floor(r) copies in the
    explode (no discarded trailing copy), and r=0 yields nothing."""
    from pythonql_spark.operators.sampling import upsample_epochs
    df = spark.createDataFrame(
        [(i, "a") for i in range(10)] + [(100 + i, "b") for i in range(10)]
        + [(200 + i, "c") for i in range(10)],
        "doc_id long, lang string")
    out = upsample_epochs(df, "lang", {"a": 2.0, "b": 0.0, "c": 1.5})
    by = {k: v for k, v in out.groupBy("lang").count().collect()}
    assert by["a"] == 20 and "b" not in by
    assert 10 <= by["c"] <= 20
    # the explode itself must not fan out dead rows for integer r:
    # pre-filter row count equals post-filter count for stratum a
    pre = upsample_epochs(df.filter("lang = 'a'"), "lang", {"a": 2.0})
    assert pre.count() == 20


def test_remove_boilerplate_metachar_delim(spark):
    """A regex-metachar delimiter ('.') must split literally and
    round-trip on rejoin — split() quotes it, array_join is literal."""
    docs = spark.createDataFrame(
        [(i, f"unique part {i}.Shared Boilerplate.more {i}")
         for i in range(6)],
        "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_removed)
           for r in TX.remove_boilerplate(docs, min_doc_frac=0.5,
                                          delim=".").collect()}
    for i in range(6):
        assert out[i][0] == f"unique part {i}.more {i}"
        assert out[i][1] == 1


def test_dsir_resample_keeps_zero_token_docs(spark):
    """Empty/whitespace docs have no weight row: they get the neutral
    weight (keep prob = rate) instead of silently vanishing."""
    from pythonql_spark.operators.dsir import dsir_resample
    docs = spark.createDataFrame(
        [(i, "some english words here", "en") for i in range(20)]
        + [(100, "", "en"), (101, "   ", "en")],
        "doc_id long, text string, lang string")
    kept = {r.doc_id for r in
            dsir_resample(docs, "lang = 'en'", rate=1.0).collect()}
    assert {100, 101} <= kept                # rate=1 keeps everything
    # and the surfaced columns exist with neutral values
    row = (dsir_resample(docs, "lang = 'en'", rate=1.0)
           .filter("doc_id = 100").first())
    assert (row.n_tokens, row.logweight) == (0, 0.0)


def test_salted_join_rejects_outer(spark):
    from pythonql_spark.operators.skew import salted_join
    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "y")], "k long, w string")
    with pytest.raises(ValueError, match="inner"):
        salted_join(big, small, "k", how="right")
    # left keeps unmatched big rows exactly once
    big2 = spark.createDataFrame([(1, "x"), (2, "z")], "k long, v string")
    out = salted_join(big2, small, "k", how="left", salt=4)
    assert out.count() == 2


def test_scd2_as_of_accepts_datetime_and_column(spark):
    from datetime import datetime
    from pythonql_spark.operators.scd import scd2_as_of
    dim = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", "2024-06-01 00:00:00"),
         (1, "a2", "2024-06-01 00:00:00", None),
         (2, "b", "2024-01-01 00:00:00", None)],
        "id long, val string, valid_from string, valid_to string") \
        .selectExpr("id", "val",
                    "cast(valid_from as timestamp) as valid_from",
                    "cast(valid_to as timestamp) as valid_to")
    at = scd2_as_of(dim, datetime(2024, 3, 1))
    assert {r.val for r in at.collect()} == {"a", "b"}
    at2 = scd2_as_of(dim, F.lit("2024-07-01").cast("timestamp"))
    assert {r.val for r in at2.collect()} == {"a2", "b"}
    assert {r.val for r in
            scd2_as_of(dim, "2024-03-01 00:00:00").collect()} == {"a", "b"}
    import pytest as _pytest
    with _pytest.raises(TypeError):
        scd2_as_of(dim, 12345)


def test_classification_report(spark):
    from pythonql_spark.operators.classifier import classification_report
    rows = ([("a", "a")] * 3 + [("a", "b")] * 1     # a: tp=3, fn=1
            + [("b", "b")] * 2 + [("b", "c")] * 2)  # b: tp=2; c invented
    df = spark.createDataFrame(rows, "y string, p string")
    got = {r["class"]: (r.n_true, r.n_pred, r.tp, r.precision,
                        r.recall, r.f1)
           for r in classification_report(df, "y", "p").collect()}
    assert got["a"] == (4, 3, 3, 1.0, 0.75, round(6 / 7, 6))
    assert got["b"] == (4, 3, 2, round(2 / 3, 6), 0.5, round(4 / 7, 6))
    # a class only ever PREDICTED still gets a row with zero scores
    assert got["c"] == (0, 2, 0, 0.0, 0.0, 0.0)


def test_calibration_report(spark):
    import pytest as _pytest
    from pythonql_spark.operators.classifier import calibration_report
    # bin [0.0,0.5): probs 0.2 x4, 1 positive -> conf 0.2, acc 0.25
    # bin [0.5,1.0]: probs 0.8 x4, all positive -> conf 0.8, acc 1.0
    rows = ([(0.2, i == 0) for i in range(4)]
            + [(0.8, True) for _ in range(4)])
    df = spark.createDataFrame(rows, "p double, y boolean")
    got = {r.bin: (r.n, r.conf, r.acc, r.gap, r.w_gap)
           for r in calibration_report(df, "p", "y", nbins=2).collect()}
    assert got[0] == (4, 0.2, 0.25, 0.05, 0.025)
    assert got[1] == (4, 0.8, 1.0, 0.2, 0.1)
    assert round(sum(v[4] for v in got.values()), 6) == 0.125  # ECE
    # prob exactly 1.0 clamps into the last bin
    edge = spark.createDataFrame([(1.0, True)], "p double, y boolean")
    assert calibration_report(edge, "p", "y", 2).collect()[0].bin == 1
    with _pytest.raises(ValueError):
        calibration_report(df, "p", "y", 0)


def test_quality_classifier_training_parity_numpy(spark, sf_dir):
    """THE TRAINING CONTRACT, pinned bit-exact: features re-extracted
    INDEPENDENTLY in DuckDB (dual-dialect md5 buckets + tokenizer) and
    the documented GD recurrence (zero init, full-batch, fixed iters,
    w -= lr·(Xᵀg/n + l2·w), b -= lr·mean(g)) re-run in plain numpy
    must reproduce train_quality_classifier's weights EXACTLY — not
    approximately.  A refactor that changes the sample cut, the tf
    normalization, the iteration order or the regularizer breaks this
    test, not just a checksum."""
    import os

    import duckdb
    import numpy as np

    from pythonql_spark.operators.classifier import (
        bucket_expr, train_quality_classifier)
    from pythonql_spark.operators.text import _ws
    from pythonql_spark.sources import load_table

    nb, nd, iters, lr, l2 = 256, 256, 30, 0.5, 1e-4
    label = "contains(text, 'vector')"
    docs = load_table(spark, sf_dir, "documents")
    model = train_quality_classifier(
        docs, label, n_buckets=nb, sample_docs=nd, iters=iters,
        lr=lr, l2=l2)

    b = bucket_expr("w", nb, "duck")
    sample = duckdb.sql(f"""
        SELECT cast(({label}) AS int) AS y,
               list_transform(
                 str_split_regex(trim(lower(coalesce(text, ''))),
                                 '{_ws("duck")}'),
                 w -> {b}) AS f
        FROM '{os.path.join(sf_dir, "documents.parquet")}'
        WHERE ({label}) IS NOT NULL
        ORDER BY md5(cast(doc_id AS varchar)) LIMIT {nd}
    """).df()

    X = np.zeros((len(sample), nb))
    for i, buckets in enumerate(sample["f"]):
        if buckets is not None and len(buckets):
            X[i] = np.bincount(np.asarray(buckets, dtype=np.int64),
                               minlength=nb) / len(buckets)
    y = sample["y"].to_numpy(dtype=np.float64)
    w = np.zeros(nb)
    bias = 0.0
    n = max(len(y), 1)
    for _ in range(iters):
        z = X @ w + bias
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (X.T @ g / n + l2 * w)
        bias -= lr * float(g.mean())

    assert model["n_train"] == n
    assert model["bias"] == bias
    assert model["weights"] == [float(v) for v in w]


def test_zscore_normalize_hand_values_and_constant_stratum(spark):
    import math

    from pythonql_spark.operators.profile import zscore_normalize
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", 5.0), ("b", 5.0)], "g string, x double")
    out = {(r.g, r.x): r.x_z for r in
           zscore_normalize(df, ["x"], keys=["g"], suffix="_z").collect()}
    # stratum a: mean 2, population std sqrt(2/3)
    std = math.sqrt(2.0 / 3.0)
    assert out[("a", 1.0)] == round(-1.0 / std, 6)
    assert out[("a", 2.0)] == 0.0
    assert out[("a", 3.0)] == round(1.0 / std, 6)
    # constant stratum: std 0 -> NULL, not a crash
    assert out[("b", 5.0)] is None
    # global (no keys) path
    g = zscore_normalize(df, ["x"]).collect()
    assert len(g) == 5 and all(r.x_z is not None for r in g)


def test_fuzzy_pairs_planted_typos_exact(spark):
    """Prefix-filter candidate generation is COMPLETE: every pair
    within max_dist is found (brute-force cross-check), including
    short strings outside the q-gram theorem's guarantee."""
    from pythonql_spark.operators.fuzzy import fuzzy_pairs
    names = ["north-atlantic-corpus", "north-atlantik-corpus",  # sub
             "north-atlantic-corpu",                            # del
             "south-pacific-archive", "south-pacific-archives",
             "wholly-different-name",
             "ab", "ac", "zz",                                  # shorts
             "abcdef"]
    df = spark.createDataFrame(list(enumerate(names)),
                               "doc_id long, name string")
    got = {(r.id_a, r.id_b): r.dist
           for r in fuzzy_pairs(df, "name", 2, q=2).collect()}
    import itertools
    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]
    want = {(i, j): ed(a, b)
            for (i, a), (j, b) in itertools.combinations(
                enumerate(names), 2) if ed(a, b) <= 2}
    assert got == want
    assert (0, 1) in got and (0, 2) in got and (6, 7) in got
    assert not any({5} & set(p) for p in got)  # no false pairs


def test_pagerank_star_and_conservation(spark):
    """Hand-checkable properties on a star graph: the hub outranks
    every leaf, leaves tie exactly, and total rank ≈ 1 (9-dp rounded
    power iteration)."""
    from pythonql_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long")
    r = {row.node: row.rank
         for row in pagerank(edges, iters=5).collect()}
    assert len(r) == 6
    leaves = [r[i] for i in range(1, 6)]
    assert r[0] > max(leaves)
    assert len(set(leaves)) == 1
    assert abs(sum(r.values()) - 1.0) < 1e-6


def test_pagerank_directed_no_sinks(spark):
    from pythonql_spark.operators.graph import pagerank
    # a directed 3-cycle has no sinks; stationary rank is uniform
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long")
    r = {row.node: row.rank
         for row in pagerank(edges, iters=4,
                             undirected=False).collect()}
    assert len(set(r.values())) == 1
    assert abs(sum(r.values()) - 1.0) < 1e-6


def test_cooccurrence_pmi_hand_values(spark):
    import math

    from pythonql_spark.operators.cooccur import cooccurrence_pmi
    # 4 contexts: {a,b} {a,b} {a,c} {c}
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
            (4, "c"), (1, "a")]  # duplicate (1,a) must not double-count
    df = spark.createDataFrame(rows, "ctx long, item string")
    out = {(r.item_a, r.item_b): r for r in
           cooccurrence_pmi(df, "ctx", "item").collect()}
    ab = out[("a", "b")]
    assert (ab.n_ab, ab.n_a, ab.n_b) == (2, 3, 2)
    assert ab.pmi == round(math.log(2 * 4 / (3 * 2)), 9)
    ac = out[("a", "c")]
    assert (ac.n_ab, ac.n_a, ac.n_b) == (1, 3, 2)
    assert ac.pmi == round(math.log(1 * 4 / (3 * 2)), 9) and ac.pmi < 0
    assert ("b", "c") not in out  # never co-occur


def test_conversion_ztest_hand_values(spark):
    import math

    from pythonql_spark.operators.profile import conversion_ztest
    # variant A: 30/100 convert; variant B: 10/100
    rows = [("A", 1)] * 30 + [("A", 0)] * 70 + \
           [("B", 1)] * 10 + [("B", 0)] * 90
    df = spark.createDataFrame(rows, "variant string, ok int")
    out = {r.variant: r for r in
           conversion_ztest(df, "variant", "ok = 1").collect()}
    assert (out["A"].n, out["A"].conv, out["A"].rate) == (100, 30, 0.3)
    p, pooled = 0.3, 0.2
    z = (p - 0.1) / math.sqrt(pooled * 0.8 * (1 / 100 + 1 / 100))
    assert abs(out["A"].z - z) < 1e-9 and out["A"].z > 0
    assert abs(out["A"].z + out["B"].z) < 1e-9  # symmetric two-arm
    # degenerate: single variant -> NULL z, no crash
    one = spark.createDataFrame([("A", 1), ("A", 0)],
                                "variant string, ok int")
    r = conversion_ztest(one, "variant", "ok = 1").first()
    assert r.z is None and r.rate == 0.5


def test_extract_html_structural_cases(spark):
    from pythonql_spark.operators.text import extract_html
    cases = [
        ("<p>a</p><p>b</p>", "a b"),
        ("<script>alert('<p>not text</p>')</script>ok", "ok"),
        ("<style>h1 { x: 1 }</style>body", "body"),
        ("<!-- secret -->visible", "visible"),
        ("A&amp;B &lt;x&gt; &quot;q&quot; &nbsp;end", 'A&B <x> "q" end'),
        ("<div class='a' data-x='<'>inner</div>", "inner"),
        ("no markup at all", "no markup at all"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "html string")
    got = [r.t for r in
           df.selectExpr(extract_html("html") + " as t").collect()]
    assert got == [w for _, w in cases]


def test_merge_components_incremental_equals_batch(spark):
    """Incremental component maintenance == one-shot CC over the full
    pair list, and batch-at-a-time == union-of-batches (semigroup)."""
    from pythonql_spark.operators.dedup import (connected_components,
                                                merge_components)

    def pairs_df(ps):
        return spark.createDataFrame(ps, "id_a long, id_b long")

    base = [(1, 2), (3, 4), (10, 11)]
    b1 = [(2, 3), (20, 21)]          # merges {1,2} with {3,4}
    b2 = [(11, 20), (5, 1)]          # chains {10,11}-{20,21}; grows {1..}
    labels = connected_components(pairs_df(base))
    inc = merge_components(merge_components(labels, pairs_df(b1)),
                           pairs_df(b2))
    one_shot = connected_components(pairs_df(base + b1 + b2))
    got = {r.id: r.comp for r in inc.collect()}
    want = {r.id: r.comp for r in one_shot.collect()}
    assert got == want
    # order-insensitive: batches in the other order
    inc2 = merge_components(merge_components(labels, pairs_df(b2)),
                            pairs_df(b1))
    assert {r.id: r.comp for r in inc2.collect()} == want
    # min-id convention holds after merges
    assert got[4] == 1 and got[21] == 10 and got[5] == 1


def test_fuzzy_choose_q_guardrail(spark):
    """choose_q grows q until observed-alphabet^q >= 4n (the scale
    guardrail that keeps ~n^2/alphabet^q candidates bounded), and
    raises instead of silently going quadratic when short keys over a
    tiny alphabet cannot support the needed q."""
    from pythonql_spark.operators.fuzzy import choose_q, fuzzy_pairs

    # 500 high-entropy digit keys: alphabet=10, need 10^q >= 2000 ->
    # q=4 from the sample bound; the measured prefix-bucket probe
    # confirms it (10^4 gram values over 500 keys -> ~unit buckets)
    digits = spark.createDataFrame(
        [(i, f"{(i * 7919 + 13) ** 2 % 10**12:012d}") for i in range(500)],
        "doc_id long, key string")
    assert choose_q(digits, "key", 1) == 4

    # degenerate corpus the SAMPLE rule alone would wave through:
    # zero-padded ids share a 21-char prefix, so each key has only
    # ~4 distinct grams and the prefix filter must include the
    # all-shared gram at EVERY q -> measured mass ~ n^2/2 -> raise
    padded = spark.createDataFrame(
        [(i, f"{i:024d}") for i in range(500)], "doc_id long, key string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="candidate"):
        choose_q(padded, "key", 1)

    # large alphabet, high entropy: 52-letter keys pass the sample
    # bound at q=2 AND the measured probe confirms unit buckets
    def _letters(i):
        x, s = (i * 48271 + 11) % (2**31), []
        for _ in range(10):
            s.append(chr(97 + x % 26) if x % 2 else chr(65 + (x >> 1) % 26))
            x = (x * 48271 + 7) % (2**31)
        return "".join(s)
    alnum = spark.createDataFrame(
        [(i, _letters(i)) for i in range(300)], "doc_id long, key string")
    assert choose_q(alnum, "key", 1) == 2

    # conflict: digit alphabet needs q=4 but keys are 5 chars ->
    # q_cap = 5 // 2 = 2 -> loud failure, not a silent cross join
    short = spark.createDataFrame(
        [(i, f"{i % 100000:05d}") for i in range(600)],
        "doc_id long, key string")
    with _pytest.raises(ValueError, match="alphabet"):
        choose_q(short, "key", 1)
    with _pytest.raises(ValueError, match="alphabet"):
        fuzzy_pairs(short, "key", 1, id_col="doc_id")   # q=None -> auto

    # auto q stays EXACT: planted typo pairs on the digit corpus are
    # all recovered at the auto-chosen q
    import pyspark.sql.functions as F
    typos = digits.withColumn("doc_id", F.col("doc_id") + 1000) \
                  .withColumn("key", F.expr(
                      "concat(substring(key, 1, 23), 'X')"))
    both = digits.unionByName(typos)
    got = {(r.id_a, r.id_b) for r in
           fuzzy_pairs(both, "key", 1, id_col="doc_id").collect()}
    assert {(i, i + 1000) for i in range(500)} <= got


# ---------------------------------------------------------------- int8

def test_quantize_codes_bounded(vecs):
    from pythonql_spark.operators.quantize import quantize_embeddings
    for r in quantize_embeddings(vecs, dim=8).collect():
        # the max-|x| element maps to ±127; everything stays in range
        assert max(abs(c) for c in r.q8) == 127
        assert all(-127 <= c <= 127 for c in r.q8)
        # dequantization error bounded by half a quantization step
        for orig, c in zip(r.embedding, r.q8):
            assert abs(c * r.qscale - orig) <= r.qscale / 2 + 1e-9


def test_quantize_codegen_vs_arrow_parity(vecs):
    # the unrolled-SQL path (dim <= limit) and the Arrow numpy path
    # run the same elementwise IEEE double chain -> identical bits,
    # including the qscale doubles (this is what makes the dim-64
    # production path full-oracle-able)
    from pythonql_spark.operators import quantize as QZ
    def snap():
        return {r.vec_id: (list(r.q8), r.qscale)
                for r in QZ.quantize_embeddings(vecs, dim=8).collect()}
    a = snap()
    old = QZ.CODEGEN_DIM_LIMIT
    QZ.CODEGEN_DIM_LIMIT = 0          # force the Arrow path at dim 8
    try:
        b = snap()
    finally:
        QZ.CODEGEN_DIM_LIMIT = old
    assert a == b


def test_int8_topk_matches_float_ranking(vecs):
    from pythonql_spark.operators.quantize import int8_topk
    exact = {r.n_id for r in brute_topk(vecs, [0], k=3).collect()}
    rows = sorted(int8_topk(vecs, [0], k=3).collect(),
                  key=lambda r: r.rank)
    assert [r.rank for r in rows] == [1, 2, 3]
    assert rows[0].n_id == 1 and rows[0].cosine > 0.99   # planted dup
    # int8 recall vs exact float cosine on well-separated vectors
    assert len(exact & {r.n_id for r in rows}) >= 2


def test_md5_hll_registers_merge_and_estimate(spark, tables):
    """md5-HLL (the hash-checkable sibling of the DataSketches path):
    merging per-half register tables equals the whole-corpus
    registers (max semigroup), re-merging a subset is a no-op
    (idempotence — the streaming maintainer's replay contract), and
    the integer-arithmetic estimate lands within the ~6.5% RSE band
    of the exact distinct count at p_bits=8."""
    from pythonql_spark.operators.sketch import (hll_estimate_md5,
                                                 hll_registers_md5,
                                                 merge_md5_registers)
    docs = tables["documents"]
    cols = ["doc_id", "lang"]

    def as_map(df):
        return {(r.col_name, r.bucket): r.register for r in df.collect()}

    whole = hll_registers_md5(docs, cols)
    halves = merge_md5_registers(
        hll_registers_md5(docs.filter("doc_id % 2 = 0"), cols),
        hll_registers_md5(docs.filter("doc_id % 2 = 1"), cols))
    assert as_map(whole) == as_map(halves)
    # idempotence: re-absorbing one half changes nothing
    again = merge_md5_registers(
        halves, hll_registers_md5(docs.filter("doc_id % 2 = 0"), cols))
    assert as_map(again) == as_map(whole)

    est = {r.col_name: r.n_distinct
           for r in hll_estimate_md5(whole).collect()}
    exact = docs.selectExpr(
        "count(distinct doc_id) as doc_id",
        "count(distinct lang) as lang").collect()[0]
    # 256 registers -> ~6.5% relative standard error; allow 4 sigma
    assert abs(est["doc_id"] - exact.doc_id) <= max(0.26 * exact.doc_id, 8)
    # tiny cardinalities (a handful of langs) sit in the sparse range
    # where every value occupies its own bucket: estimate ~= exact
    assert abs(est["lang"] - exact.lang) <= 2


def test_bottomk_sample_quantiles_mergeable(spark, tables):
    """bottom-k md5 sample: bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪
    bottom-k(B)) per group, and when k covers the whole group the
    rank-selected quantiles are the exact quantiles."""
    from pythonql_spark.operators.sketch import (bottomk_sample_md5,
                                                 sample_quantiles_md5)
    ev = tables["events"].select("event_id", "event_type", "value")

    def ids(df):
        return sorted((r.event_type, r.event_id) for r in df.collect())

    whole = bottomk_sample_md5(ev, "event_type", "event_id", 20)
    merged = (bottomk_sample_md5(ev.filter("event_id % 2 = 0"),
                                 "event_type", "event_id", 20)
              .unionByName(bottomk_sample_md5(
                  ev.filter("event_id % 2 = 1"),
                  "event_type", "event_id", 20)))
    remerged = bottomk_sample_md5(
        merged.drop("__h"), "event_type", "event_id", 20)
    assert ids(whole) == ids(remerged)

    # k >= group size -> sample is the whole group -> exact quantiles
    big_k = ev.count()
    got = {r.event_type: r.q_50 for r in sample_quantiles_md5(
        ev, "value", "event_type", "event_id", k=big_k).collect()}
    import math
    for t, q50 in got.items():
        vals = sorted(r.value for r in
                      ev.filter(f"event_type = '{t}'").collect())
        want = vals[math.floor(0.5 * (len(vals) - 1))]
        assert q50 == want


def test_cms_counters_merge_estimate_bounds(spark, tables):
    """Count-Min sketch: sum-merging disjoint halves equals the
    whole-table counters; point estimates are one-sided (never under
    the true count) and within the 2N/width collision bound for the
    probed keys."""
    from pythonql_spark.operators.sketch import (CMS_WIDTH,
                                                 cms_counters_md5,
                                                 cms_estimate, cms_merge)
    orders = tables["orders"]

    def as_map(df):
        return {(r.d, r.slot): r.counter for r in df.collect()}

    whole = cms_counters_md5(orders, "o_custkey")
    halves = cms_merge(
        cms_counters_md5(orders.filter("o_orderkey % 2 = 0"), "o_custkey"),
        cms_counters_md5(orders.filter("o_orderkey % 2 = 1"), "o_custkey"))
    assert as_map(whole) == as_map(halves)

    exact = {r.o_custkey: r.n for r in
             orders.groupBy("o_custkey").agg(
                 F.count("*").alias("n")).collect()}
    probes = orders.select("o_custkey").distinct()
    est = {r.o_custkey: r.n_est for r in
           cms_estimate(whole, probes, "o_custkey").collect()}
    n_total = orders.count()
    bound = 2.0 * n_total / CMS_WIDTH
    assert set(est) == set(exact)
    for k, e in est.items():
        assert e >= exact[k]                  # one-sided by construction
        assert e - exact[k] <= bound + 1      # standard CMS error bound


def test_keyed_hll_rollup_matches_direct_and_exact(spark, tables):
    """Distinct-count rollup: hourly register deltas max-merged to
    days equal the registers computed directly at day grain (max
    associativity — the no-rescan maintenance claim), and the daily
    estimates land within the 256-register error band of the exact
    per-day distinct user counts."""
    from pythonql_spark.operators.sketch import (hll_estimate_md5,
                                                 hll_registers_keyed,
                                                 merge_registers_keyed)
    ev = tables["events"]

    hourly = hll_registers_keyed(
        ev, {"hour": "date_trunc('hour', ts)"}, "user_id")
    daily = merge_registers_keyed(
        hourly, {"day": "cast(to_date(hour) as string)"})
    direct = hll_registers_keyed(
        ev, {"day": "cast(to_date(ts) as string)"}, "user_id")

    def as_map(df):
        return {(r.day, r.bucket): r.register for r in df.collect()}

    assert as_map(daily) == as_map(direct)

    est = {r.col_name: r.n_distinct for r in hll_estimate_md5(
        daily.withColumnRenamed("day", "col_name")).collect()}
    exact = {r.day: r.n for r in ev.selectExpr(
        "cast(to_date(ts) as string) as day", "user_id")
        .groupBy("day").agg(F.countDistinct("user_id").alias("n"))
        .collect()}
    assert set(est) == set(exact)
    for day, n in exact.items():
        assert abs(est[day] - n) <= max(0.26 * n, 8), (day, est[day], n)


def test_url_normalize_collapses_spelling_variants(spark):
    """Every denormalized spelling of the same page — www prefix,
    host case, default port, fragment, tracking params, param order,
    trailing slash — must canonicalize to ONE url_norm; distinct
    pages must stay distinct."""
    from pythonql_spark.operators.url import curate_urls
    same_page = [
        "https://www.Example.COM/a/b?utm_source=x&b=2&a=1#frag",
        "https://example.com/a/b?a=1&b=2",
        "http://example.com:80/a/b/?b=2&a=1&fbclid=zzz",
        "https://EXAMPLE.com/a/b?gclid=q&a=1&b=2#other",
    ]
    different = [
        "https://example.com/a/b?a=1&b=3",      # different param value
        "https://example.com/a/c?a=1&b=2",      # different path
        "https://other.com/a/b?a=1&b=2",        # different host
        "https://example.com/a/b",              # no params at all
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(same_page + different)],
        ["id", "url"])
    out = {r.id: (r.url_norm, r.domain)
           for r in curate_urls(df).collect()}
    canon = {out[i][0] for i in range(len(same_page))}
    assert canon == {"https://example.com/a/b?a=1&b=2"}, canon
    all_norms = [v[0] for v in out.values()]
    assert len(set(all_norms)) == 1 + len(different)
    assert all(v[1] in ("example.com", "other.com")
               for v in out.values())


def test_registered_domain_multipart_suffixes(spark):
    from pythonql_spark.operators.url import registered_domain_expr
    cases = {
        "https://news.bbc.co.uk/x": "bbc.co.uk",
        "https://a.b.example.com/x": "example.com",
        "https://example.com/x": "example.com",
        "https://www.shop.com.au/x": "shop.com.au",
        "https://localhost/x": "localhost",
    }
    df = spark.createDataFrame(list(cases.items()), ["url", "want"])
    rows = df.selectExpr(
        f"{registered_domain_expr('url')} as got", "want").collect()
    for r in rows:
        assert r.got == r.want, (r.got, r.want)


def test_domain_cap_plans_window_group_limit(spark, tables):
    """The per-domain cap must keep its partial top-k pushdown and
    never exceed n rows per registered domain."""
    from pythonql_spark.operators.url import domain_cap
    from pythonql_spark.plans import assert_plan
    docs = tables["documents"].selectExpr(
        "doc_id", "n_chars",
        "concat('https://', source, '.com/p/', cast(doc_id as string)) "
        "as url")
    capped = domain_cap(docs, 5, order=["n_chars desc", "doc_id"])
    assert_plan(capped, require_window_group_limit=True,
                no_nested_loop=True)
    counts = capped.groupBy("domain").count().collect()
    assert counts and all(r["count"] <= 5 for r in counts)
    # best-first: the kept rows are the top-5 n_chars of each domain
    import collections
    best = collections.defaultdict(list)
    for r in docs.collect():
        dom = r.url.split("//")[1].split("/")[0]
        best[dom].append((-r.n_chars, r.doc_id))
    want = {dom: sorted(v)[:5] for dom, v in best.items()}
    got = collections.defaultdict(list)
    for r in capped.collect():
        got[r.domain].append((-r.n_chars, r.doc_id))
    assert {d: sorted(v) for d, v in got.items()} == want


def test_registered_domain_full_psl(spark):
    """The packaged Public Suffix List drives registered-domain
    extraction: country-code second-levels, private-section suffixes
    (github.io-class), multi-label rules, any-label wildcards and
    exceptions all resolve per the PSL algorithm — via BOTH the
    expression form and curate_urls' broadcast-join form (they must
    agree everywhere)."""
    from pythonql_spark.operators.url import (curate_urls,
                                              registered_domain_expr)
    cases = {
        "https://news.bbc.co.uk/x": "bbc.co.uk",          # co.uk
        "https://www.shop.com.au/x": "shop.com.au",       # com.au
        "https://foo.github.io/x": "foo.github.io",       # private sec.
        "https://b.blogspot.com/x": "b.blogspot.com",     # private sec.
        "https://x.s3.dualstack.eu-west-1.amazonaws.com/":
            "x.s3.dualstack.eu-west-1.amazonaws.com",     # 5-label rule
        "https://x.a.ssl.fastly.net/": "x.a.ssl.fastly.net",  # 4-label
        "https://a.b.compute.amazonaws.com.cn/":
            "a.b.compute.amazonaws.com.cn",      # *.compute... wild-4
        "https://y.compute-1.amazonaws.com/":
            "y.compute-1.amazonaws.com",         # *.compute-1 wild-3
        "https://a.b.ck/x": "a.b.ck",                     # *.ck wildcard
        "https://x.city.kawasaki.jp/": "city.kawasaki.jp",  # !exception
        "https://x.higashi.nagoya.jp/": "x.higashi.nagoya.jp",  # geo 3-lbl
        "https://deep.a.b.example.com/x": "example.com",
        "https://example.com/x": "example.com",
        "https://localhost/x": "localhost",
        "https://co.uk/": "co.uk",          # host IS a public suffix
    }
    df = spark.createDataFrame(
        [(i, u, w) for i, (u, w) in enumerate(cases.items())],
        ["doc_id", "url", "want"])
    expr_rows = df.selectExpr(
        f"{registered_domain_expr('url')} as got", "want").collect()
    for r in expr_rows:
        assert r.got == r.want, ("expr", r.got, r.want)
    join_rows = curate_urls(df.select("doc_id", "url")).collect()
    want_by_id = dict(enumerate(cases.values()))
    for r in join_rows:
        assert r.domain == want_by_id[r.doc_id], \
            ("join", r.doc_id, r.domain, want_by_id[r.doc_id])


def test_non_http_urls_pass_through_raw(spark):
    """ftp:/mailto:/scheme-less strings in a crawl frontier must NOT
    collapse onto each other: the canonicalizer only claims http(s),
    everything else keeps its raw bytes as url_norm (still a valid
    exact-dedup identity) and a NULL domain — previously ftp://a.com/x
    and ftp://b.com/x both normalized to 'https:///x'."""
    from pythonql_spark.operators.url import curate_urls
    raw = ["ftp://a.com/x", "ftp://b.com/x", "mailto:u@example.com",
           "notaurl", "other-garbage", "//scheme-relative.com/x",
           # the scheme must be LITERAL in the original string — a
           # percent-escape must not decode its way into http and
           # collide with the real page
           "htt%70://sneaky.com/x",
           "HTTPS://ok.example.com/x"]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(raw)], ["id", "url"])
    rows = {r.id: (r.url_norm, r.domain)
            for r in curate_urls(df).collect()}
    for i, u in enumerate(raw[:-1]):
        assert rows[i] == (u, None), (u, rows[i])
    assert rows[7] == ("https://ok.example.com/x", "example.com")
    assert len({v[0] for v in rows.values()}) == len(raw)


def test_malformed_percent_escapes_skip_decoding(spark):
    """A URL whose '%' chars do not all start valid %XX escapes skips
    percent-canonicalization entirely (the chained replaces could
    cascade — '%%341' would decode to '%41' then 'A'); byte-distinct
    malformed URLs therefore stay distinct, and canonicalizing an
    already-canonical malformed URL is a fixpoint."""
    from pythonql_spark.operators.url import curate_urls
    df = spark.createDataFrame([
        (1, "https://ex.com/%%341"),       # would cascade to /A
        (2, "https://ex.com/A"),           # must stay distinct from 1
        (3, "https://ex.com/%2%35"),       # would cascade to /%25
        (4, "https://ex.com/%25"),         # must stay distinct from 3
        (5, "https://ex.com/tail%"),       # trailing bare %
        (6, "https://ex.com/%41"),         # well-formed: decodes
    ], ["id", "url"])
    rows = {r.id: r.url_norm for r in curate_urls(df).collect()}
    assert rows[1] == "https://ex.com/%%341"
    assert rows[3] == "https://ex.com/%2%35"
    assert rows[5] == "https://ex.com/tail%"
    assert rows[6] == "https://ex.com/A"
    assert len(set(rows.values())) == 5    # only 2 and 6 collide
    # fixpoint: re-curating the canonical forms changes nothing
    df2 = spark.createDataFrame(
        [(k, v) for k, v in rows.items()], ["id", "url"])
    again = {r.id: r.url_norm for r in curate_urls(df2).collect()}
    assert again == rows


def test_fqdn_trailing_dot_host_folds(spark):
    """'example.com.' is the FQDN spelling of 'example.com' — same
    DNS name, same page: trailing host dots fold in the canonical
    url AND in the registered domain (a dotted host previously fell
    through to the default rule with the dot attached)."""
    from pythonql_spark.operators.url import curate_urls
    df = spark.createDataFrame([
        (1, "https://example.com./a"),
        (2, "https://example.com/a"),
        (3, "https://www.Example.COM./a"),
        (4, "https://news.bbc.co.uk.:443/x"),
        (5, "https://example.com../a"),   # NOT a valid DNS name:
        (6, "https://example.com.../a"),  # multi-dot stays distinct
    ], ["id", "url"])
    rows = {r.id: (r.url_norm, r.domain)
            for r in curate_urls(df).collect()}
    assert rows[1] == rows[2] == rows[3] \
        == ("https://example.com/a", "example.com")
    assert rows[4] == ("https://news.bbc.co.uk/x", "bbc.co.uk")
    # exactly ONE root dot folds; further dots are different strings
    assert rows[5][0] == "https://example.com./a"
    assert rows[6][0] == "https://example.com../a"
    assert rows[5] != rows[1] and rows[6] != rows[5]


def test_escaped_and_punycode_hosts_fold(spark):
    """Percent-escaped host bytes decode before component extraction
    (http://EXAMPLE%2Ecom == http://example.com) and punycode labels
    case-fold with the host — while Unicode and ACE spellings of one
    IDN host remain DISTINCT identities (documented: IDNA conversion
    is not expressible as a scan-fused expression)."""
    from pythonql_spark.operators.url import curate_urls
    df = spark.createDataFrame([
        (1, "http://EXAMPLE%2Ecom/a"),
        (2, "https://example.com/a"),
        (3, "https://XN--BCHER-KVA.example/x"),
        (4, "https://xn--bcher-kva.example/x"),
        (5, "https://bücher.example/x"),   # Unicode spelling
    ], ["id", "url"])
    rows = {r.id: (r.url_norm, r.domain)
            for r in curate_urls(df).collect()}
    assert rows[1] == rows[2] == ("https://example.com/a", "example.com")
    assert rows[3] == rows[4]
    assert rows[3][0] == "https://xn--bcher-kva.example/x"
    assert rows[5] != rows[3]


def test_curate_urls_plans_broadcast_join_no_shuffle(spark, tables):
    """The PSL lookup must plan as ONE broadcast hash join with ZERO
    data shuffles — a sort-merge fallback would shuffle the whole
    corpus on the 2-label tail at 100 TB, and any Exchange in
    curate_urls itself means the scan-fused contract broke."""
    from pythonql_spark.operators.url import curate_urls
    from pythonql_spark.plans import assert_plan
    docs = tables["documents"].selectExpr(
        "doc_id",
        "concat('https://', source, '.com/p/', cast(doc_id as string))"
        " as url")
    out = curate_urls(docs)
    assert_plan(out, max_exchanges=0, require_broadcast_joins=1,
                no_nested_loop=True)
    assert out.count() == docs.count()


def test_pct_decode_exhaustive_escape_sweep(spark):
    """Every %XX escape (all 256 bytes, upper AND lower hex) through
    BOTH dialects' arithmetic decoders: unreserved bytes decode to
    their literal character, everything else re-emits with uppercase
    hex — pinned against a pure-Python rendering of the RFC 3986
    rule, so the two SQL implementations can never drift from the
    spec or from each other."""
    import string

    import duckdb

    from pythonql_spark.operators.url import pct_decode_expr
    unreserved = set(string.ascii_letters + string.digits + "-._~")
    cases = ["x%%%02X y" % b for b in range(256)] \
        + ["x%%%02x y" % b for b in range(256)]

    def expect(u):
        hexpair = u[2:4]
        c = chr(int(hexpair, 16))
        return ("x" + c + " y") if c in unreserved \
            else ("x%" + hexpair.upper() + " y")

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], ["id", "u"])
    got = {r.id: r.d for r in df.selectExpr(
        "id", f"{pct_decode_expr('u')} as d").collect()}
    vals = ", ".join("(%d, '%s')" % (i, u) for i, u in enumerate(cases))
    duck = dict(duckdb.sql(
        f"select id, {pct_decode_expr('u', 'duck')} "
        f"from (values {vals}) t(id, u)").fetchall())
    for i, u in enumerate(cases):
        w = expect(u)
        assert got[i] == w, ("spark", u, got[i], w)
        assert duck[i] == w, ("duck", u, duck[i], w)


def test_psl_loader_and_compiler_roundtrip():
    """The packaged suffix table is the deterministic compilation of
    the OS's upstream public_suffix_list.dat: recompiling yields the
    same rows, kinds partition cleanly, and well-known suffixes are
    present in ACE lowercase."""
    import importlib.util
    from pathlib import Path

    from pythonql_spark.operators.url import load_public_suffixes
    psl = load_public_suffixes()
    plain2 = set(psl[("plain", 2)])
    assert {"co.uk", "com.au", "github.io", "blogspot.com"} <= plain2
    assert "www.ck" in psl[("exc", 2)]
    assert "ck" in psl[("wild", 1)]
    assert all(s.isascii() and s == s.lower()
               for vals in psl.values() for s in vals)
    spec = importlib.util.spec_from_file_location(
        "compile_psl", Path(__file__).resolve().parent.parent
        / "scripts" / "compile_psl.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    src = Path(mod.DEFAULT_SRC)
    if src.exists():
        recompiled = set(mod.compile_psl(str(src)))
        packaged = {(k, n, s) for (k, n), vals in psl.items()
                    for s in vals}
        assert packaged == recompiled


def test_ip_literal_hosts(spark):
    """IP-hosted pages (a real crawl slice): bracketed IPv6 hosts
    extract WHOLE (naive first-colon splitting collided every IPv6
    host onto '['), IPv4/IPv6 registered domains are the IP itself
    (the PSL default rule would group every 1.2.x.y host under
    'x.y'), ports/defaults still fold, distinct IPs stay distinct —
    via BOTH registered-domain forms."""
    from pythonql_spark.operators.url import (curate_urls,
                                              registered_domain_expr)
    df = spark.createDataFrame([
        (1, "https://[2001:DB8::1]:8080/a"),
        (2, "https://[2001:db8::1]:8080/a"),    # case-folds to 1
        (3, "https://[2001:db8::2]:8080/a"),    # distinct IPv6
        (4, "http://192.168.10.20:80/x"),
        (5, "https://192.168.10.20/x"),         # default port folds to 4
        (6, "https://10.0.10.20/x"),            # distinct IPv4
        (7, "https://[::1]/x"),
    ], ["id", "url"])
    out = {r.id: (r.url_norm, r.domain)
           for r in curate_urls(df).collect()}
    assert out[1] == out[2] == ("https://[2001:db8::1]:8080/a",
                                "[2001:db8::1]")
    assert out[3][1] == "[2001:db8::2]" and out[3] != out[1]
    assert out[4] == out[5] == ("https://192.168.10.20/x",
                                "192.168.10.20")
    assert out[6][1] == "10.0.10.20" and out[6] != out[4]
    assert out[7] == ("https://[::1]/x", "[::1]")
    # unterminated bracket (malformed): whole hostport kept, so two
    # byte-distinct broken strings never collide on a '[2001'-style
    # first-colon truncation
    bad = spark.createDataFrame([
        (1, "http://[2001:db8::5/a"),
        (2, "http://[2001:ee8::5/a"),
        # garbage AFTER a ']' is malformed too: must not truncate at
        # the bracket (would collide with each other AND the real
        # [::1] page), and a trailing dot on a bracket host is not a
        # DNS root-dot identity
        (3, "http://[::1]x/p"),
        (4, "http://[::1]y/p"),
        (5, "https://[::1]/p"),
        (6, "http://[a::80/x"),
        (7, "http://[a::80./x"),
        (8, "http://[::1]:abc/p"),
        # WELL-formed bracket + numeric port: host extracts to the
        # bracket, the port folds (80) or survives (8080)
        (9, "http://[::1]:80/p"),
        (10, "https://[::1]:8080/p"),
    ], ["id", "url"])
    from pythonql_spark.operators.url import curate_urls as _cu
    badout = {r.id: r.url_norm for r in _cu(bad).collect()}
    assert badout[1] != badout[2]
    assert len({badout[3], badout[4], badout[5], badout[8]}) == 4
    assert badout[6] != badout[7]
    assert badout[9] == badout[5] == "https://[::1]/p"
    assert badout[10] == "https://[::1]:8080/p"
    # same distinctness through the DuckDB oracle dialect
    import duckdb
    from pythonql_spark.operators.url import url_normalize_expr
    rel = duckdb.sql(
        "select " + url_normalize_expr("url", dialect="duckdb")
        + " as u from (values " + ", ".join(
            f"('{u}')" for _, u in bad.collect()) + ") t(url)")
    duck = [r[0] for r in rel.fetchall()]
    assert sorted(duck) == sorted(badout.values())
    expr_rows = df.selectExpr(
        "id", f"{registered_domain_expr('url')} as d").collect()
    for r in expr_rows:
        assert r.d == out[r.id][1], ("expr-form", r.id, r.d)


def test_domain_cap_null_domain_rows_share_one_bucket(spark):
    """Non-http rows (NULL domain) form ONE window partition, so the
    cap bounds total frontier garbage at n rows — documented curation
    behavior: a crawl mixture must not carry unbounded non-web
    strings, while real domains cap independently."""
    from pythonql_spark.operators.url import domain_cap
    rows = [(i, f"ftp://garbage{i}.example/x") for i in range(20)] \
        + [(100 + i, f"https://site.com/p{i}") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    capped = domain_cap(df, 3, order=["doc_id"]).collect()
    by_dom = {}
    for r in capped:
        by_dom.setdefault(r.domain, []).append(r.doc_id)
    assert len(by_dom[None]) == 3          # 20 garbage rows -> 3
    assert sorted(by_dom["site.com"]) == [100, 101, 102]


def test_pct_decode_unreserved_only(spark):
    """Percent-decoding folds unreserved escapes (hex case included)
    into their literal characters while leaving reserved escapes —
    which ARE page identity — encoded; equal pages spelled with and
    without encoding collapse to one canonical URL."""
    from pythonql_spark.operators.url import curate_urls
    df = spark.createDataFrame([
        (1, "https://ex.com/p%61th/%41%2Dx?q=%31"),
        (2, "https://ex.com/path/A-x?q=1"),
        (3, "https://ex.com/a%2Fb"),       # %2F = '/' reserved: kept
        (4, "https://ex.com/a/b"),         # NOT the same page as 3
        (5, "https://ex.com/x%7E?y=%5Fz"), # lower-hex ~ and _
        (6, "https://ex.com/x~?y=_z"),
    ], ["id", "url"])
    rows = {r.id: r.url_norm for r in curate_urls(df).collect()}
    assert rows[1] == rows[2] == "https://ex.com/path/A-x?q=1"
    assert rows[3] == "https://ex.com/a%2Fb" != rows[4]
    assert rows[5] == rows[6] == "https://ex.com/x~?y=_z"


def test_pct_reserved_escape_case_folds_without_decoding(spark):
    """Reserved escapes stay ENCODED but their hex-digit case folds
    to uppercase (RFC 3986 §6.2.2.1) — %2f and %2F spellings of the
    same reserved byte collapse to one canonical page, while the
    decoded '/' spelling remains a different page."""
    from pythonql_spark.operators.url import curate_urls
    df = spark.createDataFrame([
        (1, "https://ex.com/a%2fb?x=%3d1"),
        (2, "https://ex.com/a%2Fb?x=%3D1"),
        (3, "https://ex.com/a/b?x==1"),      # decoded: different page
        (4, "https://ex.com/u%Ff"),          # non-ASCII byte, mixed case
        (5, "https://ex.com/u%fF"),
    ], ["id", "url"])
    rows = {r.id: r.url_norm for r in curate_urls(df).collect()}
    assert rows[1] == rows[2] == "https://ex.com/a%2Fb?x=%3D1"
    assert rows[3] != rows[1]
    assert rows[4] == rows[5] == "https://ex.com/u%FF"
