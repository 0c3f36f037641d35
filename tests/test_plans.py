"""Plan-shape regression tests: the scale properties SURVEY §4 claims
(predicate pushdown to the parquet scan, column pruning, broadcast of
small dims, map-side partial aggregation, no cartesian products) must
be visible in the optimized physical plan, not just asserted in prose.

These run against sf0.001 but check plan STRUCTURE, which is what
survives a 100× scale-up."""

import re

import pytest

from pythonql_spark.benchqueries import QUERIES


from pythonql_spark.plans import formatted_plan, plan_report
from test_session import PQL_KEYS


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: formatted_plan(QUERIES[name](spark, sf_dir))
            for name in ("filter_where", "select_project", "join_multi",
                         "group_agg", "join_semi", "join_anti", "tpch_q6")}


def test_filter_pushed_to_scan(plans):
    # the shipdate predicate must reach the parquet reader
    assert re.search(r"PushedFilters:.*l_shipdate", plans["tpch_q6"]) or \
           re.search(r"PushedFilters:.*LessThan", plans["tpch_q6"])
    assert "PushedFilters" in plans["filter_where"]


def test_column_pruning(plans):
    # projection of 3 columns must not scan all 9 orders columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plans["select_project"])
    assert m, plans["select_project"]
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(cols) <= 4, cols


def test_small_dims_broadcast(plans):
    # nation/region sides must broadcast, not shuffle-hash/sort-merge
    assert plans["join_multi"].count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plans["join_multi"]


def test_semi_anti_stay_joins(plans):
    # membership tests compile to semi/anti joins, never to a
    # collect-and-isin or a cartesian product
    for k in ("join_semi", "join_anti"):
        assert "Join" in plans[k] or "BroadcastHashJoin" in plans[k]
        assert "CartesianProduct" not in plans[k]


def test_partial_aggregation(plans):
    # HashAggregate must appear BEFORE the shuffle Exchange (map-side
    # combine): at 100 TB the shuffle carries grouped partials, not rows
    plan = plans["group_agg"]
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert first_agg != -1 and first_exchange != -1
    assert first_agg < first_exchange, "no map-side partial aggregation"


def test_whole_stage_codegen(spark, sf_dir):
    # the scan→filter→project→partial-agg pipeline must be fused into
    # WholeStageCodegen subtrees (AQE hides codegen ids in formatted
    # mode, so ask for the codegen view)
    df = QUERIES["group_agg"](spark, sf_dir)
    df.collect()  # AQE finalizes THIS query execution's physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen'd operators carry the "*(n)" whole-stage-codegen prefix
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:500]


@pytest.mark.parametrize("key", ["dedup_minhash", "dedup_minhash_md5"])
def test_dedup_minhash_no_cartesian(spark, sf_dir, key):
    plan = formatted_plan(QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the signature aggregation must be partial (map-side) too
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert -1 < first_agg < first_exchange


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # the benchmark shingle set must be the broadcast side; the corpus
    # must never shuffle except for its per-doc aggregation
    plan = formatted_plan(QUERIES["decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan
    assert "CartesianProduct" not in plan
    # per-doc count must be a partial→exchange→final agg sandwich
    tree = plan.split("(1) Scan")[0]
    assert re.search(r"HashAggregate.*\n.*Exchange.*\n.*HashAggregate", tree), tree


def test_sample_is_narrow(spark, sf_dir):
    # deterministic sampling is a pure filter: no Exchange anywhere
    plan = formatted_plan(QUERIES["sample_stratified"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_chunk_is_narrow(spark, sf_dir):
    # chunking is scan → generate → project: no shuffle, no Python
    plan = formatted_plan(QUERIES["chunk_docs"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan and "explode" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_single_shuffle(spark, sf_dir):
    # packing = ONE shuffle on the shard key, then a window sort
    plan = formatted_plan(QUERIES["pack_sequences"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Window" in plan


def test_knn_join_no_cross_product(spark, sf_dir):
    # the query x corpus score matrix must never materialize: corpus
    # flows through ONE Arrow-batched python stage (partial top-k),
    # and the only shuffle carries candidate rows for the final window
    plan = formatted_plan(QUERIES["knn_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    tree = plan.split("(1) Scan")[0]
    assert tree.count("MapInPandas") == 1
    assert tree.count("Exchange") == 1, tree
    # the final per-query top-k must stay distributed: no driver-side
    # merge (CollectLimit), no row-at-a-time Python above the
    # exchange, and the window keeps its partial-top-k pushdown so
    # the shuffle ships <= k rows per (query, map task)
    assert "CollectLimit" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_ann_topk_partial_topk_shape(spark, sf_dir):
    """brute_topk: the corpus streams past a broadcast query side
    entirely in the JVM; the only shuffle carries candidates into a
    WindowGroupLimit-pushed final top-k — never a CollectLimit or a
    Python eval."""
    plan = formatted_plan(QUERIES["ann_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "CollectLimit" not in plan, plan
    # norm/cosine ride vectorized ArrowEvalPython (documented BLAS
    # path); row-at-a-time Python stays banned
    assert "BatchEvalPython" not in plan, plan
    # partial top-k on the map side, final after ONE data exchange;
    # read (limit, mode) from each WindowGroupLimit node's details so
    # a change in argument formatting does not break the gate
    limits = set()
    for node in re.findall(r"\(\d+\) WindowGroupLimit\b.*?(?:\n\s*\n|\Z)",
                           plan, re.S):
        k = re.search(r"row_number\(\)\W+(\d+)\b", node)
        mode = re.search(r"\b(Partial|Final)\b", node)
        assert k and mode, node
        limits.add((int(k.group(1)), mode.group(1)))
    assert limits == {(5, "Partial"), (5, "Final")}, plan
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange (") - tree.count("BroadcastExchange (") == 1, tree


def test_tpch_q9_star_join_shape(spark, sf_dir):
    # the part-name filter must reach the part scan (below the join),
    # and the two tiny dims must broadcast, never shuffle the fact side
    plan = formatted_plan(QUERIES["tpch_q9"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters:.*p_name", plan), plan[:600]
    assert plan.count("BroadcastHashJoin") >= 2


def test_topk_partial_limit_before_shuffle(spark, sf_dir):
    """row_number top-k must plan a WindowGroupLimit (partial per-map
    top-k): the shuffle carries ~k rows per key, not the corpus."""
    p = formatted_plan(QUERIES["topk_group"](spark, sf_dir))
    assert "WindowGroupLimit" in p, p


def test_range_join_is_equi(spark, sf_dir):
    """The binned range join must be a hash/sort-merge EQUI join with
    the range as a residual — never a nested-loop or cartesian."""
    p = formatted_plan(QUERIES["range_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_pivot_single_aggregation(spark, sf_dir):
    """Explicit pivot values: one partial+final aggregation, no
    distinct-discovery pass in the plan."""
    p = formatted_plan(QUERIES["pivot_status"](spark, sf_dir))
    assert "HashAggregate" in p and "Exchange" in p, p
    assert p.find("HashAggregate") < p.find("Exchange"), p
    assert "CartesianProduct" not in p


def test_tpch_q10_topn_no_full_sort(spark, sf_dir):
    """order-by-aggregate + limit must plan TakeOrderedAndProject —
    a full global Sort of the aggregate output does not scale."""
    p = formatted_plan(QUERIES["tpch_q10"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_tpch_q22_anti_join(spark, sf_dir):
    """NOT EXISTS must stay a left-anti join; the global-average
    scalar is a 1-row broadcast, never a per-row subquery."""
    p = formatted_plan(QUERIES["tpch_q22"](spark, sf_dir))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p


def test_count_clause_no_global_window(spark, sf_dir):
    """The ordered count clause must NOT plan a single-task global
    row_number window (Window with an empty partition spec funnels
    every row through one task).  The global_index shape instead
    range-partitions and numbers locally — the only Window allowed is
    the per-partition-count offsets window, whose input is one row per
    partition."""
    df = QUERIES["count_clause"](spark, sf_dir)
    p = formatted_plan(df)
    # numbering reads monotonically_increasing_id off the checkpointed
    # layout, never a row_number window
    assert "row_number" not in p, p
    # the only SinglePartition exchange allowed is the offsets branch,
    # whose input was first reduced by the per-__pid partial_count
    # aggregate to <= n_partitions rows
    singles = [m.start() for m in re.finditer("Exchange SinglePartition", p)]
    assert len(singles) <= 1, p
    if singles:
        assert "partial_count" in p[:singles[0]], p


def test_sample_exact_n_no_full_sort(spark, sf_dir):
    """Exact-N sampling must plan TakeOrderedAndProject (per-task
    partial top-n), never a global Sort of the corpus."""
    p = formatted_plan(QUERIES["sample_exact_n"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_parquet_aggregate_pushdown(spark, sf_dir):
    """min/max over a parquet scan must answer from footer statistics
    (PushedAggregation) under the V2 reader — the fast path for
    profiling scans; isolated in a newSession because V2 is not the
    engine-wide default."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.sources.useV1SourceList", "")
    ns.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    df = (ns.read.parquet(f"{sf_dir}/orders.parquet")
          .agg({"o_totalprice": "max"}))
    p = formatted_plan(df)
    assert "PushedAggregation: [MAX(o_totalprice)]" in p, p
    assert df.first()[0] == spark.read.parquet(
        f"{sf_dir}/orders.parquet").agg({"o_totalprice": "max"}).first()[0]


def test_new_curation_ops_prune_scans(spark, sf_dir):
    """The round's curation operators must read only the columns they
    use from the documents scan (nested pruning reached parquet)."""
    import re as _re

    def read_schemas(name):
        p = formatted_plan(QUERIES[name](spark, sf_dir))
        return [set(s.split(",")) for s in
                [_re.sub(r"[<>]|struct|:[a-z_0-9()]+", "", m)
                 for m in _re.findall(r"ReadSchema: (struct<[^>]*>)", p)]]

    # mix_budget: doc_id, lang, n_chars — never text
    for cols in read_schemas("mix_budget"):
        assert "text" not in cols, cols
    # dup_spans: doc_id + text only — never lang/source/n_chars
    for cols in read_schemas("dup_spans"):
        assert cols <= {"doc_id", "text"}, cols
    # search_bm25: doc_id + text only
    for cols in read_schemas("search_bm25"):
        assert cols <= {"doc_id", "text"}, cols


def test_dsir_single_scan_shape(spark, sf_dir):
    """DSIR's three aggregates must reuse the ONE checkpointed explode
    — the plan may contain at most one parquet scan of documents."""
    p = formatted_plan(QUERIES["dsir_weights"](spark, sf_dir))
    assert p.count("documents.parquet") <= 1, p


def test_score_normalize_no_global_window(spark, sf_dir):
    """Global percentile calibration must NOT plan
    percent_rank() OVER (ORDER BY ...) with an empty partition spec —
    that funnels the corpus through one task.  The rewrite composes
    global_index (range-partition + local numbering + broadcast
    offsets); the only percent_rank window left is the per-stratum
    one, and every remaining windowspec is either stratum-partitioned
    or over the tiny per-partition counts table (__pid)."""
    p = formatted_plan(QUERIES["score_normalize"](spark, sf_dir))
    assert "row_number" not in p, p
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    for s in specs:
        assert s.startswith("__pid") or s.startswith("lang"), (s, p)
    # percent_rank survives only under the lang partition spec
    for m in re.finditer(r"percent_rank\(\)[^\n]*windowspecdefinition\(([^)]*)\)", p):
        assert m.group(1).startswith("lang"), p


def test_multi_column_percentile_one_range_exchange(spark):
    """The ≥2-signal global calibration must range-shuffle the corpus
    ONCE (all columns exploded to narrow rows in one exchange), not
    once per score column."""
    from pythonql_spark.operators.profile import percentile_normalize
    df = spark.range(100).selectExpr(
        "id as doc_id", "cast(id * 7 % 13 as double) as s1",
        "cast(id * 11 % 17 as double) as s2",
        "cast(id * 3 % 19 as double) as s3")
    p = formatted_plan(percentile_normalize(df, ["s1", "s2", "s3"],
                                            id_col="doc_id"))
    # global_index's range exchange sits behind its localCheckpoint
    # boundary, surfacing as Scan ExistingRDD over ONE MapPartitionsRDD
    # (referenced twice: numbering + offsets).  The old per-column loop
    # produced one checkpointed exchange PER column — three distinct
    # RDD ids — and any residual rangepartitioning in the visible plan
    # would mean an extra corpus shuffle.
    rdd_ids = set(re.findall(r"MapPartitionsRDD\[(\d+)\]", p))
    assert len(rdd_ids) == 1, (rdd_ids, p)
    assert "rangepartitioning" not in p, p


def test_mix_budget_no_stratum_serial_window(spark, sf_dir):
    """Budget mixing must NOT plan the per-stratum running sum as
    sum() OVER (PARTITION BY stratum ORDER BY <corpus keys>) — with
    few, huge strata that single-tasks each stratum.  The two-phase
    prefix sum leaves exactly one Window, over the tiny per-
    (partition, stratum) partials table, ordered by __pid."""
    p = formatted_plan(QUERIES["mix_budget"](spark, sf_dir))
    assert "row_number" not in p, p
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    for s in specs:
        assert "__pid" in s, (s, p)
        # order key is the partition id, never the corpus priority hash
        assert "md5" not in s, (s, p)


def test_broadcast_row_joins_never_cartesian(spark, sf_dir):
    """decontam_bloom and quality_classify ride a broadcast 1-row
    cross join (the 128 KB bit array / 16 KB weight array) — that must
    plan as BroadcastNestedLoopJoin with the tiny side broadcast,
    never a CartesianProduct, and the probe/scoring expressions must
    not add any extra exchange beyond the final aggregate."""
    for key in ("decontam_bloom", "quality_classify"):
        p = formatted_plan(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in p, (key, p)
        assert "BroadcastNestedLoopJoin" in p, (key, p)


def test_pq_search_never_shuffles_vectors(spark, sf_dir):
    """PQ search consumes the m-byte code column only: no Exchange may
    carry the embedding column (that is the whole point — the full-
    vector corpus never flows through search), no cartesian product,
    and the only exchange feeds the final per-query top-k over
    candidate rows."""
    p = formatted_plan(QUERIES["ann_pq"](spark, sf_dir))
    assert "CartesianProduct" not in p, p
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "embedding" not in m.group(1), (m.group(1), p)
    assert "q_id" in p


def test_bitext_no_cartesian_and_bounded_exchanges(spark, sf_dir):
    """Both knn_join directions are broadcast-probe mapInPandas scans;
    the exchanges belong to the candidate top-k windows and the tiny
    neighbourhood aggregates — never a cartesian product, and never an
    exchange carrying the raw embedding column."""
    p = formatted_plan(QUERIES["mine_bitext"](spark, sf_dir))
    assert "CartesianProduct" not in p, p
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "embedding" not in m.group(1), (m.group(1), p)


def test_snapshot_diff_single_join_level(spark, sf_dir):
    """One full-outer SortMergeJoin (or shuffled hash join) on the
    key; both inputs are scan-side hash projections."""
    p = formatted_plan(QUERIES["snapshot_diff"](spark, sf_dir))
    assert "FullOuter" in p or "full_outer" in p.lower(), p
    assert p.count("Join") >= 1
    assert "xxhash64" in p, p


def test_snapshot_diff_bucketed_zero_exchange(spark, tables):
    """diff.py's 100 TB claim: two snapshots bucketed on the key
    diff with NO shuffle Exchange at all — the hash projection
    preserves the storage bucketing through to the full-outer join."""
    import shutil
    from pythonql_spark.operators.diff import snapshot_diff
    from pythonql_spark.sources.catalog import write_bucketed
    warehouse = spark.conf.get("spark.sql.warehouse.dir") \
        .removeprefix("file:")
    for t in ("snap_v1", "snap_v2"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = tables["documents"].select("doc_id", "text")
    write_bucketed(docs, "snap_v1", ["doc_id"], n_buckets=8)
    write_bucketed(
        docs.filter("doc_id % 10 != 3")
        .selectExpr("doc_id",
                    "case when doc_id % 7 = 0 then upper(text) "
                    "else text end as text"),
        "snap_v2", ["doc_id"], n_buckets=8)
    d = snapshot_diff(spark.table("snap_v1"), spark.table("snap_v2"),
                      compare_cols=["text"])
    p = formatted_plan(d)
    assert "Exchange" not in p, p
    assert d.filter("change = 'removed'").count() > 0
    assert d.filter("change = 'changed'").count() > 0


# ------------------------------------------------- public plan-gate API

def test_plan_report_counts_and_scans(spark, sf_dir):
    """plan_report on the TPC-H Q5 shape: broadcast dims counted,
    no cartesian, pushdown + pruning visible per scan, zero
    row-at-a-time Python."""
    from pythonql_spark.plans import plan_report
    df = QUERIES["join_multi"](spark, sf_dir)
    rep = plan_report(df)
    assert rep["broadcast_exchanges"] >= 2
    assert rep["broadcast_hash_joins"] >= 2
    assert rep["cartesian_products"] == 0
    assert rep["python_row_evals"] == 0
    assert rep["codegen_spans"] == 0      # AQE: not finalized yet
    df.collect()
    assert plan_report(df)["codegen_spans"] >= 1   # visible post-action
    assert rep["scans"], "no scans parsed"
    # lineitem scan must be pruned to the few referenced columns
    assert any(0 < len(s["read_columns"]) <= 4 for s in rep["scans"]), \
        [s["read_columns"] for s in rep["scans"]]


def test_assert_plan_passes_and_fails(spark, sf_dir):
    from pythonql_spark.plans import PlanAssertionError, assert_plan
    df = QUERIES["join_multi"](spark, sf_dir)
    rep = assert_plan(df, no_cartesian=True, no_python_row_udf=True,
                      require_broadcast_joins=2)
    assert rep["broadcast_hash_joins"] >= 2
    with pytest.raises(PlanAssertionError, match="broadcast"):
        assert_plan(df, require_broadcast_joins=99)
    # an aggregation-only plan has data shuffles; a 0-shuffle bound fails
    with pytest.raises(PlanAssertionError, match="shuffles"):
        assert_plan(QUERIES["group_agg"](spark, sf_dir), max_exchanges=0)


def test_assert_plan_flags_row_udf(spark):
    """A row-at-a-time Python UDF (the 10-100x slow path) must trip
    the no_python_row_udf gate; an Arrow-batched pandas UDF must not."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pythonql_spark.plans import PlanAssertionError, assert_plan
    df = spark.range(10)
    slow = df.select(F.udf(lambda x: x + 1, LongType())("id").alias("y"))
    with pytest.raises(PlanAssertionError, match="row-at-a-time"):
        assert_plan(slow)
    assert_plan(df.selectExpr("id + 1 as y"))   # pure JVM passes


def test_assert_plan_window_group_limit(spark, sf_dir):
    from pythonql_spark.plans import assert_plan
    rep = assert_plan(QUERIES["topk_group"](spark, sf_dir),
                      require_window_group_limit=True)
    assert rep["window_group_limits"] >= 1


def test_psi_drift_plan_shape(spark, sf_dir):
    """PSI drift: corpus-sized work is two partial-aggregated
    (keys, bin) groupBys; at most 3 data shuffles total and no
    Python anywhere."""
    from pythonql_spark.plans import assert_plan
    rep = assert_plan(QUERIES["drift_psi"](spark, sf_dir),
                      max_exchanges=3, no_nested_loop=True)
    assert rep["python_row_evals"] == 0 and rep["python_arrow_evals"] == 0


def test_source_filter_plan_shape(spark, sf_dir):
    """Group-stats gate: one data shuffle (the stats groupBy) and the
    survivor-key join must stay broadcast."""
    from pythonql_spark.plans import assert_plan
    assert_plan(QUERIES["source_filter"](spark, sf_dir),
                max_exchanges=1, require_broadcast_joins=1,
                no_nested_loop=True)


def test_mine_negatives_plan_shape(spark, sf_dir):
    """Masked partial top-k: one data shuffle (the final per-anchor
    top-k over k x |anchors| x batches candidate rows); the corpus is
    consumed by Arrow-batched mapInPandas, never row-at-a-time."""
    from pythonql_spark.plans import assert_plan
    assert_plan(QUERIES["mine_negatives"](spark, sf_dir),
                max_exchanges=1, no_nested_loop=True)


def test_fuzzy_pairs_prefix_filter_plan(spark, sf_dir):
    """The fuzzy join must block on rare grams (WindowGroupLimit caps
    the per-string prefix shuffle at q·d+1 rows) and never plan a
    corpus cartesian product — the only nested loop is the bounded
    short-string band join."""
    from pythonql_spark.plans import plan_report
    r = plan_report(QUERIES["fuzzy_pairs"](spark, sf_dir))
    assert r["cartesian_products"] == 0, r
    assert r["window_group_limits"] >= 1, r
    assert r["nested_loop_joins"] <= 1, r


def test_docsim_and_pmi_no_cartesian(spark, sf_dir):
    """Both similarity joins key on postings/contexts — a cartesian
    product anywhere means the blocking broke."""
    from pythonql_spark.plans import plan_report
    for key in ("docsim_cosine", "cooccur_pmi"):
        r = plan_report(QUERIES[key](spark, sf_dir))
        assert r["cartesian_products"] == 0, (key, r)
        assert r["python_row_evals"] == 0, (key, r)


def test_pagerank_single_edge_materialization(spark, sf_dir):
    """The edge list materializes ONCE behind a checkpoint: the plan
    must contain no parquet scans at all (they all sit behind the
    lineage cut) — without it, 3 iterations re-executed the
    orders⋈lineitem join ~20 times."""
    from pythonql_spark.plans import plan_report
    r = plan_report(QUERIES["pagerank"](spark, sf_dir))
    assert len(r["scans"]) == 0, r
    assert r["cartesian_products"] == 0, r


def test_zscore_and_ztest_broadcast_stats(spark, sf_dir):
    """Stats frames broadcast back; the corpus is never shuffled: no
    hash exchange may carry the corpus row count (only partial-agg
    exchanges over |strata| rows), and no window runs at all."""
    for key in ("zscore_normalize", "ab_ztest"):
        p = formatted_plan(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in p, (key, p)
        assert "Window" not in p, (key, p)
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, \
            (key, p)


def test_sketch_family_plan_shapes(spark, sf_dir):
    """The r9 md5-sketch keys keep their bounded-shuffle contracts:
    registers/counters partial-aggregate BEFORE every exchange (the
    shuffle is |groups| x registers rows, never the corpus), the
    bottom-k sample keeps its WindowGroupLimit pushdown (each map
    task ships <= k rows per group), and none of them plan a
    cartesian, nested loop, or row-at-a-time Python."""
    from pythonql_spark.plans import assert_plan

    # HLL registers: two halves -> 2 data shuffles + tiny merge agg
    assert_plan(QUERIES["profile_sketch_md5"](spark, sf_dir),
                max_exchanges=3, no_nested_loop=True)
    # CMS: same shape (explode is a generate, not a join)
    assert_plan(QUERIES["profile_cms"](spark, sf_dir),
                max_exchanges=3, no_nested_loop=True)
    # distinct rollup: hour partials + day merge = 2 data shuffles
    assert_plan(QUERIES["rollup_distinct"](spark, sf_dir),
                max_exchanges=2, no_nested_loop=True)
    # bottom-k quantiles: the partial top-k must survive optimization
    assert_plan(QUERIES["profile_quantiles_md5"](spark, sf_dir),
                require_window_group_limit=True, no_nested_loop=True)

    # map-side partial aggregation: in the root-first tree section a
    # child prints AFTER its parent, so EVERY Exchange must be
    # followed by a HashAggregate before the leaf — a plan that
    # shuffles raw rows (Exchange directly over Scan/Project) fails
    p = formatted_plan(QUERIES["profile_sketch_md5"](spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    parts = tree.split("Exchange")
    assert len(parts) > 1, tree            # the plan does shuffle
    for below in parts[1:]:
        assert "HashAggregate" in below, tree


def test_url_curate_plan_shape(spark, sf_dir):
    """Both windows in the URL-curation key — the keep-one-per-
    canonical-url dedup and the per-domain cap — must keep their
    WindowGroupLimit pushdowns (each map task ships at most n rows
    per group), with no nested loop and no row-Python."""
    from pythonql_spark.plans import assert_plan, formatted_plan
    df = QUERIES["url_curate"](spark, sf_dir)
    rep = assert_plan(df, require_window_group_limit=True,
                      no_nested_loop=True)
    assert rep["window_group_limits"] >= 2, rep
    # string canonicalization stays scan-fused: no Python evaluator
    p = formatted_plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def _warm_build_jobs(spark, sf_dir, key) -> int:
    """Spark jobs launched while ``key`` builds its plan a second time.
    The first build warms ``load_table``'s schema cache, so the count
    does not depend on which tests loaded the same tables earlier."""
    QUERIES[key](spark, sf_dir)
    sc = spark.sparkContext
    group = f"build_jobs_{key}"
    sc.setJobGroup(group, f"{key} plan build")
    try:
        QUERIES[key](spark, sf_dir)
        # the status tracker is fed by the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


# jobs launched while the corpus pipelines BUILD their plans (eager
# probes, and localCheckpoint(eager=False), which under AQE runs every
# shuffle stage beneath it at call time).  Measured at sf0.001 on a
# warm build.  A new eager job in a pipeline shows up here as a diff
# to review, not as a silent slowdown.
CORPUS_BUILD_JOBS = {"training_pipeline": 2, "curation_v2": 15,
                     "curation_pipeline": 0, "dedup_corpus_minhash": 8}


@pytest.mark.parametrize("key", CORPUS_BUILD_JOBS)
def test_corpus_pipeline_build_jobs(spark, sf_dir, key):
    assert _warm_build_jobs(spark, sf_dir, key) == CORPUS_BUILD_JOBS[key]


# the query-language keys build with no Spark job once their tables'
# schemas are cached; count_clause's two come from global_index's
# checkpoint (sampling.py)
@pytest.mark.parametrize("key", PQL_KEYS)
def test_pql_build_jobs(spark, sf_dir, key):
    jobs = 2 if key == "count_clause" else 0
    assert _warm_build_jobs(spark, sf_dir, key) == jobs


# the only query-language keys whose plans carry a Python node, each
# with its cause; every other key of the session runs in the JVM
PQL_PYTHON_NODES = {
    "pql_path": "ArrowEvalPython",    # the registered pql_child path UDF
    "pql_match": "MapInPandas",       # the JSON match walker
    "match_partial": "MapInPandas",   # the JSON match walker
}
_PYTHON_NODE = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|"
                          r"MapInArrow|FlatMapGroupsInPandas|"
                          r"FlatMapCoGroupsInPandas|AggregateInPandas|"
                          r"WindowInPandas)\b")


@pytest.mark.parametrize("key", PQL_KEYS)
def test_pql_python_node_census(spark, sf_dir, key):
    p = formatted_plan(QUERIES[key](spark, sf_dir))
    found = set(_PYTHON_NODE.findall(p))
    want = {PQL_PYTHON_NODES[key]} if key in PQL_PYTHON_NODES else set()
    assert found == want, p


def test_window_predicate_native_shape(spark, sf_dir):
    """Column-predicate sliding windows: row_number plus a running min
    over the descending sequence.  No per-key list (the unselected
    ``window`` column is pruned with its join), and no ascending
    ``CURRENT ROW AND UNBOUNDED FOLLOWING`` frame, which re-aggregates
    the rest of the key for every row."""
    p = formatted_plan(QUERIES["window_predicate"](spark, sf_dir))
    assert not _PYTHON_NODE.search(p), p
    assert "collect_list" not in p, p
    assert not re.search(r"currentrow\$\(\), unboundedfollowing", p), p
    assert "row_number" in p, p


def _physical_nodes(df):
    """Every node of ``df``'s physical plan as planned, before
    exchanges are inserted (JVM objects)."""
    todo = [df._jdf.queryExecution().sparkPlan()]
    while todo:
        node = todo.pop()
        yield node
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]


@pytest.mark.parametrize("key", ["window_aux", "stream_predicate"])
def test_predicate_walker_ships_positions(spark, sf_dir, key):
    """The callable-condition walker is one ``mapInPandas`` that returns
    window positions, never rows: no array in its output.  The walker
    reads the key-hashed rows of one exchange, and ``window_aux``,
    which does not select ``window``, plans no per-key list."""
    df = QUERIES[key](spark, sf_dir)
    walkers = [n for n in _physical_nodes(df)
               if n.nodeName() == "MapInPandas"]
    assert len(walkers) == 1, [n.nodeName() for n in _physical_nodes(df)]
    out = walkers[0].schema().simpleString()
    assert "array<" not in out, out
    p = formatted_plan(df)
    assert plan_report(df)["exchanges"] == 1, p
    if key == "window_aux":
        assert "collect_list" not in p, p


def test_dedup_increment_build_jobs(spark, sf_dir):
    """fan_out_small decides the anti-joined batch frame from its plan
    (sources.catalog), so that frame's shuffle no longer runs at build
    time (10 jobs before).  The 7 left are the within-batch
    connected_components: its eager edge checkpoint and bounded
    toPandas head, which run the batch's LSH pair stages."""
    assert _warm_build_jobs(spark, sf_dir, "dedup_increment") == 7
