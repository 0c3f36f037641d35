"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

# Cleanliness thresholds (r10 verdict "what's wrong #2": the
# clean-vs-loaded verdict lived in prose; make it machine-checkable).
# Calibrated on this box idle: the 256 MB single-thread md5 probe runs
# ~0.47 s clean; during the r10 host CPU-steal episode an equivalent
# single-thread md5 chain inflated ~2.7-3.2x, and loaded-run ref-key
# retimes read 0.33-0.39 vs the 0.21-0.28 clean band.  A stamp of
# clean=false means "do not compare this artifact per-key"; it does
# NOT invalidate correctness.
PROBE_MB = 256
PROBE_CLEAN_MAX_S = 0.65          # ~1.4x the idle probe
REF_RETIME_BAND = (0.18, 0.32)    # sf0.1 dedup_exact second-run band
REF_RETIME_FLOOR_S = 0.05         # faster is a wrong or empty dataset
LOADAVG1_CLEAN_MAX = 2.0          # read BEFORE bench loads the box


def single_thread_probe() -> float:
    """Seconds to md5 PROBE_MB megabytes on one thread — no Spark, no
    JVM, so any inflation is the HOST (hypervisor steal / external
    load), never this repo's code."""
    data = b"\xab" * (1 << 20)
    h = hashlib.md5()
    t0 = time.perf_counter()
    for _ in range(PROBE_MB):
        h.update(data)
    return time.perf_counter() - t0


MID_RETIME_EVERY = 20             # keys between mid-run ref retimes


def clean_stamp(probe_pre_s: float, probe_post_s: float | None,
                ref_retime_s: float | None, loadavg1_pre: float,
                sf: float,
                ref_retime_pre_s: float | None = None,
                cpus: int = 32,
                mid_retimes_s: list[float] | None = None) -> bool:
    """True iff every load indicator sits in its calibrated clean
    band, so diff tooling can skip loaded artifacts mechanically.
    The ref-key band is calibrated at sf0.1 on local[32] only (the
    driver's full-core bench config); at other sfs OR core counts the
    probe + loadavg gates alone decide — the driver also re-runs the
    bench at a LOWER $SPARK_GRAFT_CPUS to measure scaling, and
    dedup_exact is legitimately slower there, which must not read as
    "host was loaded".

    ``ref_retime_pre_s`` is the same median-of-5 retime taken BEFORE
    the query loop: a 27-minute test suite finishing just before a
    bench leaves multi-minute residual load that inflates the EARLY
    keys ~15% while the end-of-run retime and the saturating md5
    probes all read clean (observed: loadavg_15 at 9-11, retime
    0.282 in-band, total 124 s vs the 105.9 s record).  Both edges
    of the run must sit in the band.

    ``mid_retimes_s``: the r11 close showed host bursts SHORTER than
    a full bench run — nine of ten runs failed an edge gate, and the
    one run with both edges in band still carried a mid-run burst
    that inflated single keys 3-9x (dedup_corpus_minhash 9.18 s vs
    its 1.6-2.1 s band) invisibly to every edge indicator.  The query
    loop therefore re-times the ref key every MID_RETIME_EVERY keys;
    at the calibration config EVERY sample must sit in the band, and
    a retime that failed is recorded as a ``None`` sample, which fails
    it.  ``None`` (artifacts predating the gate) skips the gate; an
    empty list (short runs) has nothing to violate."""
    if probe_pre_s > PROBE_CLEAN_MAX_S:
        return False
    if probe_post_s is not None and probe_post_s > PROBE_CLEAN_MAX_S:
        return False
    if loadavg1_pre > LOADAVG1_CLEAN_MAX:
        return False
    if sf == 0.1 and cpus == 32:
        # the band gates the high side: load INFLATES the retime,
        # never deflates it.  Deep-warm sessions legitimately read
        # below the calibrated floor (r12 close: mid samples 0.16-0.17
        # after 100+ keys of JIT warmth on an idle box) — a
        # faster-than-band sample is evidence of an even cleaner box,
        # not of load.  The recorded values keep the full reading
        # either way.  A hard floor far below the band still catches a
        # mislabeled sf dir or a partial/empty input, which no amount
        # of warmth explains.
        hi = REF_RETIME_BAND[1]
        for r in (ref_retime_pre_s, ref_retime_s, *(mid_retimes_s or [])):
            if r is None or not REF_RETIME_FLOOR_S <= r <= hi:
                return False
    return True


def _ref_retime(spark, QUERIES, ref_key: str, sf_dir: str,
                warm_reps: int = 1) -> float | None:
    """Median-of-5 wall time of the (warm) reference key — the
    scheduling-floor indicator; see clean_stamp.

    ``warm_reps``: the LEADING-edge call needs ~10 warm executions
    first — a fresh JVM is still JIT-compiling the shuffle/codegen
    paths, which alone inflates the retime ~0.12 s (measured idle:
    median 0.474 after bench.py's two-query warmup vs 0.347 once the
    session has run a handful of keys, identical box).  Without the
    extra warmth the leading gate reads JVM cold-start as host load
    and can never stamp clean.  ~10 reps cost ~3 s and cannot mask
    the gate's target (multi-minute residual suite load)."""
    try:
        for _ in range(max(1, warm_reps)):
            QUERIES[ref_key](spark, sf_dir).count()   # warm
        samples = []
        for _ in range(5):
            t0 = time.perf_counter()
            QUERIES[ref_key](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        return round(sorted(samples)[2], 3)
    except Exception:
        return None


def run_headline(spark, QUERIES, headline: list[str], sf_dir: str,
                 ref_key: str):
    """Time each headline key; returns (times, failed, mid_retimes,
    loadavg1_per_key).

    Steady-state methodology: each query runs once untimed (codegen
    compilation, broadcast construction, executor-side imports are
    per-shape one-offs amortized away on a long-lived cluster), and
    the SECOND full run — plan construction included — is recorded.
    One broken query must never zero the whole artifact: each query
    is fenced, failures are reported per-name and the run continues."""
    times: dict[str, float] = {}
    failed: dict[str, str] = {}
    mid_retimes: list[float | None] = []
    loadavg1_per_key: dict[str, float] = {}
    for i, name in enumerate(headline):
        # mid-run burst gate (see clean_stamp): the ref-key retime is
        # sampled THROUGH the run, between keys — it adds wall time to
        # the session but touches no timed region and no per-key time.
        # A failed retime is kept as None so the gate sees the gap.
        if i and i % MID_RETIME_EVERY == 0 and ref_key in QUERIES:
            mid_retimes.append(_ref_retime(spark, QUERIES, ref_key, sf_dir))
        try:
            QUERIES[name](spark, sf_dir).count()
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            n = df.count()
            times[name] = round(time.perf_counter() - t0, 3)
            loadavg1_per_key[name] = round(os.getloadavg()[0], 2)
            print(f"# {name}: {times[name]}s ({n} rows)", file=sys.stderr)
        except Exception as e:
            failed[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            print(f"# {name}: FAILED {failed[name]}", file=sys.stderr)
    return times, failed, mid_retimes, loadavg1_per_key


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        cpus = 32

    loadavg_pre = [round(x, 2) for x in os.getloadavg()]
    probe_pre = round(single_thread_probe(), 3)

    from pythonql_spark import get_spark
    from pythonql_spark.benchqueries import QUERIES

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = [n for n in (
        "group_agg", "join_multi", "join_equi", "tpch_q2", "tpch_q3",
        "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q11", "tpch_q12",
        "tpch_q16", "tpch_q18", "tpch_q20", "tpch_q21", "tpch_q4",
        "tpch_q13", "tpch_q17", "tpch_q7", "tpch_q8", "tpch_q15",
        "range_join", "band_join", "topk_group", "pivot_status",
        "analytic_window",
        "cohort_retention", "stream_interval", "histogram_prices",
        "corr_stats", "grouping_sets_stats", "funnel_sessions",
        "resample_hourly", "rollup_incremental", "text_logprob",
        "sample_exact_stratified",
        "order_multi", "shuffle_epoch",
        "lateral_explode", "join_left_outer", "join_semi", "group_lists",
        "vocab_stats", "corpus_profile", "asof_join", "asof_forward",
        "scd2_history",
        "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_corpus_minhash",
        "dedup_corpus_cosine", "sample_exact_n", "profile_sketch", "media_decode",
        "ann_topk", "ann_lsh", "ann_ivf", "knn_join", "embed_project",
        "text_quality", "text_langid", "window_sliding_fixed", "window_aux",
        "stream_tumbling", "sessionize", "doc_pipeline", "training_pipeline",
        "decontaminate", "decontam_bloom", "decontam_multi",
        "sample_stratified", "chunk_docs", "pack_sequences", "skew_report",
        "search_bm25", "doc_keywords", "dsir_weights", "dup_spans",
        "cluster_embed", "text_bpe", "dedup_semantic", "quality_classify",
        "text_gopher", "text_dup_lines", "text_top_ngram", "text_c4",
        "profile_quantiles", "split_assign", "stream_predicate",
        "pql_window", "media_gif", "media_frames", "media_webp",
        "curation_pipeline", "curation_v2",
        "mix_budget", "profile_overlap", "rag_retrieval", "strip_spans",
        "dsir_sample", "boilerplate_clean", "text_bigram",
        "score_normalize",
        "media_probe", "media_mp4", "ann_pq", "mine_bitext",
        "sample_temperature", "upsample_epochs", "snapshot_diff",
        "search_hybrid", "classify_features", "ann_ivfpq",
        "mine_negatives", "mine_triplets", "drift_psi", "source_filter",
        "corpus_checks", "source_checks", "interleave_order",
        "quantile_bucket", "token_shards", "moving_avg", "eval_retrieval",
        "eval_classifier", "winnow_prints", "clone_pairs",
        "decontam_winnow", "calibration",
        "pql_path", "ann_ivf_md5", "ann_ivfpq_md5", "media_audio",
        "zscore_normalize", "fuzzy_pairs", "pagerank", "cooccur_pmi",
        "media_phash", "media_neardup", "docsim_cosine", "ab_ztest",
        "media_audio_features", "text_html", "media_scenes",
        "pql_nested", "pql_semi", "pql_outer", "dedup_semantic_md5",
        "cluster_embed_md5", "quality_classify_md5", "media_probe_meta",
        "embed_quantize", "ann_int8",
        "pql_burnrate", "ann_pq_md5", "text_bpe_fixed",
        "journey_default_rate",
        "profile_sketch_md5", "profile_quantiles_md5", "profile_cms",
        "rollup_distinct", "url_curate",
    ) if n in QUERIES]

    # warm the JVM + parquet footers, and spin up the Python worker
    # pool (daemon + Arrow channel startup is deployment cost, not
    # query cost — on a real cluster workers are long-lived)
    try:
        QUERIES["group_agg"](spark, sf_dir).count()
        from pyspark.sql import functions as F
        spark.range(64).select(
            F.pandas_udf(lambda s: s * 2, "long")(F.col("id"))).count()
    except Exception as e:
        print(f"# warmup failed (continuing): {e}", file=sys.stderr)

    # leading-edge load gate: the end-of-run retime below cannot see
    # load that subsides MID-run (see clean_stamp docstring)
    ref_key = "dedup_exact"
    ref_retime_pre = (_ref_retime(spark, QUERIES, ref_key, sf_dir,
                                  warm_reps=10)
                      if ref_key in QUERIES else None)

    times, failed, mid_retimes, loadavg1_per_key = run_headline(
        spark, QUERIES, headline, sf_dir, ref_key)

    # load indicator (r8 verdict "what's wrong #1": a loaded-box rerun
    # silently overwrote the clean artifact and the round-over-round
    # comparison mixed them).  Record the 1/5/15-min load averages and
    # a RE-TIMED stable reference key at the END of the run — if
    # ref_key_retime disagrees materially with queries[ref], the box
    # was loaded mid-run and the artifact should not be compared.
    # median of 5 (in _ref_retime): the r11 host episode showed
    # per-job latency jitter spanning 0.24-0.47 s — a single retime
    # can sample the fast tail and stamp a still-degraded run clean
    ref_retime = (_ref_retime(spark, QUERIES, ref_key, sf_dir)
                  if ref_key in times else None)

    probe_post = round(single_thread_probe(), 3)
    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_total_time",
        # a partially-failed run must never read as a FASTER run:
        # value is null unless every headline query succeeded
        "value": None if failed else total,
        "unit": "sec",
        "methodology": "per-query warmup run, second run timed (steady-state)",
        "queries": times,
        "queries_ok": len(times),
        "queries_failed": len(failed),
        "sf": sf,
        "cpus": cpus,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "loadavg_pre": loadavg_pre,
        "ref_key": ref_key,
        "ref_key_retime": ref_retime,
        "ref_key_retime_pre": ref_retime_pre,
        "ref_key_retime_mid": mid_retimes,
        "loadavg1_per_key": loadavg1_per_key,
        "single_thread_probe_s": [probe_pre, probe_post],
        "clean": clean_stamp(probe_pre, probe_post, ref_retime,
                             loadavg_pre[0], sf,
                             ref_retime_pre_s=ref_retime_pre,
                             cpus=cpus,
                             mid_retimes_s=mid_retimes),
    }
    if failed:
        out["failed"] = failed
        out["partial_total"] = total
    # the driver snapshots stdout with a bounded tail, which truncated
    # the per-query dict (85/144 keys survived in BENCH_r07) — ALSO
    # write the full artifact to a file the driver can snapshot whole
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_full.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except OSError as e:
        print(f"# BENCH_full.json write failed: {e}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
