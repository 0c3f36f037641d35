"""Deduplication operators for training-data pipelines, designed for
the 100 TB regime: no O(n²) comparisons — candidate generation is
always a bucket join (exact hash, LSH band, or simhash band), with an
optional exact-similarity verify pass on candidates only.

* exact_dedup        — hash-groupBy keep-first (one shuffle)
* minhash_lsh_pairs  — word-shingle MinHash signatures → banded LSH
                       bucket join → Jaccard verify (all JVM-side:
                       higher-order array functions); the bipartite
                       form pairs a new batch against a corpus
* simhash_pairs      — 64-bit SimHash → band bucket join → hamming
                       verify via bit_count(xor)
* ngram_jaccard_pairs— exact n-gram Jaccard over a bounded candidate
                       join (same-key blocking)

The MinHash and SimHash operators take ``hash_fn``, which picks the
hash family and nothing else — the plan shape is the same for both:

* ``"xxhash64"`` (default) — the cheapest JVM hash; 64-bit SimHash.
* ``"md5"``      — every hash is the 60-bit dual-dialect md5 prefix
                   (:func:`pythonql_spark.operators.text.md5_prefix_int`)
                   of a deterministic string, so the whole pipeline is
                   reproducible bit-for-bit in DuckDB
                   (``minhash_pairs_oracle_sql``,
                   ``minhash_bipartite_oracle_sql``,
                   ``simhash_pairs_oracle_sql``); 60-bit SimHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonql_spark.operators.text import fingerprint, md5_prefix_int

from pythonql_spark.helpers import local_rows_df
from pythonql_spark.sources.catalog import fan_out_small


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id_col, dup_count): the min id per normalized-text
    fingerprint with its duplicate count — join back on ``id_col`` (or
    semi-join) to materialize surviving full rows.  One shuffle: a
    groupBy on the fingerprint hash whose min/count aggregates are
    map-side combined (a window row_number would need a full sort per
    key; keeping whole rows here would carry text through the
    shuffle)."""
    fp = F.expr(fingerprint(text_col))
    return (df.withColumn("__fp", fp)
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count"))
            .drop("__fp"))


def word_ngrams(text_col: str, n: int = 3) -> str:
    """Word n-gram shingles as an expression (JVM higher-order fns)."""
    w = f"split(trim(lower({text_col})), '\\\\s+')"
    return (f"CASE WHEN size({w}) < {n} THEN array(concat_ws(' ', {w})) "
            f"ELSE transform(sequence(1, size({w}) - {n} + 1), "
            f"i -> concat_ws(' ', slice({w}, i, {n}))) END")


def _bucket_pairs(buckets: DataFrame, key_cols: list[str],
                  max_bucket_size: int,
                  elem_struct: str, pair_expr: str,
                  oversize: str = "star") -> DataFrame:
    """Shared LSH bucket→pairs step: ONE shuffle (groupBy bucket key,
    map-side partial collect), size-capped, pairs generated in-bucket.

    Replaces the window-count + self-join shape (shuffle+sort, then a
    second shuffle for the join) with a single aggregation; the cap
    bounds in-bucket pair generation to max_bucket_size²/2.

    Buckets LARGER than ``max_bucket_size`` are the mass-duplicated
    content a dedup pass most needs to catch, so they are never
    silently dropped: with ``oversize="star"`` (default) an oversize
    bucket emits linear star pairs — its min element paired with every
    other member — which is exactly enough for the downstream
    connected-components stage to merge the whole bucket into one
    cluster, at |bucket| − 1 pairs instead of |bucket|²/2.
    ``oversize="drop"`` restores the historical drop (candidate-pair
    recall analysis only; use :func:`lsh_bucket_report` to see what a
    cap would discard)."""
    grouped = (buckets
               .groupBy(*key_cols)
               .agg(F.expr(f"array_sort(collect_list({elem_struct}))")
                    .alias("xs"))
               .filter(F.size("xs") >= 2))
    all_pairs = F.expr(
        "flatten(transform(sequence(1, size(xs) - 1), "
        f"j -> transform(sequence(0, j - 1), i -> {pair_expr})))")
    if oversize == "star":
        # transform(array(0), i -> ...) binds i = 0 (the sorted
        # bucket's min element) for the reused pair_expr lambda body.
        star = F.expr(
            "flatten(transform(array(0), i -> "
            f"transform(sequence(1, size(xs) - 1), j -> {pair_expr})))")
        pairs = F.when(F.size("xs") <= max_bucket_size,
                       all_pairs).otherwise(star)
    else:
        grouped = grouped.filter(F.size("xs") <= max_bucket_size)
        pairs = all_pairs
    return (grouped.select(F.explode(pairs).alias("p"))
            .select("p.*"))


def lsh_bucket_report(buckets: DataFrame, key_cols: list[str],
                      max_bucket_size: int,
                      id_col: str = "id") -> DataFrame:
    """Observability for the bucket-size guard (the no-silent-caps
    rule): one row per OVERSIZE bucket — its key, member count, and
    min/max member ids — so a pipeline can log what the cap demotes to
    star pairing (or would drop under ``oversize="drop"``).  Pure
    aggregation (count + min + max), no collect_list: safe even when a
    degenerate bucket holds millions of members."""
    return (buckets.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(id_col).alias("min_id"),
                 F.max(id_col).alias("max_id"))
            .filter(F.col("n") > max_bucket_size))


def minhash_bucket_report(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", *,
                          num_hashes: int = 64, bands: int = 16,
                          ngram: int = 3,
                          max_bucket_size: int = 500) -> DataFrame:
    """(band, h, n, min_id, max_id) for every MinHash band bucket
    exceeding ``max_bucket_size`` — the dropped-bucket report for
    :func:`minhash_lsh_pairs` and the bipartite/index paths."""
    return lsh_bucket_report(
        _minhash_band_buckets(df, id_col, text_col,
                              num_hashes, bands, ngram),
        ["band", "h"], max_bucket_size)


def _simhash_band_buckets(df: DataFrame, id_col: str, text_col: str,
                          band_bits: int | None,
                          hash_fn: str) -> DataFrame:
    """(id, sh, band, v): banded SimHash bucket keys — ONE shared
    banding (simhash_pairs and simhash_bucket_report both use it, so
    the observability surface can never drift from the operator)."""
    bits = 60 if hash_fn == "md5" else 64
    if band_bits is None:
        band_bits = 15 if hash_fn == "md5" else 16
    n_bands = bits // band_bits
    sim = simhash_df(df, id_col, text_col, bits, hash_fn)
    return (sim.select(
        "id", "sh",
        F.explode(F.expr(
            f"transform(sequence(0, {n_bands - 1}), "
            f"b -> struct(b as band, "
            f"shiftright(sh, b * {band_bits}) & {(1 << band_bits) - 1} as v))"
        )).alias("bk")).select("id", "sh", "bk.band", "bk.v"))


def simhash_bucket_report(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", *,
                          band_bits: int | None = None,
                          max_bucket_size: int = 500,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """(band, v, n, min_id, max_id) for oversize SimHash band buckets
    — the dropped-bucket report for :func:`simhash_pairs`."""
    banded = _simhash_band_buckets(df, id_col, text_col, band_bits,
                                   hash_fn).drop("sh")
    return lsh_bucket_report(banded, ["band", "v"], max_bucket_size)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", *,
                      num_hashes: int = 64, bands: int = 16,
                      ngram: int = 3,
                      jaccard_threshold: float | None = 0.5,
                      max_bucket_size: int = 500,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) via banded MinHash
    LSH, optionally verified with exact n-gram Jaccard.  ``hash_fn``
    picks the hash family (see the module docstring); ``"md5"`` is
    mirrored by :func:`minhash_pairs_oracle_sql`.

    Plan shape: scan → explode shingles → hash each shingle ONCE →
    groupBy(id) with num_hashes codegen'd min-aggregates (map-side
    partial agg: the shuffle carries id → 64 longs, not text) →
    band hashes → ONE shuffle on (band, band_hash) → in-bucket pairs.
    Candidate count is data-dependent, never O(n²).

    This shape exists because the tempting alternative — nested
    higher-order array functions computing the signature in one
    expression — is interpreted (no whole-stage codegen) and Catalyst's
    projection collapse re-inlines the shingle construction into every
    band lambda: ~1000 re-evaluations per row, 100× slower.

    ``max_bucket_size`` is the skew guard: degenerate buckets
    (boilerplate/empty shingle sets hashing together) otherwise
    produce quadratic within-bucket pairs — the classic LSH-dedup
    failure at corpus scale.  Oversize buckets fall back to linear
    star pairing (min member vs the rest; see :func:`_bucket_pairs`)
    so mass-duplicated content still fully clusters; use
    :func:`minhash_bucket_report` to see which buckets the cap
    demoted."""
    # fan out a small-file input: the shingle/hash/explode head would
    # otherwise run at the scan's split count (serial for one small
    # file).  One fan-out covers the signature head and both
    # jaccard-verify gram builds.
    df = fan_out_small(df)
    buckets = _minhash_band_buckets(df, id_col, text_col,
                                    num_hashes, bands, ngram, hash_fn)
    pairs = _bucket_pairs(
        buckets, ["band", "h"], max_bucket_size,
        elem_struct="id",
        pair_expr="struct(xs[i] as id_a, xs[j] as id_b)").distinct()
    if jaccard_threshold is None:
        return pairs
    return _jaccard_verify(pairs, df, df, id_col, text_col, ngram,
                           jaccard_threshold, hash_fn)


def _gh_list(text_col: str, ngram: int,
             hash_fn: str = "xxhash64") -> str:
    """Shingle hashes without building shingle STRINGS: hash each word
    once, then a shingle hash is a hash over n consecutive word hashes
    — xxhash64 over the longs, or (``hash_fn="md5"``) the md5 prefix
    of their ':'-joined decimal strings, mirrored by
    :func:`_gh_list_md5_duck`.  The outer single-element
    transform(array(..)) binds the word-hash array ONCE as a lambda
    variable — without it, projection collapse re-inlines the
    split+hash pass into every element_at (the HOF re-evaluation
    trap; ~8× slower)."""
    elems = [f"element_at(ws, least(i + {j}, size(ws)))"
             for j in range(ngram)]
    if hash_fn == "md5":
        word_h = md5_prefix_int("w", 15, "spark")
        parts = ", ".join(f"cast({e} as string)" for e in elems)
        shingle_h = md5_prefix_int(f"concat_ws(':', {parts})", 15, "spark")
    elif hash_fn == "xxhash64":
        word_h = "xxhash64(w)"
        shingle_h = f"xxhash64({', '.join(elems)})"
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
    wh = f"transform(split(trim(lower({text_col})), '\\\\s+'), w -> {word_h})"
    return (f"transform(array({wh}), ws -> "
            f"transform(sequence(1, greatest(size(ws) - {ngram - 1}, 1)), "
            f"i -> {shingle_h}))[0]")


def _check_bands(num_hashes: int, bands: int) -> None:
    """bands must evenly divide num_hashes — a remainder would
    silently discard the trailing min-hashes (weaker recall than the
    requested parameters), and bands > num_hashes yields rows of
    zero-hash bands (malformed SQL)."""
    if bands <= 0 or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must be positive and divide "
            f"num_hashes={num_hashes} evenly")


def _minhash_band_buckets(df: DataFrame, id_col: str, text_col: str,
                          num_hashes: int, bands: int,
                          ngram: int,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """(id, band, h): banded MinHash bucket keys per doc — explode
    shingles, hash once, num_hashes codegen'd min-aggregates (map-side
    partial agg: the shuffle carries id → 64 longs, not text).  The
    seeded min-hash and band hash are xxhash64 with a seed, or md5
    prefixes of '{seed}#{gh}' and of the ','-joined band mins."""
    _check_bands(num_hashes, bands)
    r = num_hashes // bands
    shingles = (df.select(F.col(id_col).alias("id"),
                          F.explode(F.expr(_gh_list(text_col, ngram,
                                                    hash_fn)))
                           .alias("gh")))
    if hash_fn == "md5":
        def seeded(i: int) -> str:
            return md5_prefix_int(f"concat('{i}#', cast(gh as string))",
                                  15, "spark")

        def band_h(ms: list[str]) -> str:
            return md5_prefix_int(
                "concat_ws(',', " + ", ".join(
                    f"cast({m} as string)" for m in ms) + ")", 15, "spark")
    else:
        def seeded(i: int) -> str:
            return f"xxhash64(gh, {i})"

        def band_h(ms: list[str]) -> str:
            return "xxhash64(" + ", ".join(ms) + ", 777)"
    sig = shingles.groupBy("id").agg(
        *[F.min(F.expr(seeded(i))).alias(f"m{i}")
          for i in range(num_hashes)])
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.expr(band_h([f"m{b * r + j}" for j in range(r)]))
                 .alias("h"))
        for b in range(bands)])
    return (sig.select("id", F.explode(band_arr).alias("bk"))
            .select("id", "bk.band", "bk.h"))


def _jaccard_verify(pairs: DataFrame, df_a: DataFrame, df_b: DataFrame,
                    id_col: str, text_col: str, ngram: int,
                    threshold: float,
                    hash_fn: str = "xxhash64") -> DataFrame:
    """Exact-Jaccard verify pass on candidates only, over the HASHED
    shingle sets (set intersection is hash-collision-insensitive at
    60-64 bits, and longs skip rebuilding shingle strings)."""
    grams = F.expr(
        f"array_distinct({_gh_list(text_col, ngram, hash_fn)})")
    a = df_a.select(F.col(id_col).alias("id_a"), grams.alias("grams_a"))
    b = df_b.select(F.col(id_col).alias("id_b"), grams.alias("grams_b"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard", F.expr(
                "cast(size(array_intersect(grams_a, grams_b)) as double) / "
                "cast(size(array_union(grams_a, grams_b)) as double)"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _capped_corpus_buckets(cb: DataFrame,
                           max_bucket_size: int) -> DataFrame:
    """Corpus band buckets grouped to (band, h, xs, bucket_n): xs is
    the bucket's ``max_bucket_size`` SMALLEST ids (sorted, so the
    representative set is deterministic), ``bucket_n`` the true size —
    oversize buckets are truncated to representatives, never dropped
    (probing any representative of a mass-duplicated cluster answers
    the membership question)."""
    return (cb.groupBy("band", "h")
            .agg(F.expr("array_sort(collect_list(id))").alias("xs0"))
            .select("band", "h",
                    F.expr(f"slice(xs0, 1, {max_bucket_size})").alias("xs"),
                    F.size("xs0").alias("bucket_n")))


def minhash_lsh_pairs_bipartite(new: DataFrame, corpus: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text", *,
                                num_hashes: int = 64, bands: int = 16,
                                ngram: int = 3,
                                jaccard_threshold: float | None = 0.5,
                                max_bucket_size: int = 500,
                                hash_fn: str = "xxhash64") -> DataFrame:
    """Cross-corpus near-dup pairs (id_a from ``new``, id_b from
    ``corpus``): the incremental-ingest primitive — a day's batch is
    checked against the accumulated corpus without ever re-pairing
    the corpus with itself.  ``hash_fn="md5"`` is mirrored by
    :func:`minhash_bipartite_oracle_sql`.

    The corpus side groups into capped bucket arrays (ONE shuffle of
    id+band keys, never text); the new side — typically orders of
    magnitude smaller — joins those buckets on (band, h) and explodes.
    Cost scales with |new| + |corpus|, not their product.

    An oversize corpus bucket keeps its ``max_bucket_size`` smallest
    ids as representatives instead of being dropped: for the "is this
    new doc a duplicate of the corpus?" question, matching ANY
    representative of a mass-duplicated cluster suffices, and the
    probe cost stays bounded."""
    # the signature heads are the heavy map work on both sides, and
    # both exchange right after (see minhash_lsh_pairs)
    new, corpus = fan_out_small(new), fan_out_small(corpus)
    nb = _minhash_band_buckets(new, id_col, text_col,
                               num_hashes, bands, ngram, hash_fn)
    cb = _minhash_band_buckets(corpus, id_col, text_col,
                               num_hashes, bands, ngram, hash_fn)
    grouped = _capped_corpus_buckets(cb, max_bucket_size)
    pairs = (nb.join(grouped, ["band", "h"])
             .select(F.col("id").alias("id_a"),
                     F.explode("xs").alias("id_b"))
             .distinct())
    if jaccard_threshold is None:
        return pairs
    return _jaccard_verify(pairs, new, corpus, id_col, text_col, ngram,
                           jaccard_threshold, hash_fn)


def build_minhash_index(corpus: DataFrame, table: str,
                        id_col: str = "doc_id", text_col: str = "text", *,
                        num_hashes: int = 64, bands: int = 16,
                        ngram: int = 3, n_buckets: int = 64,
                        max_bucket_size: int = 500) -> None:
    """Persist the corpus's grouped LSH band buckets as a table
    hash-bucketed on the probe key (band, h).  Signatures are computed
    ONCE per corpus instead of once per incremental batch, and because
    the storage bucketing matches the probe join key, every later
    `probe_minhash_index` join reads the index with NO shuffle on the
    corpus side — the amortization that matters when a 100 TB corpus
    is probed daily by small batches."""
    from pythonql_spark.sources import write_bucketed
    cb = _minhash_band_buckets(corpus, id_col, text_col,
                               num_hashes, bands, ngram)
    grouped = _capped_corpus_buckets(cb, max_bucket_size)
    write_bucketed(grouped, table, ["band", "h"], n_buckets=n_buckets)


def probe_minhash_index(new: DataFrame, index_table: str,
                        corpus: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text", *,
                        num_hashes: int = 64, bands: int = 16,
                        ngram: int = 3,
                        jaccard_threshold: float | None = 0.5) -> DataFrame:
    """Cross pairs of ``new`` against a persisted
    :func:`build_minhash_index` table (same band parameters).  Only
    the (small) new side shuffles to meet the index's bucketing;
    ``corpus`` is needed just for the exact-Jaccard verify texts."""
    spark = new.sparkSession
    grouped = spark.table(index_table)
    nb = _minhash_band_buckets(new, id_col, text_col,
                               num_hashes, bands, ngram)
    pairs = (nb.join(grouped, ["band", "h"])
             .select(F.col("id").alias("id_a"),
                     F.explode("xs").alias("id_b"))
             .distinct())
    if jaccard_threshold is None:
        return pairs
    return _jaccard_verify(pairs, new, corpus, id_col, text_col, ngram,
                           jaccard_threshold)


def dedup_increment(new: DataFrame, corpus: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text", *,
                    jaccard_threshold: float = 0.5,
                    **lsh_kw) -> DataFrame:
    """Incremental dedup for continuously-ingested corpora: rows of
    ``new`` that are near-duplicates neither of ``corpus`` nor of an
    earlier (min-id) row within the batch itself.  Within-batch dedup
    runs first so the (more expensive) cross check only scores batch
    survivors."""
    within = dedup_keep(
        new, minhash_lsh_pairs(new, id_col, text_col,
                               jaccard_threshold=jaccard_threshold,
                               **lsh_kw),
        id_col)
    cross = minhash_lsh_pairs_bipartite(
        within, corpus, id_col, text_col,
        jaccard_threshold=jaccard_threshold, **lsh_kw)
    dupes = cross.select(F.col("id_a").alias(id_col)).distinct()
    return within.join(dupes, id_col, "left_anti")


def simhash_df(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", bits: int = 64,
               hash_fn: str = "xxhash64") -> DataFrame:
    """(id, sh): SimHash per doc.  Explode words → hash each word
    ONCE → per-bit ±1 sums as codegen'd aggregates (map-side partial
    agg), bit b set iff its sum is positive.  The obvious
    single-expression nested-aggregate form re-hashes every word per
    bit, interpreted — ~100× slower.

    ``hash_fn="md5"`` uses the dual-dialect 60-bit word hash (first
    15 md5 hex digits) so the whole pairs pipeline is reproducible in
    DuckDB — the value-oracle path; xxhash64 (64 bits) stays the
    cheap production default."""
    if hash_fn == "md5":
        bits = min(bits, 60)
        wexpr = md5_prefix_int("w", 15, "spark")
    else:
        wexpr = "xxhash64(w)"
    words = (df.select(F.col(id_col).alias("id"),
                       F.explode(F.expr(
                           f"array_distinct(split(trim(lower({text_col})), '\\\\s+'))"
                       )).alias("w"))
             .select("id", F.expr(wexpr).alias("wh")))
    per_bit = words.groupBy("id").agg(
        *[F.sum(F.expr(f"int(shiftright(wh, {b}) & 1) * 2 - 1")).alias(f"s{b}")
          for b in range(bits)])
    sh = " + ".join(
        f"shiftleft(cast(s{b} > 0 as bigint), {b})" for b in range(bits))
    return per_bit.select("id", F.expr(sh).alias("sh"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", *,
                  band_bits: int | None = None,
                  max_hamming: int = 3,
                  max_bucket_size: int = 500,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: band the hash into bits/band_bits
    buckets (a pair within hamming ≤ bands-1 shares ≥1 exact band),
    ONE shuffle on (band, band_value), verify with bit_count(xor).
    ``max_bucket_size`` guards degenerate buckets (see
    minhash_lsh_pairs).  ``hash_fn="md5"`` is the 60-bit
    oracle-portable path (4×15-bit bands by default)."""
    df = fan_out_small(df)
    banded = _simhash_band_buckets(df, id_col, text_col, band_bits,
                                   hash_fn)
    return (_bucket_pairs(
                banded, ["band", "v"], max_bucket_size,
                elem_struct="struct(id, sh)",
                pair_expr=("struct(xs[i].id as id_a, xs[j].id as id_b, "
                           "bit_count(xs[i].sh ^ xs[j].sh) as hamming)"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


DRIVER_CC_LIMIT = 1_000_000


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", *,
                         nodes: DataFrame | None = None,
                         max_iter: int = 25,
                         driver_limit: int = DRIVER_CC_LIMIT) -> DataFrame:
    """(id, comp): connected components over an undirected pair list —
    the pairs→clusters stage of near-dup dedup (cluster id = min
    member id).  ``nodes`` optionally adds isolated vertices (comp =
    own id) so the output covers a whole corpus.

    Distributed label propagation with pointer jumping: each round
    (a) pulls the min label across neighbors (one join + one groupBy)
    and (b) jumps labels through their own assignment
    (comp ← comp[comp], one self-join), so convergence is
    O(log diameter) rounds, not O(diameter) — the property that makes
    this safe on 100 TB corpora where a boilerplate chain could
    otherwise string thousands of docs together.  Each round ends in
    an eager localCheckpoint: lineage stays O(1) and the convergence
    count reuses the checkpointed result instead of recomputing the
    whole loop.  Near-dup graphs at threshold ≥0.5 are mostly tiny
    cliques, so real corpora converge in 2–3 rounds.

    Parity note: the reference has no graph stage (single-node dedup
    never needs one); this is a required scale extension."""
    # checkpoint the one-directional edge list FIRST: the pairs DAG is
    # typically the expensive part (LSH + verify join), and building
    # the symmetric union before materializing would recompute it
    # twice — measured 2× the whole candidate-generation cost at 80k
    # docs / 665k pairs.
    e = pairs.select(F.col(id_a).cast("bigint").alias("u"),
                     F.col(id_b).cast("bigint").alias("v"))
    e = e.localCheckpoint(eager=True)
    # BOUNDED driver fast path: LSH candidate lists are usually far
    # smaller than the corpus (a few pairs per duplicate), and each
    # distributed round costs 2+ jobs + a checkpoint — 1.9s of pure
    # overhead for 256 pairs at sf0.1.  If every edge fits under
    # ``driver_limit`` (<= ~16 MB of longs at the default), union-find
    # on the driver in one pass; the distributed O(log d) loop below
    # remains the path for duplicate-heavy corpora.  Same bounded
    # contract as the IVF k-means training sample.
    # The emptiness probe rides the same bounded transfer (an empty
    # head IS the no-edges answer) — a separate limit(1).count() was
    # one whole extra job on every call.
    head = e.limit(max(driver_limit or 0, 0) + 1).toPandas()
    if len(head) == 0:
        # no edges: every node is its own component — skip the loop
        # (each round is 2+ jobs; a clean corpus / incremental probe
        # with no duplicates otherwise pays the full iteration floor)
        empty = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
        if nodes is not None:
            return (nodes.select(
                F.col(nodes.columns[0]).cast("bigint").alias("id"))
                .select("id", F.col("id").alias("comp")))
        return empty
    if driver_limit:
        if len(head) <= driver_limit:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for u, v in zip(head["u"].tolist(), head["v"].tolist()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # attach larger root under smaller: the root of a
                    # set is always its min member id
                    parent[max(ru, rv)] = min(ru, rv)
            # built exactly ONCE from the final union-find state: every
            # node seen in any edge (incl. self-loops) is in ``parent``
            comp = local_rows_df(pairs.sparkSession,
                                 [(x, find(x)) for x in parent],
                                 "id long, comp long")
            if nodes is not None:
                iso = (nodes.select(F.col(nodes.columns[0])
                                    .cast("bigint").alias("id"))
                       .join(comp.select("id"), "id", "left_anti")
                       .select("id", F.col("id").alias("comp")))
                return comp.union(iso)
            return comp
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    comp = edges.select("u").distinct().select(
        F.col("u").alias("id"), F.col("u").alias("comp"))
    if nodes is not None:
        iso = (nodes.select(F.col(nodes.columns[0]).cast("bigint").alias("id"))
               .join(comp.select("id"), "id", "left_anti")
               .select("id", F.col("id").alias("comp")))
    comp = comp.localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (edges.join(comp.withColumnRenamed("id", "v"), "v")
               .groupBy("u").agg(F.min("comp").alias("nbr_min")))
        stepped = (comp.join(nbr.withColumnRenamed("u", "id"), "id", "left")
                   .select("id", F.least("comp", "nbr_min").alias("comp")))
        jumped = (stepped.alias("s")
                  .join(comp.select(F.col("id").alias("comp"),
                                    F.col("comp").alias("parent")).alias("p"),
                        "comp", "left")
                  .select("id", F.least("comp", "parent").alias("comp"))
                  .localCheckpoint(eager=True))
        changed = (jumped.join(comp.withColumnRenamed("comp", "old"), "id")
                   .filter("comp != old").limit(1).count())
        comp = jumped
        if changed == 0:
            break
    return comp.union(iso) if nodes is not None else comp


def dedup_keep(df: DataFrame, pairs: DataFrame,
               id_col: str = "doc_id") -> DataFrame:
    """Deduplicated corpus: keep one doc (the min id) per near-dup
    cluster, pass isolated docs through untouched — one anti-join
    against the loser set (cluster members that are not the min).
    The loser set scales with the duplicate count, not the corpus;
    AQE turns the anti-join into a broadcast when it is small, and
    it stays a safe shuffle join on duplicate-heavy corpora."""
    comp = connected_components(pairs)
    losers = comp.filter("id != comp").select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(df: DataFrame, block_cols: list[str],
                        id_col: str = "doc_id", text_col: str = "text",
                        *, ngram: int = 2,
                        threshold: float = 0.3) -> DataFrame:
    """Exact word-ngram Jaccard over pairs within the same blocking
    key (never all-pairs).  Word lists are sorted-distinct so the
    intersect/union sizes are engine-portable."""
    # full width: the per-pair intersect/union work rides these
    # partitions through a broadcast self-join (no exchange re-spreads
    # it), and it is orders of magnitude heavier than the gram build
    df = fan_out_small(df, full=True)
    grams = F.expr(f"array_sort(array_distinct({word_ngrams(text_col, ngram)}))")
    side = df.select(F.col(id_col).alias("id"), grams.alias("grams"),
                     *[F.col(c) for c in block_cols])
    a, b = side.alias("a"), side.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond.append(F.col("a.id") < F.col("b.id"))
    return (a.join(b, on=cond)
            .withColumn("jaccard", F.expr(
                "cast(size(array_intersect(a.grams, b.grams)) as double) / "
                "cast((size(a.grams) + size(b.grams) - size(array_intersect(a.grams, b.grams))) as double)"))
            .filter(F.col("jaccard") >= threshold)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.round("jaccard", 6).alias("jaccard")))


def simhash_pairs_oracle_sql(*, id_col: str = "doc_id",
                             text_col: str = "text",
                             band_bits: int = 15,
                             max_hamming: int = 3,
                             max_bucket_size: int = 500,
                             table: str = "documents") -> str:
    """DuckDB mirror of ``simhash_pairs(hash_fn="md5")``: the same
    60-bit word hashes, per-bit ±1 votes, banding, bucket-size guard
    (all-pairs for in-cap buckets, star pairs for oversize) and
    hamming verify — bit-identical pairs."""
    bits = 60
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    sums = ", ".join(
        f"sum(((wh >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(bits))
    sh = " + ".join(
        f"(cast(s{b} > 0 as bigint) << {b})" for b in range(bits))
    return f"""
WITH words AS (
  SELECT {id_col} AS id,
         unnest(list_distinct(str_split_regex(trim(lower({text_col})),
                                              '\\s+'))) AS w
  FROM {table}),
wh AS (SELECT id, {md5_prefix_int("w", 15, "duck")} AS wh
       FROM words),
perbit AS (SELECT id, {sums} FROM wh GROUP BY id),
sh AS (SELECT id, cast({sh} as bigint) AS sh FROM perbit),
banded AS (
  SELECT id, sh, b AS band, (sh >> (b * {band_bits})) & {mask} AS v
  FROM sh, range({n_bands}) t(b)),
counts AS (SELECT band, v, count(*) AS n FROM banded GROUP BY 1, 2),
ok AS (SELECT banded.* FROM banded JOIN counts USING (band, v)
       WHERE n BETWEEN 2 AND {max_bucket_size}),
big AS (SELECT banded.* FROM banded JOIN counts USING (band, v)
        WHERE n > {max_bucket_size}),
bigmin AS (SELECT band, v, min(id) AS mid FROM big GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT id_a, id_b, hamming FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           cast(bit_count(xor(a.sh, b.sh)) as int) AS hamming
    FROM ok a JOIN ok b ON a.band = b.band AND a.v = b.v AND a.id < b.id
    UNION ALL
    SELECT m.mid AS id_a, b.id AS id_b,
           cast(bit_count(xor(ma.sh, b.sh)) as int) AS hamming
    FROM bigmin m
    JOIN big ma ON ma.band = m.band AND ma.v = m.v AND ma.id = m.mid
    JOIN big b  ON b.band = m.band AND b.v = m.v AND b.id > m.mid))
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


# ------------------------------- DuckDB mirrors of the md5 MinHash path

def _gh_list_md5_duck(text_col: str, ngram: int) -> str:
    """DuckDB mirror of ``_gh_list(..., hash_fn="md5")``."""
    wh = (f"list_transform(str_split_regex(trim(lower({text_col})), "
          f"'\\s+'), w -> {md5_prefix_int('w', 15, 'duck')})")
    parts = " || ':' || ".join(
        f"cast(ws[least(i + {j}, len(ws))] as varchar)"
        for j in range(ngram))
    inner = md5_prefix_int(f"({parts})", 15, "duck")
    return (f"(SELECT list_transform(range(1, greatest(len(ws) - "
            f"{ngram - 1}, 1) + 1), i -> {inner}) "
            f"FROM (SELECT {wh} AS ws) __t)")


def _minhash_oracle_parts(text_col: str, num_hashes: int, bands: int,
                          ngram: int) -> tuple[str, str, str, str]:
    """(gh, mins, bandsel, jac): the DuckDB shingle-hash list, seeded
    min aggregates, band structs and Jaccard expression that both
    md5 MinHash oracles share (mirrors :func:`_gh_list`,
    :func:`_minhash_band_buckets` and :func:`_jaccard_verify`)."""
    _check_bands(num_hashes, bands)
    r = num_hashes // bands
    gh = _gh_list_md5_duck(text_col, ngram)
    mins = ", ".join(
        "min(" + md5_prefix_int(f"(cast({i} as varchar) || '#' || "
                                f"cast(gh as varchar))", 15, "duck")
        + f") AS m{i}"
        for i in range(num_hashes))
    bandsel = ", ".join(
        f"struct_pack(band := {b}, h := " + md5_prefix_int(
            "(" + " || ',' || ".join(
                f"cast(m{b * r + j} as varchar)" for j in range(r))
            + ")", 15, "duck") + ")"
        for b in range(bands))
    jac = ("cast(len(list_filter(a.grams, x -> list_contains(b.grams, x))) as double) / "
           "cast(len(a.grams) + len(b.grams) "
           "- len(list_filter(a.grams, x -> list_contains(b.grams, x))) as double)")
    return gh, mins, bandsel, jac


def minhash_pairs_oracle_sql(*, id_col: str = "doc_id",
                             text_col: str = "text",
                             num_hashes: int = 16, bands: int = 8,
                             ngram: int = 3,
                             jaccard_threshold: float = 0.5,
                             max_bucket_size: int = 500,
                             table: str = "documents") -> str:
    """DuckDB mirror of ``minhash_lsh_pairs(hash_fn="md5")``."""
    gh, mins, bandsel, jac = _minhash_oracle_parts(
        text_col, num_hashes, bands, ngram)
    return f"""
WITH gl AS (SELECT {id_col} AS id, {gh} AS ghs FROM {table}),
sh AS (SELECT id, unnest(ghs) AS gh FROM gl),
sig AS (SELECT id, {mins} FROM sh GROUP BY id),
banded AS (
  SELECT id, bk.band AS band, bk.h AS h
  FROM (SELECT id, unnest([{bandsel}]) AS bk FROM sig)),
counts AS (SELECT band, h, count(*) AS n FROM banded GROUP BY 1, 2),
ok AS (SELECT banded.* FROM banded JOIN counts USING (band, h)
       WHERE n BETWEEN 2 AND {max_bucket_size}),
big AS (SELECT banded.* FROM banded JOIN counts USING (band, h)
        WHERE n > {max_bucket_size}),
bigmin AS (SELECT band, h, min(id) AS mid FROM big GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b
    FROM ok a JOIN ok b ON a.band = b.band AND a.h = b.h AND a.id < b.id
    UNION ALL
    SELECT m.mid AS id_a, b.id AS id_b
    FROM bigmin m
    JOIN big b ON b.band = m.band AND b.h = m.h AND b.id > m.mid)),
side AS (SELECT id, list_distinct(ghs) AS grams FROM gl)
SELECT c.id_a, c.id_b, round({jac}, 6) AS jaccard
FROM cand c JOIN side a ON a.id = c.id_a JOIN side b ON b.id = c.id_b
WHERE {jac} >= {jaccard_threshold}"""


def minhash_bipartite_oracle_sql(*, new_where: str, corpus_where: str,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 num_hashes: int = 16, bands: int = 8,
                                 ngram: int = 3,
                                 jaccard_threshold: float = 0.5,
                                 max_bucket_size: int = 500,
                                 table: str = "documents") -> str:
    """DuckDB mirror of ``minhash_lsh_pairs_bipartite(hash_fn="md5")``."""
    gh, mins, bandsel, jac = _minhash_oracle_parts(
        text_col, num_hashes, bands, ngram)
    return f"""
WITH gl AS (SELECT {id_col} AS id, ({new_where}) AS isnew, {gh} AS ghs
            FROM {table} WHERE ({new_where}) OR ({corpus_where})),
sh AS (SELECT id, isnew, unnest(ghs) AS gh FROM gl),
sig AS (SELECT id, isnew, {mins} FROM sh GROUP BY id, isnew),
banded AS (
  SELECT id, isnew, bk.band AS band, bk.h AS h
  FROM (SELECT id, isnew, unnest([{bandsel}]) AS bk FROM sig)),
cork AS (SELECT band, h, id,
                row_number() OVER (PARTITION BY band, h ORDER BY id) AS rn
         FROM banded WHERE NOT isnew),
cok AS (SELECT band, h, id FROM cork WHERE rn <= {max_bucket_size}),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM banded a JOIN cok c ON a.band = c.band AND a.h = c.h
  WHERE a.isnew),
side AS (SELECT id, isnew, list_distinct(ghs) AS grams FROM gl)
SELECT cd.id_a, cd.id_b, round({jac}, 6) AS jaccard
FROM cand cd JOIN side a ON a.id = cd.id_a JOIN side b ON b.id = cd.id_b
WHERE {jac} >= {jaccard_threshold}"""


def merge_components(labels: DataFrame, new_pairs: DataFrame,
                     id_a: str = "id_a", id_b: str = "id_b", *,
                     max_iter: int = 25) -> DataFrame:
    """Incrementally fold NEW duplicate pairs into an existing
    (id, comp) assignment — the maintenance algebra of continuous
    dedup: a standing corpus's components live as a table; each
    ingest batch contributes its cross/within pairs; the merge runs
    connected components over the STAR-COMPRESSED labels (one
    node→root edge per node, diameter ≤ 2) plus the new edges — cost
    ∝ |labels| + |new pairs| with O(log d) rounds on the NEW
    structure only, never a recompute over the original pair list
    (which at 100 TB is long gone).  Components may only ever merge
    (cluster id = min member id stays the convention), so repeated
    application is order-insensitive: merging batches one at a time
    equals merging their union (semigroup algebra — parity-tested)."""
    star = labels.select(F.col("id").alias(id_a),
                         F.col("comp").alias(id_b))
    edges = star.unionByName(
        new_pairs.select(F.col(id_a), F.col(id_b)))
    return connected_components(edges, id_a, id_b, max_iter=max_iter)
