"""Exact duplicate-span (substring) deduplication.

"Deduplicating Training Data Makes Language Models Better" (Lee et
al., 2021, public) removes verbatim repeated substrings ACROSS
documents — boilerplate, licenses, quoted chunks — that whole-document
dedup can't touch.  This module implements the word-k-gram variant:

* :func:`dup_span_stats` — per-document count of corpus-duplicated
  k-grams and the fraction of token positions they cover (the usual
  filter signal);
* :func:`strip_dup_spans` — rewrite each document dropping tokens
  covered by a duplicated k-gram, keeping the span intact only in its
  canonical document (min doc id), so exactly one copy survives.

Scale shape
-----------
Documents k-gram-ize via narrow array expressions; each k-gram leaves
the scan as a 60-bit hash (md5-derived, dual-dialect — never the
text).  The global occurrence count is ONE groupBy on the hash
(map-side combined); duplicated hashes join back hash-keyed.  Coverage
is per-doc arithmetic on (start) positions.  Shuffles carry
(hash, doc, start) longs only; nothing is collected.

Reference parity: not in pythonql — LLM-training-data extension
(brief: dedup beyond whole-document granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonql_spark.operators.text import md5_prefix_int, words


def _kgram_rows(df: DataFrame, k: int, id_col: str,
                text_col: str, hex_digits: int = 15) -> DataFrame:
    """(id, start, h): one row per k-gram occurrence; start is
    1-based token position.  ``h`` is the dual-dialect md5 prefix of
    the k-gram (k-gram text never leaves the scan): 60 bits by
    default, winnowing passes 9 digits (36 bits)."""
    w = words(f"lower({text_col})")
    gram = f"concat_ws(' ', slice(w, i, {k}))"
    # NB: Spark's sequence(1, 0) is a DESCENDING [1, 0], not empty —
    # docs shorter than k tokens must yield an empty k-gram array
    kg = (f"transform(array({w}), w -> "
          f"CASE WHEN size(w) < {k} THEN array() "
          f"ELSE transform(sequence(1, size(w) - {k} + 1), "
          f"i -> {md5_prefix_int(gram, hex_digits, 'spark')}) END"
          f")[0]")
    return (df.select(F.col(id_col), F.posexplode(F.expr(kg)))
            .select(F.col(id_col), (F.col("pos") + 1).alias("start"),
                    F.col("col").alias("h")))


def _doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.expr(f"cast(size({words(f'lower({text_col})')}) as bigint)")
        .alias("n_tokens"))


def dup_span_stats(df: DataFrame, k: int = 8, *,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document duplicated-span statistics.

    Returns (id_col, n_tokens, n_dup_kgrams, dup_token_frac) for every
    document: how many of its k-grams occur more than once in the
    WHOLE corpus (across or within documents), and the fraction of its
    token positions covered by at least one such k-gram.
    """
    # no scan fan-out here (unlike winnow_fingerprints below): the
    # k-gram head is a short explode that parallelizes through its own
    # groupBy shuffle, and the checkpoint pins the extra exchange's
    # cost onto every consumer — interleaved A/B measured the fanned
    # form 1.24-1.28x SLOWER on the final r11 tree (reverted r12)
    kg = _kgram_rows(df, k, id_col, text_col)
    # k-gram-ize once, use twice; under AQE the checkpoint runs any
    # shuffle stage in ``df`` at call time (sampling.global_index)
    kg = kg.localCheckpoint(eager=False)
    dup_h = (kg.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
             .filter("c > 1").select("h"))
    dup = kg.join(dup_h, "h")
    per_doc = (dup.select(id_col, F.explode(
        F.expr(f"sequence(start, start + {k} - 1)")).alias("p"))
        .groupBy(id_col)
        .agg(F.expr("cast(count(DISTINCT p) as bigint)").alias("cov")))
    n_dup = (dup.groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_kgrams")))
    return (_doc_lengths(df, id_col, text_col)
            .join(n_dup, id_col, "left")
            .join(per_doc, id_col, "left")
            .select(F.col(id_col), F.col("n_tokens"),
                    F.expr("coalesce(n_dup_kgrams, 0)")
                    .alias("n_dup_kgrams"),
                    F.expr("cast(round(coalesce(cov, 0) / "
                           "cast(greatest(n_tokens, 1) as double), 6) "
                           "as double)").alias("dup_token_frac")))


def dup_span_stats_oracle_sql(k: int = 8, *, id_col: str = "doc_id",
                              text_col: str = "text",
                              table: str = "documents") -> str:
    """DuckDB mirror of :func:`dup_span_stats`."""
    w = words(f"lower({text_col})", "duck")
    kg_str = f"array_to_string(list_slice(w, i, i + {k} - 1), ' ')"
    return f"""
WITH sp AS (SELECT {id_col}, {w} AS w FROM {table}),
kg AS (
  SELECT {id_col}, unnest(list_transform(
    range(1, greatest(len(w) - {k} + 1, 0) + 1),
    i -> {{'s': i, 'h': {md5_prefix_int(kg_str, 15, 'duck')}}})) AS u
  FROM sp),
kg2 AS (SELECT {id_col}, u.s AS start, u.h AS h FROM kg),
dup_h AS (SELECT h FROM kg2 GROUP BY h HAVING count(*) > 1),
dup AS (SELECT {id_col}, start FROM kg2 JOIN dup_h USING (h)),
cov AS (
  SELECT {id_col}, count(DISTINCT start + i) AS cov
  FROM dup, range(0, {k}) AS r(i) GROUP BY {id_col}),
nd AS (SELECT {id_col}, count(*) AS n_dup_kgrams FROM dup
       GROUP BY {id_col}),
dl AS (SELECT {id_col}, cast(len(w) as bigint) AS n_tokens FROM sp)
SELECT dl.{id_col}, n_tokens,
       cast(coalesce(n_dup_kgrams, 0) as bigint) AS n_dup_kgrams,
       cast(round(coalesce(cov, 0) /
            cast(greatest(n_tokens, 1) as double), 6) as double)
       AS dup_token_frac
FROM dl LEFT JOIN nd USING ({id_col}) LEFT JOIN cov USING ({id_col})"""


def strip_dup_spans_oracle_sql(k: int = 8, *, id_col: str = "doc_id",
                               text_col: str = "text",
                               table: str = "documents") -> str:
    """DuckDB mirror of :func:`strip_dup_spans` (doc id, rebuilt text,
    n_removed_tokens)."""
    w = words(f"lower({text_col})", "duck")
    kg_str = f"array_to_string(list_slice(w, i, i + {k} - 1), ' ')"
    return f"""
WITH sp AS (SELECT {id_col}, {w} AS w FROM {table}),
kg AS (
  SELECT {id_col}, unnest(list_transform(
    range(1, greatest(len(w) - {k} + 1, 0) + 1),
    i -> {{'s': i, 'h': {md5_prefix_int(kg_str, 15, 'duck')}}})) AS u
  FROM sp),
kg2 AS (SELECT {id_col}, u.s AS start, u.h AS h FROM kg),
holders AS (
  SELECT h, min({id_col}) AS holder FROM kg2
  GROUP BY h HAVING count(*) > 1),
rm AS (
  SELECT DISTINCT kg2.{id_col}, kg2.start + r.i AS pos
  FROM kg2 JOIN holders USING (h), range(0, {k}) AS r(i)
  WHERE kg2.{id_col} <> holders.holder),
rms AS (SELECT {id_col}, list(pos) AS rm FROM rm GROUP BY {id_col})
SELECT sp.{id_col},
       coalesce(array_to_string(list_filter(
         list_transform(range(1, len(w) + 1),
           i -> CASE WHEN list_contains(coalesce(rm, []), i)
                THEN NULL ELSE w[i] END),
         x -> x IS NOT NULL), ' '), '') AS {text_col},
       cast(coalesce(len(rm), 0) as bigint) AS n_removed_tokens
FROM sp LEFT JOIN rms USING ({id_col})"""


def strip_dup_spans(df: DataFrame, k: int = 8, *,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Remove corpus-duplicated k-token spans, keeping one canonical
    copy: every occurrence of a duplicated k-gram is dropped EXCEPT in
    the document with the smallest id containing it (that document
    keeps all its occurrences of the span).

    Returns the input with ``text_col`` rewritten (tokens re-joined by
    single spaces, case-folded — the same normalization the k-grams
    use) plus ``n_removed_tokens``.
    """
    kg = _kgram_rows(df, k, id_col, text_col)
    # under AQE the checkpoint runs any shuffle stage in ``df`` at call
    # time (sampling.global_index)
    kg = kg.localCheckpoint(eager=False)
    holders = (kg.groupBy("h")
               .agg(F.count(F.lit(1)).alias("c"),
                    F.min(id_col).alias("holder"))
               .filter("c > 1")
               .select("h", "holder"))
    removable = (kg.join(holders, "h")
                 .filter(F.col(id_col) != F.col("holder"))
                 .select(id_col, F.explode(
                     F.expr(f"sequence(start, start + {k} - 1)"))
                     .alias("p"))
                 .groupBy(id_col)
                 .agg(F.collect_set("p").alias("__rm")))
    w = words(f"lower({text_col})")
    rebuilt = (
        f"concat_ws(' ', filter(transform({w}, (t, i) -> "
        f"IF(array_contains(coalesce(__rm, array()), i + 1), null, t)), "
        f"x -> x IS NOT NULL))")
    n_rm = "cast(size(coalesce(__rm, array())) as bigint)"
    out_cols = [c for c in df.columns if c != text_col]
    return (df.join(removable, id_col, "left")
            .select(*out_cols, F.expr(rebuilt).alias(text_col),
                    F.expr(n_rm).alias("n_removed_tokens")))


_POS_BITS = 1 << 24          # positions < 16.7M tokens per document
# winnowing's k-gram hash width: 9 hex digits = 36 bits, so
# ``hash * 2^24 + position`` stays inside a SIGNED bigint (36 + 24 = 60)
_WINNOW_HEX = 9


def winnow_fingerprints(df: DataFrame, k: int = 5, w: int = 4, *,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): from each window of ``w`` consecutive
    word-k-gram hashes keep the MINIMUM, deduplicated — a guaranteed-
    density sketch (any shared substring of ≥ w + k - 1 tokens shares
    at least one fingerprint) that is far smaller than the full k-gram
    set, the standard plagiarism / clone-detection index.

    Output: (id, fp_hash, fp_start) — one row per selected
    fingerprint, ``fp_start`` the 1-based token position of the
    winning k-gram.  Ties inside a window break to the LEFTMOST
    position (any consistent rule preserves the guarantee); documents
    shorter than w + k - 1 tokens yield no fingerprints (no full
    window).

    Engine-portability: the (hash, position) pair packs into ONE
    bigint — ``h36 · 2²⁴ + start`` (36-bit md5-derived hash, positions
    < 2²⁴) — so the window min is plain bigint ``min()`` in both
    engines; hash and position unpack by div/mod.

    Scale shape: k-grams leave the scan as bigints (never text); the
    only shuffle is the per-document window sort, which parallelizes
    across documents.  The fingerprint set is ~2/(w+1) of the k-gram
    count."""
    if k <= 0 or w <= 0:
        raise ValueError("need k >= 1 and w >= 1")
    from pyspark.sql.window import Window as W
    from pythonql_spark.sources.catalog import fan_out_small
    grams = _kgram_rows(fan_out_small(df), k, id_col, text_col,
                        hex_digits=_WINNOW_HEX)
    win = (W.partitionBy(id_col).orderBy("start")
           .rowsBetween(-(w - 1), 0))
    return (grams
            .withColumn("__m", F.min(
                F.expr(f"h * {_POS_BITS} + start")).over(win))
            .filter(F.col("start") >= w)
            .select(F.col(id_col),
                    F.expr(f"__m div {_POS_BITS}").alias("fp_hash"),
                    F.expr(f"cast(__m % {_POS_BITS} as bigint)")
                    .alias("fp_start"))
            .distinct())


def winnow_fingerprints_oracle_sql(k: int = 5, w: int = 4, *,
                                   id_col: str = "doc_id",
                                   text_col: str = "text",
                                   table: str = "documents") -> str:
    """DuckDB mirror of :func:`winnow_fingerprints` — identical 36-bit
    hash, packed-bigint window min and full-window guard."""
    wd = words(f"lower({text_col})", "duck")
    kg_str = f"array_to_string(list_slice(w, i, i + {k} - 1), ' ')"
    return f"""
WITH sp AS (SELECT {id_col}, {wd} AS w FROM {table}),
kg AS (
  SELECT {id_col}, unnest(list_transform(
    range(1, greatest(len(w) - {k} + 1, 0) + 1),
    i -> {{'s': i, 'h': {md5_prefix_int(kg_str, _WINNOW_HEX, 'duck')}}})) AS u
  FROM sp),
kg2 AS (SELECT {id_col}, u.s AS start, u.h AS h FROM kg),
sel AS (
  SELECT {id_col}, start,
         min(h * {_POS_BITS} + start) OVER (
           PARTITION BY {id_col} ORDER BY start
           ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS m
  FROM kg2)
SELECT DISTINCT {id_col}, m // {_POS_BITS} AS fp_hash,
       cast(m % {_POS_BITS} as bigint) AS fp_start
FROM sel WHERE start >= {w}"""


def clone_pairs(df: DataFrame, k: int = 5, w: int = 4, *,
                min_shared: int = 2, max_docs_per_fp: int = 50,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """MOSS end-to-end: document pairs ranked by how many winnowing
    fingerprints they share — the clone-detection report (near-verbatim
    reuse, licence boilerplate, mirrored pages) over a whole corpus.

    Fingerprints held by more than ``max_docs_per_fp`` documents are
    excluded BEFORE pairing (the standard stop-fingerprint rule:
    a phrase every page contains identifies nothing and would square
    the pair count) — an explicit, oracle-mirrored parameter, not a
    silent cap; count excluded ones via
    ``winnow_fingerprints(...).groupBy("fp_hash")`` if needed.

    Output: (id_a, id_b, shared) with id_a < id_b and
    shared >= ``min_shared``.

    Scale shape: fingerprints are ~2/(w+1) of the k-gram count; the
    pair join shuffles on fp_hash with bucket sizes bounded by
    ``max_docs_per_fp``, so in-bucket pairing is
    O(max_docs_per_fp²/2) per fingerprint — the same bounded-bucket
    contract as the LSH dedup paths."""
    if min_shared <= 0 or max_docs_per_fp <= 1:
        raise ValueError("need min_shared >= 1 and max_docs_per_fp >= 2")
    fps = (winnow_fingerprints(df, k, w, id_col=id_col,
                               text_col=text_col)
           .select(id_col, "fp_hash").distinct())
    keep = (fps.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("__nd"))
            .filter(F.col("__nd") <= max_docs_per_fp)
            .select("fp_hash"))
    fps = fps.join(keep, "fp_hash")
    a = fps.select(F.col("fp_hash"), F.col(id_col).alias("id_a"))
    b = fps.select(F.col("fp_hash"), F.col(id_col).alias("id_b"))
    return (a.join(b, "fp_hash")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared))


def clone_pairs_oracle_sql(k: int = 5, w: int = 4, *,
                           min_shared: int = 2,
                           max_docs_per_fp: int = 50,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           table: str = "documents") -> str:
    """DuckDB mirror of :func:`clone_pairs`."""
    inner = winnow_fingerprints_oracle_sql(
        k, w, id_col=id_col, text_col=text_col, table=table)
    return f"""
WITH fp0 AS ({inner}),
fp AS (SELECT DISTINCT {id_col}, fp_hash FROM fp0),
keep AS (SELECT fp_hash FROM fp GROUP BY fp_hash
         HAVING count(*) <= {max_docs_per_fp}),
fpk AS (SELECT fp.* FROM fp JOIN keep USING (fp_hash))
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       cast(count(*) as bigint) AS shared
FROM fpk a JOIN fpk b
  ON a.fp_hash = b.fp_hash AND a.{id_col} < b.{id_col}
GROUP BY id_a, id_b HAVING count(*) >= {min_shared}"""


def winnow_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                         k: int = 5, w: int = 4, *,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Sketch-based benchmark decontamination: flag corpus documents
    sharing winnowing fingerprints with an eval set.  The winnowing
    guarantee turns into a contamination guarantee — any verbatim
    overlap of ≥ w + k - 1 tokens is caught — while indexing only
    ~2/(w+1) of the benchmark's k-grams (the shingle-set and Bloom
    decontaminators pay for every shingle; this is the sparse-sketch
    point on the same trade-off curve, with a bounded miss: overlaps
    shorter than w + k - 1 tokens can escape).

    Output: (id_col, n_prints, n_matched) per corpus doc —
    ``n_matched > 0`` is the drop signal.

    Scale shape: the benchmark's fingerprint hashes collect to a
    broadcast set side (eval sets are small by definition); the corpus
    winnows in one pass and probes the broadcast — the corpus never
    shuffles on content, only its per-doc fingerprint counts
    aggregate."""
    bench = (winnow_fingerprints(benchmark, k, w, id_col=id_col,
                                 text_col=text_col)
             .select("fp_hash").distinct())
    fps = winnow_fingerprints(corpus, k, w, id_col=id_col,
                              text_col=text_col)
    return (fps.join(F.broadcast(bench.withColumn("__hit", F.lit(1))),
                     "fp_hash", "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_prints"),
                 F.sum(F.coalesce("__hit", F.lit(0)))
                 .cast("bigint").alias("n_matched")))


def winnow_decontaminate_oracle_sql(corpus_sql: str, bench_sql: str,
                                    k: int = 5, w: int = 4, *,
                                    id_col: str = "doc_id",
                                    text_col: str = "text") -> str:
    """DuckDB mirror of :func:`winnow_decontaminate`."""
    c = winnow_fingerprints_oracle_sql(
        k, w, id_col=id_col, text_col=text_col,
        table=f"({corpus_sql})")
    b = winnow_fingerprints_oracle_sql(
        k, w, id_col=id_col, text_col=text_col,
        table=f"({bench_sql})")
    return f"""
WITH cfp AS ({c}),
bfp AS (SELECT DISTINCT fp_hash FROM ({b})),
probe AS (
  SELECT cfp.{id_col},
         cast(bfp.fp_hash IS NOT NULL as bigint) AS hit
  FROM cfp LEFT JOIN bfp ON cfp.fp_hash = bfp.fp_hash)
SELECT {id_col}, count(*) AS n_prints,
       cast(sum(hit) as bigint) AS n_matched
FROM probe GROUP BY {id_col}"""
