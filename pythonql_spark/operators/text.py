"""Text-analysis operators for training-data pipelines.

All of these are pure JVM-side column expressions (whole-stage
codegen, no Python in the hot path).  Every formula is emitted in two
dialects — ``spark`` and ``duck`` — from the same definition, so the
driver's DuckDB oracle hash-matches values exactly.  Dialect deltas:
``size``/``len``, ``array_contains``/``list_contains``, regex escapes
and DuckDB's explicit ``'g'`` flag on regexp_replace.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic per-language stopword lists for the stopword-hit
# language-ID heuristic (ASCII, lower-case)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "auf", "ist"],
}

# BPE-ish token regex: letter runs, single digits, punctuation marks
_TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def _ws(dialect: str) -> str:
    # whitespace regex as it must appear inside a SQL string literal
    return "\\\\s+" if dialect == "spark" else "\\s+"


def sql_str(t: str) -> str:
    """SQL string literal (shared by every expression builder that
    embeds user text — one place to harden escaping)."""
    return "'" + t.replace("'", "''") + "'"


def md5_prefix_int(expr: str, hex_digits: int, dialect: str) -> str:
    """The first ``hex_digits`` hex digits of ``md5(expr)`` as a
    non-negative bigint — THE dual-dialect hash: identical values in
    Spark SQL and DuckDB, so every md5 (oracle-portable) path hashes
    through here.  ``expr`` must be a string expression; at most 15
    digits (60 bits) fit a signed bigint."""
    if dialect == "spark":
        return (f"cast(conv(substring(md5({expr}), 1, {hex_digits}), "
                f"16, 10) as bigint)")
    return f"cast(('0x' || substring(md5({expr}), 1, {hex_digits})) as bigint)"


def words(col: str = "text", dialect: str = "spark") -> str:
    if dialect == "spark":
        return f"split(trim({col}), '{_ws(dialect)}')"
    return f"str_split_regex(trim({col}), '{_ws(dialect)}')"


def token_count(col: str = "text", dialect: str = "spark") -> str:
    """Whitespace token count (bigint in both dialects)."""
    fn = "size" if dialect == "spark" else "len"
    return f"cast({fn}({words(col, dialect)}) as bigint)"


def bpe_token_count(col: str = "text", dialect: str = "spark") -> str:
    """BPE-ish token estimate via regex extraction."""
    if dialect == "spark":
        return f"cast(size(regexp_extract_all({col}, '{_TOKEN_RE}', 0)) as bigint)"
    return f"cast(len(regexp_extract_all({col}, '{_TOKEN_RE}')) as bigint)"


def stopword_hits(col: str, lang: str, dialect: str = "spark") -> str:
    """Count of the language's stopwords present (per-word containment
    sum — no set-semantics pitfalls)."""
    contains = "array_contains" if dialect == "spark" else "list_contains"
    w = words(col, dialect)
    terms = " + ".join(
        f"cast({contains}({w}, '{s}') as int)" for s in STOPWORDS[lang])
    return f"({terms})"


def lang_id(col: str = "text", dialect: str = "spark") -> str:
    """Argmax of per-language stopword hits; ties go to the first
    language code in sorted order; 'und' when nothing matches."""
    scores = {lang: stopword_hits(col, lang, dialect)
              for lang in sorted(STOPWORDS)}
    best = f"greatest({', '.join(scores.values())})"
    return (f"CASE WHEN {best} = 0 THEN 'und' "
            + " ".join(f"WHEN {scores[lang]} = {best} THEN '{lang}'"
                       for lang in sorted(STOPWORDS))
            + " ELSE 'und' END")


def _regexp_replace(col: str, pat: str, rep: str, dialect: str) -> str:
    if dialect == "spark":
        return f"regexp_replace({col}, '{pat}', '{rep}')"
    return f"regexp_replace({col}, '{pat}', '{rep}', 'g')"


def quality_score(col: str = "text", dialect: str = "spark") -> str:
    """Heuristic quality in [0,1]: length factor, word-count factor,
    alpha ratio, English-stopword factor.  Single deterministic double
    ops in a fixed order — bit-identical across engines."""
    n_chars = f"length({col})"
    n_words = token_count(col, dialect)
    alpha = f"length({_regexp_replace(col, '[^A-Za-z]', '', dialect)})"
    stop = stopword_hits(col, "en", dialect)
    return (
        f"cast(round("
        f"0.25 * least(cast({n_chars} as double) / 500.0, 1.0) + "
        f"0.25 * least(cast({n_words} as double) / 100.0, 1.0) + "
        f"0.25 * (cast({alpha} as double) / cast(greatest({n_chars}, 1) as double)) + "
        f"0.25 * least(cast({stop} as double) / 5.0, 1.0)"
        f", 6) as double)"
    )


def _pat(p: str, dialect: str) -> str:
    # a regex as it must appear inside a SQL string literal: Spark's
    # parser consumes one level of backslash escaping, DuckDB's doesn't
    return p.replace("\\", "\\\\") if dialect == "spark" else p


def ngram_list(col: str = "text", n: int = 3, dialect: str = "spark") -> str:
    """Word n-gram shingles of case-folded text as an array/list
    expression (docs shorter than ``n`` words yield one whole-text
    shingle).  The Spark form binds the word array once as a lambda
    variable — higher-order functions run interpreted with no common
    subexpression elimination, so a bare CASE referencing the split
    four times would re-split per reference."""
    if dialect == "spark":
        body = (f"CASE WHEN size(w) < {n} THEN array(concat_ws(' ', w)) "
                f"ELSE transform(sequence(1, size(w) - {n} + 1), "
                f"i -> concat_ws(' ', slice(w, i, {n}))) END")
        return (f"transform(array(split(trim(lower({col})), '{_ws('spark')}')), "
                f"w -> {body})[0]")
    w = f"str_split_regex(trim(lower({col})), '{_ws('duck')}')"
    return (f"CASE WHEN len({w}) < {n} THEN [array_to_string({w}, ' ')] "
            f"ELSE list_transform(range(1, len({w}) - {n} + 2), "
            f"i -> array_to_string(list_slice({w}, i, i + {n} - 1), ' ')) END")


# PII / noise patterns (plain regex; _pat handles literal escaping).
# Kept to constructs with identical semantics in Java regex and RE2.
_URL_PAT = "https?://[^\\s]+"
_EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_PAT = "\\+?[0-9][0-9() -]{6,}[0-9]"


def scrub_pii(col: str = "text", dialect: str = "spark") -> str:
    """Mask emails and phone-number-shaped runs with typed tokens."""
    e = _regexp_replace(col, _pat(_EMAIL_PAT, dialect), "<EMAIL>", dialect)
    return _regexp_replace(e, _pat(_PHONE_PAT, dialect), "<PHONE>", dialect)


def clean_text(col: str = "text", dialect: str = "spark") -> str:
    """Pipeline normalization: drop URLs, mask PII, collapse
    whitespace, trim."""
    no_url = _regexp_replace(col, _pat(_URL_PAT, dialect), "", dialect)
    scrubbed = scrub_pii(no_url, dialect)
    collapsed = _regexp_replace(scrubbed, _ws(dialect), " ", dialect)
    return f"trim({collapsed})"


def repetition_ratio(col: str = "text", dialect: str = "spark",
                     unit: str = "word") -> str:
    """Repeated-content ratio in [0,1]: 1 - distinct/total over words
    (case-folded) or lines.  High values flag boilerplate/spam docs."""
    if unit == "word":
        parts = words(f"lower({col})", dialect)
    elif unit == "line":
        nl = _pat("\\n+", dialect)
        if dialect == "spark":
            parts = f"split(trim({col}), '{nl}')"
        else:
            parts = f"str_split_regex(trim({col}), '{nl}')"
    else:
        raise ValueError(f"unit must be word|line, got {unit!r}")
    fn = "size" if dialect == "spark" else "len"
    distinct = "array_distinct" if dialect == "spark" else "list_distinct"
    return (f"cast(round(1.0 - cast({fn}({distinct}({parts})) as double) / "
            f"cast(greatest({fn}({parts}), 1) as double), 6) as double)")


def fingerprint(col: str = "text", dialect: str = "spark") -> str:
    """Document fingerprint: md5 of case-folded, whitespace-collapsed
    text (the exact-dedup key)."""
    inner = _regexp_replace(col, _ws(dialect), " ", dialect)
    return f"md5(lower(trim({inner})))"


def unigram_logprob(df, text_col: str = "text",
                    id_col: str = "doc_id") -> "DataFrame":
    """Per-document mean unigram log-probability under the corpus's
    own unigram LM — the classic cheap perplexity proxy for quality
    filtering (low = rare-token gibberish, high = common fluent text).

    Spark shape: ONE explode of lowered whitespace tokens feeds both
    the frequency table (groupBy token, map-side combined) and the
    scoring join (shuffle on token, then groupBy doc).  All arithmetic
    is JVM expressions; the per-token log-prob is rounded to
    decimal(20,10) before the exact decimal sum so results are
    bit-identical to the DuckDB oracle regardless of summation order
    or libm ulp differences.
    """
    from pyspark.sql import functions as F
    toks = (df.select(id_col, F.explode(
        F.expr(words(f"lower({text_col})"))).alias("tok"))
        .filter("tok != ''"))
    # explode once, use twice; under AQE the checkpoint runs any
    # shuffle stage in ``df`` at call time (sampling.global_index)
    toks = toks.localCheckpoint(eager=False)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # total token count straight from toks — NOT sum(freq.cnt), which
    # would re-run the by-token shuffle a second time (freq feeds the
    # broadcast join below and isn't checkpointed)
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    scored = (toks.join(freq, "tok")
              .crossJoin(F.broadcast(total))
              .select(id_col, F.expr(
                  "cast(ln(cnt / total) as decimal(20,10))").alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.expr("cast(cast(sum(lp) as double) / count(lp) as double)")
                 .alias("mean_logprob"),
                 F.count(F.lit(1)).cast("bigint").alias("n_tokens")))


def unigram_logprob_oracle_sql(text_col: str = "text",
                               id_col: str = "doc_id",
                               table: str = "documents") -> str:
    """DuckDB mirror of `unigram_logprob` (same rounding, exact sums)."""
    w = words(f"lower({text_col})", "duck")
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest({w}) AS tok FROM {table}),
t2 AS (SELECT * FROM toks WHERE tok <> ''),
freq AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok),
total AS (SELECT sum(cnt) AS total FROM freq),
scored AS (
  SELECT {id_col}, cast(ln(cnt / total) as decimal(20,10)) AS lp
  FROM t2 JOIN freq USING (tok) CROSS JOIN total)
SELECT {id_col}, cast(cast(sum(lp) as double) / count(lp) as double) AS mean_logprob,
       cast(count(lp) as bigint) AS n_tokens
FROM scored GROUP BY {id_col}"""


def remove_boilerplate(df, id_col: str = "doc_id",
                       text_col: str = "text", *,
                       min_doc_frac: float = 0.2,
                       min_docs: int = 2,
                       delim: str = "\n",
                       hash_fn: str = "xxhash64") -> "DataFrame":
    """Corpus-level boilerplate removal (C4/RefinedWeb-style): drop
    text segments (lines by default) that appear, normalized, in at
    least ``min_doc_frac`` of docs (and ``min_docs`` absolutely) —
    nav bars, cookie banners, license footers.

    Scale shape: explode segments → per-segment distinct-doc count via
    ONE groupBy on the segment hash (map-side partial agg; the
    shuffle carries hashes, not text) → the frequent-segment set is
    tiny and broadcasts back → each doc filters its own segment array
    JVM-side.  Returns the df with ``text_col`` rewritten and a
    ``n_removed`` count per doc.

    ``hash_fn``: "xxhash64" (default, cheapest) or "md5" (dual-dialect
    — required for the DuckDB value oracle)."""
    if hash_fn == "xxhash64":
        def h(s):
            return f"xxhash64(lower(trim({s})))"
    elif hash_fn == "md5":
        def h(s):
            return md5_prefix_int(f"lower(trim({s}))", 15, "spark")
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
    # split()'s second argument is a Java REGEX while array_join's is
    # a literal: \Q...\E-quote the delimiter so metachar delimiters
    # ('.', '|', '+') split literally and round-trip on rejoin
    d = ("\\\\Q" + delim.replace("\\", "\\\\").replace("'", "\\'")
         + "\\\\E")
    segs = f"split({text_col}, '{d}')"
    seg_rows = (df.select(F.col(id_col).alias("__id"),
                          F.explode(F.expr(segs)).alias("seg"))
                .select("__id", F.expr(h("seg")).alias("sh"))
                .distinct())
    # the cut threshold joins against a LAZY 1-row keyless count
    # (broadcast nested-loop on one row) instead of an eager
    # df.count() action — the whole operator stays one job
    n_row = F.broadcast(df.agg(F.count(F.lit(1)).alias("__ndocs")))
    frequent = (seg_rows.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("nd"))
                .crossJoin(n_row)
                .filter(F.col("nd") >= F.greatest(
                    # ceil: "appears in AT LEAST min_doc_frac of
                    # docs" must not admit segments strictly below
                    F.ceil(F.lit(min_doc_frac) * F.col("__ndocs"))
                    .cast("long"), F.lit(min_docs)))
                .select("sh"))
    freq_set = F.broadcast(
        frequent.agg(F.collect_set("sh").alias("bad")))
    return (df.crossJoin(freq_set)
            .withColumn("__segs", F.expr(segs))
            .withColumn("__kept", F.expr(
                f"filter(__segs, s -> NOT array_contains(bad, {h('s')}))"))
            .withColumn("n_removed",
                        F.size("__segs") - F.size("__kept"))
            .withColumn(text_col, F.array_join("__kept", delim))
            .drop("bad", "__segs", "__kept"))


def remove_boilerplate_oracle_sql(*, min_doc_frac: float = 0.2,
                                  min_docs: int = 2,
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  table: str = "documents",
                                  extra_cols: str = "") -> str:
    """DuckDB mirror of ``remove_boilerplate(hash_fn="md5")`` with a
    newline delimiter: (id, extra_cols..., rebuilt text, n_removed)."""
    h = md5_prefix_int("lower(trim(seg))", 15, "duck")
    hx = md5_prefix_int("lower(trim(x))", 15, "duck")
    return f"""
WITH sp AS (SELECT *, str_split({text_col}, chr(10)) AS segs
            FROM {table}),
sr AS (SELECT DISTINCT {id_col},
              {h} AS sh
       FROM (SELECT {id_col}, unnest(segs) AS seg FROM sp)),
nd AS (SELECT count(*) AS n FROM {table}),
freq AS (
  SELECT sh FROM sr GROUP BY sh
  HAVING count(*) >= (SELECT greatest(cast(ceil({min_doc_frac} * n)
                      as bigint), {min_docs}) FROM nd)),
bad AS (SELECT coalesce(list(sh), []) AS bad FROM freq)
SELECT {id_col}, {extra_cols}
       array_to_string(list_filter(segs,
         x -> NOT list_contains(bad, {hx})), chr(10)) AS {text_col},
       cast(len(segs) - len(list_filter(segs,
         x -> NOT list_contains(bad, {hx}))) as bigint) AS n_removed
FROM sp CROSS JOIN bad"""


def doc_lines(col: str = "text", dialect: str = "spark") -> str:
    """Line array/list of a document (split on newline runs)."""
    nl = _pat("\\n+", dialect)
    if dialect == "spark":
        return f"split({col}, '{nl}')"
    return f"str_split_regex({col}, '{nl}')"


def _c4_line_pred(var: str, dialect: str, min_words: int) -> str:
    """C4 (Raffel et al. 2020) line-retention predicate on lambda
    variable ``var``: ends in terminal punctuation, has at least
    ``min_words`` whitespace words, and doesn't mention javascript."""
    term = _pat('[.!?"]\\s*$', dialect)
    if dialect == "spark":
        m = f"{var} rlike '{term}'"
        wc = f"size(split(trim({var}), '{_ws(dialect)}'))"
    else:
        m = f"regexp_matches({var}, '{term}')"
        wc = f"len(str_split_regex(trim({var}), '{_ws(dialect)}'))"
    return (f"({m} AND {wc} >= {min_words} "
            f"AND NOT contains(lower({var}), 'javascript'))")


def c4_exprs(text_col: str = "text", dialect: str = "spark", *,
             min_words: int = 5, min_lines: int = 3
             ) -> tuple[str, str, str, str]:
    """The C4 cleaning rules as dual-dialect SQL expressions:
    (cleaned_text, n_lines, n_kept, keep) where cleaned_text keeps
    only retained lines, and ``keep`` is the page-level verdict
    (>= min_lines retained lines, no 'lorem ipsum', no curly brace).
    Everything is a narrow per-row projection — no shuffle, no UDF; at
    100 TB this is a scan-fused pass exactly like gopher_metrics."""
    ls = doc_lines(text_col, dialect)
    pred = _c4_line_pred("x", dialect, min_words)
    if dialect == "spark":
        kept = f"filter({ls}, x -> {pred})"
        nl_, nk = f"size({ls})", f"size({kept})"
        joined = f"array_join({kept}, '\\n')"
    else:
        kept = f"list_filter({ls}, x -> {pred})"
        nl_, nk = f"len({ls})", f"len({kept})"
        # DuckDB's array_to_string([]) is NULL, Spark's array_join('')
        joined = f"coalesce(array_to_string({kept}, chr(10)), '')"
    keep = (f"({nk} >= {min_lines} "
            f"AND NOT contains(lower({text_col}), 'lorem ipsum') "
            f"AND NOT contains({text_col}, chr(123)))")
    return (joined, f"cast({nl_} as bigint)", f"cast({nk} as bigint)", keep)


def c4_clean(df, id_col: str = "doc_id", text_col: str = "text", *,
             min_words: int = 5, min_lines: int = 3,
             extra_cols: list[str] | None = None) -> "DataFrame":
    """C4-style heuristic cleaning (Raffel et al. 2020, the C4/
    RefinedWeb line-rule family): keep lines that end in terminal
    punctuation, have >= ``min_words`` words and don't mention
    javascript; keep pages with >= ``min_lines`` retained lines and no
    lorem-ipsum / curly-brace markers.  Returns the id, any
    ``extra_cols``, the rewritten ``text_col``, n_lines / n_kept
    counts and the boolean ``c4_keep`` verdict.

    Complements ``gopher_pass`` (statistical thresholds) with the
    rule-based line surgery half of web-corpus curation; compose as
    ``c4_clean`` -> ``gopher_pass`` -> dedup for the standard
    pipeline."""
    cleaned, n_lines, n_kept, keep = c4_exprs(
        text_col, "spark", min_words=min_words, min_lines=min_lines)
    return df.selectExpr(
        id_col, *(extra_cols or []),
        f"{cleaned} as {text_col}",
        f"{n_lines} as n_lines", f"{n_kept} as n_kept",
        f"{keep} as c4_keep")


def c4_clean_oracle_sql(*, id_col: str = "doc_id",
                        text_col: str = "text",
                        min_words: int = 5, min_lines: int = 3,
                        table: str = "documents",
                        extra_cols: str = "") -> str:
    """DuckDB mirror of :func:`c4_clean`."""
    cleaned, n_lines, n_kept, keep = c4_exprs(
        text_col, "duck", min_words=min_words, min_lines=min_lines)
    return (f"SELECT {id_col}, {extra_cols}"
            f"{cleaned} AS {text_col}, "
            f"{n_lines} AS n_lines, {n_kept} AS n_kept, "
            f"{keep} AS c4_keep FROM {table}")


def mean_word_length(col: str = "text", dialect: str = "spark") -> str:
    """Mean word length = non-whitespace chars / word count (Gopher
    keeps docs with mean word length in [3, 10])."""
    nw = token_count(col, dialect)
    chars = f"length({_regexp_replace(f'trim({col})', _ws(dialect), '', dialect)})"
    return (f"cast(round(cast({chars} as double) / "
            f"cast(greatest({nw}, 1) as double), 6) as double)")


def symbol_word_ratio(col: str = "text", dialect: str = "spark") -> str:
    """(# + ellipsis occurrences) / words — Gopher drops docs with
    ratio > 0.1 (hashtag/ellipsis-heavy scraped junk)."""
    nw = token_count(col, dialect)
    hashes = f"(length({col}) - length(replace({col}, '#', '')))"
    ell = f"((length({col}) - length(replace({col}, '...', ''))) / 3)"
    return (f"cast(round(cast({hashes} + {ell} as double) / "
            f"cast(greatest({nw}, 1) as double), 6) as double)")


def _line_frac(col: str, pat: str, dialect: str) -> str:
    ls = doc_lines(col, dialect)
    p = _pat(pat, dialect)
    if dialect == "spark":
        hits = f"size(filter({ls}, x -> x rlike '{p}'))"
        n = f"size({ls})"
    else:
        hits = f"len(list_filter({ls}, x -> regexp_matches(x, '{p}')))"
        n = f"len({ls})"
    return (f"cast(round(cast({hits} as double) / "
            f"cast(greatest({n}, 1) as double), 6) as double)")


def bullet_line_frac(col: str = "text", dialect: str = "spark") -> str:
    """Fraction of lines starting with a bullet marker (Gopher drops
    docs where > 90% of lines are bullets)."""
    return _line_frac(col, "^\\s*[-*•]", dialect)


def ellipsis_line_frac(col: str = "text", dialect: str = "spark") -> str:
    """Fraction of lines ending with an ellipsis (Gopher drops docs
    where > 30% of lines end mid-thought)."""
    return _line_frac(col, "\\.\\.\\.\\s*$", dialect)


def alpha_word_frac(col: str = "text", dialect: str = "spark") -> str:
    """Fraction of words containing at least one alphabetic character
    (Gopher requires > 80%)."""
    w = words(col, dialect)
    if dialect == "spark":
        hits = f"size(filter({w}, x -> x rlike '[A-Za-z]'))"
        n = f"size({w})"
    else:
        hits = f"len(list_filter({w}, x -> regexp_matches(x, '[A-Za-z]')))"
        n = f"len({w})"
    return (f"cast(round(cast({hits} as double) / "
            f"cast(greatest({n}, 1) as double), 6) as double)")


def gopher_metrics(col: str = "text",
                   dialect: str = "spark") -> dict[str, str]:
    """The Gopher (Rae et al. 2021) document-quality rule metrics as
    named SQL expressions, valid in both dialects.  Pure scalar
    expressions — no shuffle, no UDF; at 100 TB this is a single
    narrow projection pass fused into the scan."""
    return {
        "n_words": token_count(col, dialect),
        "mean_word_len": mean_word_length(col, dialect),
        "symbol_ratio": symbol_word_ratio(col, dialect),
        "bullet_frac": bullet_line_frac(col, dialect),
        "ellipsis_frac": ellipsis_line_frac(col, dialect),
        "alpha_frac": alpha_word_frac(col, dialect),
    }


def gopher_pass(col: str = "text", dialect: str = "spark", *,
                min_words: int = 50, max_words: int = 100_000) -> str:
    """Boolean Gopher keep/drop decision from the published rule
    thresholds (word count in [50, 100k], mean word length in [3, 10],
    symbol ratio <= 0.1, bullet lines <= 90%, ellipsis lines <= 30%,
    alpha words >= 80%)."""
    m = gopher_metrics(col, dialect)
    return (f"({m['n_words']} >= {min_words} AND {m['n_words']} <= {max_words}"
            f" AND {m['mean_word_len']} >= 3.0 AND {m['mean_word_len']} <= 10.0"
            f" AND {m['symbol_ratio']} <= 0.1"
            f" AND {m['bullet_frac']} <= 0.9"
            f" AND {m['ellipsis_frac']} <= 0.3"
            f" AND {m['alpha_frac']} >= 0.8)")


def dup_line_fraction(df, text_col: str = "text",
                      id_col: str = "doc_id") -> "DataFrame":
    """Gopher repetition rule: per document, the fraction of characters
    contained in lines whose (trimmed, case-folded) content occurs more
    than once in that document.

    Scale shape: explode lines → ONE groupBy on (doc, line-hash)
    carrying only the hash + length (map-side combined) → per-doc agg.
    The shuffle payload is two longs per distinct line, never text, so
    this survives 100 TB of multi-thousand-line documents — unlike the
    tempting O(lines²) array-lambda form which is quadratic per doc."""
    lines = (df.select(F.col(id_col),
                       F.explode(F.expr(doc_lines(text_col))).alias("ln"))
             .select(id_col,
                     F.expr("xxhash64(lower(trim(ln)))").alias("lh"),
                     F.length("ln").alias("len")))
    per_line = (lines.groupBy(id_col, "lh")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.max("len").alias("len")))
    return (per_line.groupBy(id_col)
            .agg(F.expr(
                "cast(round(cast(sum(CASE WHEN cnt > 1 THEN len * cnt "
                "ELSE 0 END) as double) / "
                "cast(greatest(sum(len * cnt), 1) as double), 6) as double)")
                .alias("dup_line_frac"),
                F.expr("cast(sum(cnt) as bigint)").alias("n_lines")))


def dup_line_fraction_oracle_sql(text_col: str = "text",
                                 id_col: str = "doc_id",
                                 table: str = "documents",
                                 pre: str | None = None) -> str:
    """DuckDB mirror of `dup_line_fraction`.  ``pre`` optionally
    replaces the source table with a CTE body (e.g. a line-ified
    projection)."""
    src = f"({pre})" if pre else table
    ls = doc_lines(text_col, "duck")
    return f"""
WITH lines AS (
  SELECT {id_col}, unnest({ls}) AS ln FROM {src}),
per_line AS (
  SELECT {id_col}, hash(lower(trim(ln))) AS lh,
         count(*) AS cnt, max(length(ln)) AS len
  FROM lines GROUP BY 1, 2)
SELECT {id_col},
       cast(round(cast(sum(CASE WHEN cnt > 1 THEN len * cnt ELSE 0 END) as double) /
            cast(greatest(sum(len * cnt), 1) as double), 6) as double) AS dup_line_frac,
       cast(sum(cnt) as bigint) AS n_lines
FROM per_line GROUP BY {id_col}"""


def top_ngram_fraction(df, n: int = 2, text_col: str = "text",
                       id_col: str = "doc_id") -> "DataFrame":
    """Gopher repetition rule: fraction of a document's characters
    covered by its single most frequent word n-gram
    (freq × gram-length / doc-length).  Ties break to the
    lexicographically smallest gram so the result is deterministic at
    any parallelism (and hash-identical to the DuckDB oracle).

    Scale shape: explode n-grams → groupBy (doc, gram) with map-side
    partials → per-doc top-1 via a WindowGroupLimit (rank 1), which
    Spark pushes as a partial top-k before the final shuffle."""
    from pyspark.sql import Window
    from pythonql_spark.sources.catalog import fan_out_small
    grams = (fan_out_small(df)
             .select(F.col(id_col), F.length(text_col).alias("dl"),
                     F.explode(F.expr(ngram_list(text_col, n)))
                     .alias("gram")))
    counts = (grams.groupBy(id_col, "dl", "gram")
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select(id_col, F.col("gram").alias("top_gram"),
                    F.col("cnt").cast("bigint").alias("gram_count"),
                    F.expr(
                        "cast(round(cast(cnt * length(gram) as double) / "
                        "cast(greatest(dl, 1) as double), 6) as double)")
                    .alias("top_ngram_frac")))


def top_ngram_fraction_oracle_sql(n: int = 2, text_col: str = "text",
                                  id_col: str = "doc_id",
                                  table: str = "documents") -> str:
    """DuckDB mirror of `top_ngram_fraction`."""
    ng = ngram_list(text_col, n, "duck")
    return f"""
WITH grams AS (
  SELECT {id_col}, length({text_col}) AS dl, unnest({ng}) AS gram
  FROM {table}),
counts AS (
  SELECT {id_col}, dl, gram, count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY {id_col}
                               ORDER BY cnt DESC, gram) AS rn
  FROM counts)
SELECT {id_col}, gram AS top_gram, cast(cnt as bigint) AS gram_count,
       cast(round(cast(cnt * length(gram) as double) /
            cast(greatest(dl, 1) as double), 6) as double) AS top_ngram_frac
FROM ranked WHERE rn = 1"""


def as_col(e: str) -> Column:
    return F.expr(e)


def bigram_logprob(df, text_col: str = "text",
                   id_col: str = "doc_id", *,
                   lam: float = 0.75) -> "DataFrame":
    """Per-document mean log-probability under an interpolated bigram
    LM trained on the corpus itself: P(w|h) = lam * c(h,w)/c(h,*) +
    (1-lam) * c(w)/N — a sharper fluency/perplexity proxy than the
    unigram score (word-salad docs with common words score high on
    unigrams but low here).  The first token of each doc scores with
    its unigram probability.

    Spark shape: ONE explode of (prev, curr) token pairs (positions
    via posexplode) feeds the bigram table, the head-count table and
    the unigram table — three keyed aggregates with map-side partials;
    scoring is a token-keyed join + a doc-keyed aggregate.  Per-token
    log-probs round to decimal(20,10) before the exact decimal sum, so
    the result is bit-identical to the DuckDB oracle at any
    parallelism."""
    from pyspark.sql import functions as F
    w = words(f"lower({text_col})", "spark")
    pairs = (df.select(id_col, F.posexplode(F.expr(w)))
             .select(F.col(id_col), F.col("pos"),
                     F.col("col").alias("cur"),
                     F.expr(f"lag(col) OVER (PARTITION BY {id_col} "
                            f"ORDER BY pos)").alias("prev"))
             .filter("cur != ''"))
    # one explode, four uses; under AQE the checkpoint runs the lag
    # window's exchange at call time (sampling.global_index)
    pairs = pairs.localCheckpoint(eager=False)
    uni = pairs.groupBy("cur").agg(F.count(F.lit(1)).alias("cu"))
    total = pairs.agg(F.count(F.lit(1)).alias("n_total"))
    bi = (pairs.filter("prev IS NOT NULL")
          .groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb")))
    heads = (pairs.filter("prev IS NOT NULL")
             .groupBy("prev").agg(F.count(F.lit(1)).alias("ch")))
    lp = (f"cast(round(ln({lam} * coalesce(cb, 0) / "
          f"coalesce(ch, 1) + {1.0 - lam} * cu / n_total) "
          f", 10) as decimal(20,10))")
    lp_first = (f"cast(round(ln(cu / n_total), 10) as decimal(20,10))")
    scored = (pairs
              .join(uni, "cur")
              .join(bi, ["prev", "cur"], "left")
              .join(heads, "prev", "left")
              .crossJoin(F.broadcast(total))
              .select(id_col, F.expr(
                  f"CASE WHEN prev IS NULL THEN {lp_first} "
                  f"ELSE {lp} END").alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.expr("cast(cast(sum(lp) as double) / count(lp) "
                        "as double)").alias("mean_bigram_logprob"),
                 F.count(F.lit(1)).cast("bigint").alias("n_tokens")))


def bigram_logprob_oracle_sql(text_col: str = "text",
                              id_col: str = "doc_id", *,
                              lam: float = 0.75,
                              table: str = "documents") -> str:
    """DuckDB mirror of :func:`bigram_logprob`."""
    w = words(f"lower({text_col})", "duck")
    return f"""
WITH tok0 AS (
  SELECT {id_col}, u.pos AS pos, u.cur AS cur
  FROM (SELECT {id_col}, unnest(list_transform(
          range(1, len(w) + 1), i -> {{'pos': i, 'cur': w[i]}})) AS u
        FROM (SELECT {id_col}, {w} AS w FROM {table}))),
pairs AS (
  SELECT {id_col}, pos, cur,
         lag(cur) OVER (PARTITION BY {id_col} ORDER BY pos) AS prev
  FROM tok0 WHERE cur <> ''),
uni AS (SELECT cur, count(*) AS cu FROM pairs GROUP BY cur),
tot AS (SELECT count(*) AS n_total FROM pairs),
bi AS (SELECT prev, cur, count(*) AS cb FROM pairs
       WHERE prev IS NOT NULL GROUP BY prev, cur),
heads AS (SELECT prev, count(*) AS ch FROM pairs
          WHERE prev IS NOT NULL GROUP BY prev),
scored AS (
  SELECT p.{id_col},
         CASE WHEN p.prev IS NULL THEN
           cast(round(ln(cu / n_total), 10) as decimal(20,10))
         ELSE
           cast(round(ln({lam} * coalesce(cb, 0) / coalesce(ch, 1)
                + {1.0 - lam} * cu / n_total), 10) as decimal(20,10))
         END AS lp
  FROM pairs p
  JOIN uni ON p.cur = uni.cur
  LEFT JOIN bi ON p.prev = bi.prev AND p.cur = bi.cur
  LEFT JOIN heads ON p.prev = heads.prev
  CROSS JOIN tot)
SELECT {id_col},
       cast(cast(sum(lp) as double) / count(lp) as double)
         AS mean_bigram_logprob,
       cast(count(lp) as bigint) AS n_tokens
FROM scored GROUP BY {id_col}"""


def extract_html(col: str = "html", dialect: str = "spark") -> str:
    """Main-text extraction from HTML markup — the web-corpus step
    before every quality/dedup stage (the structural subset of
    trafilatura-class extractors, documented scope): drops
    script/style/comment blocks wholesale, strips all remaining tags,
    decodes the common entities, collapses whitespace.  A pure
    dual-dialect expression fused into the scan — no UDF, no shuffle;
    DOM-aware boilerplate removal is the separately-shipped
    remove_boilerplate / dup-line stage downstream."""
    e = col
    # (?is): dot matches newlines, case-insensitive block tags
    for blk in (r"(?is)<script[^>]*>.*?</script>",
                r"(?is)<style[^>]*>.*?</style>",
                r"(?s)<!--.*?-->"):
        e = _regexp_replace(e, _pat(blk, dialect), " ", dialect)
    e = _regexp_replace(e, _pat(r"<[^>]*>", dialect), " ", dialect)
    # `&amp;` decodes LAST (HTML semantics): `&amp;lt;` is an escaped
    # literal "&lt;", not a "<" — decoding `&amp;` first would
    # double-decode it
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"),
                     ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"),
                     ("&amp;", "&")):
        e = f"replace({e}, '{ent}', '{rep}')"
    collapsed = _regexp_replace(e, _ws(dialect), " ", dialect)
    return f"trim({collapsed})"
