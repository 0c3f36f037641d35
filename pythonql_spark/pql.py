"""PythonQL query-expression *string* front-end.

The reference embeds queries in Python source via a codec/preprocessor
(``#coding: pythonql`` → parser/Preprocessor.py).  Here the same query
surface is accepted as a plain string — near-verbatim reference syntax
(Grammar.md query_expression) — and compiled onto the ``Query`` DSL:

    res = pql(spark, '''
        select (x, sum(y) as sum)
        for x in xs, y in ys
        where x % 2 == 0 and y % 2 != 0 and x > y
        group by x
    ''', env={"xs": range(1, 8), "ys": range(1, 7)})

Clauses: select · for (incl. ``for sliding|tumbling window``) · let ·
where/if · count · group by · order by · match [exact].

Expression translation (Python → Spark SQL): ``**`` → power, ``is
[not] None`` → IS [NOT] NULL, ``try E except D`` → try_cast-based
fallback with ``int()``/``float()`` coercions.  Window ``when``
conditions and match ``where`` conditions are evaluated as Python
(same as the reference's eval-based executor) with the declared
window/bind variables in scope.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pythonql_spark import expr as X
from pythonql_spark.query import Query, _split_as

# NB: clause-`if` (the reference's where synonym) must not swallow the
# SQL function call `if(cond, a, b)` — the lookahead rejects `if(`.
# (A bare Python ternary `x if c else y` still needs parentheses.)
# Likewise `match(` is a CALL (re.match(p, v)), never the match
# clause (whose pattern is dict-shaped), and a keyword preceded by
# `.` is an attribute access (df.select), not a clause.
_CLAUSE_RE = re.compile(
    r"(?<!\.)\b(select|for|let|where|if(?!\s*\()|count|group\s+by"
    r"|order\s+by|match(?!\s*\())\b",
    re.IGNORECASE)


class TableSeq:
    """Declares a DataFrame as a window-clause sequence source for
    ``pql()``: one logical sequence per ``partition_by`` key, ordered
    within the key by ``order_by``; the window variable binds to the
    single ``value`` column (default: the one column that is neither
    a key nor an ordering column).  This is the distributed form of
    the reference's window-over-a-sequence — the string syntax stays
    verbatim, the env carries the partitioning, and the clause runs
    per key, never collected to the driver: count-based windows as
    native JVM frames (operators.window_clause.fixed_windows), any
    other as operators.window_clause.predicate_windows, whose Arrow
    walker returns window positions and whose ``window`` is sliced in
    the JVM."""

    def __init__(self, df: DataFrame, order_by, partition_by=None,
                 value: str | None = None):
        self.df = df
        self.order_by = ([order_by] if isinstance(order_by, str)
                         else list(order_by))
        self.partition_by = ([partition_by]
                             if isinstance(partition_by, str)
                             else list(partition_by or []))
        if value is None:
            rest = [c for c in df.columns
                    if c not in self.partition_by
                    and c not in self.order_by]
            if len(rest) != 1:
                raise ValueError(
                    f"value column ambiguous among {rest}; pass value=")
            value = rest[0]
        self.value = value


class AttrDict(dict):
    """Row dict with attribute access, so reference-style conditions
    like ``s.y % 2 == 1`` work on window elements."""
    def __getattr__(self, k):
        try:
            return self[k]
        except KeyError as e:
            raise AttributeError(k) from e


def _attr(v):
    return AttrDict(v) if isinstance(v, dict) else v


# ------------------------------------------------------------- tokenizing

def _top_level_spans(s: str, pattern: re.Pattern) -> list[re.Match]:
    """Matches of ``pattern`` at paren/bracket/brace depth 0."""
    masked = X.strip_strings(s)
    out, depth = [], 0
    i = 0
    while i < len(masked):
        ch = masked[i]
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0:
            m = pattern.match(masked, i)
            if m and (i == 0 or not masked[i - 1].isalnum() and masked[i - 1] != "_"):
                out.append(m)
                i = m.end()
                continue
        i += 1
    return out


def _split_top(s: str, sep: str = ",") -> list[str]:
    masked = X.strip_strings(s)
    parts, depth, last = [], 0, 0
    for i, ch in enumerate(masked):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[last:i].strip())
            last = i + 1
    parts.append(s[last:].strip())
    return [p for p in parts if p]


def _clause_matches(q: str) -> list[re.Match]:
    """Top-level clause-keyword matches, with ternary ``if``s dropped:
    an ``if`` followed by a top-level ``else`` before the next clause
    keyword is Python's conditional expression (reference tutorial q4
    ``ys if ys != [] else [None]``), not a where-synonym clause."""
    ms = _top_level_spans(q, _CLAUSE_RE)
    out = []
    for i, m in enumerate(ms):
        if m.group(1).lower() == "if":
            nxt = ms[i + 1].start() if i + 1 < len(ms) else len(q)
            if _top_level_spans(q[m.end():nxt], re.compile(r"\belse\b")):
                continue
        out.append(m)
    return out


def _clauses(q: str) -> list[tuple[str, str]]:
    """Split the query text into (keyword, body) clauses.  Text before
    the first clause keyword is the select-less select body (reference
    Grammar.md: the ``select`` keyword is optional — tutorial q2/q4
    open with the bare tuple ctor)."""
    q = q.strip()
    ms = _clause_matches(q)
    if not ms:
        raise ValueError("no query clauses found")
    out = []
    lead = q[:ms[0].start()].strip().rstrip(",")
    if lead:
        out.append(("select", lead))
    for i, m in enumerate(ms):
        kw = re.sub(r"\s+", " ", m.group(1).lower())
        end = ms[i + 1].start() if i + 1 < len(ms) else len(q)
        out.append((kw, q[m.end():end].strip().rstrip(",")))
    return out


# ---------------------------------------------------------- translation

_STEP_RE = re.compile(r"\.//|\./")


def _is_float_dot(masked: str, pos: int) -> bool:
    """Is the ``.`` at ``pos`` part of a float literal like ``1./2``?
    (digit run before the dot that is itself not an identifier tail)"""
    j = pos
    while j > 0 and masked[j - 1].isdigit():
        j -= 1
    return j < pos and (j == 0 or not (masked[j - 1].isalnum()
                                       or masked[j - 1] == "_"))


def _rewrite_path_steps(e: str, *, child: str = "pql_child",
                        desc: str = "pql_desc",
                        seq_variants: bool = True,
                        mask_fn=None, lenient: bool = False) -> str:
    """Reference path steps (Grammar.md: ``expr := old_expr
    (path_step)*``; ``path_step := './' old_expr | './/' old_expr``)
    → SQL calls on the registered step UDFs:

        db ./ 'region' ./ 'region'
          → pql_child_seq(pql_child(db, 'region'), 'region')

    The left operand is the longest trailing primary (identifier /
    attribute chain, optionally ending in a balanced call or index);
    the key is ``_`` (any-key wildcard, quoted through), a string
    literal, or an identifier chain.  Chained steps dispatch to the
    ``_seq`` variants, which walk the previous step's sequence
    (reference Executor.py path semantics over list values).

    ``mask_fn`` defaults to string-literal masking (query-string
    pass); the codec's whole-file pass supplies a mask that also
    blanks ``#`` comments, so `# ./relative/path` never parses as a
    step.  ``lenient=True`` (whole-file pass): whitespace scans stop
    at newlines (a step never spans statements) and an unparseable
    candidate is a no-op, not an error — the file may legally contain
    `./` sequences that are not path steps at all."""
    if mask_fn is None:
        mask_fn = X.strip_strings
    ws = " \t" if lenient else " \t\n"
    scan_from = 0                 # skip candidates already rejected
    while True:
        masked = mask_fn(e)
        m = None
        for cand in _STEP_RE.finditer(masked, scan_from):
            if not _is_float_dot(masked, cand.start()):
                m = cand
                break
        if m is None:
            return e
        # ---- left operand: trailing primary ------------------------
        j = m.start()
        while j > 0 and e[j - 1] in ws:
            j -= 1
        end_left = j
        while j > 0:
            c = masked[j - 1]
            if c in ")]":
                depth, j = 1, j - 1
                while j > 0 and depth:
                    if masked[j - 1] in ")]":
                        depth += 1
                    elif masked[j - 1] in "([":
                        depth -= 1
                    j -= 1
            elif c.isalnum() or c in "_.":
                j -= 1
            else:
                break
        start_left = j
        left = e[start_left:end_left].strip()
        if not left:
            if lenient:
                scan_from = m.end()
                continue
            raise ValueError(f"path step with no left operand: {e!r}")
        # ---- key operand (skip whitespace on e, not masked — masked
        # blanks string literals, which must stop the skip) ----------
        k = m.end()
        while k < len(e) and e[k] in ws:
            k += 1
        key_start = k
        if k < len(e) and e[k] in "'\"" and masked[k] != e[k]:
            # a real (masked) string literal, not a blanked comment char
            quote = e[k]
            k += 1
            while k < len(e) and e[k] != quote:
                k += 2 if e[k] == "\\" else 1
            k += 1
            key = e[key_start:k]
        elif k < len(e) and masked[k] == "_" and (
                k + 1 == len(masked) or not (masked[k + 1].isalnum()
                                             or masked[k + 1] == "_")):
            k += 1
            key = "'_'"
        else:
            mk = re.match(r"[A-Za-z_]\w*(?:\.\w+)*", masked[k:])
            if not mk:
                if lenient:
                    scan_from = m.end()
                    continue
                raise ValueError(f"bad path-step key near: {e[k:k+30]!r}")
            k += mk.end()
            key = e[key_start:k]
        fn = desc if m.group(0) == ".//" else child
        if seq_variants and re.match(
                rf"(?:{re.escape(child)}|{re.escape(desc)})(?:_seq)?\(",
                left):
            fn += "_seq"          # previous step's output is an array
        e = e[:start_left] + f"{fn}({left}, {key})" + e[k:]


# --------------------------------------------------- compile context
#
# Per-compilation state threaded through the expression rewriters
# (set/restored by pql(); single-threaded compilation).  Carries:
#   env_fns : recognized driver-scope callables → SQL translations
#             (dateutil parse → to_timestamp, datetime.date →
#             make_date, calendar.monthrange(y,m)[1] → day(last_day),
#             numpy mean → array fold) — the reference evals these in
#             Python per row (Executor.py eval); we compile the KNOWN
#             pure date/stat functions to Catalyst expressions and
#             raise for anything else, keeping the hot path JVM-side
#   seq_vars: array-valued let/window vars (truthiness = size > 0,
#             sum()/len() fold the array)
#   opt_vars: struct vars bound via next((query), default)
#             (truthiness = IS NOT NULL)
#   ts_vars : let vars known timestamp-typed (date-part attribute
#             access `v.year` compiles to year(v))

_PQL_CTX: dict = {"env_fns": {}, "seq_vars": set(),
                  "opt_vars": set(), "ts_vars": set()}


def _detect_env_fns(env: dict) -> dict[str, str]:
    """Names in the caller's scope that bind KNOWN pure callables the
    scenario queries use (reference tests/cust_journey_scenario_tests
    .py:63-153: parse/date/monthrange/np.mean inside query text)."""
    import calendar
    import datetime as _dt

    fns: dict[str, str] = {}
    for name, v in env.items():
        if v is _dt.date:
            fns[name] = "date"
        elif v is calendar.monthrange:
            fns[name] = "monthrange"
        elif (callable(v) and getattr(v, "__name__", "") == "parse"
              and "dateutil" in (getattr(v, "__module__", "") or "")):
            fns[name] = "parse"
        elif getattr(v, "__name__", "") == "numpy":
            fns[name + ".mean"] = "mean"
    return fns


def _rewrite_env_calls(e: str) -> str:
    """Rewrite calls to recognized env callables into SQL (see
    _PQL_CTX.env_fns).  Head-renames keep the balanced args."""
    fns = _PQL_CTX["env_fns"]
    if not fns:
        return e
    for head in sorted(fns, key=len, reverse=True):
        kind = fns[head]
        pat = re.compile(r"(?<![\w.])" + re.escape(head) + r"\s*\(")
        while True:
            masked = X.strip_strings(e)
            m = pat.search(masked)
            if not m:
                break
            depth, i = 1, m.end()
            while i < len(masked) and depth:
                depth += masked[i] == "("
                depth -= masked[i] == ")"
                i += 1
            inner = e[m.end():i - 1]
            if kind == "parse":
                rep = f"to_timestamp({inner})"
            elif kind == "date":
                rep = f"make_date({inner})"
            elif kind == "mean":
                rep = (f"(aggregate(({inner}), cast(0 as double), "
                       f"(acc, x) -> acc + x) / size(({inner})))")
            elif kind == "monthrange":
                rest = e[i:]
                stripped = rest.lstrip()
                if not stripped.startswith("[1]"):
                    raise ValueError(
                        "monthrange is supported only as "
                        "monthrange(y, m)[1] (days in month)")
                args = _split_top(inner)
                if len(args) != 2:
                    raise ValueError(f"monthrange needs 2 args: {inner!r}")
                rep = (f"day(last_day(make_date({args[0]}, "
                       f"{args[1]}, 1)))")
                i += (len(rest) - len(stripped)) + 3   # consume "[1]"
            else:                                       # pragma: no cover
                break
            e = e[:m.start()] + rep + e[i:]
    return e


_CMP0_RE = re.compile(r"\)\s*(>=|<=|==|!=|>|<)\s*0(?![\w.])")


def _rewrite_datetime(e: str) -> str:
    """Datetime idioms from the reference scenario queries:

    * ``X.date()``        → ``to_date(X)``
    * ``(A - B).days``    → ``datediff(A, B)`` (dates here are
      midnight timestamps, where the two agree exactly)
    * ``X.year/.month/.day`` → ``year(X)``/… when X is a call, a
      dotted path, or a known timestamp let var (a bare row alias
      keeps struct-field semantics)
    * ``(A - B) > 0``     → ``A > B`` when a side is timestamp-typed
      (Python timedelta comparison; Spark interval vs int won't
      compare — the algebraic form is exact)
    """
    # ---- X.date() → to_date(X) -------------------------------------
    while True:
        masked = X.strip_strings(e)
        m = re.search(r"\.date\s*\(\s*\)", masked)
        if not m:
            break
        start = _trailing_primary_start(e, masked, m.start() + 1)
        base = e[start:m.start()].strip()
        if not base:
            break
        e = e[:start] + f"to_date({base})" + e[m.end():]
    # ---- (A - B).days → datediff(A, B) ------------------------------
    while True:
        masked = X.strip_strings(e)
        m = re.search(r"\)\s*\.days\b", masked)
        if not m:
            break
        # back-scan the balanced group ending at m.start()
        depth, j = 1, m.start() - 1
        while j >= 0 and depth:
            if masked[j] == ")":
                depth += 1
            elif masked[j] == "(":
                depth -= 1
            j -= 1
        if depth:
            break
        inner = e[j + 2:m.start()]
        parts = _split_minus_top(inner)
        if len(parts) != 2:
            raise ValueError(f"unsupported .days base: {inner!r}")
        e = (e[:j + 1] + f"datediff({parts[0].strip()}, "
             f"{parts[1].strip()})" + e[m.end():])
    # ---- date-part attributes ---------------------------------------
    ts_vars = _PQL_CTX["ts_vars"]
    while True:
        masked = X.strip_strings(e)
        hit = None
        for m in re.finditer(r"\.(year|month|day)\b(?!\s*\()", masked):
            start = _trailing_primary_start(e, masked, m.start())
            base = e[start:m.start()].strip()
            if not base:
                continue
            if (base.endswith(")") or "." in base or base in ts_vars):
                hit = (start, m.start(), m.end(), m.group(1), base)
                break
        if hit is None:
            break
        start, _bend, aend, part, base = hit
        e = e[:start] + f"{part}({base})" + e[aend:]
    # ---- (A - B) cmp 0 → A cmp B (timestamp difference) -------------
    while True:
        masked = X.strip_strings(e)
        hit = None
        for m in _CMP0_RE.finditer(masked):
            depth, j = 1, m.start() - 1
            while j >= 0 and depth:
                if masked[j] == ")":
                    depth += 1
                elif masked[j] == "(":
                    depth -= 1
                j -= 1
            if depth:
                continue
            inner = e[j + 2:m.start()]
            parts = _split_minus_top(inner)
            if len(parts) != 2:
                continue
            timestampy = any(
                "to_timestamp(" in p or "to_date(" in p
                or p.strip() in _PQL_CTX["ts_vars"] for p in parts)
            if not timestampy:
                continue
            hit = (j + 1, m.end(), m.group(1), parts)
            break
        if hit is None:
            return e
        s, t, op, (a, b) = hit
        e = e[:s] + f"(({a.strip()}) {op} ({b.strip()}))" + e[t:]


def _split_minus_top(s: str) -> list[str]:
    """Split on a top-level binary ``-`` (ignores ``->`` lambdas and
    unary minus after an operator)."""
    masked = X.strip_strings(s)
    depth = 0
    for i, ch in enumerate(masked):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "-" and depth == 0:
            if i + 1 < len(masked) and masked[i + 1] == ">":
                continue
            before = masked[:i].rstrip()
            if not before or before[-1] in "+-*/%<>=,(":
                continue                     # unary
            return [s[:i], s[i + 1:]]
    return [s]


def _rewrite_next_calls(e: str) -> str:
    """``next((select … for v in ARR where …), default)`` → first
    element of the compiled HOF array, or the default (reference
    cust_journey scenario queries 4/5: Python next() over a query
    generator).  Spark's get() is 0-based and NULL out-of-bounds."""
    while True:
        masked = X.strip_strings(e)
        m = re.search(r"(?<![\w.])next\s*\(", masked)
        if not m:
            return e
        depth, i = 1, m.end()
        while i < len(masked) and depth:
            depth += masked[i] == "("
            depth -= masked[i] == ")"
            i += 1
        args = _split_top(e[m.end():i - 1])
        if len(args) != 2:
            raise ValueError(
                "next() over a query needs an explicit default "
                f"(got {len(args)} args)")
        gen, default = args[0].strip(), args[1].strip()
        if gen.startswith("(") and gen.endswith(")"):
            gen = gen[1:-1]
        if not _has_query_clauses(gen):
            raise ValueError(f"next() over a non-query: {gen!r}")
        arr = _compile_nested_query(gen)
        first = f"get(({arr}), 0)"
        rep = first if default in ("None", "NULL", "null") \
            else f"ifnull({first}, {_translate_py(default)})"
        e = e[:m.start()] + rep + e[i:]


def _truthy_sql(conj: str, tr) -> str | None:
    """Compile a where-conjunct under PYTHON TRUTHINESS when its shape
    needs it (reference Executor.py evals conditions with Python bool):
    a bare array var → size>0, a next()-bound struct → IS NOT NULL, a
    bracketed nested query (optionally negated) → size(…) > 0 / == 0.
    Returns None when ordinary boolean compilation applies."""
    c = conj.strip()
    named = _truthy_name(c)
    if named is not None:
        return named
    m = re.match(r"^not\s+(.*)$", c, re.DOTALL)
    c2 = m.group(1).strip() if m else c
    if re.fullmatch(r"[A-Za-z_]\w*", c2):
        return None            # an untracked bare name: plain boolean
    masked = X.strip_strings(c2)
    spans = _bracket_spans(masked)
    if (len(spans) == 1 and spans[0] == (0, len(c2))
            and _has_query_clauses(c2[1:-1])):
        arr = tr(c2)
        return f"size({arr}) {'=' if m else '>'} 0"
    return None


# ------------------------------------------ nested query expressions
#
# Reference Grammar.md puts query_expression under expr, so ANY clause
# expression can contain a bracketed query (tutorial q4 `let ys = [ y
# for y … ]`, q10 nested `[ select … ]` in the projection, the
# cust_journey `[select e for e in cj where …] != []` idiom).  Over
# array-valued / range sources these compile to Spark higher-order
# functions — filter/transform/flatten over sequence() or the array
# column — which stay JVM-side with zero shuffle and scale with the
# row they sit in.  DataFrame-backed nested queries are handled at the
# clause level (membership → semi/anti join, outer(…) → left join).

_NQ_FOR_RE = re.compile(r"\bfor\s+[A-Za-z_]\w*\s+in\b")


def _bracket_spans(masked: str) -> list[tuple[int, int]]:
    """Outermost balanced ``[ … ]`` spans (left-to-right)."""
    spans, i = [], 0
    while i < len(masked):
        if masked[i] == "[":
            depth, j = 1, i + 1
            while j < len(masked) and depth:
                depth += masked[j] == "["
                depth -= masked[j] == "]"
                j += 1
            if depth == 0:
                spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


_NOT_PRIMARY_KW = frozenset((
    "and", "or", "not", "in", "if", "else", "when", "then", "case",
    "select", "where", "let", "return", "as", "on", "between", "like",
    "is", "union", "intersect", "except", "by", "for"))


def _is_subscript(masked: str, i: int) -> bool:
    """Is the ``[`` at ``i`` indexing a preceding primary?  A keyword
    before the bracket (``else [None]``, ``in [1,2]``) is a literal."""
    j = i
    while j > 0 and masked[j - 1] in " \t\n":
        j -= 1
    if j == 0 or not (masked[j - 1].isalnum()
                      or masked[j - 1] in "_)]'\""):
        return False
    m = re.search(r"([A-Za-z_]\w*)$", masked[:j])
    return not (m and m.group(1).lower() in _NOT_PRIMARY_KW)


def _has_query_clauses(content: str) -> bool:
    """Does the bracket content contain a top-level ``for NAME in``
    (query-comprehension form; covers select-less queries too)?"""
    masked = X.strip_strings(content)
    depth = 0
    for m in re.finditer(r"[()\[\]{}]|" + _NQ_FOR_RE.pattern, masked):
        t = m.group(0)
        if t in "([{":
            depth += 1
        elif t in ")]}":
            depth -= 1
        elif depth == 0:
            return True
    return False


def _trailing_primary_start(e: str, masked: str, pos: int) -> int:
    """Start index of the longest primary (identifier/attribute chain,
    optionally ending in balanced calls/indexes) ending at ``pos``."""
    j = pos
    while j > 0 and e[j - 1] in " \t\n":
        j -= 1
    while j > 0:
        c = masked[j - 1]
        if c in ")]":
            depth, j = 1, j - 1
            while j > 0 and depth:
                if masked[j - 1] in ")]":
                    depth += 1
                elif masked[j - 1] in "([":
                    depth -= 1
                j -= 1
        elif c.isalnum() or c in "_.":
            j -= 1
        else:
            break
    return j


def _nested_clause_list(content: str) -> list[tuple[str, str]]:
    """Clause list of a nested query expression (select-less lead
    becomes the select body, as in :func:`_clauses`)."""
    return _clauses(content)


def _split_for_items(body: str) -> list[tuple[str, str]]:
    out = []
    for item in _split_top(body):
        m = re.match(r"^([A-Za-z_]\w*)\s+in\s+(.*)$", item, re.DOTALL)
        if not m:
            raise ValueError(f"bad nested for clause: {item!r}")
        out.append((m.group(1), m.group(2).strip()))
    return out


def _range_to_seq(args: list[str]) -> str:
    """Python ``range(…)`` → guarded Spark ``sequence`` (empty ranges
    must yield array(), not a descending sequence)."""
    if len(args) == 1:
        a, b, s = "0", args[0], None
    elif len(args) == 2:
        (a, b), s = args, None
    else:
        a, b, s = args
    a = f"CAST(({_translate_py(a)}) AS BIGINT)"
    b = f"CAST(({_translate_py(b)}) AS BIGINT)"
    if s is None:
        return f"CASE WHEN {a} >= {b} THEN array() ELSE sequence({a}, {b} - 1) END"
    s = f"CAST(({_translate_py(s)}) AS BIGINT)"
    return (f"CASE WHEN {s} > 0 THEN "
            f"(CASE WHEN {a} >= {b} THEN array() ELSE sequence({a}, {b} - 1, {s}) END) "
            f"ELSE "
            f"(CASE WHEN {a} <= {b} THEN array() ELSE sequence({a}, {b} + 1, {s}) END) END")


def _nested_source_sql(src: str) -> str:
    src = src.strip()
    m = re.match(r"^range\s*\((.*)\)$", X.strip_strings(src), re.DOTALL)
    if m:
        inner = src[src.index("(") + 1:src.rindex(")")]
        return _range_to_seq(_split_top(inner))
    return _translate_py(src)


def _nested_select_sql(sel: str) -> str:
    """Nested-query projection → a single SQL expression (tuple ctors
    become named structs so downstream ``.field`` access works)."""
    sel = sel.strip()
    if sel.startswith("(") and sel.endswith(")"):
        inner = sel[1:-1]
        items = _split_top(inner)
        if len(items) > 1 or re.search(r"\bas\b", X.strip_strings(inner)):
            parts = []
            for it in items:
                body, alias = _split_as(it)
                if alias is None:
                    mw = re.fullmatch(r"[\w.]+", body.strip())
                    if not mw:
                        raise ValueError(
                            f"nested tuple item needs an alias: {it!r}")
                    alias = body.strip().split(".")[-1]
                parts.append(f"'{alias}', ({_translate_py(body)})")
            return "named_struct(" + ", ".join(parts) + ")"
    return _translate_py(sel)


def _compile_nested_query(content: str) -> str:
    """Compile a bracketed query over array/range sources into one
    Spark HOF expression (no shuffle; evaluated per enclosing row).

    ``let`` clauses inline by substitution (HOF lambdas have no
    binding form): each let body — itself possibly a nested query
    (reference burn-rate query, cust_journey_scenario_tests.py:131) —
    replaces the variable in later clauses; aggregate calls over an
    array-valued let var fold the array first (Python sum-over-list
    semantics)."""
    sel, fors, conds = None, [], []
    subs: dict[str, str] = {}       # let var → raw parenthesized body
    arrvars: set[str] = set()       # array-valued let vars (fold aggs)

    def prep(body: str) -> str:
        body = _rewrite_seq_aggs(body, arrvars)
        for v, rep in subs.items():
            body = _rename_var(body, v, rep)
        return body

    raw_sel: str | None = None
    for kw, body in _nested_clause_list(content):
        if kw == "select":
            raw_sel = body     # select evaluates LAST (may reference
            # lets declared after it in source order — the reference
            # burn-rate query does exactly this)
        elif kw == "for":
            fors.extend((v, prep(s)) for v, s in _split_for_items(body))
        elif kw in ("where", "if"):
            conds.append(prep(body))
        elif kw == "let":
            for item in _split_top(body):
                var, e = item.split("=", 1)
                var, e = var.strip(), e.strip()
                masked_e = X.strip_strings(e)
                sp = _bracket_spans(masked_e)
                if (len(sp) == 1 and sp[0] == (0, len(e))
                        and _has_query_clauses(e[1:-1])):
                    arrvars.add(var)
                subs[var] = "(" + prep(e) + ")"
        else:
            raise ValueError(
                f"clause {kw!r} is not supported inside a nested query "
                f"expression (supported: select/for/let/where/if)")
    sel = prep(raw_sel) if raw_sel is not None else None
    if sel is None or not fors:
        raise ValueError("nested query needs a select body and a for clause")
    srcs = [_nested_source_sql(s) for _, s in fors]
    vin = fors[-1][0]
    inner = srcs[-1]
    if conds:
        cond_sql = " AND ".join(f"({_translate_py(c)})" for c in conds)
        inner = f"filter({inner}, {vin} -> {cond_sql})"
    sel_sql = _nested_select_sql(sel)
    if sel_sql.strip() != vin:
        inner = f"transform({inner}, {vin} -> {sel_sql})"
    for (v, _), arr in zip(reversed(fors[:-1]), reversed(srcs[:-1])):
        inner = f"flatten(transform({arr}, {v} -> {inner}))"
    return inner


def _rewrite_nested_queries(e: str) -> str:
    while True:
        masked = X.strip_strings(e)
        hit = None
        for i, j in _bracket_spans(masked):
            if not _is_subscript(masked, i) \
                    and _has_query_clauses(e[i + 1:j - 1]):
                hit = (i, j)
                break
        if hit is None:
            return e
        i, j = hit
        sql = _compile_nested_query(e[i + 1:j - 1])
        e = e[:i] + "(" + sql + ")" + e[j:]


def _rewrite_list_literals(e: str) -> str:
    """Python list literals → ``array(…)``; after a membership ``in``
    they become a SQL IN-list instead."""
    while True:
        masked = X.strip_strings(e)
        hit = None
        for i, j in _bracket_spans(masked):
            if not _is_subscript(masked, i):
                hit = (i, j)
                break
        if hit is None:
            return e
        i, j = hit
        items = [_translate_py(it) for it in _split_top(e[i + 1:j - 1])]
        before = masked[:i].rstrip()
        if re.search(r"\b(not\s+)?in$", before):
            if not items:
                raise ValueError("membership test against an empty list")
            rep = "(" + ", ".join(items) + ")"
        else:
            rep = "array(" + ", ".join(items) + ")"
        e = e[:i] + rep + e[j:]


def _rewrite_neg_subscripts(e: str) -> str:
    """``seq[-n]`` → ``element_at(seq, -n)`` (Spark's ``[ ]`` is
    0-based non-negative; Python's negative indexing counts from the
    end, which element_at provides)."""
    while True:
        masked = X.strip_strings(e)
        hit = None
        for i, j in _bracket_spans(masked):
            inner = masked[i + 1:j - 1].strip()
            if _is_subscript(masked, i) and re.fullmatch(r"-\s*\d+", inner):
                hit = (i, j, inner.replace(" ", ""))
                break
        if hit is None:
            return e
        i, j, idx = hit
        start = _trailing_primary_start(e, masked, i)
        prim = e[start:i].rstrip()
        if not prim:
            return e
        e = e[:start] + f"element_at({prim}, {idx})" + e[j:]


def _rewrite_dict_literals(e: str) -> str:
    """``{"k": v, …}`` → ``named_struct('k', v, …)`` (string keys)."""
    while True:
        masked = X.strip_strings(e)
        i = masked.find("{")
        if i == -1:
            return e
        depth, j = 1, i + 1
        while j < len(masked) and depth:
            depth += masked[j] == "{"
            depth -= masked[j] == "}"
            j += 1
        parts = []
        for p in _split_top(e[i + 1:j - 1]):
            pm = X.strip_strings(p)
            d, cpos = 0, -1
            for k, ch in enumerate(pm):
                if ch in "([{":
                    d += 1
                elif ch in ")]}":
                    d -= 1
                elif ch == ":" and d == 0:
                    cpos = k
                    break
            if cpos < 0:
                raise ValueError(f"bad dict-literal entry: {p!r}")
            key = p[:cpos].strip()
            mkey = re.fullmatch(r"""["']([^"']*)["']""", key)
            if not mkey:
                raise ValueError(f"dict-literal key must be a string: {key!r}")
            parts.append(f"'{mkey.group(1)}', ({_translate_py(p[cpos + 1:])})")
        e = e[:i] + "named_struct(" + ", ".join(parts) + ")" + e[j:]


_TERN_IF_RE = re.compile(r"\bif(?!\s*\()\b")
_TERN_ELSE_RE = re.compile(r"\belse\b")


def _truthy_name(c: str) -> str | None:
    """Python truthiness for a bare (optionally negated) variable in a
    boolean position: array var → size>0, next()-bound struct →
    IS NOT NULL.  None when not a tracked name."""
    n = c.strip()
    neg = False
    m = re.match(r"^not\s+([A-Za-z_]\w*)$", n)
    if m:
        neg, n = True, m.group(1)
    if not re.fullmatch(r"[A-Za-z_]\w*", n):
        return None
    if n in _PQL_CTX["seq_vars"]:
        return f"size({n}) {'=' if neg else '>'} 0"
    if n in _PQL_CTX["opt_vars"]:
        return f"{n} IS {'' if neg else 'NOT '}NULL"
    return None


def _rewrite_ternary(e: str) -> str:
    """Python conditional expression ``A if C else B`` → ``if(C, A,
    B)``, at top level and (comma-bounded) inside paren groups.  A
    bare array/struct var as the condition takes Python truthiness
    (reference `np.mean(burn_rates) if burn_rates else 0`)."""
    ifs = _top_level_spans(e, _TERN_IF_RE)
    elses = _top_level_spans(e, _TERN_ELSE_RE)
    for i0 in ifs:
        els = [m for m in elses if m.start() >= i0.end()]
        a = e[:i0.start()].strip()
        if not (a and els):
            continue
        c = e[i0.end():els[0].start()].strip()
        b = e[els[0].end():].strip()
        if c and b:
            cond = _truthy_name(c) or _rewrite_ternary(c)
            return (f"if(({cond}), ({_rewrite_ternary(a)}), "
                    f"({_rewrite_ternary(b)}))")
    # descend into parenthesized groups, splitting args on commas
    masked = X.strip_strings(e)
    out, i, changed = [], 0, False
    while i < len(masked):
        if masked[i] == "(":
            depth, j = 1, i + 1
            while j < len(masked) and depth:
                depth += masked[j] == "("
                depth -= masked[j] == ")"
                j += 1
            inner = e[i + 1:j - 1]
            if _top_level_spans(inner, _TERN_IF_RE):
                parts = [_rewrite_ternary(p) for p in _split_top(inner)]
                new = "(" + ", ".join(parts) + ")"
                if new != e[i:j]:
                    changed = True
                out.append(new)
            else:
                out.append(e[i:j])
            i = j
        else:
            out.append(e[i])
            i += 1
    return "".join(out) if changed else e


def _translate_py(e: str) -> str:
    """Python-isms → Spark SQL (beyond expr.translate)."""
    body, alias = _split_as(e)
    if alias is not None and re.fullmatch(r"\w+", alias):
        return f"{_translate_py(body)} as {alias}"
    e = _rewrite_env_calls(e)
    e = _rewrite_next_calls(e)
    e = _rewrite_nested_queries(e)
    e = _rewrite_list_literals(e)
    e = _rewrite_dict_literals(e)
    e = _rewrite_neg_subscripts(e)
    e = _rewrite_ternary(e)
    e = _rewrite_path_steps(e)
    e = _rewrite_datetime(e)
    # try E except D — preserve any text before `try`, keep the
    # wrapped cast's own type (str(x) must stay a string, not get
    # re-cast to double), and move unbalanced trailing parens out of
    # the default so `( try f(x) except 0 )` stays balanced
    m = re.search(r"\btry\b(.*?)\bexcept\b(.*)", X.strip_strings(e),
                  re.DOTALL)
    if m:
        prefix = e[:m.start()]
        body = e[m.start(1):m.end(1)].strip()
        default = e[m.start(2):m.end(2)].strip()
        suffix = ""
        # a trailing `as alias` belongs to the whole expression, not
        # the default value (anchor on the `as` token itself — a \s+
        # prefix would eat backwards through a masked string literal)
        ma = re.search(r"\bas\s+\w+\s*$", X.strip_strings(default))
        if ma and default[:ma.start()].strip():
            suffix = " " + default[ma.start():]
            default = default[:ma.start()].strip()
        depth = 0
        for i, ch in enumerate(X.strip_strings(default)):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    suffix = default[i:] + suffix
                    default = default[:i].strip()
                    break
        coerced = _coerce_casts(body)
        if coerced != body:
            # the cast functions are now try_cast (NULL on failure):
            # coalesce directly, keeping each cast's own result type
            out = f"coalesce({coerced}, {default})"
        else:
            out = f"coalesce(try_cast(({coerced}) as double), {default})"
        e = prefix + out + suffix
    # x ** k → power(x, k)
    e = re.sub(r"(\w+(?:\.\w+)*|\([^()]*\))\s*\*\*\s*(\w+(?:\.\w+)*)",
               r"power(\1, \2)", e)
    return e


def _coerce_casts(e: str) -> str:
    """int(x) / float(x) inside a ``try`` body → try_cast (a plain
    cast would raise under ANSI before the outer handler sees it)."""
    for fn, t in (("int", "bigint"), ("float", "double"), ("str", "string")):
        while True:
            m = re.search(rf"\b{fn}\s*\(", e)
            if not m:
                break
            depth, i = 1, m.end()
            while i < len(e) and depth:
                depth += e[i] == "("
                depth -= e[i] == ")"
                i += 1
            inner = e[m.end():i - 1]
            e = e[:m.start()] + f"try_cast({inner} as {t})" + e[i:]
    return e


def _tuple_ctor(body: str) -> list[str]:
    """``(a, f(b) as n)`` → select expression list; a top-level dict
    ctor ``{"k": e, …}`` maps keys to column names (reference returns
    dicts — tutorial q10); bare expr passes through (single-column
    select)."""
    body = body.strip()
    if body.startswith("{") and body.endswith("}"):
        struct = _rewrite_dict_literals(body)
        m = re.match(r"^named_struct\((.*)\)$", struct, re.DOTALL)
        if m:
            parts = _split_top(m.group(1))
            out = []
            for k in range(0, len(parts) - 1, 2):
                key = parts[k].strip().strip("'")
                out.append(f"{parts[k + 1]} as {key}")
            return out
    if body.startswith("(") and body.endswith(")"):
        inner = body[1:-1]
        items = _split_top(inner)
        if len(items) > 1 or re.search(r"\bas\b", X.strip_strings(inner)):
            return [_translate_py(it) for it in items]
    return [_translate_py(body)]


# -------------------------------------------------------------- sources

def _sql_type(v) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    return "string"


def _as_df(spark: SparkSession, val: Any, var: str,
           with_pos: bool = False) -> tuple[DataFrame | None, bool]:
    """(df, scalar?).  ``with_pos`` adds a ``__pos`` input-order column
    (window sources need the sequence order the reference iterates in;
    DataFrame sources carry their own ordering columns instead)."""
    if isinstance(val, DataFrame):
        return val, False
    if isinstance(val, Query):
        return val.df(), False
    if isinstance(val, range):
        val = list(val)
    # env-bound driver sequences are bounded by the reference API
    # contract (in-memory lists there) — build them with
    # size-proportional slicing: the default createDataFrame cuts even
    # a 10-row list into defaultParallelism near-empty tasks
    from pythonql_spark.helpers import local_rows_df, local_rows_df_infer
    if isinstance(val, (list, tuple)) and not len(val):
        # iterating an empty sequence yields zero rows (reference
        # semantics), not an unresolved-source error
        schema = (f"__pos bigint, {var} string" if with_pos
                  else f"{var} string")
        return local_rows_df(spark, [], schema), True
    if isinstance(val, (list, tuple)) and len(val):
        first = val[0]
        if isinstance(first, dict) or hasattr(first, "_fields"):
            df = local_rows_df_infer(
                spark,
                [{**(v if isinstance(v, dict) else v._asdict()), "__pos": i}
                 for i, v in enumerate(val)]) if with_pos \
                else local_rows_df_infer(spark, list(val))
            return df, False
        if isinstance(first, (list, tuple)):
            inner = first[0] if len(first) else None
            if (isinstance(inner, dict) or hasattr(inner, "_fields")
                    or hasattr(inner, "__fields__")):
                # a sequence of event SEQUENCES with heterogeneous
                # per-event shapes (reference cust_journey_data:
                # journeys are tuples of different namedtuples) —
                # unify via JSON schema inference into one
                # array<struct> column, missing fields null, so
                # nested queries (`[select e for e in cj where …]`)
                # filter it as an array
                import json as _json

                def _norm(o):
                    if hasattr(o, "_asdict"):
                        o = o._asdict()
                    elif hasattr(o, "asDict"):
                        o = o.asDict()    # pyspark Row (a re-bound
                        # journey from a previous materialized query —
                        # reference `for cj in closed`)
                    if isinstance(o, dict):
                        # drop None entries: a re-bound Row pads every
                        # missing field with None; stripping restores
                        # the original sparse shape (and avoids
                        # NullType columns in JSON inference)
                        return {k: _norm(v) for k, v in o.items()
                                if v is not None}
                    if isinstance(o, (list, tuple)):
                        return [_norm(x) for x in o]
                    return o

                lines = [_json.dumps({var: [_norm(e) for e in j]})
                         for j in val]
                df = spark.read.json(
                    spark.sparkContext.parallelize(lines, 1))
                if with_pos:
                    raise ValueError(
                        "journey-shaped sources cannot order a window")
                return df.select(var), True
            return local_rows_df_infer(spark, list(val)), False
        vals = list(val)
        t = _sql_type(first)
        types = {type(v) for v in vals if v is not None}
        if len(types) > 1 or any(isinstance(v, (list, tuple, dict))
                                 for v in vals):
            if types <= {bool, int, float}:
                # mixed NUMERIC sequence ([1, 2.5, 3], [True, 1]) —
                # widen to double (bool→int), exactly the number the
                # reference projects; string fallback would silently
                # turn values into text (ADVICE r8)
                vals = [None if v is None else float(v) for v in vals]
                t = "double"
            else:
                # heterogeneous driver-local sequence (reference
                # tutorial q9: `[15, None, "34", "twenty", [12], …]`)
                # — bind as strings; try/cast expressions recover the
                # reference's dynamic-typing semantics (int('twenty')
                # raises there, cast('twenty') is NULL here — both
                # take the except arm)
                vals = [None if v is None else str(v) for v in vals]
                t = "string"
        if with_pos:
            return local_rows_df(
                spark, [(i, v) for i, v in enumerate(vals)],
                f"__pos bigint, {var} {t}"), True
        return local_rows_df(spark, [(v,) for v in vals],
                             f"{var} {t}"), True
    return None, False


# ------------------------------------------------------------- windows

_WIN_RE = re.compile(
    r"^(sliding|tumbling)\s+window\s+(\w+)\s+in\s+(.*?)"
    r"\bstart\b(.*?)\bwhen\b(.*?)(?:(\bonly\b)?\s*\bend\b(.*?)\bwhen\b(.*))?$",
    re.IGNORECASE | re.DOTALL)

_WVARS_RE = re.compile(
    r"^\s*(\w+)?\s*(?:\bat\s+(\w+))?\s*(?:\bprevious\s+(\w+))?\s*"
    r"(?:\bfollowing\s+(\w+))?\s*$", re.IGNORECASE)


def _cond_fn(cond: str, names: dict[str, str]):
    """Compile a reference window ``when`` condition to a Python
    callable over (curr, at, prev, nxt[, s_curr, s_at])."""
    code = compile(cond.strip() or "True", "<pql-when>", "eval")

    def fn(*args):
        if len(args) == 4:
            curr, at, prev, nxt = args
            sc = sa = None
        else:
            curr, at, prev, nxt, sc, sa = args
        env = {}
        for role, name in names.items():
            if not name:
                continue
            env[name] = {"curr": _attr(curr), "at": at, "prev": _attr(prev),
                         "next": _attr(nxt), "s_curr": _attr(sc), "s_at": sa}[role]
        return bool(eval(code, {"__builtins__": {}}, env))
    return fn


# --------------------------------------------------------------- match

def _parse_match_pattern(src: str) -> tuple[dict, int]:
    """Parse ``{ "key" : spec, ... }`` starting at src[0]=='{'.
    spec: string/number literal | as NAME [where cond] | nested {}."""
    from pythonql_spark.operators.match_clause import Bind
    assert src[0] == "{"
    i, pat = 1, {}
    while True:
        while i < len(src) and src[i] in " \t\n,":
            i += 1
        if src[i] == "}":
            return pat, i + 1
        m = re.match(r'"((?:[^"\\]|\\.)*)"\s*:', src[i:])
        if not m:
            raise ValueError(f"bad match pattern near: {src[i:i+40]!r}")
        key = m.group(1)
        i += m.end()
        while src[i] in " \t\n":
            i += 1
        if src[i] == "{":
            sub, used = _parse_match_pattern(src[i:])
            pat[key] = sub
            i += used
        elif src[i:].lstrip().startswith("as "):
            m2 = re.match(r"\s*as\s+(\w+)\s*(?:\bwhere\b([^,}]*))?", src[i:])
            name, cond = m2.group(1), m2.group(2)
            if cond:
                code = compile(cond.strip(), "<pql-match>", "eval")
                pat[key] = Bind(name, where=lambda v, _c=code, _n=name:
                                bool(eval(_c, {"__builtins__": {}}, {_n: v})))
            else:
                pat[key] = Bind(name)
            i += m2.end()
        else:
            m3 = re.match(r'"((?:[^"\\]|\\.)*)"|(-?\d+\.?\d*)|\b(true|false)\b',
                          src[i:])
            if not m3:
                raise ValueError(f"bad match const near: {src[i:i+40]!r}")
            if m3.group(1) is not None:
                pat[key] = m3.group(1)
            elif m3.group(2) is not None:
                v = m3.group(2)
                pat[key] = float(v) if "." in v else int(v)
            else:
                pat[key] = m3.group(3) == "true"
            i += m3.end()


# ----------------------------------------------------------------- main

def _rewrite_seq_aggs(e: str, seq_vars: set[str]) -> str:
    """Aggregate calls over window-clause variables fold the array:
    ``sum(w)`` → aggregate(w, 0, +) etc. (reference evaluates Python
    ``sum`` over the materialized window list)."""
    folds = {
        "sum": "aggregate({v}, cast(0 as double), (acc, x) -> acc + x)",
        "len": "size({v})", "count": "size({v})",
        "min": "array_min({v})", "max": "array_max({v})",
        "avg": "(aggregate({v}, cast(0 as double), (acc, x) -> acc + x) / size({v}))",
    }
    for s, t, fn, inner in sorted(X.find_agg_spans(e), reverse=True):
        if inner in seq_vars and fn in folds:
            e = e[:s] + folds[fn].format(v=inner) + e[t:]
    return e


def _strip_comments(q: str) -> str:
    """``# …`` line comments inside query text (the reference's
    scenario queries carry them inline).  One combined scan: a ``#``
    inside a string literal is kept, and an apostrophe inside a
    comment ("We're only interested…") never opens a string."""
    out, i, n = [], 0, len(q)
    while i < n:
        ch = q[i]
        if ch in "'\"":
            out.append(ch)
            i += 1
            while i < n:
                if q[i] == "\\":
                    out.append(q[i:i + 2])
                    i += 2
                    continue
                out.append(q[i])
                if q[i] == ch:
                    i += 1
                    break
                i += 1
        elif ch == "#":
            while i < n and q[i] != "\n":
                i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def pql(spark: SparkSession, query: str,
        env: dict[str, Any] | None = None) -> DataFrame:
    """Compile and run a PythonQL query-expression string; returns a
    DataFrame (use .collect()/.toPandas() for materialization).

    Also accepts a BARE path expression (reference tutorial q8:
    ``db ./ 'region' ./ 'region'``) — no clauses needed; returns a
    one-column (``value``) DataFrame of the step results in document
    order."""
    env = env or {}
    query = _strip_comments(query)
    masked_q = X.strip_strings(query)
    has_steps = any(not _is_float_dot(masked_q, m.start())
                    for m in _STEP_RE.finditer(masked_q))
    if has_steps:
        from pythonql_spark.functions.path import register_path_udfs
        register_path_udfs(spark)
    try:
        clauses = _clauses(query)
    except ValueError:
        if has_steps:
            return _bare_path_expr(spark, query, env)
        raise
    q = Query(spark)
    select_body: str | None = None
    seq_vars: set[str] = set()   # window vars (array columns)
    opt_vars: set[str] = set()   # next()-bound struct vars
    ts_vars: set[str] = set()    # timestamp-typed let vars

    def tr(e: str) -> str:
        return _rewrite_seq_aggs(_translate_py(e), seq_vars)

    saved_ctx = dict(_PQL_CTX)
    _PQL_CTX.update(env_fns=_detect_env_fns(env), seq_vars=seq_vars,
                    opt_vars=opt_vars, ts_vars=ts_vars)
    try:
        return _compile_clauses(spark, q, clauses, env, seq_vars,
                                opt_vars, ts_vars, tr)
    finally:
        _PQL_CTX.update(saved_ctx)


def _compile_clauses(spark, q, clauses, env, seq_vars, opt_vars,
                     ts_vars, tr) -> DataFrame:
    select_body: str | None = None
    for kw, body in clauses:
        if kw == "select":
            select_body = body
        elif kw == "for":
            wm = _WIN_RE.match(body.strip())
            if wm:
                seq_vars.add(_window_clause(spark, q, wm, env))
                continue
            for item in _split_top(body):
                m = re.match(r"^\(?([\w\s,]+?)\)?\s+in\s+(.*)$", item, re.DOTALL)
                if not m:
                    raise ValueError(f"bad for clause: {item!r}")
                var, src = m.group(1).strip(), m.group(2).strip()
                mo = re.match(r"^outer\s*\(\s*\[(.*)\]\s*\)$",
                              src, re.DOTALL)
                if mo and _df_backed_query(mo.group(1), env):
                    _outer_join_clause(spark, q, var, mo.group(1), env)
                    continue
                val = env.get(src)
                if val is None and re.fullmatch(r"range\([\d\s,+-]*\)", src):
                    val = eval(src, {"__builtins__": {}}, {"range": range})
                if val is None:
                    try:
                        import ast
                        lit = ast.literal_eval(src)
                        if isinstance(lit, (list, tuple)):
                            val = list(lit)
                    except (ValueError, SyntaxError):
                        pass
                df, scalar = (_as_df(spark, val, var)
                              if val is not None else (None, False))
                if df is not None:
                    if "," in var:
                        names = [v.strip() for v in var.split(",")]
                        df = df.toDF(*names)
                        q.raw_for_(df)
                    else:
                        # a 1-col DataFrame whose column IS the for
                        # variable binds the value directly (e.g. an
                        # array-of-structs journey column — reference
                        # cust_journey `for cj in cust_journeys`)
                        if (not scalar and len(df.columns) == 1
                                and df.columns[0] == var):
                            scalar = True
                        q.for_(var, df, scalar=scalar)
                    continue
                # a PATH EXPRESSION over an env collection as the
                # for-source (reference README: `for x in data ./
                # "hotels" .// "room"`): bind the base, walk the
                # steps, one row per step result (JSON-string
                # carriage, same as the bare-path surface)
                masked_src = X.strip_strings(src)
                mstep = re.match(r"\s*[A-Za-z_]\w*\s*\./", masked_src)
                if mstep and re.match(r"\s*([A-Za-z_]\w*)", src) and \
                        re.match(r"\s*([A-Za-z_]\w*)",
                                 src).group(1) in env and \
                        not isinstance(env[re.match(
                            r"\s*([A-Za-z_]\w*)", src).group(1)],
                            DataFrame):
                    pdf = _bare_path_expr(spark, src, env)
                    q.for_(var, pdf.withColumnRenamed("value", var),
                           scalar=True)
                    continue
                q.for_(var, tr(src))
        elif kw == "let":
            for item in _split_top(body):
                var, e = item.split("=", 1)
                var, e = var.strip(), e.strip()
                # a let whose whole body is a nested query bracket
                # binds an ARRAY: later sum/len/min/max/avg over it
                # must fold the array (Python semantics over the
                # materialized list — reference cust_journey
                # `balance = sum(deposits) - sum(withdrawals)`),
                # not become a SQL aggregate
                masked_e = X.strip_strings(e)
                sp = _bracket_spans(masked_e)
                if (len(sp) == 1 and sp[0] == (0, len(e))
                        and _has_query_clauses(e[1:-1])):
                    seq_vars.add(var)
                if re.match(r"^next\s*\(", masked_e):
                    # next((query), default) binds ONE element or the
                    # default — truthiness is IS NOT NULL
                    opt_vars.add(var)
                translated = tr(e)
                if re.match(r"^\s*(to_timestamp|to_date|make_date)\(",
                            translated):
                    ts_vars.add(var)   # date-part attrs become year()/…
                q.let_(var, translated)
        elif kw in ("where", "if"):
            parts = []
            for conj in X.split_conjuncts(body):
                if _try_membership_join(spark, q, conj, env):
                    continue
                t = _truthy_sql(conj, tr)
                parts.append(t if t is not None else tr(conj))
            if parts:
                q.where(" and ".join(f"({p})" for p in parts)
                        if len(parts) > 1 else parts[0])
        elif kw == "count":
            q.count_(body.strip())
        elif kw == "group by":
            keys = []
            for item in _split_top(body):
                e, alias = _split_as(item)
                e = tr(e)
                keys.append(f"{e} as {alias}" if alias else e)
            q.group_by(*keys)
        elif kw == "order by":
            q.order_by(*[tr(s) for s in _split_top(body)])
        elif kw == "match":
            _match_clause(spark, q, body, env)
        else:
            raise ValueError(f"unsupported clause: {kw}")

    if select_body is None:
        raise ValueError("query must have a select clause")
    q.select(*[_rewrite_seq_aggs(e, seq_vars) for e in _tuple_ctor(select_body)])
    return q.df()


# ----------------------------- DataFrame-backed nested subqueries
#
# Nested queries whose for-sources are env DataFrames cannot fold into
# a per-row HOF — they are real joins (reference Rewriter.py:
# good_outerjoin / the `where [select …] != []` semi-join idiom) and
# compile to the Query DSL's left/semi/anti joins, so Catalyst gets a
# hash join + pushdown instead of a correlated re-scan.


def _parse_df_query(content: str, env: dict):
    """If ``content`` is a single-source nested query over an env
    DataFrame/Query, return (select_body, var, source_df, conds)."""
    try:
        cl = _nested_clause_list(content)
    except ValueError:
        return None
    sel, fors, conds = None, [], []
    for kw, body in cl:
        if kw == "select":
            sel = body
        elif kw == "for":
            fors.extend(_split_for_items(body))
        elif kw in ("where", "if"):
            conds.extend(X.split_conjuncts(body))
        else:
            return None
    if sel is None or len(fors) != 1:
        return None
    var, src = fors[0]
    val = env.get(src.strip())
    if isinstance(val, Query):
        val = val.df()
    if not isinstance(val, DataFrame):
        return None
    return sel, var, val, conds


def _df_backed_query(content: str, env: dict) -> bool:
    return _parse_df_query(content, env) is not None


def _rename_var(text: str, old: str, new: str) -> str:
    """Rename bare identifier ``old`` (incl. ``old.field`` heads)."""
    masked = X.strip_strings(text)
    out = []
    last = 0
    for m in re.finditer(r"[A-Za-z_]\w*", masked):
        if m.group(0) == old and (m.start() == 0
                                  or masked[m.start() - 1] != "."):
            out.append(text[last:m.start()])
            out.append(new)
            last = m.end()
    out.append(text[last:])
    return "".join(out)


def _outer_join_clause(spark, q: Query, var: str, content: str,
                       env: dict) -> None:
    """``for v in outer([select y for y in TBL where conds])`` →
    LeftOuterJoin with ALL inner conds in the ON clause (reference
    Rewriter.py good_outerjoin: filter the subquery, outer-join on the
    correlation; a left join with every cond in ON is equivalent)."""
    parsed = _parse_df_query(content, env)
    assert parsed is not None
    sel, ivar, src_df, conds = parsed
    if sel.strip() != ivar:
        raise ValueError(
            "outer([...]) currently requires the subquery to select its "
            f"own iteration variable (got select {sel!r})")
    if not conds:
        raise ValueError("outer([...]) needs a correlating where clause")
    on = " AND ".join(
        f"({_translate_py(_rename_var(c, ivar, var))})" for c in conds)
    q.left_join(var, src_df, on=on)


def _try_membership_join(spark, q: Query, conj: str, env: dict) -> bool:
    """Compile one where-conjunct of the forms

        E in [select S for v in TBL where conds]      → semi join
        E not in [select S for v in TBL where conds]  → anti join
        [select … for v in TBL where conds] != []     → semi (EXISTS)
        [select … for v in TBL where conds] == []     → anti (NOT EXISTS)

    when TBL is an env DataFrame.  Returns False (untouched) for
    anything else — array-valued nested queries keep the HOF path."""
    conj = conj.strip()
    masked = X.strip_strings(conj)
    spans = _bracket_spans(masked)
    if not spans:
        return False
    # ---- [Q] != [] / [Q] == [] -------------------------------------
    i, j = spans[0]
    if masked[:i].strip() == "" and len(spans) == 2:  # starts with [Q]
        tail = masked[j:spans[1][0]].strip()
        empty = masked[spans[1][0] + 1:spans[1][1] - 1].strip() == ""
        if tail in ("!=", "==") and empty and spans[1][1] >= len(masked.rstrip()):
            parsed = _parse_df_query(conj[i + 1:j - 1], env)
            if parsed is None:
                return False
            _, ivar, src_df, conds = parsed
            on = (" AND ".join(f"({_translate_py(c)})" for c in conds)
                  if conds else "true")
            uvar = _fresh_join_var(q, ivar)
            on = _rename_var(on, ivar, uvar) if uvar != ivar else on
            if tail == "!=":
                q.semi_join(src_df, on=on, var=uvar)
            else:
                q.anti_join(src_df, on=on, var=uvar)
            return True
    # ---- E [not] in [Q] --------------------------------------------
    i, j = spans[-1]
    if j < len(masked.rstrip()):
        return False
    m = re.search(r"\b(not\s+)?in\s*$", masked[:i])
    if not m:
        return False
    parsed = _parse_df_query(conj[i + 1:j - 1], env)
    if parsed is None:
        return False
    sel, ivar, src_df, conds = parsed
    lhs = conj[:m.start()].strip()
    uvar = _fresh_join_var(q, ivar)
    sel_u = _rename_var(sel, ivar, uvar)
    conds_u = [_rename_var(c, ivar, uvar) for c in conds]
    on = f"(({_translate_py(lhs)}) == ({_translate_py(sel_u)}))"
    for c in conds_u:
        on += f" AND ({_translate_py(c)})"
    if m.group(1):
        q.anti_join(src_df, on=on, var=uvar)
    else:
        q.semi_join(src_df, on=on, var=uvar)
    return True


def _fresh_join_var(q: Query, ivar: str) -> str:
    """The packed struct var for a membership join — keep the inner
    query's own name unless it collides with an existing binding."""
    taken = {c.get("var") for c in q._clauses if "var" in c}
    if ivar not in taken:
        return ivar
    n = 0
    while f"__m{n}" in taken:
        n += 1
    return f"__m{n}"


def _bare_path_expr(spark: SparkSession, query: str,
                    env: dict[str, Any]) -> DataFrame:
    """``db ./ 'k' .// 'k2'`` with no query clauses: the base names an
    env value (a Python list/sequence of JSON-like values, or a
    DataFrame whose FIRST column holds JSON text); each row's step
    results explode to one ``value`` row each, preserving document
    order within a row."""
    import json

    mb = re.match(r"\s*([A-Za-z_]\w*)", X.strip_strings(query))
    if not mb:
        raise ValueError(f"bad path expression: {query!r}")
    base = mb.group(1)
    if base not in env:
        raise ValueError(f"path base {base!r} not found in env")
    val = env[base]
    if isinstance(val, DataFrame):
        df, col = val, val.columns[0]
    else:
        from pythonql_spark.helpers import local_rows_df
        df = local_rows_df(
            spark,
            [(v if isinstance(v, str) else json.dumps(v, sort_keys=True),)
             for v in val], "__v string")
        col = "__v"
    rewritten = _rewrite_path_steps(col + query[mb.end(1):])
    from pyspark.sql import functions as F
    return df.select(F.explode(F.expr(rewritten)).alias("value"))


def _window_clause(spark, q: Query, wm: re.Match, env) -> str:
    """Standalone window clause over an env-provided sequence.
    Returns the window variable name (an array column downstream)."""
    kind, wvar, src = wm.group(1).lower(), wm.group(2), wm.group(3).strip()
    s_vars, s_when = wm.group(4), wm.group(5)
    only = bool(wm.group(6))
    e_vars, e_when = wm.group(7), wm.group(8)

    sv = _WVARS_RE.match((s_vars or "").strip())
    s_names = {"curr": sv.group(1), "at": sv.group(2),
               "prev": sv.group(3), "next": sv.group(4)}
    start_fn = _cond_fn(s_when, s_names)

    end_fn, e_names = None, {}
    if e_when is not None:
        ev = _WVARS_RE.match((e_vars or "").strip())
        e_names = {"curr": ev.group(1), "at": ev.group(2),
                   "prev": ev.group(3), "next": ev.group(4),
                   "s_curr": s_names["curr"], "s_at": s_names["at"]}
        end_fn = _cond_fn(e_when, e_names)

    if src not in env:
        # a parenthesized query expression as the window source
        # (reference tutorial q13: `for sliding window x in (select
        # (y,z) for …)`) — compile it recursively and bind the rows
        # as a driver-local sequence; without an `order by` the
        # sequence takes canonical (column-sorted) order, the same
        # documented deviation as the codec
        inner = src.strip()
        if inner[:1] == "(" and inner[-1:] == ")":
            inner = inner[1:-1].strip()
        if re.match(r"select\b", inner) or \
                _NQ_FOR_RE.search(X.strip_strings(inner)):
            rows = pql(spark, inner, env=env).collect()
            if not re.search(r"\border\s+by\b", X.strip_strings(inner),
                             re.IGNORECASE):
                rows = sorted(rows, key=lambda r: tuple(
                    (v is None, v) for v in r))
            env = {**env,
                   src: [r.asDict() if len(r.__fields__) > 1 else r[0]
                         for r in rows]}
        else:
            raise ValueError(f"window source {src!r} not found in env")
    from pythonql_spark.operators.window_clause import (fixed_windows,
                                                        predicate_windows)
    # count-based shape (`start … when True / end at e when e - s ==
    # K`) compiles to native JVM frames — the same fast path the
    # Query DSL picks; no Python in the plan (measured 4.9s → sub-1s
    # on the events table at sf0.1)
    size = None
    if e_when is not None and s_when.strip() in ("True", "true", "1"):
        mfix = re.match(r"^\s*(\w+)\s*-\s*(\w+)\s*==\s*(\d+)\s*$",
                        e_when.strip())
        if mfix and mfix.group(1) == e_names.get("at") \
                and mfix.group(2) == s_names.get("at"):
            size = int(mfix.group(3)) + 1
    if isinstance(env[src], TableSeq):
        # distributed sequence: per-key Arrow batches on executors —
        # the scale path (the local-sequence branch below is the
        # reference's bounded driver-side contract)
        ts = env[src]
        hidden = [c for c in ts.df.columns
                  if c not in ts.partition_by and c != ts.value]
        if size is not None:
            wdf = fixed_windows(ts.df, order_by=ts.order_by, size=size,
                                partition_by=ts.partition_by or None,
                                tumbling=(kind == "tumbling"),
                                only_full=only,
                                exclude_from_window=hidden)
        else:
            wdf = predicate_windows(ts.df, order_by=ts.order_by,
                                    partition_by=ts.partition_by or None,
                                    start_when=start_fn, end_when=end_fn,
                                    tumbling=(kind == "tumbling"),
                                    only_end=only,
                                    exclude_from_window=hidden)
        single, scalar = ts.value, True
    else:
        seq, scalar = _as_df(spark, env[src], "v", with_pos=True)
        if seq is None:
            raise ValueError(f"window source {src!r} is empty or unsupported")
        if "__pos" not in seq.columns:
            # windows walk a SEQUENCE; a DataFrame has no inherent order
            # (monotonically_increasing_id depends on partition layout —
            # nondeterministic window contents after any shuffle); pass
            # a TableSeq(df, order_by=..., partition_by=...) instead
            raise ValueError(
                f"window source {src!r} is a DataFrame without a __pos "
                "order column; wrap it in pql.TableSeq (distributed, "
                "per-key) or pass a Python sequence")
        if size is not None:
            wdf = fixed_windows(seq, order_by="__pos", size=size,
                                tumbling=(kind == "tumbling"),
                                only_full=only,
                                exclude_from_window=["__pos"])
        else:
            wdf = predicate_windows(seq, order_by="__pos",
                                    start_when=start_fn, end_when=end_fn,
                                    tumbling=(kind == "tumbling"),
                                    only_end=only,
                                    exclude_from_window=["__pos"])
        value_cols = [c for c in seq.columns if c != "__pos"]
        single = value_cols[0] if len(value_cols) == 1 else None
    from pyspark.sql import functions as F
    if single and scalar:
        wdf = wdf.withColumn("window", F.expr(f"transform(window, x -> x.{single})"))
    wdf = wdf.withColumnRenamed("window", wvar)
    if s_names["curr"]:
        wdf = wdf.withColumn(s_names["curr"], F.expr(f"{wvar}[0]"))
    if s_names["at"]:
        wdf = wdf.withColumnRenamed("s_at", s_names["at"])
    if e_names.get("curr"):
        wdf = wdf.withColumn(e_names["curr"], F.expr(f"element_at({wvar}, -1)"))
    if e_names.get("at"):
        wdf = wdf.withColumnRenamed("e_at", e_names["at"])
    q.raw_for_(wdf)
    return wvar


def _match_clause(spark, q: Query, body: str, env) -> None:
    from pythonql_spark.operators.match_clause import match_pattern
    m = re.match(r"^(exact\s+)?(\{.*\})\s*(?:as\s+(\w+)\s+)?in\s+(\w+)\s*$",
                 body.strip(), re.DOTALL)
    if not m:
        raise ValueError(f"bad match clause: {body[:60]!r}")
    exact, pat_src, parent, src = (bool(m.group(1)), m.group(2),
                                   m.group(3), m.group(4))
    pattern, _ = _parse_match_pattern(pat_src.strip())
    val = env[src]
    if not isinstance(val, DataFrame):
        import json

        from pythonql_spark.helpers import local_rows_df
        val = local_rows_df(
            spark, [(json.dumps(v, sort_keys=True),) for v in val],
            f"{parent or 'z'} string")
        matched = match_pattern(val, val.columns[0], pattern, exact=exact)
    else:
        # `as NAME` binds the matched parent value for DataFrame
        # sources too (it is the column name for list sources above)
        matched = match_pattern(val, val.columns[0], pattern,
                                exact=exact, bind_parent=parent)
    q.raw_for_(matched)
