"""Clause-based query DSL compiled to a single Spark DataFrame plan.

Parity surface (reference ``pythonql/algebra/operators.py`` and
``Executor.py``): For, Let, Where, Count, GroupBy (implicit-list
semantics), OrderBy, Select, Join / LeftOuterJoin, semi/anti
membership.  The reference executes clauses tuple-at-a-time over a
binding table (Executor.py:119-139); here each query variable is a
struct-typed column and the whole clause list compiles to one
DataFrame plan, so Catalyst gets join selection, predicate pushdown
and column pruning.

Two compiler rewrites mirror the reference's Rewriter and go beyond
it for scale:

* **Join lifting** (Rewriter.py:19-26 ``is_join_cond``): top-level
  equality conjuncts of later ``where`` clauses that bridge a new
  ``for_`` source to already-visible variables become the join
  condition, so the plan is an equi-join (hash/sort-merge/broadcast)
  instead of a filtered cartesian product.

* **Aggregation pushdown**: the reference's group-by turns every
  non-key variable into a per-group Python list (Executor.py:403-450)
  and later clauses fold those lists.  Materializing per-group lists
  is exactly what does NOT scale to 100 TB, so when every later use
  of a grouped variable sits inside an aggregate call the compiler
  emits native partial aggregates (map-side combine) and rewrites the
  later expressions to reference them.  Only variables with raw
  (non-aggregate) uses are collected with ``collect_list`` —
  byte-for-byte the reference semantics.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pythonql_spark import expr as X


def _split_as(e: str) -> tuple[str, str | None]:
    """Split ``expr as alias`` at top level."""
    masked = X.strip_strings(e)
    depth = 0
    for m in re.finditer(r"[()\[\]]|\bas\b", masked, flags=re.IGNORECASE):
        tok = m.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            return e[:m.start()].strip(), e[m.end():].strip()
    return e.strip(), None


def _pack(source: DataFrame, var: str) -> DataFrame:
    """Pack a table's row into a single struct column named ``var``
    (the PQTuple analog — reference PQTuple.py).  One star expression:
    listing ``source.columns`` would cost a JVM analysis plus one py4j
    call per column."""
    return source.select(F.struct(F.col("*")).alias(var))


class Query:
    """Fluent PythonQL-style query over Spark DataFrames."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._clauses: list[dict[str, Any]] = []

    def _add(self, **kw) -> "Query":
        self._clauses.append(kw)
        return self

    # ---- clauses -------------------------------------------------
    def for_(self, var, source, outer: bool = False, hint: str | None = None,
             scalar: bool = False) -> "Query":
        """``for var in source``.  source: DataFrame (scan, packed as a
        struct column) or an expression string over visible variables
        (correlated iteration → lateral explode).  ``outer=True`` on a
        lateral keeps rows with empty sequences (reference
        helpers.py:outer).  ``hint='broadcast'`` marks a small dim.
        ``scalar=True``: source is a single-column table whose values
        bind directly to ``var`` (no struct pack) — the reference's
        ``for x in [1,2,3]`` shape."""
        return self._add(kind="for", var=var, source=source, outer=outer,
                         hint=hint, scalar=scalar)

    def raw_for_(self, df) -> "Query":
        """Bind a DataFrame's columns directly as visible variables
        (used by operator front-ends like pql windows/match)."""
        return self._add(kind="raw", df=df)

    def let_(self, var: str, expression) -> "Query":
        return self._add(kind="let", var=var, expression=expression)

    def where(self, cond) -> "Query":
        return self._add(kind="where", cond=cond)

    def count_(self, var: str, order: str | None = None) -> "Query":
        """Running index of each binding tuple (reference
        Executor.py:391-400).  Spark has no inherent row order, so an
        ``order`` expression is required for a deterministic index."""
        return self._add(kind="count", var=var, order=order)

    def window_(self, var: str, *, order_by, start_when=None, end_when=None,
                size: int | None = None,
                partition_by=None, tumbling: bool = False,
                only_end: bool = False) -> "Query":
        """Predicate-window clause (reference Grammar.md `window`):
        consumes the current binding sequence (per ``partition_by``
        key, ordered by ``order_by`` expressions) and binds ``var`` to
        each window (array of structs) plus ``s_at``/``e_at``/``closed``
        columns.  See operators.window_clause.predicate_windows.

        Pass ``size=`` (instead of predicates) for count-based
        windows: these compile to native JVM window frames
        (operators.window_clause.fixed_windows) — no Python in the
        plan."""
        if size is None and start_when is None:
            raise ValueError("window_ needs either size= or start_when=")
        return self._add(kind="window", var=var, order_by=order_by,
                         start_when=start_when, end_when=end_when,
                         size=size,
                         partition_by=partition_by, tumbling=tumbling,
                         only_end=only_end)

    def group_by(self, *keys: str, rollup: bool = False,
                 cube: bool = False,
                 grouping_sets: list[list[str]] | None = None) -> "Query":
        """``group by expr as alias, ...``; non-key variables follow
        the implicit-list semantics (see module docstring).  With
        ``rollup=True`` the grouping is hierarchical (subtotals per key
        prefix + grand total, keys NULL at coarser levels);
        ``cube=True`` aggregates over EVERY key subset;
        ``grouping_sets=[[aliases...], ...]`` picks EXPLICIT subsets
        (each entry lists key aliases; ``[]`` is the grand total) —
        beyond the reference, for corpus-stats rollups/cross-tabs."""
        if sum((rollup, cube, grouping_sets is not None)) > 1:
            raise ValueError(
                "rollup, cube and grouping_sets are mutually exclusive")
        return self._add(kind="groupby", keys=[_split_as(k) for k in keys],
                         rollup=rollup, cube=cube,
                         grouping_sets=grouping_sets)

    def order_by(self, *specs: str) -> "Query":
        return self._add(kind="orderby", specs=list(specs))

    def select(self, *exprs) -> "Query":
        return self._add(kind="select", exprs=list(exprs))

    def select_distinct(self, *exprs) -> "Query":
        self._add(kind="select", exprs=list(exprs))
        return self._add(kind="distinct")

    def distinct(self) -> "Query":
        return self._add(kind="distinct")

    def limit(self, n: int) -> "Query":
        return self._add(kind="limit", n=n)

    def left_join(self, var, source, on: str) -> "Query":
        """Explicit outer join (reference ``outer(...)`` subqueries →
        LeftOuterJoin, Rewriter.py:good_outerjoin)."""
        return self._add(kind="join", var=var, source=source, on=on, how="left")

    def semi_join(self, source, on: str, var: str = "__semi") -> "Query":
        """Membership test ``where [select .. for ..] != []``."""
        return self._add(kind="join", var=var, source=source, on=on, how="semi")

    def anti_join(self, source, on: str, var: str = "__anti") -> "Query":
        return self._add(kind="join", var=var, source=source, on=on, how="anti")

    # ---- set operations (reference result-type `set` + Python-level
    # list/set algebra over query results → engine-side SQL set ops,
    # so the dedup/diff happens distributed, not on the driver)
    def union_(self, other, all: bool = False) -> "Query":
        """SQL UNION (distinct; ``all=True`` keeps duplicates) with a
        compatible Query/DataFrame — matched by column NAME."""
        return self._add(kind="setop", op="union_all" if all else "union",
                         other=other)

    def intersect_(self, other) -> "Query":
        return self._add(kind="setop", op="intersect", other=other)

    def except_(self, other) -> "Query":
        return self._add(kind="setop", op="except", other=other)

    # ---- compilation ---------------------------------------------
    def df(self) -> DataFrame:
        return _Compiler(self.spark, self._clauses).run()

    def explain_(self, mode: str = "formatted") -> None:
        self.df().explain(mode)

    # parity with reference return types (Executor.py:132-139); for
    # tests/small results only — not the scale path.
    def to_list(self):
        return self.df().collect()

    def to_set(self):
        return set(tuple(r) for r in self.df().collect())

    def to_map(self):
        return {r[0]: r[1] for r in self.df().collect()}


class _Compiler:
    def __init__(self, spark: SparkSession, clauses: list[dict]):
        self.spark = spark
        # copy clauses (incl. nested expr lists) so group-by rewrites
        # don't mutate the Query — .df() must be re-runnable
        self.clauses = [
            {k: (list(v) if isinstance(v, list) else v) for k, v in c.items()}
            for c in clauses
        ]
        self.df: DataFrame | None = None
        self.visible: set[str] = set()
        self.consumed: set[tuple[int, int]] = set()  # (clause_idx, conjunct_idx)

    def run(self) -> DataFrame:
        for i, c in enumerate(self.clauses):
            getattr(self, "_c_" + c["kind"])(i, c)
        assert self.df is not None, "empty query"
        return self.df

    # -- helpers
    def _expr(self, e) -> Column:
        if isinstance(e, Column):
            return e
        return F.expr(X.translate(e))

    def _conjuncts(self, idx: int) -> list[tuple[int, str]]:
        c = self.clauses[idx]
        if isinstance(c["cond"], Column):
            return [(-1, c["cond"])]
        return list(enumerate(X.split_conjuncts(c["cond"])))

    # -- clauses
    def _c_for(self, i: int, c: dict):
        var = c["var"]
        src = c["source"]
        if isinstance(src, Query):
            src = src.df()
        if isinstance(src, DataFrame):
            if c.get("scalar"):
                assert len(src.columns) == 1, "scalar for_ needs 1 column"
                packed = src.select(F.col(src.columns[0]).alias(var))
            else:
                packed = _pack(src, var)
            if c.get("hint") == "broadcast":
                packed = F.broadcast(packed)
            if self.df is None:
                self.df = packed
            else:
                conds = self._lift_join_conds(i, {var})
                if conds is not None:
                    self.df = self.df.join(packed, on=conds, how="inner")
                else:
                    self.df = self.df.crossJoin(packed)
        else:
            # correlated lateral: explode an expression over prior vars
            if self.df is None:
                raise ValueError(
                    f"for_({var!r}, {src!r}): source is not a DataFrame and "
                    f"no prior clause binds variables to iterate over — "
                    f"unknown table/collection name?")
            fn = F.explode_outer if c.get("outer") else F.explode
            self.df = self.df.withColumn(var, fn(self._expr(src)))
        self.visible.add(var)

    def _lift_join_conds(self, for_idx: int, new_vars: set[str]) -> Column | None:
        """Scan later where-clauses for equi conjuncts bridging
        ``new_vars`` to visible vars (join lifting, see module doc)."""
        out: Column | None = None
        visible_after = self.visible | new_vars
        for j in range(for_idx + 1, len(self.clauses)):
            cj = self.clauses[j]
            if cj["kind"] != "where":
                # stop at any clause whose semantics observe the
                # UNfiltered binding sequence: lifting a later where
                # past a count (running index over all bindings) or a
                # set op (the where must also filter the other side's
                # rows) changes results, not just the plan
                if cj["kind"] in ("groupby", "select", "orderby",
                                  "distinct", "limit", "count",
                                  "union", "intersect", "except",
                                  "setop", "window"):
                    break
                continue
            if isinstance(cj["cond"], Column):
                continue
            for k, conj in enumerate(X.split_conjuncts(cj["cond"])):
                if (j, k) in self.consumed:
                    continue
                sides = X.equi_cond_sides(conj)
                if not sides:
                    continue
                refs = X.referenced_vars(conj, visible_after)
                if (refs & new_vars) and (refs - new_vars) and refs <= visible_after:
                    cond = self._expr(conj)
                    out = cond if out is None else (out & cond)
                    self.consumed.add((j, k))
        return out

    def _c_join(self, i: int, c: dict):
        src = c["source"]
        if isinstance(src, Query):
            src = src.df()
        packed = _pack(src, c["var"])
        how = c["how"]
        self.df = self.df.join(packed, on=self._expr(c["on"]), how=how)
        if how == "left":
            self.visible.add(c["var"])

    def _c_let(self, i: int, c: dict):
        self.df = self.df.withColumn(c["var"], self._expr(c["expression"]))
        self.visible.add(c["var"])

    def _c_where(self, i: int, c: dict):
        if isinstance(c["cond"], Column):
            self.df = self.df.filter(c["cond"])
            return
        remaining = [conj for k, conj in enumerate(X.split_conjuncts(c["cond"]))
                     if (i, k) not in self.consumed]
        if remaining:
            self.df = self.df.filter(self._expr(" AND ".join(f"({r})" for r in remaining)))

    def _c_count(self, i: int, c: dict):
        # reference count clause: dense 0..n-1 index.  Both forms go
        # through sampling.global_index — range-partitioned local
        # numbering — never a global single-task row_number window
        # (and never monotonically_increasing_id, whose ids are dense
        # only per-partition, breaking the reference's 0..n-1 contract)
        from .operators.sampling import global_index
        if c["order"]:
            cols = []
            for spec in [s.strip() for s in c["order"].split(",")]:
                m = re.match(r"(.*?)\s+(asc|desc)\s*$", spec, flags=re.IGNORECASE)
                e, d = (m.group(1), m.group(2).lower()) if m else (spec, "asc")
                col = self._expr(e)
                cols.append(col.desc() if d == "desc" else col.asc())
            self.df = global_index(self.df, cols, out_col=c["var"])
        else:
            self.df = global_index(self.df, None, out_col=c["var"])
        self.visible.add(c["var"])

    def _c_groupby(self, i: int, c: dict):
        keys = c["keys"]  # [(expr, alias|None)]
        key_cols, key_aliases = [], []
        for kexpr, alias in keys:
            alias = alias or (kexpr if re.fullmatch(r"\w+", kexpr) else
                              kexpr.split(".")[-1] if re.fullmatch(r"\w+\.\w+", kexpr)
                              else None)
            assert alias, f"group_by key needs an alias: {kexpr}"
            key_cols.append(self._expr(kexpr).alias(alias))
            key_aliases.append(alias)

        nonkey = self.visible - set(key_aliases)
        # scan later clauses (up to next group_by) for variable usage
        later_exprs: list[tuple[int, str, str]] = []  # (clause_idx, field, text)
        for j in range(i + 1, len(self.clauses)):
            cj = self.clauses[j]
            if cj["kind"] == "groupby":
                break
            for field in ("cond", "expression", "source", "order",
                          "on", "order_by", "partition_by"):
                val = cj.get(field)
                if isinstance(val, str):
                    later_exprs.append((j, field, val))
                elif isinstance(val, (list, tuple)):
                    for n, it in enumerate(val):
                        if isinstance(it, str):
                            later_exprs.append((j, f"{field}.{n}", it))
            if cj["kind"] == "select":
                for n, e in enumerate(cj["exprs"]):
                    if isinstance(e, str):
                        later_exprs.append((j, f"exprs.{n}", e))
            if cj["kind"] == "orderby":
                for n, e in enumerate(cj["specs"]):
                    later_exprs.append((j, f"specs.{n}", e))

        raw_used: set[str] = set()       # vars needing collect_list
        agg_map: dict[str, str] = {}     # agg-call text -> generated alias
        agg_cols: list[Column] = []

        for j, field, text in later_exprs:
            spans = X.find_agg_spans(text)
            # raw uses = var refs outside any agg span
            masked = list(text)
            for s, t, _, _ in spans:
                for p in range(s, t):
                    masked[p] = " "
            raw_used |= X.referenced_vars("".join(masked), nonkey)

        for j, field, text in later_exprs:
            new_text = text
            for s, t, fn, inner in sorted(X.find_agg_spans(text), reverse=True):
                refs = X.referenced_vars(inner, nonkey | set(key_aliases))
                if not (refs & nonkey):
                    continue  # aggregate over something else entirely
                if refs & raw_used:
                    continue  # var also used raw → stays a list; fold later
                call = text[s:t]
                if call not in agg_map:
                    alias = f"__agg{len(agg_map)}"
                    agg_map[call] = alias
                    native = X.AGG_NATIVE.get(fn, fn)
                    agg_cols.append(
                        self._expr(f"{native}({inner})").alias(alias))
                new_text = new_text[:s] + agg_map[call] + new_text[t:]
            if new_text != text:
                self._rewrite_clause(j, field, new_text)

        # reference semantics: every non-key var becomes a per-group
        # list — but we only materialize the ones with raw uses (the
        # rest were rewritten to native aggregates or are dead)
        collect_cols = [F.collect_list(F.col(v)).alias(v) for v in sorted(raw_used)]

        # aggregate calls over collected vars fold the array instead
        # (e.g. ``select (x, y, sum(y))`` with y used raw)
        _ARRAY_FOLD = {
            "sum": "aggregate({v}, cast(0 as double), (acc, x) -> acc + x)",
            "len": "size({v})", "count": "size({v})",
            "min": "array_min({v})", "max": "array_max({v})",
            "avg": "aggregate({v}, cast(0 as double), (acc, x) -> acc + x) / size({v})",
        }
        for j, field, text in later_exprs:
            cur = self.clauses[j][field.split(".")[0]]
            cur = cur[int(field.split(".")[1])] if "." in field else cur
            if not isinstance(cur, str):
                continue
            new_text = cur
            for s, t, fn, inner in sorted(X.find_agg_spans(cur), reverse=True):
                if inner in raw_used and fn in _ARRAY_FOLD:
                    new_text = new_text[:s] + _ARRAY_FOLD[fn].format(v=inner) + new_text[t:]
            if new_text != cur:
                self._rewrite_clause(j, field, new_text)

        if (not agg_cols and not collect_cols
                and (c.get("rollup") or c.get("cube")
                     or c.get("grouping_sets") is not None)):
            # GroupedData.agg() rejects zero exprs; a keys-only
            # rollup/cube is still meaningful (the grouping levels),
            # so count the groups as the implicit aggregate
            agg_cols = [F.count(F.lit(1)).alias("__n")]
            drop_implicit = True
        else:
            drop_implicit = False
        if c.get("grouping_sets") is not None:
            # groupingSets matches set entries to grouping columns by
            # expression — aliased exprs get fresh ids per use and
            # never match, so materialize the keys as named columns
            # first and reference both lists by name
            for (kexpr, _), alias in zip(keys, key_aliases):
                self.df = self.df.withColumn(alias, self._expr(kexpr))
            sets = [[F.col(a) for a in entry]
                    for entry in c["grouping_sets"]]
            self.df = (self.df
                       .groupingSets(sets, *[F.col(a) for a in key_aliases])
                       .agg(*agg_cols, *collect_cols))
        elif c.get("rollup"):
            self.df = self.df.rollup(*key_cols).agg(*agg_cols, *collect_cols)
        elif c.get("cube"):
            self.df = self.df.cube(*key_cols).agg(*agg_cols, *collect_cols)
        elif agg_cols or collect_cols:
            self.df = self.df.groupBy(*key_cols).agg(*agg_cols, *collect_cols)
        else:
            # pure key grouping — equivalent to DISTINCT over the keys
            self.df = self.df.select(*key_cols).distinct()
        if drop_implicit:
            self.df = self.df.drop("__n")
        self.visible = set(self.df.columns)

    def _var_used_later(self, v: str, later_exprs) -> bool:
        return any(v in X.referenced_vars(t, {v}) for _, _, t in later_exprs)

    def _rewrite_clause(self, j: int, field: str, new_text: str):
        cj = self.clauses[j]
        if "." in field:
            name, n = field.split(".")
            cj[name][int(n)] = new_text
        else:
            cj[field] = new_text

    def _c_raw(self, i: int, c: dict):
        df = c["df"]
        self.df = df if self.df is None else self.df.crossJoin(df)
        self.visible |= set(df.columns)

    def _c_window(self, i: int, c: dict):
        from pythonql_spark.operators.window_clause import predicate_windows
        order = c["order_by"]
        order = [order] if isinstance(order, str) else list(order)
        part = c["partition_by"]
        part = [part] if isinstance(part, str) else list(part or [])
        # order expressions may reference struct fields — materialize
        # them as hidden sort columns excluded from the window structs
        ord_cols = []
        for k, e in enumerate(order):
            name = f"__ord{k}"
            self.df = self.df.withColumn(name, self._expr(e))
            ord_cols.append(name)
        # same for partition keys: "e.user_id" materializes as a
        # top-level "user_id" column (kept in the output)
        for k, e in enumerate(part):
            if e not in self.df.columns:
                name = e.split(".")[-1]
                self.df = self.df.withColumn(name, self._expr(e))
                part[k] = name
        if c.get("size") is not None:
            from pythonql_spark.operators.window_clause import fixed_windows
            out = fixed_windows(
                self.df, order_by=ord_cols, size=c["size"],
                partition_by=part or None, tumbling=c["tumbling"],
                only_full=c["only_end"], exclude_from_window=ord_cols)
        else:
            out = predicate_windows(
                self.df, order_by=ord_cols,
                start_when=c["start_when"], end_when=c["end_when"],
                partition_by=part or None, tumbling=c["tumbling"],
                only_end=c["only_end"], exclude_from_window=ord_cols)
        self.df = out.withColumnRenamed("window", c["var"])
        self.visible = set(self.df.columns)

    def _c_orderby(self, i: int, c: dict):
        cols = []
        for spec in c["specs"]:
            m = re.match(r"(.*?)\s+(asc|desc)\s*$", spec, flags=re.IGNORECASE)
            if m:
                e, d = m.group(1), m.group(2).lower()
            else:
                e, d = spec, "asc"
            col = self._expr(e)
            cols.append(col.desc() if d == "desc" else col.asc())
        self.df = self.df.orderBy(*cols)

    def _c_select(self, i: int, c: dict):
        cols = []
        for e in c["exprs"]:
            if isinstance(e, Column):
                cols.append(e)
                continue
            body, alias = _split_as(e)
            col = self._expr(body)
            cols.append(col.alias(alias) if alias else col)
        self.df = self.df.select(*cols)
        self.visible = set(self.df.columns)

    def _c_setop(self, i: int, c: dict):
        other = c["other"]
        if isinstance(other, Query):
            other = other.df()
        assert self.df is not None, "set op needs a left-hand query"
        op = c["op"]
        if op == "union_all":
            self.df = self.df.unionByName(other)
        elif op == "union":
            self.df = self.df.unionByName(other).distinct()
        else:
            # DataFrame.intersect/subtract match columns by POSITION;
            # make all three set ops name-matched like unionByName by
            # reordering the right side to the left's column order.
            missing = [c for c in self.df.columns if c not in other.columns]
            extra = [c for c in other.columns if c not in self.df.columns]
            if missing or extra:
                # same contract as unionByName: any column-set mismatch
                # is an error, never a silent projection
                raise ValueError(
                    f"set op '{op}': column sets differ "
                    f"(right missing {missing}, right extra {extra})")
            other = other.select(*self.df.columns)
            if op == "intersect":
                self.df = self.df.intersect(other)
            else:  # except (distinct semantics, like SQL EXCEPT)
                self.df = self.df.subtract(other)
        self.visible = set(self.df.columns)

    def _c_distinct(self, i: int, c: dict):
        self.df = self.df.distinct()

    def _c_limit(self, i: int, c: dict):
        self.df = self.df.limit(c["n"])
