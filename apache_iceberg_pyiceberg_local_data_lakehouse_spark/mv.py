"""Materialized views: creation, refresh and the refresh cost estimate.

An MV is a table holding a stored query's result plus the pins (base
and dim versions with their snapshot UUIDs) of the inputs it reflects.
Creation decides, from the query's shape, how refresh may maintain it
(the ``mv.refresh_mode`` property):

- ``None``: a projection/filter of one table - appends map row by row;
- ``"agg"``: GROUP BY one table with distributive aggregates (COUNT,
  SUM, MIN, MAX, AVG partials, sketch states), optionally with the
  hidden state that makes COUNT/integral-SUM invertible;
- ``"join_agg"``: the same over a fact INNER JOIN one or more dims.

Refresh is one signed-delta pipeline (:func:`refresh_materialized_view`);
:class:`LakehouseCatalog` keeps the public entry points and calls in
here.
"""

from __future__ import annotations

import json
import logging
import re
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from functools import cached_property, reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .catalog import _split_top_level, _sub_outside_quotes
from .table import LakehouseTable

_log = logging.getLogger(__name__)


# append-distributive plan nodes: a query whose analyzed plan is
# built ONLY of these maps each new base row to >= 0 result rows
# independently, so REFRESH can process the base's append-diff
# instead of re-running over the full table
_MV_NON_DISTRIBUTIVE = (
    "Aggregate", "Join", "Window", "Distinct", "Limit", "Sort",
    "Union", "Intersect", "Except", "Offset", "WithCTE",
    "scalar-subquery", "exists-subquery", "in-subquery",
)


def _mv_incremental_base(cat, sql_text: str) -> str | None:
    """The single base table of an append-distributive MV query, or
    None when incremental maintenance is impossible (aggregation /
    join / window / set-op / subquery, or not exactly one table
    referenced). Detection is conservative: anything unrecognized
    falls back to full refresh - never to a wrong result."""
    try:
        plan = str(
            cat.spark.sql(sql_text)._jdf.queryExecution().analyzed()
        )
    except Exception:
        return None
    if any(tok in plan for tok in _MV_NON_DISTRIBUTIVE):
        return None
    if _MV_NONDETERMINISTIC.search(sql_text):
        # a refresh-variant predicate/projection (current_date()
        # etc.) evaluates differently over each delta than it did
        # over the materialization - decline to full refresh
        return None
    cands = [
        ident
        for ns in cat.list_namespaces()
        for ident in cat.list_tables(ns)
        if re.search(
            rf"\b{re.escape(cat.view_name(ident))}\b", sql_text
        )
    ]
    return cands[0] if len(cands) == 1 else None

# GROUP BY + distributive aggregates: the classic second tier of
# incremental view maintenance. COUNT/SUM merge by addition,
# MIN/MAX by least/greatest, so REFRESH can aggregate ONLY the
# base's append-diff and MERGE the partials into the
# materialization on the group keys - O(delta + touched groups).
_MV_AGG_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<ref>[A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<keys>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# the arg may nest ONE paren level (r12: APPROX_PERCENTILE's
# array(p1, p2) form; single-call exprs like SUM(coalesce(a, b))).
# Deeper nesting falls out of the tier at the parse level - and
# _agg_item_rejected separately rejects args containing aggregate
# tokens, so the widening cannot admit a nested aggregate.
_MV_AGG_ITEM = re.compile(
    r"^\s*(?P<op>APPROX_COUNT_DISTINCT|APPROX_PERCENTILE|"
    r"PERCENTILE_APPROX|COUNT|SUM|MIN|MAX|AVG)\s*\("
    r"(?P<distinct>\s*DISTINCT\b)?"
    r"(?P<arg>(?:[^()]|\([^()]*\))*|\*)\)"
    r"\s+AS\s+(?P<alias>[A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)


def _norm_op(op: str) -> str:
    """Canonical aggregate-op tag: Spark spells the same quantile
    aggregate both ``APPROX_PERCENTILE`` and ``PERCENTILE_APPROX``;
    everything downstream (mv.aggs, the sketch tiers, CDC gates)
    keys on the one canonical name."""
    op = op.lower()
    return "approx_percentile" if op == "percentile_approx" else op
# expression group key: any non-aggregate select item with an alias
_MV_KEY_EXPR = re.compile(
    r"^\s*(?P<expr>.+?)\s+AS\s+(?P<alias>[A-Za-z_]\w*)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# a nondeterministic group key would re-derive DIFFERENTLY on every
# refresh (delta partials landing in groups the materialization
# never had) - refuse agg mode for these, conservatively by name
_MV_NONDETERMINISTIC = re.compile(
    r"\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id|"
    r"current_timezone|now|localtimestamp|"
    r"input_file_name|input_file_block_start|input_file_block_length|"
    r"spark_partition_id)\s*\(|\bunix_timestamp\s*\(\s*\)|"
    # Spark accepts these as PAREN-LESS keywords too - a bare-word
    # match covers both spellings (a column happening to carry one
    # of these names falls back to full refresh: safe, never wrong)
    r"\b(current_date|current_timestamp|current_user|session_user)\b",
    re.IGNORECASE,
)


def _agg_item_rejected(op: str, arg: str, alias: str) -> bool:
    """Per-aggregate-item gates shared by the single-table and
    join parsers: reserved output names, ``*`` outside COUNT,
    nested aggregates, and refresh-variant (nondeterministic or
    time-dependent) argument expressions all decline to full
    refresh. The last gate matters since r12's one-paren-level
    arg widening: ``MAX(now())`` analyzes fine but a delta
    re-aggregation at refresh time would merge refresh-time values
    into creation-time ones - a state no single run of the store
    query can produce."""
    return (
        alias.startswith("__mv_")
        or (arg == "*" and op != "count")
        or bool(
            re.search(
                r"\b(COUNT|SUM|MIN|MAX|AVG|APPROX_COUNT_DISTINCT"
                r"|APPROX_PERCENTILE|PERCENTILE_APPROX)\b",
                arg,
                re.IGNORECASE,
            )
        )
        or bool(_MV_NONDETERMINISTIC.search(arg))
    )

# the ONE estimator spelling every sketch-MV path shares: the
# visible distinct count / quantile is ALWAYS the DataSketches
# estimate (creation, append union, full refresh, touched-group
# recompute) - never Spark's HLL++/GK approx, so the value cannot
# jump between algorithms (review r11: hand-rolled copies had to
# agree)
_HLL_EST_FMT = (
    "CAST(HLL_SKETCH_ESTIMATE(HLL_SKETCH_AGG(({arg}))) AS BIGINT)"
)
_HLL_AGG_FMT = "HLL_SKETCH_AGG(({arg}))"
# KLL quantile spellings: the agg over an all-NULL group returns a
# non-NULL EMPTY buffer whose GET_QUANTILE THROWS (probe-confirmed,
# r11), so every estimate guards on GET_N = 0 first - NULL, exactly
# APPROX_PERCENTILE's answer for an all-NULL group
_KLL_AGG_FMT = "KLL_SKETCH_AGG_{f}(CAST(({arg}) AS {t}))"
_KLL_EST_FMT = (
    "CASE WHEN KLL_SKETCH_GET_N_{f}({sk}) = 0 THEN NULL "
    "ELSE KLL_SKETCH_GET_QUANTILE_{f}({sk}, {p}) END"
)


def _kll_spec(
    arg: str, vis_type
) -> tuple[str, str, str, list[str], bool] | None:
    """Parse an APPROX_PERCENTILE argument list into (KLL family
    suffix, cast type, value expression, percentile literals,
    array-form flag), or None when the KLL tier cannot model it:
    a third accuracy argument, a non-literal percentile (the
    stored sketch must answer FIXED quantiles), or a value type
    outside the KLL families (DECIMAL would change type under the
    BIGINT/DOUBLE cast). ``array(p1, p2, ...)`` of literals IS
    modeled (r12, VERDICT r11 #4): ONE stored sketch answers
    every requested quantile - the literals list carries them and
    the visible column is the guarded ARRAY of estimates."""
    from pyspark.sql.types import (
        ArrayType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    def _lit_ok(p: str) -> bool:
        return bool(
            re.fullmatch(r"[0-9]*\.?[0-9]+([eE]-?[0-9]+)?", p)
        ) and 0.0 <= float(p) <= 1.0

    pieces = [p.strip() for p in _split_top_level(arg)]
    if len(pieces) != 2:
        return None
    expr, p = pieces
    arr = re.fullmatch(r"(?is)array\s*\((?P<inner>.*)\)", p)
    if arr is not None:
        ps = [s.strip() for s in _split_top_level(arr.group("inner"))]
        if not ps or not all(_lit_ok(s) for s in ps):
            return None
        if not isinstance(vis_type, ArrayType):
            return None
        elem, is_array = vis_type.elementType, True
    else:
        if not _lit_ok(p):
            return None
        ps, elem, is_array = [p], vis_type, False
    if isinstance(
        elem, (ByteType, ShortType, IntegerType, LongType)
    ):
        return "BIGINT", "BIGINT", expr, ps, is_array
    if isinstance(elem, (FloatType, DoubleType)):
        return "DOUBLE", "DOUBLE", expr, ps, is_array
    return None


def _kll_est_sql(
    fam: str, sk: str, ps: list[str], is_array: bool
) -> str:
    """The ONE visible-quantile spelling over a (possibly inlined)
    sketch expression ``sk``: GET_N = 0 guards the whole result
    (an all-NULL group's sketch is a non-NULL EMPTY buffer whose
    GET_QUANTILE THROWS; APPROX_PERCENTILE answers NULL there for
    BOTH the scalar and the array form - probe-confirmed r12)."""
    if not is_array:
        return _KLL_EST_FMT.format(f=fam, sk=sk, p=ps[0])
    qs = ", ".join(
        f"KLL_SKETCH_GET_QUANTILE_{fam}({sk}, {p})" for p in ps
    )
    return (
        f"CASE WHEN KLL_SKETCH_GET_N_{fam}({sk}) = 0 THEN NULL "
        f"ELSE ARRAY({qs}) END"
    )


def _approx_rewrite_items(
    parts: list[str],
    aggs: list,
    agg_args: dict,
    vis_types: dict,
) -> list[str] | None:
    """Rewrite APPROX_COUNT_DISTINCT / APPROX_PERCENTILE select
    items so the VISIBLE column is the DataSketches estimate and
    append the mergeable ``__mv_hll_`` / ``__mv_kll_`` sketch
    columns - shared by the single-table and join store queries.
    Returns None when a percentile item is outside the
    KLL tier (the caller declines agg mode)."""
    items = []
    for part in parts:
        im = _MV_AGG_ITEM.match(part)
        op = _norm_op(im.group("op")) if im is not None else ""
        if op == "approx_count_distinct":
            a = im.group("alias")
            arg = im.group("arg").strip()
            items.append(
                _HLL_EST_FMT.format(arg=arg) + f" AS {a}"
            )
        elif op == "approx_percentile":
            a = im.group("alias")
            spec = _kll_spec(
                im.group("arg").strip(), vis_types.get(a)
            )
            if spec is None:
                return None
            fam, ct, expr, ps, is_arr = spec
            sk = _KLL_AGG_FMT.format(f=fam, arg=expr, t=ct)
            est = _kll_est_sql(fam, sk, ps, is_arr)
            native = vis_types[a].simpleString()
            items.append(f"CAST({est} AS {native}) AS {a}")
        else:
            items.append(part)
    for alias, op in aggs:
        if op == "approx_count_distinct":
            items.append(
                _HLL_AGG_FMT.format(arg=agg_args[alias])
                + f" AS __mv_hll_{alias}"
            )
        elif op == "approx_percentile":
            spec = _kll_spec(
                agg_args[alias], vis_types.get(alias)
            )
            if spec is None:
                return None
            fam, ct, expr, _ps, _arr = spec
            items.append(
                _KLL_AGG_FMT.format(f=fam, arg=expr, t=ct)
                + f" AS __mv_kll_{alias}"
            )
    return items


def _analyzes(cat, query: str) -> bool:
    """True when ``query`` passes Spark analysis over the current
    views - the gate a REWRITTEN store query must clear before the
    MV commits to it (a sketch rewrite can turn a valid user query
    into an invalid one, e.g. HLL_SKETCH_AGG over a DOUBLE)."""
    try:
        cat.spark.sql(query).schema
        return True
    except Exception:
        return False


def _mv_agg_spec(
    cat, sql_text: str
) -> (
    tuple[
        str,
        list[str],
        list[tuple[str, str]],
        str | None,
        str | None,
        dict[str, str],
        str | None,
        dict[str, str],
        dict | None,
    ]
    | None
):
    """Parse an aggregate-distributive MV query: ``SELECT <group
    keys and COUNT/SUM/MIN/MAX/AVG(expr) AS alias> FROM <one table
    view> [WHERE ...] GROUP BY <the keys> [HAVING <pred>]``.
    Returns (base identifier, STORED group columns, [(stored agg
    column, op)], store query or None, having predicate over
    visible columns or None, {stored agg column -> raw argument
    expression}, WHERE clause text or None, {stored key column ->
    defining expression} for non-bare keys, view re-aggregation
    spec or None). agg args + key exprs feed CDC-incremental
    maintenance, which must re-derive each stored column over
    changelog rows. Conservative like :meth:`_mv_incremental_base`:
    unaliased aggregates, nondeterministic or base-column-shadowing
    key expressions, subqueries, a second table, DISTINCT anywhere
    but a single ``COUNT(DISTINCT expr)``, or a HAVING referencing
    an aggregate that is not in the select list all fall back to
    full refresh - never to a wrong result.

    Group keys may be arbitrary deterministic expressions when
    aliased (``date_trunc('day', ts) AS day ... GROUP BY day`` /
    the spelled-out expression / its ordinal): the MV materializes
    the alias column, REFRESH aggregates the delta with the same
    expressions and merges on the alias - the expression-key tier.

    ``COUNT(DISTINCT expr) AS a`` (at most one per MV) switches the
    materialization to the FINER (keys, expr) grain - the classic
    two-level distinct rewrite: every other aggregate is stored as
    a per-(keys, value) partial (``__mv_p_*``), the distinct value
    itself as ``__mv_dv_a``, and the SQL-surface view re-aggregates
    (COUNT of distinct-value rows, SUM/MIN/MAX of partials) back to
    the user grain. Incremental refresh then merges at the finer
    grain with the SAME distributive operators - and stays
    CDC-invertible when the partials are all COUNT/integral-SUM.

    HAVING over the selected distributive aggregates IS
    incremental: the table materializes the UNFILTERED aggregate
    (hidden state, like the AVG partials), REFRESH merges partials
    exactly as without HAVING, and the predicate applies in the
    SQL-surface view projection - so a group dipping below the
    threshold reappears correctly when later appends push it back
    over.

    AVG is algebraic, not distributive: partials do not merge by a
    single operator, so ``AVG(x) AS a`` decomposes into stored
    SUM/COUNT partial columns (``__mv_sum_a``/``__mv_cnt_a``,
    appended by the returned *store query*, which is what the
    materialization actually runs). REFRESH merges the partials
    additively and recomputes the visible column as sum/count -
    NULL for an all-NULL group, matching AVG. Only double-typed
    AVG is accepted (a DECIMAL average would change type under the
    sum/count recomputation)."""
    # HAVING tier: detach the predicate first and parse the
    # UNFILTERED query - the MV stores the unfiltered aggregate as
    # hidden state (the __mv_* partials precedent) so below-threshold
    # groups keep accumulating partials across refreshes, and the
    # filter applies in the view projection instead.
    having = None
    hm = re.search(
        r"\s+HAVING\s+(?P<pred>.+?)\s*;?\s*$",
        sql_text,
        re.IGNORECASE | re.DOTALL,
    )
    if hm is not None:
        having = hm.group("pred").strip()
        sql_text = sql_text[: hm.start()].rstrip(" ;\n\t")
    m = _MV_AGG_SHAPE.match(sql_text)
    if m is None:
        return None
    if m.group("where") and _MV_NONDETERMINISTIC.search(
        m.group("where")
    ):
        # a refresh-variant WHERE would admit different rows into
        # the delta than the materialization's - decline
        return None

    def norm(s: str) -> str:
        return re.sub(r"\s+", " ", s.strip()).lower()

    # no GROUP BY = the global-aggregate tier: a one-row MV whose
    # refresh combines the diff's single partial-aggregate row
    keys_raw = [
        k.strip()
        for k in _split_top_level(m.group("keys") or "")
        if k.strip()
    ]
    parts = [p.strip() for p in _split_top_level(m.group("items"))]
    group_items: list[tuple[str, str | None]] = []  # (alias, expr)
    aggs: list[tuple[str, str]] = []  # visible (alias, op)
    agg_args: dict[str, str] = {}
    select_order: list[str] = []  # visible column order
    distinct_item: tuple[str, str] | None = None  # (alias, arg)
    for part in parts:
        if re.fullmatch(r"[A-Za-z_]\w*", part):
            if part.startswith("__mv_"):
                return None  # reserved for engine-managed state
            group_items.append((part, None))
            select_order.append(part)
            continue
        im = _MV_AGG_ITEM.match(part)
        if im is not None:
            arg = im.group("arg").strip()
            op = _norm_op(im.group("op"))
            alias = im.group("alias")
            if _agg_item_rejected(op, arg, alias):
                return None
            if op in (
                "approx_count_distinct",
                "approx_percentile",
            ) and (
                im.group("distinct")
                or arg == "*"
                or _MV_NONDETERMINISTIC.search(arg)
            ):
                return None
            if im.group("distinct") and op != "approx_count_distinct":
                # only a single COUNT(DISTINCT expr) has the
                # finer-grain rewrite; SUM/AVG DISTINCT or a second
                # distinct argument would multiply the grain
                if (
                    op != "count"
                    or distinct_item is not None
                    or arg == "*"
                    or _MV_NONDETERMINISTIC.search(arg)
                ):
                    return None
                distinct_item = (alias, arg)
            aggs.append((alias, op))
            agg_args[alias] = arg
            select_order.append(alias)
            continue
        km = _MV_KEY_EXPR.match(part)
        if km is None:
            return None
        expr = km.group("expr").strip()
        alias = km.group("alias")
        if alias.startswith("__mv_"):
            return None
        if re.search(
            r"\b(COUNT|SUM|MIN|MAX|AVG)\s*\(", expr, re.IGNORECASE
        ):
            return None  # aggregate disguised as a key expression
        if _MV_NONDETERMINISTIC.search(expr):
            return None
        group_items.append((alias, expr))
        select_order.append(alias)
    if not aggs or len(set(select_order)) != len(select_order):
        return None  # duplicate output names: ambiguous merge keys
    # every DISTINCT in the (HAVING-detached) text must be the one
    # parsed COUNT(DISTINCT ...) - a DISTINCT hiding in WHERE or an
    # unparsed corner means this regex did not understand the query
    n_distinct = len(
        re.findall(r"\bDISTINCT\b", sql_text, re.IGNORECASE)
    )
    if n_distinct != (1 if distinct_item is not None else 0):
        return None

    # GROUP BY entries must each name a select-list group item: by
    # alias, by bare column, by the spelled-out expression, or by
    # select-list ordinal - and cover ALL group items exactly
    if group_items and not keys_raw:
        return None
    by_alias = {a for a, _ in group_items}
    by_expr = {norm(e): a for a, e in group_items if e is not None}
    matched: set[str] = set()
    for k in keys_raw:
        if re.fullmatch(r"\d+", k):
            i = int(k) - 1
            if not (0 <= i < len(parts)):
                return None
            target = parts[i]
            if re.fullmatch(r"[A-Za-z_]\w*", target):
                if target not in by_alias:
                    return None
                matched.add(target)
                continue
            tm = _MV_KEY_EXPR.match(target)
            if tm is None or tm.group("alias") not in by_alias:
                return None
            matched.add(tm.group("alias"))
            continue
        if re.fullmatch(r"[A-Za-z_]\w*", k):
            if k not in by_alias:
                return None
            matched.add(k)
            continue
        a = by_expr.get(norm(k))
        if a is None:
            return None
        matched.add(a)
    if matched != by_alias:
        return None
    group_cols = [a for a, _ in group_items]
    key_exprs = {a: e for a, e in group_items if e is not None}
    # the FROM ref must be exactly one lakehouse table's view name
    idents = [
        ident
        for ns in cat.list_namespaces()
        for ident in cat.list_tables(ns)
        if cat.view_name(ident) == m.group("ref")
    ]
    if len(idents) != 1:
        return None
    # expression keys must not shadow base-table columns: GROUP BY
    # <alias> (and the delta-side withColumn in CDC maintenance)
    # would silently resolve to the base column instead
    if key_exprs:
        base_cols = {
            f.name.lower()
            for f in cat.load_table(idents[0]).schema.fields
        }
        # ... and must not shadow the changelog metadata columns
        # either: CDC maintenance withColumn()s each key expression
        # onto changelog rows BEFORE reading _change_type's sign,
        # so an alias named _change_type would flip deletes to +1
        reserved = {"_change_type", "_change_version"}
        if any(
            a.lower() in base_cols or a.lower() in reserved
            for a in key_exprs
        ):
            return None
    # plan-level guard: exactly the one Aggregate, nothing sneaky
    # (a subquery in WHERE would add plan nodes the regex missed)
    try:
        cat.register_views()
        df = cat.spark.sql(sql_text)
        plan = str(df._jdf.queryExecution().analyzed())
    except Exception:
        return None
    bad = tuple(
        tok for tok in _MV_NON_DISTRIBUTIVE if tok != "Aggregate"
    )
    if any(tok in plan for tok in bad) or plan.count("Aggregate") != 1:
        return None
    vis_types = {f.name: f.dataType for f in df.schema.fields}
    for alias, op in aggs:
        if op == "avg" and not isinstance(
            vis_types.get(alias), DoubleType
        ):
            return None  # DECIMAL/interval AVG: full refresh
    if having is not None:
        # rewrite into the MV's visible column space: each selected
        # aggregate expression (same spelling, whitespace-tolerant)
        # becomes its alias; what remains may reference only group
        # keys and aliases - an aggregate NOT in the select list
        # has no stored state to filter on, so refuse (full refresh)
        for part in parts:
            im = _MV_AGG_ITEM.match(part)
            if im is None:
                continue
            pat = re.compile(
                im.group("op")
                + r"\s*\(\s*"
                + (r"DISTINCT\s+" if im.group("distinct") else "")
                + re.escape(im.group("arg").strip())
                + r"\s*\)",
                re.IGNORECASE,
            )
            # quote-aware: an aggregate SPELLING inside a HAVING
            # string literal (lang = 'COUNT(n_chars)') must stay a
            # literal, not become an alias reference
            having = _sub_outside_quotes(
                pat, im.group("alias"), having
            )
        leftover = _sub_outside_quotes(
            re.compile(
                r"\b(COUNT|SUM|MIN|MAX|AVG)\s*\(", re.IGNORECASE
            ),
            "\x00",
            having,
        )
        if "\x00" in leftover:
            return None  # an aggregate with no stored column
        try:
            # validate against the unfiltered output schema (catches
            # unknown identifiers, subqueries, type errors)
            df.filter(F.expr(having)).schema
        except Exception:
            return None
    from pyspark.sql.types import IntegerType, LongType

    group_by_sql = [
        e if e is not None else a for a, e in group_items
    ]

    has_approx = any(
        op == "approx_count_distinct" for _, op in aggs
    )
    has_kll = any(op == "approx_percentile" for _, op in aggs)
    if (has_approx or has_kll) and distinct_item is not None:
        # the finer-grain COUNT(DISTINCT) rewrite re-aggregates
        # stored partials in the view; a sketch column cannot
        # re-aggregate there - full refresh
        return None
    if has_kll and any(
        op == "approx_percentile"
        and _kll_spec(agg_args[alias], vis_types.get(alias))
        is None
        for alias, op in aggs
    ):
        # a percentile the KLL tier cannot model (accuracy arg,
        # non-literal p - scalar or array element - or a
        # DECIMAL/temporal value; literal arrays ride the tier
        # since r12): decline agg mode entirely - the plain
        # full-refresh MV keeps the native estimator on every path
        return None
    if distinct_item is None:
        # ---- user-grain storage (bare or expression keys) -------
        has_avg = any(op == "avg" for _, op in aggs)
        store_items = list(parts)
        if has_approx or has_kll:
            # APPROX_COUNT_DISTINCT tier (r11): the MV stores a
            # mergeable DataSketches HLL per group (__mv_hll_*)
            # and the VISIBLE column is always the sketch estimate
            # - one estimator on every path (creation, full
            # refresh, incremental union), so the value never
            # jumps between algorithms. Refresh unions the delta
            # sketch into the stored one: O(delta + touched
            # groups) with no re-scan of the base - the only
            # distinct-count maintenance shape that survives
            # 100 TB appends. DML in the range declines to full
            # refresh (sketches are not invertible).
            store_items = _approx_rewrite_items(
                store_items, aggs, agg_args, vis_types
            )
            if store_items is None:
                return None  # ineligible sketch item: plain MV
        for alias, op in aggs:
            if op == "avg":
                # the stored partials AVG merges from; the visible
                # column keeps the native AVG value at creation and
                # is recomputed as sum/count after partial merges
                store_items.append(
                    f"SUM(CAST(({agg_args[alias]}) AS DOUBLE)) "
                    f"AS __mv_sum_{alias}"
                )
                store_items.append(
                    f"COUNT({agg_args[alias]}) AS __mv_cnt_{alias}"
                )
        # CDC-invertibility state: COUNT/SUM deltas can be
        # SUBTRACTED, so base DML in the refresh range can maintain
        # the MV from the changelog instead of a full
        # re-aggregation - provided the MV stores (a) a per-group
        # row count (__mv_rows, to detect groups whose last row was
        # deleted: they must LEAVE the view) and (b) a non-null
        # count per SUM (__mv_nn_<alias>: an inverted sum reaching
        # "0 non-null rows" must read NULL, not 0). Only integral
        # SUMs qualify (float subtraction is inexact); MIN/MAX/AVG
        # are not invertible and keep the full-refresh fallback.
        cdc_ready = bool(group_cols) and all(
            op == "count"
            or (
                op == "sum"
                and isinstance(
                    vis_types.get(alias), (IntegerType, LongType)
                )
            )
            for alias, op in aggs
        )
        if cdc_ready:
            store_items.append("COUNT(*) AS __mv_rows")
            for alias, op in aggs:
                if op == "sum":
                    store_items.append(
                        f"COUNT({agg_args[alias]}) AS __mv_nn_{alias}"
                    )
        store_query = None
        if (
            has_avg
            or has_approx
            or has_kll
            or having is not None
            or cdc_ready
        ):
            # a HAVING/AVG/CDC-ready MV must MATERIALIZE hidden
            # state alongside the visible columns (running the
            # plain query would discard it)
            store_query = (
                f"SELECT {', '.join(store_items)} FROM "
                + m.group("ref")
            )
            if m.group("where"):
                store_query += f" WHERE {m.group('where')}"
            if group_by_sql:
                store_query += (
                    f" GROUP BY {', '.join(group_by_sql)}"
                )
            if (has_approx or has_kll) and not _analyzes(cat, store_query):
                # HLL_SKETCH_AGG rejects this argument (a type
                # outside INT/BIGINT/STRING/BINARY, or the rsd
                # form APPROX_COUNT_DISTINCT(x, 0.05) whose
                # parenthesized arg becomes a struct): no
                # mergeable sketch state is possible, so decline
                # agg mode entirely - the plain full-refresh MV
                # keeps the NATIVE estimator on every path
                # (review r11: the unvalidated rewrite crashed MV
                # creation with AnalysisException)
                return None
        return (
            idents[0],
            group_cols,
            aggs,
            store_query,
            having,
            agg_args,
            m.group("where"),
            key_exprs,
            None,
        )

    # ---- COUNT(DISTINCT) tier: finer (keys, value) grain --------
    dv_owner, dv_arg = distinct_item
    dv_col = f"__mv_dv_{dv_owner}"
    inner_items = [
        (f"{e} AS {a}" if e is not None else a)
        for a, e in group_items
    ]
    inner_items.append(f"({dv_arg}) AS {dv_col}")
    inner_aggs: list[tuple[str, str]] = []
    inner_args: dict[str, str] = {}
    final_exprs: list[str] = []
    # generated hidden names can collide across FAMILIES (an AVG
    # aliased 'aw' stores __mv_p_sum_aw; a sibling SUM the user
    # aliased 'sum_aw' stores __mv_p_sum_aw too) - a duplicate
    # stored column would silently corrupt the stypes probe and
    # crash the materialization, so reserve each name and fall
    # back to full refresh on any clash
    stored_names: set[str] = set(group_cols) | {dv_col}

    def reserve(n: str) -> bool:
        if n in stored_names:
            return False
        stored_names.add(n)
        return True

    for alias, op in aggs:
        native = vis_types[alias].simpleString()
        if alias == dv_owner:
            # each stored row is one distinct (keys, value) pair:
            # COUNT of non-null value rows IS the distinct count
            final_exprs.append(
                f"CAST(COUNT({dv_col}) AS {native}) AS {alias}"
            )
            continue
        arg = agg_args[alias]
        if op == "avg":
            ps = f"__mv_p_sum_{alias}"
            pc = f"__mv_p_cnt_{alias}"
            if not (reserve(ps) and reserve(pc)):
                return None
            inner_items.append(
                f"SUM(CAST(({arg}) AS DOUBLE)) AS {ps}"
            )
            inner_items.append(f"COUNT({arg}) AS {pc}")
            inner_aggs.append((ps, "sum"))
            inner_args[ps] = f"CAST(({arg}) AS DOUBLE)"
            inner_aggs.append((pc, "count"))
            inner_args[pc] = arg
            final_exprs.append(
                f"CAST(CASE WHEN SUM({pc}) = 0 THEN NULL "
                f"ELSE SUM({ps}) / SUM({pc}) END AS DOUBLE) "
                f"AS {alias}"
            )
            continue
        p = f"__mv_p_{alias}"
        if not reserve(p):
            return None
        inner_fn = {
            "count": "COUNT", "sum": "SUM", "min": "MIN",
            "max": "MAX",
        }[op]
        inner_items.append(f"{inner_fn}({arg}) AS {p}")
        inner_aggs.append((p, op))
        inner_args[p] = arg
        # counts of subgroups re-aggregate by SUM; SUM/MIN/MAX by
        # themselves (all distributive over the finer grain). A
        # COUNT sibling re-aggregates as SUM of partials, which is
        # NULL over an EMPTY stored grain (global tier, empty base
        # or every grain row evicted) where the defining COUNT
        # returns 0 - COALESCE restores it (no-op for surviving
        # keyed groups: >=1 grain row means a non-null partial).
        outer_fn = "SUM" if op in ("count", "sum") else inner_fn
        if op == "count":
            final_exprs.append(
                f"CAST(COALESCE(SUM({p}), 0) AS {native}) "
                f"AS {alias}"
            )
        else:
            final_exprs.append(
                f"CAST({outer_fn}({p}) AS {native}) AS {alias}"
            )
    inner_group_by = group_by_sql + [f"({dv_arg})"]

    def build_store() -> str:
        q = (
            f"SELECT {', '.join(inner_items)} FROM "
            + m.group("ref")
        )
        if m.group("where"):
            q += f" WHERE {m.group('where')}"
        return q + f" GROUP BY {', '.join(inner_group_by)}"

    # CDC-invertibility needs the STORED partial types (a SUM
    # partial is integral iff its input is): one analysis pass over
    # the store query decides, then the hidden state appends. An
    # MV of pure COUNT(DISTINCT) (no other aggregates) is
    # trivially invertible - grain rows leave via __mv_rows = 0.
    try:
        stypes = {
            f.name: f.dataType
            for f in cat.spark.sql(build_store()).schema.fields
        }
    except Exception:
        return None
    cdc_ready = all(
        op == "count"
        or (
            op == "sum"
            and isinstance(
                stypes.get(name), (IntegerType, LongType)
            )
        )
        for name, op in inner_aggs
    )
    if cdc_ready:
        inner_items.append("COUNT(*) AS __mv_rows")
        for name, op in inner_aggs:
            if op == "sum":
                inner_items.append(
                    f"COUNT({inner_args[name]}) AS __mv_nn_{name}"
                )
    view_agg = {
        "keys": group_cols,
        "exprs": final_exprs,
        "order": select_order,
    }
    return (
        idents[0],
        group_cols + [dv_col],
        inner_aggs,
        build_store(),
        having,
        inner_args,
        m.group("where"),
        {**key_exprs, dv_col: f"({dv_arg})"},
        view_agg,
    )

# fact-JOIN-dim aggregates: the third incremental-maintenance tier.
# With the DIM side frozen at its pinned version, every fact row
# contributes to the join result independently, so COUNT/SUM/MIN/
# MAX over the join distribute over fact appends exactly like the
# single-table tier: REFRESH joins ONLY the fact delta to the dim
# and MERGEs the partials - O(delta x dim-match + touched groups),
# never the fact history. A moved dim (or fact DML in range) falls
# back to full refresh - never to a wrong result.
_MV_JOIN_AGG_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<f>[A-Za-z_]\w*)\s+"
    r"(?P<joins>(?:INNER\s+)?JOIN\s+.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<keys>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# one step of the join chain: JOIN <dim> ON <cond>, the condition
# ending where the next JOIN begins (or the chain ends). Real star
# queries join several dims (q05's shape) - the tier handles
# fact JOIN d1 ON ... JOIN d2 ON ... JOIN dN ON ... uniformly.
_MV_JOIN_STEP = re.compile(
    r"(?:INNER\s+)?JOIN\s+(?P<d>[A-Za-z_]\w*)\s+ON\s+"
    r"(?P<on>.+?)(?=\s+(?:INNER\s+)?JOIN\s+|\s*$)",
    re.IGNORECASE | re.DOTALL,
)
_MV_JOIN_KEY = re.compile(
    r"^\s*(?:(?P<qual>[A-Za-z_]\w*)\s*\.\s*)?(?P<col>[A-Za-z_]\w*)"
    r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)


def _mv_join_agg_spec(cat, sql_text: str) -> (
    tuple[
        str,
        list[str],
        list[str],
        list[tuple[str, str]],
        dict[str, str],
    ]
    | None
):
    """Parse a join-aggregate MV: ``SELECT <bare/qualified key cols
    and COUNT/SUM/MIN/MAX(expr) AS alias> FROM <fact view> [INNER]
    JOIN <dim view> ON <cond> [JOIN <dim2> ON <cond2> ...]
    [WHERE ...] GROUP BY <the keys>``. Returns (fact identifier,
    [dim identifiers], group columns, [(agg alias, op)],
    {agg alias: arg spelling}) or None.
    Conservative gates in the family tradition: AVG/DISTINCT/
    HAVING/expression keys, a self-join, outer joins, subqueries,
    or extra plan nodes all decline to full refresh. Which side is
    the FACT is positional (the left table): its appends refresh
    incrementally, every joined side is a pinned dim."""
    if re.search(
        r"\b(DISTINCT|HAVING|LEFT|RIGHT|FULL|CROSS|SEMI|ANTI)\b",
        sql_text,
        re.IGNORECASE,
    ):
        return None
    m = _MV_JOIN_AGG_SHAPE.match(sql_text)
    if m is None:
        return None
    steps = list(_MV_JOIN_STEP.finditer(m.group("joins")))
    if not steps:
        return None
    # the steps must tile the whole join chain (anything the step
    # regex could not account for - stray tokens between ON and the
    # next JOIN - is a shape we don't understand: decline)
    pos = 0
    for st in steps:
        if m.group("joins")[pos : st.start()].strip():
            return None
        pos = st.end()
    if m.group("joins")[pos:].strip():
        return None
    # a refresh-variant ON/WHERE (current_date() etc.) would filter
    # only the DELTA with the new value while materialized rows
    # keep the old one - decline to full refresh
    if any(
        _MV_NONDETERMINISTIC.search(st.group("on"))
        for st in steps
    ) or (
        m.group("where")
        and _MV_NONDETERMINISTIC.search(m.group("where"))
    ):
        return None
    f_view = m.group("f")
    d_views = [st.group("d") for st in steps]
    lowers = [f_view.lower()] + [d.lower() for d in d_views]
    if len(set(lowers)) != len(lowers):
        return None  # self-join: one delta side is not enough

    def resolve(view: str) -> str | None:
        hits = [
            ident
            for ns in cat.list_namespaces()
            for ident in cat.list_tables(ns)
            if cat.view_name(ident) == view
        ]
        return hits[0] if len(hits) == 1 else None

    fact = resolve(f_view)
    dims = [resolve(d) for d in d_views]
    if fact is None or any(d is None for d in dims):
        return None
    group_cols: list[str] = []
    key_names: dict[str, set[str]] = {}  # out name -> GROUP BY spellings
    aggs: list[tuple[str, str]] = []
    agg_args: dict[str, str] = {}
    out_names: list[str] = []
    parts = [p.strip() for p in _split_top_level(m.group("items"))]
    for i, part in enumerate(parts):
        im = _MV_AGG_ITEM.match(part)
        if im is not None:
            op = _norm_op(im.group("op"))
            arg = im.group("arg").strip()
            alias = im.group("alias")
            if (
                op == "avg"
                or im.group("distinct")
                or _agg_item_rejected(op, arg, alias)
                or _MV_NONDETERMINISTIC.search(arg)
            ):
                return None
            aggs.append((alias, op))
            agg_args[alias] = arg
            out_names.append(alias)
            continue
        km = _MV_JOIN_KEY.match(part)
        if km is None:
            return None  # expression key: decline
        name = km.group("alias") or km.group("col")
        if name.startswith("__mv_"):
            return None
        group_cols.append(name)
        out_names.append(name)
        spellings = {name.lower(), km.group("col").lower(), str(i + 1)}
        if km.group("qual"):
            spellings.add(
                f"{km.group('qual')}.{km.group('col')}".lower()
            )
        key_names[name] = spellings
    if not aggs or not group_cols:
        return None  # global join-agg: keep v1 keyed (merge path)
    if len(set(out_names)) != len(out_names):
        return None

    def norm(s: str) -> str:
        return re.sub(r"\s*\.\s*", ".", re.sub(r"\s+", " ", s.strip())).lower()

    matched: set[str] = set()
    for k in _split_top_level(m.group("keys")):
        kn = norm(k)
        hit = next(
            (
                name
                for name, sp in key_names.items()
                if kn in sp
            ),
            None,
        )
        if hit is None:
            return None
        matched.add(hit)
    if matched != set(key_names):
        return None
    # plan guard: exactly one Aggregate over exactly N INNER
    # joins, nothing else non-distributive (subqueries, windows, a
    # hidden extra join from a view definition)
    try:
        cat.register_views()
        plan = str(
            cat.spark.sql(sql_text)._jdf.queryExecution().analyzed()
        )
    except Exception:
        return None
    bad = tuple(
        tok
        for tok in _MV_NON_DISTRIBUTIVE
        if tok not in ("Aggregate", "Join")
    )
    if (
        any(tok in plan for tok in bad)
        or plan.count("Aggregate") != 1
        or plan.count("Join") != len(dims)
        or plan.count("Join Inner") != len(dims)
    ):
        return None
    return fact, dims, group_cols, aggs, agg_args


def _join_store_query(
    cat, sql_text: str, aggs: list, agg_args: dict
) -> str | None:
    """The join-agg MV's materialization query with hidden state,
    or None when the plain query needs none. Two tiers, mirroring
    the single-table discipline:

    - CDC-invertible set (COUNT/integral-SUM only): materialize
      ``COUNT(*) AS __mv_rows`` plus ``COUNT(arg) AS
      __mv_nn_<alias>`` per SUM, so base DML refreshes from the
      signed changelog. Any MIN/MAX (not invertible) or a
      non-integral SUM (float subtraction is inexact) declines.
    - APPROX_COUNT_DISTINCT present (sketch tier, r11): store a
      mergeable DataSketches HLL per group (``__mv_hll_<alias>``)
      and rewrite the visible column to the SKETCH estimate - one
      estimator on every path (creation, append union, full
      refresh), never Spark's HLL++, so the value cannot jump
      between algorithms. Fact appends union the delta sketch into
      the stored one (O(delta + touched groups)); sketches are not
      invertible, so no CDC state is stored and any DML / moved
      dim takes the touched-group recompute tier (re-running THIS
      query restricted to affected groups - still the sketch
      estimator), falling to full refresh when unprovable."""
    from pyspark.sql.types import IntegerType, LongType

    m = _MV_JOIN_AGG_SHAPE.match(sql_text)
    if m is None:
        return None
    try:
        vis = {
            f.name: f.dataType
            for f in cat.spark.sql(sql_text).schema.fields
        }
    except Exception:
        return None
    has_sketch = any(
        op in ("approx_count_distinct", "approx_percentile")
        for _, op in aggs
    )
    cdc_ready = not has_sketch and all(
        op == "count"
        or (
            op == "sum"
            and isinstance(
                vis.get(alias), (IntegerType, LongType)
            )
        )
        for alias, op in aggs
    )
    if not (cdc_ready or has_sketch):
        return None
    if has_sketch:
        items = _approx_rewrite_items(
            [p.strip() for p in _split_top_level(m.group("items"))],
            aggs,
            agg_args,
            vis,
        )
        if items is None:
            return None  # ineligible sketch item (KLL spec)
    else:
        items = [m.group("items").strip(), "COUNT(*) AS __mv_rows"]
        for alias, op in aggs:
            if op == "sum":
                items.append(
                    f"COUNT({agg_args[alias]}) AS __mv_nn_{alias}"
                )
    q = (
        f"SELECT {', '.join(items)} FROM {m.group('f')} "
        f"{m.group('joins')}"
    )
    if m.group("where"):
        q += f" WHERE {m.group('where')}"
    q += f" GROUP BY {m.group('keys')}"
    if has_sketch and not _analyzes(cat, q):
        # HLL_SKETCH_AGG rejects this argument (a type outside
        # INT/BIGINT/STRING/BINARY, or the rsd form
        # APPROX_COUNT_DISTINCT(x, 0.05) whose parenthesized arg
        # becomes a struct): no mergeable sketch state is
        # possible (review r11: the unvalidated rewrite crashed
        # MV creation). The caller declines join_agg mode.
        return None
    return q


def _snap_id(bt, version: int) -> str | None:
    """The snapshot UUID at ``version``, or None when that version
    is gone (expired or the table was dropped and recreated)."""
    try:
        return bt.snapshot(int(version)).snapshot_id
    except Exception:
        return None


def _version_pin(bt, version: int, vkey: str, skey: str) -> dict:
    """``{vkey: version, skey: snapshot UUID}`` for ``bt`` at
    ``version`` (no ``skey`` when that snapshot is gone). Version
    NUMBERS alone cannot prove a base is the one the MV materialized -
    a dropped-and-recreated table counts back up to the same number
    with different contents - so every pin records the snapshot UUID
    and every refresh checks it."""
    sid = _snap_id(bt, version)
    return {vkey: str(version), **({skey: sid} if sid is not None else {})}


def _pin_props(cat, ident: str, vkey: str, skey: str) -> dict:
    """Register ``ident``'s view at its current version EXACTLY and
    return that version's pin: the recorded pin must be precisely the
    snapshot the materialization reads, or a commit racing the
    refresh would be skipped (version read after registration) or
    double-counted (before)."""
    bt = cat.load_table(ident)
    v = bt.current_version()
    cat.create_view(ident, view_name=cat.view_name(ident), version=v)
    return _version_pin(bt, v, vkey, skey)


def create_materialized_view(cat, identifier: str, sql_text: str):
    """A table whose contents are a stored query's result: created
    by running the query once (CTAS), refreshed on demand. Readers
    see either the old or the new result, never a mix; time travel
    keeps prior refreshes until expiry.

    Refresh strategy is recorded at creation (``mv.refresh_mode``,
    see the module docstring) together with the pins of every input
    the materialization read. A query no incremental shape accepts
    records no base table and re-runs in full on every refresh."""
    ns, _, _name = identifier.rpartition(".")
    if not ns:
        raise ValueError(f"identifier must be namespace.table: {identifier}")
    if cat.table_exists(identifier):
        raise ValueError(f"table already exists: {identifier}")
    cat.register_views()
    cat._register_stored_views()
    props = {"mv.query": sql_text}
    base_ident = _mv_incremental_base(cat, sql_text)
    dims: list[str] = []
    agg_spec = None if base_ident is not None else _mv_agg_spec(cat, sql_text)
    if agg_spec is not None:
        (
            base_ident,
            group_cols,
            aggs,
            store_query,
            having,
            agg_args,
            where_clause,
            key_exprs,
            view_agg,
        ) = agg_spec
        props["mv.refresh_mode"] = "agg"
        props["mv.group_cols"] = json.dumps(group_cols)
        props["mv.aggs"] = json.dumps(aggs)
        props["mv.agg_args"] = json.dumps(agg_args)
        if where_clause:
            props["mv.where"] = where_clause
        if key_exprs:
            # expression group keys (and the distinct-value grain
            # column): CDC maintenance re-derives them over changelog
            # rows before grouping
            props["mv.key_exprs"] = json.dumps(key_exprs)
        if view_agg is not None:
            # COUNT(DISTINCT) tier: the table stores the finer (keys,
            # value) grain; the SQL-surface view re-aggregates back to
            # the user grain
            props["mv.view_agg"] = json.dumps(view_agg)
        if store_query is not None:
            # AVG decomposition / HAVING / finer grain: the
            # materialization runs the store query (visible cols +
            # __mv_* state, UNFILTERED)
            props["mv.store_query"] = store_query
        if having is not None:
            # applied in the view projection (create_view); the stored
            # rows are the hidden unfiltered state
            props["mv.having"] = having
    elif base_ident is None:
        join_spec = _mv_join_agg_spec(cat, sql_text)
        store_query = (
            _join_store_query(cat, sql_text, join_spec[3], join_spec[4])
            if join_spec is not None
            else None
        )
        if (
            join_spec is not None
            and store_query is None
            and any(
                op in ("approx_count_distinct", "approx_percentile")
                for _, op in join_spec[3]
            )
        ):
            # a sketch aggregate whose store query cannot materialize
            # (incompatible arg type, rsd form, ineligible percentile)
            # has nothing mergeable: decline join_agg mode entirely -
            # the plain full-refresh MV keeps the native estimator on
            # every path (review r11)
            join_spec = None
        if join_spec is not None:
            base_ident, dims, group_cols, aggs, agg_args = join_spec
            props["mv.refresh_mode"] = "join_agg"
            props["mv.group_cols"] = json.dumps(group_cols)
            props["mv.aggs"] = json.dumps(aggs)
            props["mv.agg_args"] = json.dumps(agg_args)
            if store_query is not None:
                # CDC-invertible (COUNT/integral-SUM only): materialize
                # __mv_rows + per-SUM __mv_nn_ alongside the visible
                # columns, so base DML (fact OR dims) can refresh from
                # the signed changelog instead of re-running the whole
                # star join. APPROX_COUNT_DISTINCT instead stores a
                # mergeable HLL sketch per group (__mv_hll_*) so fact
                # appends union instead of re-scanning the star (r11)
                props["mv.store_query"] = store_query
    if base_ident is not None:
        props["mv.base_table"] = base_ident
        props.update(
            _pin_props(cat, base_ident, "mv.base_version", "mv.base_snapshot")
        )
        if dims:
            props.update(_pin_dims(cat, dims))
    src = cat.spark.sql(
        props.get("mv.store_query", sql_text)
    ).localCheckpoint(eager=True)
    cat.create_namespace(ns)
    t = cat.create_table(identifier, src.schema)
    t.append(src)
    t.set_properties(**props)
    return t


# -- refresh: one signed-delta pipeline ---------------------------------
#
# A refresh reads every input of the stored query as a changelog (the
# table/stream duality of "One SQL to Rule Them All", SIGMOD 2019) and
# maintains the MV from weighted deltas: an append is all +1, a CDC
# insert/delete is +1/-1 (the Z-set algebra of DBSP, VLDB 2023). Every
# MV is a star - a single-table MV is a star with zero dims - and every
# refresh window is a list of terms, each applied through one route.


# a recompute touching more groups than this is full-refresh-shaped
# anyway
_GROUP_RECOMPUTE_CAP = 10_000


@dataclass
class _Side:
    """One input table of the stored query and where its pin stands."""

    ident: str
    pinned: int  # the version the materialization reflects
    cur: int  # the table's current version
    sid: str | None  # the recorded snapshot UUID of ``pinned``
    lineage: bool  # ``pinned`` is still the snapshot the MV read

    @property
    def moved(self) -> bool:
        return not (self.lineage and self.cur == self.pinned)


@dataclass
class _Term:
    """One incremental step: ``side``'s view bound to ``rows`` (its
    append-diff, or its signed changelog up to version ``target``),
    every other moved side's view bound to the version in ``binds``,
    and the pins its commit records as intent (``mv_pins``)."""

    side: str
    target: int
    rows: DataFrame
    append: bool
    binds: dict
    pins: dict


@dataclass
class _Ctx:
    """The refreshed MV as every route sees it."""

    t: LakehouseTable
    props: dict
    mode: str | None  # None (projection) | "agg" | "join_agg"
    sql_text: str
    store_sql: str
    group_cols: list
    aggs: list
    agg_args: dict

    @classmethod
    def of(cls, t: LakehouseTable, props: dict) -> "_Ctx":
        sql_text = props["mv.query"]
        return cls(
            t,
            props,
            props.get("mv.refresh_mode"),
            sql_text,
            props.get("mv.store_query", sql_text),
            json.loads(props.get("mv.group_cols", "[]")),
            json.loads(props.get("mv.aggs", "[]")),
            json.loads(props.get("mv.agg_args", "{}")),
        )

    @property
    def types(self) -> dict:
        return {f.name: f.dataType for f in self.t.schema.fields}

    @cached_property
    def shape(self) -> tuple | None:
        """(FROM clause, WHERE or None, select items, GROUP BY text,
        {group column: its source expression}) of the store query, or
        None for a shape the changelog routes do not model. Join keys
        are bare or qualified columns of the user query; single-table
        keys are bare columns or the recorded ``mv.key_exprs``."""
        if self.mode == "join_agg":
            m = _MV_JOIN_AGG_SHAPE.match(self.store_sql)
            um = _MV_JOIN_AGG_SHAPE.match(self.sql_text)
            if m is None or um is None:
                return None
            src = f"{m.group('f')} {m.group('joins')}"
            key_src: dict[str, str] = {}
            for part in _split_top_level(um.group("items")):
                part = part.strip()
                if _MV_AGG_ITEM.match(part):
                    continue
                km = _MV_JOIN_KEY.match(part)
                if km is None:
                    return None
                key_src[km.group("alias") or km.group("col")] = (
                    f"{km.group('qual')}.{km.group('col')}"
                    if km.group("qual")
                    else km.group("col")
                )
        else:
            m = _MV_AGG_SHAPE.match(self.store_sql)
            if m is None:
                return None
            src = m.group("ref")
            key_exprs = json.loads(self.props.get("mv.key_exprs", "{}"))
            key_src = {g: key_exprs.get(g, g) for g in self.group_cols}
        if set(key_src) != set(self.group_cols):
            return None
        where, items, keys = m.group("where", "items", "keys")
        return src, where, items, keys, key_src


def refresh_materialized_view(cat, identifier: str):
    """Bring the MV up to date with its stored query, as one loop:

    1. recover the pins a crashed refresh committed but never wrote;
    2. find the sides that moved (the base, or the fact plus its dims);
    3. split the window into terms (:func:`_terms`);
    4. apply each term through one route (:func:`_apply`);
    5. commit that term's pins;
    6. when a term declines, fall back to one full refresh: re-run the
       store query and atomically replace the contents (a zero-row
       result commits an explicit truncate).

    An up-to-date MV is a no-op (returns None). Side-effect contract:
    refresh re-registers temp views ONLY for the stored query's
    recorded base table and dim pins (plus the stored-view pass, whose
    definitions bind against whatever table views the session holds);
    callers that want every catalog table's view re-bound call
    ``register_views()`` themselves. MVs created without a recorded
    base keep the full sweep, because their query may reference any
    table."""
    t = cat.load_table(identifier)
    props = t.properties()
    if not props.get("mv.query"):
        raise ValueError(
            f"{identifier} is not a materialized view (no mv.query)"
        )
    base = props.get("mv.base_table")
    if base:
        for ident in {base, *json.loads(props.get("mv.join_dims", "[]"))}:
            cat.create_view(ident)
    else:
        cat.register_views()
    cat._register_stored_views()
    # complete a crashed refresh's pin write BEFORE computing what
    # moved - otherwise the committed delta would re-apply
    props = _recover_mv_pins(t, props)
    if not base:
        return _full_refresh(cat, t, props)
    ctx = _Ctx.of(t, props)
    fact, dims = _sides(cat, props)
    repinned = _repin_unchanged_dims(cat, dims)
    if not fact.moved and not any(d.moved for d in dims):
        if repinned:
            t.set_properties(**_dim_pin_props(dims))
        return None  # every side's contents unmoved: no commit
    # cost-based chooser (opt-in, join MVs): when the manifest-stat
    # estimate says the star is cheaper to re-read than the terms'
    # rows plus fixed floors, skip straight to the full refresh
    if (
        ctx.mode == "join_agg"
        and (props.get("mv.refresh.cost-based") or "").strip().lower()
        in ("true", "1", "yes")
        and _join_refresh_cost(cat, fact, dims)["choice"] == "full"
    ):
        return _full_refresh(cat, t, props)
    terms = _terms(cat, ctx, fact, dims)
    if terms is not None:
        for term in terms:
            snap = _apply(cat, ctx, term, sole=len(terms) == 1)
            if snap is NotImplemented:
                break  # the full refresh overwrites any half-merged state
            # pin THIS term now: a committed term must never be
            # re-applied by a later (crash-resumed) refresh
            t.set_properties(**term.pins)
        else:
            return snap
    return _full_refresh(cat, t, props)


def _sides(cat, props: dict) -> tuple[_Side, list[_Side]]:
    """The stored query's fact (a single-table MV's base) and its dims
    in ``mv.join_dims`` order (none for a single-table MV). A pin
    verifies SNAPSHOT IDENTITY, not the version number: a dropped and
    recreated table counts back up to the same number with different
    contents."""

    def side(ident: str, v, sid: str | None) -> _Side:
        tb = cat.load_table(ident)
        v = int(v)
        lineage = sid is None or _snap_id(tb, v) == sid
        return _Side(ident, v, tb.current_version(), sid, lineage)

    fact = side(
        props["mv.base_table"],
        props["mv.base_version"],
        props.get("mv.base_snapshot"),
    )
    vs = json.loads(props.get("mv.join_dim_versions", "{}"))
    sids = json.loads(props.get("mv.join_dim_snapshots", "{}"))
    dims = [
        side(d, vs[d], sids.get(d))
        for d in json.loads(props.get("mv.join_dims", "[]"))
    ]
    return fact, dims


def _repin_unchanged_dims(cat, dims: list[_Side]) -> bool:
    """Re-pin, in place, every dim that advanced append-only by ZERO
    rows (empty appends, property sets): such commits prove the join
    input unchanged and must not force a recompute. Returns whether
    any dim was re-pinned."""
    repinned = False
    for d in dims:
        if not (d.lineage and d.cur > d.pinned):
            continue
        dt = cat.load_table(d.ident)
        try:
            empty = dt.scan_incremental(d.pinned, d.cur).limit(1).count() == 0
        except ValueError:
            continue  # DML in range: a real change
        if empty:
            d.pinned, d.sid = d.cur, _snap_id(dt, d.cur)
            repinned = True
    return repinned


def _terms(
    cat, ctx: _Ctx, fact: _Side, dims: list[_Side]
) -> list[_Term] | None:
    """Split the refresh window into terms, or None when it cannot be
    maintained incrementally: a side's lineage broke or its history
    restarted, a changelog range expired, or a projection MV's base
    took DML.

    The fact advancing append-only under pinned dims is ONE append
    term. Anything else is one changelog term per moved side. The
    inner join is multilinear, so the delta telescopes::

        Q(f', d1', d2') - Q(f, d1, d2)
            = Q(f, d1'-d1, d2) + Q(f, d1', d2'-d2) + Q(f'-f, d1', d2')

    Dims come first in ``mv.join_dims`` order and the fact last; term
    i binds every earlier moved side at its NEW version and every
    later one at its PINNED version. Pins advance per term (each
    term's intent is cumulative), so a crash between terms resumes
    EXACTLY as a narrower window: a crash before the fact term leaves
    all dims pinned and the fact moved - a plain fact refresh."""
    moved = [d for d in dims if d.moved]
    if fact.cur < fact.pinned or not all(
        s.lineage for s in (fact, *moved)
    ):
        return None
    ft = cat.load_table(fact.ident)

    def fact_pins() -> dict:
        # CUMULATIVE intent: the dim pins every earlier term advanced
        # ride along, so recovery works even if several property
        # writes were lost
        return {
            **_version_pin(
                ft, fact.cur, "mv.base_version", "mv.base_snapshot"
            ),
            **(_dim_pin_props(dims) if dims else {}),
        }

    if fact.cur > fact.pinned and not moved:
        try:
            delta = ft.scan_incremental(fact.pinned, fact.cur)
            return [
                _Term(fact.ident, fact.cur, delta, True, {}, fact_pins())
            ]
        except ValueError:
            if ctx.mode is None:
                return None  # DML under a projection MV
    order = moved + ([fact] if fact.cur > fact.pinned else [])
    terms = []
    for i, s in enumerate(order):
        tb = cat.load_table(s.ident)
        try:
            rows = tb.scan_changelog(s.pinned, s.cur)
        except ValueError:
            return None  # a snapshot in range was expired
        binds = {
            o.ident: o.cur if j < i else o.pinned
            for j, o in enumerate(order)
            if j != i
        }
        if s is fact:
            pins = fact_pins()
        else:
            s.pinned, s.sid = s.cur, _snap_id(tb, s.cur)
            pins = _dim_pin_props(dims)
        terms.append(_Term(s.ident, s.cur, rows, False, binds, pins))
    return terms


def _apply(cat, ctx: _Ctx, term: _Term, sole: bool):
    """Apply one term through the one route: an append term merges
    the store query's partials over the delta; a changelog term merges
    signed partials when the MV stores invertible state, otherwise -
    and only when it is the sole term - it recomputes the touched
    groups. Returns the commit snapshot, the current snapshot when the
    term nets to nothing, or ``NotImplemented`` to fall back to a
    full refresh."""
    if term.append:
        return _append_term(cat, ctx, term)
    snap = _signed_term(cat, ctx, term)
    if snap is NotImplemented and sole:
        snap = _recompute_term(cat, ctx, term)
    return snap


def _append_term(cat, ctx: _Ctx, term: _Term):
    """The stored query over ONLY the new rows - distributivity was
    proven at creation (a pure projection/filter, or GROUP BY plus
    distributive aggregates over pinned dims): a projection MV
    appends the result, an aggregate MV merges the partials."""
    from .dml import overwrite_partitions

    with _changelog_bound(cat, {term.side: term.rows}):
        inc, n, null_key = _checkpoint_group_probe(
            cat.spark.sql(ctx.store_sql), ctx.group_cols
        )
    t = ctx.t
    summary = {"mv_pins": term.pins}
    if ctx.mode is None:
        return t.append(inc, extra_summary=summary) if n else t.snapshot()
    if ctx.group_cols:
        return _merge_partials(ctx, inc, n, null_key, extra_summary=summary)
    # global aggregate: the MV is ONE row; the diff's single partial
    # row combines with it and replaces the contents atomically
    by_name = _merged_agg_columns(t, ctx.aggs, ctx.agg_args)
    joined = inc.alias("d").crossJoin(t.to_df().alias("t"))
    return overwrite_partitions(
        t,
        joined.select(*[by_name[f.name] for f in t.schema.fields]),
        extra_summary=summary,
    )


def _signed_term(cat, ctx: _Ctx, term: _Term):
    """A changelog term as SIGNED partials: project the changelog
    rows through the store query's FROM/WHERE (for a join, against
    the other sides at their bound versions), aggregate with +1 per
    insert and -1 per delete, and MERGE the partials.

    Exactness: an inner equi-join is LINEAR in each input (row
    multiplicities included) and COUNT/integral-SUM are linear in the
    joined rows, so the signed changelog joined to the other sides IS
    the aggregate delta. The hidden state decides what subtraction
    alone cannot: ``__mv_rows`` = 0 means the group's last row left
    (a delete directive in the same MERGE commit), ``__mv_nn_<alias>``
    = 0 means the sum lost its last non-null value and reads NULL.
    ``NotImplemented`` when the MV stores no invertible state (MIN/
    MAX/AVG/sketches, or a global aggregate), the projection fails
    analysis, or the delta holds a NULL group key."""
    types = ctx.types
    if not ctx.group_cols or "__mv_rows" not in types or any(
        op not in ("count", "sum")
        or name not in ctx.agg_args
        or (op == "sum" and f"__mv_nn_{name}" not in types)
        for name, op in ctx.aggs
    ):
        return NotImplemented
    star = {
        name
        for name, op in ctx.aggs
        if op == "count" and ctx.agg_args[name].strip() == "*"
    }
    args = [name for name, _ in ctx.aggs if name not in star]
    sign = F.when(F.col("__mv_ct") == "delete", F.lit(-1)).otherwise(
        F.lit(1)
    )
    exprs = _signed_agg_exprs(
        types, ctx.aggs, {n: F.col(f"__mv_arg_{n}") for n in args}, star, sign
    )
    got = _term_delta(
        cat,
        ctx,
        term,
        [f"({ctx.agg_args[n]}) AS __mv_arg_{n}" for n in args]
        + [f"{cat.view_name(term.side)}._change_type AS __mv_ct"],
        lambda rows: rows.groupBy(*ctx.group_cols).agg(*exprs),
    )
    if got is NotImplemented:
        return got
    return _merge_partials(
        ctx,
        *got,
        source_delete_condition="__mv_rows = 0",
        extra_summary={"cdc_refresh": True, "mv_pins": term.pins},
    )


def _recompute_term(cat, ctx: _Ctx, term: _Term):
    """A changelog term as a touched-group RECOMPUTE, for aggregates
    signed partials cannot model (MIN/MAX, AVG, sketches, or an MV
    without the invertible state): push the changelog through the
    store query's FROM/WHERE to find the TOUCHED groups (the delete
    and insert images both count, so a row moving between groups
    touches both), re-run the store query restricted to those groups
    with the moved side at its new version, and MERGE; groups with no
    surviving rows leave via a delete directive in the same commit.

    Correct by construction: a per-group recompute equals the full
    refresh for touched groups, and untouched groups cannot have
    changed (the changelog is total over the moved side, and every
    other side is unmoved). HAVING MVs qualify because the table
    stores the UNFILTERED aggregate. ``NotImplemented`` on the
    COUNT(DISTINCT) grain or a global aggregate, NULL group keys,
    analysis failures, a store query that drifted from the table, or
    more touched groups than ``_GROUP_RECOMPUTE_CAP``."""
    if not ctx.group_cols or "mv.view_agg" in ctx.props:
        return NotImplemented
    got = _term_delta(cat, ctx, term, [], lambda rows: rows.distinct())
    if got is NotImplemented:
        return got
    touched, n, null_key = got
    if null_key:
        return NotImplemented  # MERGE cannot address a NULL group
    if n == 0:
        return ctx.t.snapshot()  # the changelog nets outside the view
    if n > _GROUP_RECOMPUTE_CAP:
        return NotImplemented  # full-refresh-shaped anyway
    src, where, items, keys, key_src = ctx.shape
    tv = f"__mv_touched_{uuid.uuid4().hex[:12]}"
    filt = (
        f"({', '.join(key_src[g] for g in ctx.group_cols)}) IN "
        f"(SELECT {', '.join(ctx.group_cols)} FROM {tv})"
    )
    query = (
        f"SELECT {items} FROM {src} WHERE "
        + (f"({where}) AND " if where else "")
        + f"{filt} GROUP BY {keys}"
    )
    touched.createOrReplaceTempView(tv)
    try:
        with _changelog_bound(cat, {term.side: term.target}):
            recomputed = cat.spark.sql(query).localCheckpoint(eager=True)
    except AnalysisException as e:
        _log.warning(
            "MV group recompute failed analysis (declining to full "
            "refresh): %s",
            e,
        )
        return NotImplemented
    finally:
        cat.spark.catalog.dropTempView(tv)
    if set(recomputed.columns) != set(ctx.types):
        return NotImplemented  # store query drifted from the table
    return _merge_recomputed_groups(
        ctx.t, touched, recomputed, ctx.group_cols, term.pins
    )


def _term_delta(
    cat, ctx: _Ctx, term: _Term, extra: list[str], reduce_rows
):
    """Project a changelog term's rows through the store query's
    FROM/WHERE - the group keys plus ``extra`` columns - with the
    term's views bound, apply ``reduce_rows``, and checkpoint the
    result with the probe. Returns ``_checkpoint_group_probe``'s triple, or
    ``NotImplemented`` for an unmodeled shape or a projection that
    fails ANALYSIS (e.g. the changelog's metadata columns colliding
    with an unqualified reference); a malformed projection or an engine
    error still raises."""
    if ctx.shape is None:
        return NotImplemented
    src, where, _items, _keys, key_src = ctx.shape
    sel = [f"{key_src[g]} AS {g}" for g in ctx.group_cols] + extra
    pre = f"SELECT {', '.join(sel)} FROM {src}"
    if where:
        pre += f" WHERE {where}"
    with _changelog_bound(cat, {term.side: term.rows, **term.binds}):
        try:
            rows = cat.spark.sql(pre)
        except AnalysisException as e:
            _log.warning(
                "MV refresh term over %s failed analysis (declining to "
                "full refresh): %s",
                term.side,
                e,
            )
            return NotImplemented
        return _checkpoint_group_probe(reduce_rows(rows), ctx.group_cols)


def _full_refresh(cat, t: LakehouseTable, props: dict):
    """Re-run the store query and atomically replace the contents (MV
    tables are unpartitioned, so this is one full-table replace; a
    zero-row result commits an explicit truncate), re-pinning every
    side at the exact snapshot the query read."""
    from .dml import overwrite_partitions, truncate_table

    pins: dict = {}
    if props.get("mv.base_table"):
        pins = _pin_props(
            cat, props["mv.base_table"], "mv.base_version", "mv.base_snapshot"
        )
        if "mv.join_dims" in props:
            pins.update(_pin_dims(cat, json.loads(props["mv.join_dims"])))
    src = cat.spark.sql(props.get("mv.store_query", props["mv.query"]))
    snap = overwrite_partitions(t, src)
    if snap is None:
        snap = truncate_table(t)
    if pins:
        t.set_properties(**pins)
    return snap


@contextmanager
def _changelog_bound(cat, binds: dict):
    """Bind views for the duration: each ``binds`` table's public view
    to a frame (a changelog or an append-diff) or to a version (through
    ``create_view``, so a side that is itself an MV keeps its stripped,
    HAVING-filtered view). On exit ALWAYS restore each through
    ``create_view`` to its public head - the one swap discipline of
    every refresh route, O(swapped views), never the O(catalog)
    ``register_views()`` sweep."""
    bound = []
    try:
        for ident, to in binds.items():
            name = cat.view_name(ident)
            if isinstance(to, int):
                cat.create_view(ident, view_name=name, version=to)
            else:
                to.createOrReplaceTempView(name)
            bound.append(ident)
        yield
    finally:
        for ident in bound:
            cat.create_view(ident)


def _checkpoint_group_probe(
    df: DataFrame, group_cols: list
) -> tuple[DataFrame, int, bool]:
    """Eagerly checkpoint a refresh delta with the empty-delta and
    NULL-group-key gates riding the materialization job as observed
    metrics: both gates cost no job of their own. Returns
    (checkpointed frame, row count, has NULL group key); with no group
    columns the flag is always False. The metrics cover exactly the
    rows being materialized, and the checkpointed frame's plan is a
    fresh LogicalRDD, so no downstream action re-fires the collector.

    Why the metrics survive a task retry: observed metrics travel as
    task accumulator updates, which Spark merges only from attempts
    that succeed, while a stage re-run may merge one partition twice.
    Neither breaks a gate. The NULL-key flag is a MAX, so merging a
    partition twice changes nothing. The count is read only as "zero
    or not" and against ``_GROUP_RECOMPUTE_CAP``: it reads zero only
    when no row was materialized, and an overcount can only push a
    recompute past the cap - to a full refresh, which is always
    correct."""
    from pyspark.sql import Observation

    null_key = reduce(
        lambda a, b: a | b,
        [F.col(k).isNull() for k in group_cols],
        F.lit(False),
    )
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("__n"),
        F.max(F.when(null_key, 1).otherwise(0)).alias("__null_key"),
    )
    cp = df.localCheckpoint(eager=True)
    m = obs.get
    return cp, int(m["__n"] or 0), bool(m["__null_key"] or 0)


def _merge_partials(
    ctx: _Ctx, inc: DataFrame, n: int, null_key: bool, **merge_kwargs
):
    """Merge grouped partials (append partials or signed CDC partials)
    into the materialization: join them with the current rows on the
    group keys, combine every non-key column via
    :func:`_merged_agg_columns`, and MERGE the touched groups in one
    commit. Returns the current snapshot for an empty delta, or
    ``NotImplemented`` on a NULL group key (an equality-keyed MERGE
    cannot address the NULL group; the caller full-refreshes)."""
    from .dml import merge_into

    if not n:
        return ctx.t.snapshot()
    if null_key:
        return NotImplemented
    t, group_cols = ctx.t, ctx.group_cols
    joined = inc.alias("d").join(
        t.to_df().alias("t"), on=group_cols, how="left"
    )
    by_name = _merged_agg_columns(t, ctx.aggs, ctx.agg_args)
    # select in the MV's schema order (keys resolve via the join's
    # coalesced output; a key-first SELECT is not guaranteed)
    merged = joined.select(
        *[
            F.col(f.name) if f.name in group_cols else by_name[f.name]
            for f in t.schema.fields
        ]
    )
    return merge_into(
        t,
        merged,
        key=group_cols,
        when_matched="update",
        when_not_matched="insert",
        **merge_kwargs,
    )


def _merge_recomputed_groups(
    t: LakehouseTable,
    touched: DataFrame,
    recomputed: DataFrame,
    group_cols: list,
    pin_updates: dict,
):
    """MERGE recomputed groups: touched groups absent from the
    recomputation have no surviving rows and LEAVE the view via a
    delete directive in the same commit as the updated groups."""
    from .dml import merge_into

    types = {f.name: f.dataType for f in t.schema.fields}
    gone = touched.join(
        recomputed.select(*group_cols), on=group_cols, how="left_anti"
    )
    upd = recomputed.withColumn("__mv_gone", F.lit(False)).unionByName(
        gone.select(
            *group_cols,
            *[
                F.lit(None).cast(types[f.name]).alias(f.name)
                for f in t.schema.fields
                if f.name not in group_cols
            ],
        ).withColumn("__mv_gone", F.lit(True))
    )
    return merge_into(
        t,
        upd,
        key=group_cols,
        when_matched="update",
        when_not_matched="insert",
        source_delete_condition="__mv_gone",
        extra_summary={
            "cdc_refresh": True,
            "group_recompute": True,
            "mv_pins": pin_updates,
        },
    )

def _combine_partial(op: str, tv, dv):
    """NULL-deferring combine of two partial aggregates: COUNT/SUM
    add, MIN least, MAX greatest; a NULL partial on either side
    defers to the other (a group absent from one side keeps the
    other side's value)."""
    if op in ("count", "sum"):
        merged = tv + dv
    elif op == "min":
        merged = F.least(tv, dv)
    else:  # max
        merged = F.greatest(tv, dv)
    return F.when(tv.isNull(), dv).when(dv.isNull(), tv).otherwise(merged)



def _merged_agg_columns(
    t: LakehouseTable, aggs: list, agg_args: dict | None = None
) -> dict[str, "F.Column"]:
    """Combined expressions (over a ``d``/``t``-aliased join of the
    delta partials and the materialization) for every non-key MV
    column, keyed by name. Distributive ops combine directly; AVG
    merges its stored ``__mv_sum_``/``__mv_cnt_`` partials and
    recomputes the visible column as sum/count (NULL when the
    merged count is 0: an all-NULL group, exactly AVG's answer);
    sketch ops union/merge their stored sketches and recompute the
    visible estimate (``agg_args`` carries the percentile literal
    a KLL column re-answers)."""
    types = {f.name: f.dataType for f in t.schema.fields}
    out: dict = {}
    for name, op in aggs:
        if op == "avg":
            s_name, c_name = f"__mv_sum_{name}", f"__mv_cnt_{name}"
            s = _combine_partial(
                "sum", F.col(f"t.{s_name}"), F.col(f"d.{s_name}")
            )
            c = _combine_partial(
                "count", F.col(f"t.{c_name}"), F.col(f"d.{c_name}")
            )
            out[s_name] = s.cast(types[s_name]).alias(s_name)
            out[c_name] = c.cast(types[c_name]).alias(c_name)
            out[name] = (
                F.when(c.isNull() | (c == 0), F.lit(None))
                .otherwise(s / c)
                .cast(types[name])
                .alias(name)
            )
        elif op == "approx_count_distinct":
            # sketch tier (r11): union the delta's HLL into the
            # stored one (NULL partials defer to the other side -
            # hll_union itself nulls on a NULL input) and recompute
            # the visible estimate from the merged sketch; an
            # empty sketch estimates 0, matching
            # APPROX_COUNT_DISTINCT over an all-NULL group
            h_name = f"__mv_hll_{name}"
            th, dh = F.col(f"t.{h_name}"), F.col(f"d.{h_name}")
            merged = (
                F.when(th.isNull(), dh)
                .when(dh.isNull(), th)
                .otherwise(F.hll_union(th, dh))
            )
            out[h_name] = merged.cast(types[h_name]).alias(h_name)
            out[name] = (
                F.when(merged.isNull(), F.lit(None))
                .otherwise(F.hll_sketch_estimate(merged))
                .cast(types[name])
                .alias(name)
            )
        elif op == "approx_percentile":
            # KLL quantile tier (r11): merge the delta's sketch
            # into the stored one (kll_sketch_merge nulls on a
            # NULL side, so NULL partials defer manually) and
            # recompute the visible quantile from the merged
            # sketch. An all-NULL group's sketch is a non-NULL
            # EMPTY buffer whose GET_QUANTILE THROWS, so the
            # estimate guards on GET_N = 0 -> NULL, exactly
            # APPROX_PERCENTILE's answer (probe-confirmed r11)
            k_name = f"__mv_kll_{name}"
            fam, _ct, _e, ps, is_arr = _kll_spec(
                (agg_args or {}).get(name, ""), types.get(name)
            )
            f_lo = fam.lower()
            tk, dk = F.col(f"t.{k_name}"), F.col(f"d.{k_name}")
            merged = (
                F.when(tk.isNull(), dk)
                .when(dk.isNull(), tk)
                .otherwise(
                    F.call_function(
                        f"kll_sketch_merge_{f_lo}", tk, dk
                    )
                )
            )
            out[k_name] = merged.cast(types[k_name]).alias(k_name)
            n = F.call_function(f"kll_sketch_get_n_{f_lo}", merged)
            # array form (r12): the ONE merged sketch answers every
            # requested quantile; the guard still covers the whole
            # result (all-NULL group -> NULL array, probe-confirmed)
            quantiles = [
                F.call_function(
                    f"kll_sketch_get_quantile_{f_lo}",
                    merged,
                    F.lit(float(p)),
                )
                for p in ps
            ]
            visible = (
                F.array(*quantiles) if is_arr else quantiles[0]
            )
            out[name] = (
                F.when(
                    merged.isNull() | (n == 0), F.lit(None)
                )
                .otherwise(visible)
                .cast(types[name])
                .alias(name)
            )
        elif op == "sum" and f"__mv_nn_{name}" in types:
            # CDC-invertible SUM: the stored non-null count decides
            # NULL-vs-0 after subtraction (an inverted sum whose
            # group lost its last non-null value must read NULL)
            nn_name = f"__mv_nn_{name}"
            nn = _combine_partial(
                "count", F.col(f"t.{nn_name}"), F.col(f"d.{nn_name}")
            )
            s = _combine_partial(
                "sum", F.col(f"t.{name}"), F.col(f"d.{name}")
            )
            out[nn_name] = nn.cast(types[nn_name]).alias(nn_name)
            out[name] = (
                F.when(nn.isNull() | (nn == 0), F.lit(None))
                .otherwise(s)
                .cast(types[name])
                .alias(name)
            )
        else:
            combined = _combine_partial(
                op, F.col(f"t.{name}"), F.col(f"d.{name}")
            )
            out[name] = combined.cast(types[name]).alias(name)
    if "__mv_rows" in types:
        out["__mv_rows"] = (
            _combine_partial(
                "count",
                F.col("t.__mv_rows"),
                F.col("d.__mv_rows"),
            )
            .cast(types["__mv_rows"])
            .alias("__mv_rows")
        )
    return out


def _signed_agg_exprs(
    types: dict,
    aggs: list,
    arg_cols: dict,
    star_counts: set,
    sign,
) -> list:
    """Signed (+1 insert / -1 delete) partial-aggregate expressions
    for the signed route (single-table and join MVs alike):
    COUNT(*) sums the sign, COUNT(x) the sign of non-null x,
    integral SUM adds sign*x alongside a __mv_nn_ non-null counter
    (an inverted sum losing its last non-null value must read NULL,
    not 0), and __mv_rows sums the sign so groups reaching 0 rows
    leave the view."""
    exprs = []
    for name, op in aggs:
        if op == "count" and name in star_counts:
            exprs.append(F.sum(sign).cast(types[name]).alias(name))
        elif op == "count":
            c = arg_cols[name]
            exprs.append(
                F.sum(sign * c.isNotNull().cast("long"))
                .cast(types[name])
                .alias(name)
            )
        else:  # integral sum (creation-gated)
            c = arg_cols[name]
            exprs.append(
                F.sum(
                    F.when(c.isNull(), F.lit(0)).otherwise(sign * c)
                )
                .cast(types[name])
                .alias(name)
            )
            exprs.append(
                F.sum(sign * c.isNotNull().cast("long"))
                .cast(types[f"__mv_nn_{name}"])
                .alias(f"__mv_nn_{name}")
            )
    exprs.append(
        F.sum(sign).cast(types["__mv_rows"]).alias("__mv_rows")
    )
    return exprs



def _recover_mv_pins(t: LakehouseTable, props: dict) -> dict:
    """Complete a crashed refresh's pin write (r11 review finding):
    every incremental MV commit carries its intended post-commit
    pins in the snapshot summary (``mv_pins``); the property write
    that mirrors them is a SEPARATE step, so a crash between the
    two would re-apply the committed delta on the next refresh -
    double-counted aggregates with no error. On refresh entry,
    fast-forward any pin the CURRENT snapshot's intent holds ahead
    of the recorded properties. Monotone by version comparison:
    a pin a later content-preserving re-pin already advanced is
    never regressed, and intent from a snapshot that is no longer
    current (superseded by a full refresh, which records no
    ``mv_pins``) is never consulted."""
    intent = (t.snapshot().summary or {}).get("mv_pins")
    if not intent:
        return props
    upd: dict[str, str] = {}
    unset: list[str] = []
    iv = intent.get("mv.base_version")
    if iv is not None and int(iv) > int(
        props.get("mv.base_version", -1)
    ):
        upd["mv.base_version"] = str(iv)
        if "mv.base_snapshot" in intent:
            upd["mv.base_snapshot"] = intent["mv.base_snapshot"]
        elif "mv.base_snapshot" in props:
            # the intent carries no uuid for the new version (its
            # snapshot was expired at commit time): an advanced
            # version must not keep the OLD uuid alongside it
            # (review r11) - version-only pins skip lineage checks
            unset.append("mv.base_snapshot")
    raw_vs = intent.get("mv.join_dim_versions")
    if raw_vs:
        int_vs = json.loads(raw_vs) if isinstance(raw_vs, str) else raw_vs
        raw_sids = intent.get("mv.join_dim_snapshots")
        int_sids = (
            json.loads(raw_sids)
            if isinstance(raw_sids, str)
            else (raw_sids or {})
        )
        cur_vs = json.loads(props.get("mv.join_dim_versions", "{}"))
        cur_sids = json.loads(
            props.get("mv.join_dim_snapshots", "{}")
        )
        changed = False
        for d, v in int_vs.items():
            if int(v) > int(cur_vs.get(d, -1)):
                cur_vs[d] = str(v)
                if d in int_sids:
                    cur_sids[d] = int_sids[d]
                else:
                    # no uuid in the intent: drop the stale one
                    # rather than pair it with the new version
                    cur_sids.pop(d, None)
                changed = True
        if changed:
            upd["mv.join_dim_versions"] = json.dumps(cur_vs)
            if cur_sids:
                upd["mv.join_dim_snapshots"] = json.dumps(cur_sids)
    if upd:
        _log.warning(
            "completing crashed MV pin write for %s: %s",
            t.location,
            sorted(upd),
        )
        t.replace_properties(remove=unset, add=upd)
        props = t.properties()
    return props




def _dim_pin_props(dims: list[_Side]) -> dict:
    """Serialize dim pins to properties."""
    return {
        "mv.join_dims": json.dumps([d.ident for d in dims]),
        "mv.join_dim_versions": json.dumps(
            {d.ident: str(d.pinned) for d in dims}
        ),
        "mv.join_dim_snapshots": json.dumps(
            {d.ident: d.sid for d in dims if d.sid is not None}
        ),
    }


def _pin_dims(cat, dims: list[str]) -> dict:
    """Pin every dim's view at its current snapshot (creation and the
    full refresh) and return the pin properties."""
    sides = []
    for d in dims:
        pin = _pin_props(cat, d, "v", "s")
        v = int(pin["v"])
        sides.append(_Side(d, v, v, pin.get("s"), True))
    return _dim_pin_props(sides)


# per-term fixed overhead, in row-equivalents, for the MV refresh cost
# chooser: each incremental term costs a changelog extraction + a MERGE
# commit regardless of how few rows moved (BENCH r13 measured the CDC
# refresh at ~2.6x the full star materialize at sf0.1 on a tiny delta -
# pure fixed floor). 500k row-equivalents ~ the star size below which
# full refresh empirically wins on this floor.
_MV_TERM_OVERHEAD_ROWS = 500_000


def _join_refresh_cost(cat, fact: _Side, dims: list[_Side]) -> dict:
    """Manifest-only cost model for a join-agg MV refresh: price the
    incremental path (per moved side, ``changelog_estimate`` rows plus
    their estimated fact matches, plus a fixed per-term overhead)
    against the full refresh (the star's current total rows) WITHOUT
    reading any data or running any Spark job. The asymptotics already
    favor incremental at 100 TB (O(delta x matches) vs O(star)); this
    chooser exists for the opposite regime - a small star under a busy
    changelog, where the per-term fixed floor makes full refresh the
    cheaper plan. Returns ``choice`` of 'noop' | 'incremental' |
    'full' with the inputs that decided it."""
    ft = cat.load_table(fact.ident)
    fact_rows = ft.snapshot().total_rows
    full_rows = fact_rows + sum(
        cat.load_table(d.ident).snapshot().total_rows for d in dims
    )
    out = {
        "full_rows": int(full_rows),
        "term_overhead_rows": _MV_TERM_OVERHEAD_ROWS,
        "terms": 0,
        "changelog_rows": 0,
        "incremental_rows": None,
        "reason": None,
    }
    moved = [d for d in dims if d.moved]
    if not fact.lineage or any(not d.lineage for d in moved):
        # a dropped-and-recreated side cannot refresh incrementally
        # no matter the sizes - same verdict the refresh reaches
        out["choice"] = "full"
        out["reason"] = "lineage-broken"
        return out
    terms = 0
    ch_rows = 0.0
    for d in moved:
        dt = cat.load_table(d.ident)
        est = dt.changelog_estimate(d.pinned, d.cur)
        if not est["available"]:
            out["choice"] = "full"
            out["reason"] = "changelog-expired"
            return out
        if est["rows"] == 0:
            # content-preserving commits only (empty appends,
            # compactions): the refresh re-pins or merges an empty
            # delta - charging a full per-term floor here would
            # force a pointless full rewrite
            continue
        dim_rows = dt.snapshot().total_rows
        # each changed dim row joins ~fact_rows/dim_keys fact rows
        # (uniform-key estimate - the same assumption AQE starts
        # from before runtime stats)
        matches = est["rows"] * (fact_rows / max(dim_rows, 1))
        ch_rows += est["rows"] + matches
        terms += 1
    if fact.cur > fact.pinned:
        est = ft.changelog_estimate(fact.pinned, fact.cur)
        if not est["available"]:
            out["choice"] = "full"
            out["reason"] = "changelog-expired"
            return out
        if est["rows"] > 0:  # empty fact advance: near-no-op merge
            ch_rows += est["rows"]
            terms += 1
    inc_total = ch_rows + terms * _MV_TERM_OVERHEAD_ROWS
    out["terms"] = terms
    out["changelog_rows"] = int(ch_rows)
    out["incremental_rows"] = int(inc_total)
    if terms == 0:
        out["choice"] = "noop"
    elif inc_total < full_rows:
        out["choice"] = "incremental"
    else:
        out["choice"] = "full"
        out["reason"] = "star-smaller-than-delta-cost"
    return out


def mv_refresh_estimate(cat, identifier: str) -> dict:
    """Public face of the refresh cost chooser: what WOULD
    ``refresh_materialized_view`` cost, decided from manifest stats
    alone (zero data read, zero Spark jobs) - the number an operator
    checks before arming ``mv.refresh.cost-based=true``. Join-agg MVs
    only (the single-table tiers have no per-term changelog floor
    worth modeling)."""
    props = cat.load_table(identifier).properties()
    if props.get("mv.refresh_mode") != "join_agg":
        raise ValueError(
            f"{identifier} is not a join-aggregate materialized "
            "view (mv.refresh_mode != join_agg)"
        )
    return _join_refresh_cost(cat, *_sides(cat, props))
