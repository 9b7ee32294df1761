"""Partial-COUNT pushdown through multiplicative LEFT-join fan-outs,
as a SQL -> SQL rewrite over the reference's generated workload texts.

The reference's Trino survives the "two fact tables LEFT-joined through a
tiny shared dimension key" texts (e.g. Local_TPCDS train q29/q2172) via
``optimizer.push-partial-aggregation-through-join``; Catalyst has no such
rule, so the verbatim text materializes the multiplicative fan-out
(~1e9-1e11 intermediate rows at sf0.1) and blows the reference's 300 s
kill budget.  This module IS that missing rewrite, applied at the SQL
layer so the ENGINE runs the factored form while the DuckDB oracle keeps
the naive text — every sweep hash-match is a proof of the rewrite.

Factorization (the math behind ``fanout_count_pushdown``,
operators/relational_ds3.py), applied RECURSIVELY per join-tree node:
the tuples a node's subtree contributes per joining key factor into the
node's own rows times the product of its child subtrees' counts, so each
node becomes one bottom-up CTE

    ct_T(key, subtree group cols) =
        SUM over T rows of  prod_children factor_child

and the final COUNT(*) grouped by G is the root-level SUM of the child
factor product.  Per parent->child EDGE (every WHERE conjunct must
reference exactly one table, so conjuncts assign to nodes):
  * child subtree has no conjuncts  -> factor = COALESCE(f, 1)
    (a LEFT join with zero matches contributes exactly one NULL row);
  * >=1 NULL-REJECTING conjunct anywhere in the subtree -> INNER join on
    the count CTE: the padded NULL row cannot pass, and a key whose
    post-filter count is 0 has no CTE row, so the parent row drops —
    both exactly the naive semantics;
  * conjuncts but none null-rejecting -> NOT rewritten (the NULL row may
    survive while real rows are filtered; exactness would need pre- and
    post-filter counts).  ``rewrite_fanout_count`` returns None and the
    text runs verbatim.

GROUP BY columns may live on ANY nodes: each CTE carries its subtree's
group columns in its key, and the root-level join combines per-branch
group values multiplicatively (a LEFT-mode miss contributes the all-NULL
group with weight 1, matching the naive padded row).  Multiple COUNT(*)
select items each alias the same sum.

Scale: the 1e11-row fan-out becomes one keyed partial count per branch
(map-side combined, reduced at |branch keys| cardinality) plus arithmetic
on a |hub|-row join — the exact plan Trino's pushdown produces.  Counts
multiply as BIGINT (exact to 2^63; per-key counts beyond ~2e6 would need
DECIMAL(38,0)).

The rewrite FIRES on >=2 many-edges when no size information is
available (some node — root OR interior, round 8's q694 fans out at a
mid-tree demographics key — has children joined by non-unique child-side
columns: the multiplicative shape); when the caller supplies table row
counts, firing is decided by the measured BLOW-UP estimate instead (see
``FANOUT_BLOWUP_FACTOR``), which also admits single-many-edge texts
whose bridge key cardinality is small relative to the facts. Unique
dimension keys are declared per schema in ``UNIQUE_KEYS`` — firing is a
performance heuristic, never a correctness condition (the factored form
is exact whenever this module emits it).  Equivalence proof: 1,388 of
the 15,430 corpus texts fire; all 1,388 hash-match the naive text on
DuckDB at sf0.001, and the engine-side sweeps
(``workload_oracle_sweep.py``, `fanout_rewritten` field) re-prove the
firing subset Spark-vs-DuckDB every round.
"""

from __future__ import annotations

import re

# Per-schema dimension primary keys: a root->child join on one of these
# child columns has multiplicity <= 1 and cannot fan out.  Tables absent
# from the map (the fact tables) are treated as many-rows-per-key.
UNIQUE_KEYS: dict[str, dict[str, set[str]]] = {
    "tpcds": {
        "date_dim": {"d_date_sk"},
        "time_dim": {"t_time_sk"},
        "item": {"i_item_sk"},
        "customer": {"c_customer_sk"},
        "customer_address": {"ca_address_sk"},
        "customer_demographics": {"cd_demo_sk"},
        "household_demographics": {"hd_demo_sk"},
        "income_band": {"ib_income_band_sk"},
        "store": {"s_store_sk"},
        "call_center": {"cc_call_center_sk"},
        "web_site": {"web_site_sk"},
        "web_page": {"wp_web_page_sk"},
        "warehouse": {"w_warehouse_sk"},
        "promotion": {"p_promo_sk"},
        "reason": {"r_reason_sk"},
        "ship_mode": {"sm_ship_mode_sk"},
        "catalog_page": {"cp_catalog_page_sk"},
    },
    # Every IMDB table's surrogate `id` is unique; joins land on the
    # movie_id/person_id/... foreign keys when they fan out.
    "job": {
        t: {"id"}
        for t in (
            "kind_type", "company_type", "comp_cast_type", "role_type",
            "link_type", "info_type", "title", "name", "aka_name",
            "aka_title", "cast_info", "movie_companies", "movie_info",
            "movie_info_idx", "movie_keyword", "person_info",
            "company_name", "char_name", "keyword", "movie_link",
            "complete_cast",
        )
    },
    "ssb": {
        "dim_date": {"d_datekey"},
        "customer": {"c_custkey"},
        "supplier": {"s_suppkey"},
        "part": {"p_partkey"},
    },
}

# Scale-aware firing (round 10). Without size information the static
# rule applies: fire on >=2 many-edges (the multiplicative shape), keep
# single-many texts naive (measured: broad firing cost net -59 s over
# the 3,077-text sf0.1 anchor). When the caller supplies table row
# counts (``size_of``), firing is decided by an estimated BLOW-UP RATIO
# instead: the naive plan's intermediate tuple count is approximately
#
#     I  =  |root| x PRODUCT over many-edges (|child| / |bridge parent|)
#
# (per-key densities multiply along paths and cross-product across
# branches; edges whose parent join column is not a declared unique key
# contribute 1 — unknown cardinality, assume no fan-out), and the
# rewrite's own cost is one keyed aggregate + join per table, ~linear in
# the inputs. Fire iff I >= FANOUT_BLOWUP_FACTOR x (sum of table sizes).
# The factor is bracketed by round-10 head-to-head measurements on the
# 100x replica set:
#   * tpcds_wl_2621 (2,000-key bridge between two 5M-row facts):
#     ratio 1250 -> rewrite 9.4x FASTER (13.4B-row naive intermediate);
#   * the same text at sf0.1: ratio 12.5 -> naive wins (the -59 s
#     anchor measurement, plans unchanged at small SF);
#   * tpcds_wl_2601 (1.5M-key customer bridge, densities ~13):
#     ratio 6.7 -> naive 4.7x FASTER (the rewrite's 20M-row keyed aggs
#     dwarf a streaming join that never blows up);
#   * the round-7 kill texts (reason/demographics bridges, sf0.1):
#     ratio ~340 -> rewrite is the difference between 1 s and a blown
#     300 s budget.
# 50 sits between the measured "naive wins" band (<=12.5) and the
# measured "rewrite wins" band (>=340) with margin on both sides.
FANOUT_BLOWUP_FACTOR = 50.0

def sized_rewrite(text: str, schema: str, spark) -> str:
    """Engine-side scale-aware rewrite for a REGISTERED workload text.

    Returns the count-product form when the rewrite fires (>=2 many-edges
    always; single many-edge only when the registered tables' sizes show
    the quadratic-density regime), else the text unchanged. Row counts are
    memoized under the session's catalog token, which names the handles
    behind the registered views, so repeated query calls cost no extra
    jobs and rebuilt data (a new token) is counted afresh. The DuckDB
    oracle always keeps the naive text, so every driver hash-match on a
    fired text is an equivalence proof of the rewrite."""
    from lakehouse_variance_spark.plans.synth_common import catalog_memo

    def size_of(table: str) -> int:
        return catalog_memo(
            spark, ("rows", table), lambda: spark.table(table).count()
        )

    return rewrite_fanout_count(text, schema, size_of) or text


def spark_size_of(spark):
    """Memoized ``size_of`` over a session's registered views — parquet
    row counts are metadata reads, and the memo makes the cost one count
    per distinct table per session, not per text."""
    cache: dict[str, int] = {}

    def size_of(table: str) -> int:
        if table not in cache:
            cache[table] = spark.table(table).count()
        return cache[table]

    return size_of


_IDENT = r'"(\w+)"\s*\.\s*"(\w+)"'
_JOIN_RE = re.compile(
    rf'\bLEFT\s+OUTER\s+JOIN\s+"(\w+)"\s+ON\s+{_IDENT}\s*=\s*{_IDENT}',
    re.IGNORECASE,
)
_REF_RE = re.compile(_IDENT)


def _scan_split(text: str, sep_words: tuple[str, ...]) -> list[str]:
    """Split ``text`` on any of ``sep_words`` (single uppercase-insensitive
    words, e.g. ("AND",)) at paren depth 0 and outside quoted regions."""
    parts: list[str] = []
    depth = 0
    i = 0
    start = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == '"':
            i += 1
            while i < n and text[i] != '"':
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and (ch.isalpha() or ch == "_"):
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            word = text[i:j].upper()
            if word in sep_words and (i == 0 or not (
                text[i - 1].isalnum() or text[i - 1] == "_"
            )):
                parts.append(text[start:i])
                start = j
                i = j
                continue
            i = j
            continue
        i += 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _find_clause(text: str, keyword: str) -> int:
    """Index of top-level ``keyword`` (possibly two words) in ``text``,
    outside quotes/parens; -1 if absent."""
    words = keyword.upper().split()
    depth = 0
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == '"':
            i += 1
            while i < n and text[i] != '"':
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and (ch.isalpha() or ch == "_"):
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            if text[i:j].upper() == words[0] and (
                i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")
            ):
                if len(words) == 1:
                    return i
                rest = text[j:].lstrip()
                if rest.upper().startswith(words[1]) and not (
                    len(rest) > len(words[1])
                    and (rest[len(words[1])].isalnum()
                         or rest[len(words[1])] == "_")
                ):
                    return i
            i = j
            continue
        i += 1
    return -1


# A conjunct is NULL-REJECTING when all-NULL column inputs cannot make it
# TRUE.  Comparisons, IN, NOT LIKE / NOT IN / NOT BETWEEN, != and OR/AND
# combinations of those all yield NULL on NULL inputs (never TRUE);
# `x IS NOT NULL` is FALSE on NULL.  Escapes that CAN be TRUE on NULL
# inputs disqualify: `IS NULL`, NULL-defaulting functions, and — crucially
# — any *bare* NOT that survives after the safe NOT-forms are stripped,
# because `NOT (x IS NOT NULL)` is TRUE on NULL (it IS `x IS NULL`) and
# `NOT <null-yielding>` stays NULL only when the operand does; we cannot
# prove which without a parser, so a leftover NOT always bails.
# String literals are blanked FIRST: their contents are data, not
# operators ('Did not like the model' must not read as a bare NOT, nor
# 'True Value' as a TRUE escape). SQL doubles embedded quotes ('').
_STRING_LIT = re.compile(r"'(?:[^']|'')*'")
_NULL_SAFE_STRIP = re.compile(
    r"\bIS\s+NOT\s+NULL\b|\bNOT\s+(?=LIKE\b|IN\b|BETWEEN\b)",
    re.IGNORECASE,
)
_NULL_ESCAPES = re.compile(
    r"\bIS\s+NULL\b|\bCOALESCE\b|\bIFNULL\b|\bNULLIF\b|\bCASE\b"
    r"|\bDISTINCT\s+FROM\b|\bTRUE\b|\bNOT\b",
    re.IGNORECASE,
)


def _null_rejecting(conjunct: str) -> bool:
    stripped = _NULL_SAFE_STRIP.sub("", _STRING_LIT.sub("''", conjunct))
    return not _NULL_ESCAPES.search(stripped)


_COUNT_ITEM = re.compile(
    r"^(?:CAST\s*\(\s*)?COUNT\s*\(\s*\*\s*\)(?:\s*AS\s+BIGINT\s*\))?"
    r"\s+AS\s+(\w+)$",
    re.IGNORECASE,
)
_COL_ITEM = re.compile(rf"^{_IDENT}$")
_ORDER_ITEM = re.compile(
    rf"^{_IDENT}(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?$",
    re.IGNORECASE,
)


def rewrite_fanout_count(
    sql: str,
    schema: str,
    size_of=None,
) -> str | None:
    """Rewrite a generated COUNT(*) fan-out text to its count-product
    form, or return None when the text is not (provably) in scope.

    The returned SQL uses the same double-quoted-identifier dialect as
    the input (runnable on DuckDB natively and on Spark via
    ``synth_common.sql_quoted_idents``) and produces the exact rows the
    naive text produces — the output column names match the naive
    query's, so order-insensitive value hashes carry over.

    ``size_of`` (optional ``Callable[[str], int]`` mapping table name ->
    row count) switches firing from the static >=2-many-edge rule to the
    measured blow-up estimate (``FANOUT_BLOWUP_FACTOR``): firing stays a
    PERF heuristic — the factored form is exact whenever this module
    emits it, with or without sizes.
    """
    unique = UNIQUE_KEYS.get(schema)
    if unique is None:
        return None
    text = sql.strip().rstrip(";").strip()
    up = text.upper()
    if not up.startswith("SELECT"):
        return None
    # Out-of-scope constructs anywhere in the text.
    for bad in ("WITH", " UNION ", " INTERSECT ", " EXCEPT ", " HAVING ",
                " LIMIT ", "DISTINCT", " RIGHT ", " FULL ", " CROSS ",
                " INNER "):
        if _find_clause(text, bad.strip()) >= 0:
            return None

    i_from = _find_clause(text, "FROM")
    if i_from < 0:
        return None
    select_list = text[len("SELECT"):i_from].strip()
    rest = text[i_from + len("FROM"):].strip()

    i_where = _find_clause(rest, "WHERE")
    i_group = _find_clause(rest, "GROUP")
    i_order = _find_clause(rest, "ORDER")
    ends = sorted(x for x in (i_where, i_group, i_order) if x >= 0)
    i_end = ends[0] if ends else len(rest)
    from_clause = rest[:i_end].strip()
    where_clause = (
        rest[i_where + len("WHERE"):(i_group if i_group >= 0 else
                                     i_order if i_order >= 0 else
                                     len(rest))].strip()
        if i_where >= 0 else ""
    )
    group_clause = (
        rest[i_group:(i_order if i_order >= 0 else len(rest))]
        if i_group >= 0 else ""
    )
    group_clause = re.sub(
        r"(?is)^GROUP\s+BY", "", group_clause
    ).strip() if group_clause else ""
    order_clause = rest[i_order:] if i_order >= 0 else ""
    order_clause = re.sub(
        r"(?is)^ORDER\s+BY", "", order_clause
    ).strip() if order_clause else ""

    m_root = re.match(r'^"(\w+)"\s*', from_clause)
    if not m_root:
        return None
    root = m_root.group(1)
    joins_text = from_clause[m_root.end():].strip()

    # ---- join tree -------------------------------------------------
    parent: dict[str, str] = {}
    join_key: dict[str, tuple[str, str]] = {}  # child -> (parent_col, child_col)
    tables = {root}
    join_order: list[str] = []  # original join sequence: parent-before-child
    pos = 0
    while pos < len(joins_text):
        m = _JOIN_RE.match(joins_text, pos)
        if not m:
            return None
        child, t1, c1, t2, c2 = m.groups()
        if child in tables:
            return None  # repeated table / alias — out of scope
        if t1 in tables and t2 == child:
            par, pc, cc = t1, c1, c2
        elif t2 in tables and t1 == child:
            par, pc, cc = t2, c2, c1
        else:
            return None
        parent[child] = par
        join_key[child] = (pc, cc)
        tables.add(child)
        join_order.append(child)
        pos = m.end()
        while pos < len(joins_text) and joins_text[pos].isspace():
            pos += 1

    if not parent:
        return None

    children: dict[str, list[str]] = {t: [] for t in tables}
    for t in join_order:
        children[parent[t]].append(t)

    def subtree(t: str) -> list[str]:
        out = [t]
        for c in children[t]:
            out.extend(subtree(c))
        return out

    # ---- select list ------------------------------------------------
    # Items in original order: ("count", alias) or ("col", (table, col)).
    items: list[tuple[str, object]] = []
    count_aliases: list[str] = []
    sel_cols: list[tuple[str, str]] = []
    for item in _split_commas(select_list):
        m = _COUNT_ITEM.match(item)
        if m:
            count_aliases.append(m.group(1))
            items.append(("count", m.group(1)))
            continue
        m = _COL_ITEM.match(item)
        if not m or m.group(1) not in tables:
            return None
        sel_cols.append((m.group(1), m.group(2)))
        items.append(("col", (m.group(1), m.group(2))))
    if not count_aliases:
        return None
    bare = [c for _, c in sel_cols]
    out_names = bare + count_aliases
    if len(set(out_names)) != len(out_names):
        return None  # ambiguous output names — out of scope

    # GROUP BY must list exactly the plain select columns.
    group_cols: list[tuple[str, str]] = []
    if group_clause:
        for gitem in _split_commas(group_clause):
            m = _COL_ITEM.match(gitem.strip())
            if not m:
                return None
            group_cols.append((m.group(1), m.group(2)))
    if sorted(group_cols) != sorted(sel_cols):
        return None
    node_gcols: dict[str, list[str]] = {t: [] for t in tables}
    for t, c in group_cols:
        node_gcols[t].append(c)

    # ---- conjunct assignment (per NODE) -------------------------------
    node_conj: dict[str, list[str]] = {t: [] for t in tables}
    if where_clause:
        for conj in _scan_split(where_clause, ("AND",)):
            refs = {t for t, _ in _REF_RE.findall(conj)}
            if len(refs) != 1 or not refs <= tables:
                return None
            node_conj[next(iter(refs))].append(conj)

    # ---- per-edge modes ------------------------------------------------
    # For every parent->child edge, the child SUBTREE must be predicate-
    # free (LEFT mode: a missing key contributes the padded NULL row,
    # factor 1) or contain >=1 null-rejecting conjunct (INNER mode: the
    # padded row cannot pass, and a key whose post-filter count is 0
    # simply has no count-table row, so the inner join drops the parent
    # row — both exactly the naive semantics).  A subtree whose conjuncts
    # are all NULL-keeping may preserve the padded row while filtering
    # real rows; exactness would need pre/post counts — bail.
    mode: dict[str, str] = {}
    for t in join_order:
        conjs = [c for s in subtree(t) for c in node_conj[s]]
        if not conjs:
            mode[t] = "left"
        elif any(_null_rejecting(c) for c in conjs):
            mode[t] = "inner"
        else:
            return None

    # ---- firing heuristic -----------------------------------------------
    # In a TREE, any TWO many-edges multiply (on one root-leaf path their
    # multiplicities compose; in disjoint branches they cross-product per
    # shared-ancestor row), so the naive tuple count grows SUPERLINEARLY
    # with data size — that class is rewritten (same node, q29/q2421, or
    # different nodes, the store_sales->store_returns +
    # reason->catalog_returns shape).  A SINGLE many-edge — even under a
    # fact root — is linear in its inputs (|root| x per-key count) and
    # Spark streams it through codegen without materialization; measured
    # at sf0.1, pre-aggregating those 274 extra texts cost more in keyed-agg
    # constants than the streaming saved, so single-many-edge texts stay
    # naive.
    def many(child: str) -> bool:
        return join_key[child][1] not in unique.get(child, ())

    many_edges = [c for c in join_order if many(c)]
    if size_of is None:
        # Static rule (no sizes): >=2 many-edges only.
        if len(many_edges) < 2:
            return None
    else:
        # Blow-up estimate (see FANOUT_BLOWUP_FACTOR above). Falls back
        # to the static rule if a size lookup fails.
        if not many_edges:
            return None
        try:
            total = float(size_of(root))
            blowup = 1.0
            unknown_density = False
            for c in join_order:
                total += size_of(c)
            for c in many_edges:
                par = parent[c]
                if join_key[c][0] in unique.get(par, ()):
                    blowup *= size_of(c) / max(size_of(par), 1)
                else:
                    # Parent-side join column is not a declared unique
                    # key: per-key density of this edge is unknowable
                    # from table sizes alone. Treating it as 1 would
                    # read as "no fan-out" and silently re-expose the
                    # blown-budget class for undeclared-key shapes
                    # (ADVICE r10): fall back to the static rule below.
                    unknown_density = True
            if unknown_density:
                if len(many_edges) < 2:
                    return None
            else:
                est_intermediate = size_of(root) * blowup
                if est_intermediate < FANOUT_BLOWUP_FACTOR * max(total, 1.0):
                    return None
        except Exception:
            if len(many_edges) < 2:
                return None

    # ---- emit: bottom-up per-node count CTEs ---------------------------
    # ct_<T> holds, per (join key into T, group columns of T's subtree),
    # the number of subtree tuples = SUM over T rows of the product of
    # child factors.  Children-first order = reversed original join order.
    def child_join_sql(t: str) -> tuple[str, str, list[str]]:
        """FROM/JOIN chain, factor product, carried group-col names."""
        frm = f'"{t}"'
        factors = []
        carried = list(node_gcols[t])
        for c in children[t]:
            pc = join_key[c][0]
            jk = "JOIN" if mode[c] == "inner" else "LEFT OUTER JOIN"
            frm += f' {jk} ct_{c} ON "{t}"."{pc}" = ct_{c}."__k"'
            factors.append(
                f'ct_{c}."__f"' if mode[c] == "inner"
                else f'COALESCE(ct_{c}."__f", 1)'
            )
            carried.extend(carried_gcols[c])
        return frm, " * ".join(factors), carried

    carried_gcols: dict[str, list[str]] = {}
    ctes: list[str] = []
    for t in reversed(join_order):
        cc = join_key[t][1]
        frm, product, carried = child_join_sql(t)
        carried_gcols[t] = carried
        own = "".join(f', "{t}"."{g}" AS "{g}"' for g in node_gcols[t])
        inherited = "".join(
            f', ct_{c}."{g}" AS "{g}"'
            for c in children[t] for g in carried_gcols[c]
        )
        agg = (
            f'CAST(SUM({product}) AS BIGINT)' if product else "COUNT(*)"
        )
        where = (
            f" WHERE {' AND '.join(node_conj[t])}" if node_conj[t] else ""
        )
        gb_refs = [f'"{t}"."{cc}"'] + [
            f'"{t}"."{g}"' for g in node_gcols[t]
        ] + [
            f'ct_{c}."{g}"' for c in children[t] for g in carried_gcols[c]
        ]
        ctes.append(
            f'ct_{t} AS (SELECT "{t}"."{cc}" AS "__k"{own}{inherited}, '
            f'{agg} AS "__f" FROM {frm}{where} '
            f'GROUP BY {", ".join(gb_refs)})'
        )

    # ---- root-level final aggregation ----------------------------------
    frm, product, _ = child_join_sql(root)
    root_where = (
        f" WHERE {' AND '.join(node_conj[root])}" if node_conj[root] else ""
    )
    total = f'SUM({product})' if product else "COUNT(*)"
    if not group_cols and product:
        # naive COUNT(*) with no GROUP BY returns one row even on empty
        total = f'COALESCE({total}, 0)'
    agg_sql = f'CAST({total} AS BIGINT)'

    def col_ref(t: str, c: str) -> str:
        if t == root:
            return f'"{root}"."{c}"'
        b = t
        while parent[b] != root:
            b = parent[b]
        return f'ct_{b}."{c}"'

    sel_out = []
    for kind, val in items:
        if kind == "count":
            sel_out.append(f'{agg_sql} AS "{val}"')
        else:
            t, c = val
            sel_out.append(f'{col_ref(t, c)} AS "{c}"')
    final = (
        f'WITH {", ".join(ctes)} SELECT {", ".join(sel_out)} '
        f'FROM {frm}{root_where}'
    )
    if group_cols:
        final += " GROUP BY " + ", ".join(
            col_ref(t, c) for t, c in group_cols
        )
    if order_clause:
        oitems = []
        for oitem in _split_commas(order_clause):
            m = _ORDER_ITEM.match(oitem.strip())
            if not m:
                return None
            t, c = m.group(1), m.group(2)
            if (t, c) not in sel_cols:
                return None
            oitems.append(f'"{c}"{m.group(3) or ""}{m.group(4) or ""}')
        final += " ORDER BY " + ", ".join(oitems)
    return final


def _split_commas(text: str) -> list[str]:
    """Top-level comma split (quote/paren aware)."""
    parts: list[str] = []
    depth = 0
    start = 0
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == '"':
            i += 1
            while i < n and text[i] != '"':
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i])
            start = i + 1
        i += 1
    parts.append(text[start:])
    return [p for p in (s.strip() for s in parts) if p]
