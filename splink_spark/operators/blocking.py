"""O4/O5/O19 — blocking: candidate-pair generation, salting, census.

reference: splink/blocking.py::BlockingRule, block_using_rules_sql,
BlockingRule.exclude_pairs_generated_by_all_preceding_rules_sql;
salting via BlockingRule.salting_partitions;
census: splink/analyse_blocking.py::count_comparisons_from_blocking_rule.

Spark-first design (NOT a port): one blocking-key table, one keyed join.

- Each rule's top-level AND-conjunct equalities ``f(l) = g(r)``
  (``extract_equi_components``) compile to a key: xxhash64 over the
  components, NULL if any component is NULL. Every record becomes one
  row per rule with a non-NULL key — its uid[, source], the columns the
  rules read, ``__rule``, ``__key``, ``__salt`` (a ``generate`` over
  per-rule structs) — and ONE equi-join on ``(__rule, __key,
  __salt)`` yields the candidates of all rules. Block sizes are key
  multiplicities, so the same table sizes every rule's blocks exactly
  (the key/foreign-key join-size view).
- That join keeps a candidate of rule i only if ``(rule_i) AND NOT
  coalesce((rule_j), false)`` for every earlier j — the reference's
  NOT-previous-rules predicate, so a compound/OR prior rule or a NULL
  column cannot scramble precedence. First rule wins, residuals and
  key-hash collisions drop out there, with no global ``distinct()``;
  retained columns are then attached to the kept pairs by uid.
- One rule is joined on its own condition over whole frames, which
  Spark keys on the raw equi components: no hash and no attach, and a
  table bucketed on those columns blocks with no Exchange.
- Rules with NO equi component (a top-level OR included) would be
  cartesian products; they are refused.
- Salting: key-append, on the same join. The left side's rows carry
  ``pmod(xxhash64(uid), N)`` for a rule salted N ways; the right
  side's rows are replicated under salts 0..N-1 in the same generate,
  so each hot block splits into N shuffle keys with no extra join or
  scan. The salt is deterministic, so resume/tests are stable; AQE
  skew-join splitting (spark.sql.adaptive.skewJoin.enabled) remains
  the first line of defence — explicit salting is for the "one block
  = half the table" pathology AQE cannot fix.
- Skew governor: rules with ``broadcast_hot_keys_above`` split the key
  join into a shuffled normal branch and a broadcast hot branch by
  (rule, key) membership, exact because both sides of a candidate
  carry the same (rule, key).
- ``link_only`` emits only cross-source pairs: the join condition
  conjoins ``l.source_dataset <> r.source_dataset``
  (reference: splink/blocking.py::block_using_rules_sql link_only
  semantics).
- Censuses: the governor and ``tune_blocking_rules`` share one,
  ``_key_census``, over the key tables — block sizes are ``(__rule,
  __key)`` multiplicities. O19/O20's ``block_census`` groups raw
  columns (NULL blocks counted), then ``sum(c*(c-1)/2)``: the no-join
  pre-flight size of a rule.
"""

from __future__ import annotations

import dataclasses
import functools
import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from splink_spark.model import BlockingRule

MATCH_KEY_COLUMN = "match_key"
_HOT_KEYS = 1000  # most (rule, key) blocks the skew governor broadcasts


def _ordering_condition(link_mode: bool, uid: str, source_col: str) -> str:
    """Pair-ordering predicate ensuring each unordered pair appears once.

    Dedupe: numeric id ordering. Link/multi-source: ordering on the
    composite (source_dataset, unique_id) string, matching the reference's
    concatenated-id comparison semantics
    (reference: splink/unique_id_concat.py::
    _composite_unique_id_from_nodes_sql; SURVEY.md §7.4).
    """
    if link_mode:
        comp_l = f"concat(l.{source_col}, '-__-', cast(l.{uid} as string))"
        comp_r = f"concat(r.{source_col}, '-__-', cast(r.{uid} as string))"
        return f"{comp_l} < {comp_r}"
    return f"l.{uid} < r.{uid}"


def rule_has_equi_component(rule: str) -> bool:
    """True if the rule has a top-level AND-conjunct equality
    ``f(l) = g(r)`` (``extract_equi_components``). Only such a rule can
    be a keyed join; anything else (a top-level OR included) would be a
    cartesian product and is refused."""
    return bool(extract_equi_components(rule))


def _mask_literals(s: str) -> str:
    """Same-length copy of ``s`` with the CONTENT of single-quoted SQL
    string literals replaced by ``x`` (quotes kept, '' escape
    handled), so structural scans (parens, AND/OR, '=') cannot be
    corrupted by literals like ``':)'`` or ``'a AND b'``. Slice the
    ORIGINAL string at indices found on the mask."""
    out = list(s)
    i, n = 0, len(s)
    in_str = False
    while i < n:
        c = s[i]
        if in_str:
            if c == "'":
                if i + 1 < n and s[i + 1] == "'":  # '' escape
                    out[i] = out[i + 1] = "x"
                    i += 2
                    continue
                in_str = False
            else:
                out[i] = "x"
        elif c == "'":
            in_str = True
        i += 1
    return "".join(out)


def _top_level_conjuncts(rule: str) -> list[str] | None:
    """Split ``rule`` on paren-depth-0 ANDs; None if a depth-0 OR
    exists (the conjunct property the skew governor relies on fails).
    Structure is scanned on the literal-masked copy, so quoted
    strings containing AND/OR/parens are inert."""
    cuts: list[tuple[int, int]] = []
    depth = 0
    for m in re.finditer(r"(?i)\bAND\b|\bOR\b|[()]", _mask_literals(rule)):
        t = m.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            if t.upper() == "OR":
                return None
            cuts.append((m.start(), m.end()))
    parts, prev = [], 0
    for s0, e0 in cuts:
        parts.append(rule[prev:s0])
        prev = e0
    parts.append(rule[prev:])
    return [p.strip() for p in parts]


def _strip_balanced_parens(p: str) -> str:
    while p.startswith("(") and p.endswith(")"):
        inner = p[1:-1]
        depth = 0
        ok = True
        for ch in _mask_literals(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    ok = False
                    break
        if ok and depth == 0:
            p = inner.strip()
        else:
            break
    return p


# A side alias qualifying a column: ``l.`` / ``R.`` / ``\`l\`.``, and
# the (possibly back-ticked) column it qualifies. Spark resolves
# qualifiers case-insensitively and accepts back-ticks, so the parser
# does too.
_SIDE_RE = re.compile(r"(?i)(?<![\w.`])`?([lr])`?\s*\.\s*(`[^`]+`|\w+)")


def _side_columns(expr: str) -> set[tuple[str, str]]:
    """(side, column) for each ``l.col`` / ``r.col`` in ``expr``."""
    return {
        (side.lower(), col.strip("`"))
        for side, col in _SIDE_RE.findall(_mask_literals(expr))
    }


def _sides(expr: str) -> set[str]:
    """The side aliases (``l``/``r``) that qualify columns in ``expr``."""
    return {side for side, _ in _side_columns(expr)}


def extract_equi_components(rule: str) -> list[tuple[str, str]]:
    """Top-level AND-conjunct equalities ``f(l) = g(r)`` of ``rule``,
    returned as (left-expression, right-expression) strings.

    Every pair matched by the rule satisfies ALL of these, so hot-key
    membership computed from them is identical on both sides of the
    join — the property that makes the skew governor's hot/normal
    split exact. Returns [] when the rule has a top-level OR (the
    conjunct property then fails) or no such equality exists.
    """
    parts = _top_level_conjuncts(rule)
    if parts is None:
        return []
    out: list[tuple[str, str]] = []
    for p in parts:
        p = _strip_balanced_parens(p)
        depth = 0
        eq_pos: list[int] = []
        for idx, ch in enumerate(_mask_literals(p)):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "=" and depth == 0:
                if idx and p[idx - 1] in "<>!=":
                    continue
                if idx + 1 < len(p) and p[idx + 1] == "=":
                    continue
                eq_pos.append(idx)
        if len(eq_pos) != 1:
            continue
        a, b = p[: eq_pos[0]].strip(), p[eq_pos[0] + 1 :].strip()
        ra, rb = _sides(a), _sides(b)
        if ra == {"l"} and rb == {"r"}:
            out.append((a, b))
        elif ra == {"r"} and rb == {"l"}:
            out.append((b, a))
    return out


def _comparison_type(spark, left: DataType, right: DataType) -> str:
    """The type Spark casts both operands of ``left = right`` to."""
    probe = spark.range(1).select(
        F.expr(
            f"cast(null as {left.simpleString()}) = "
            f"cast(null as {right.simpleString()})"
        )
    )
    eq = probe._jdf.queryExecution().analyzed().expressions().head().child()
    return eq.left().dataType().catalogString()


def _rule_keys(
    df: DataFrame,
    right: DataFrame,
    rules: list[BlockingRule],
) -> list[tuple[str, str]]:
    """Per rule, the (left, right) SQL of its blocking key: xxhash64 over
    the rule's equi components, NULL when any component is NULL (an
    equality over NULL never holds). Components whose two sides differ
    in type are cast to the type Spark compares them in, so equal
    values hash equally. A rule without equi components is refused."""
    comps = []
    for br in rules:
        equi = extract_equi_components(br.rule)
        if not equi:
            raise ValueError(
                f"blocking rule {br.rule!r} has no top-level AND-conjunct "
                "equi component f(l) = g(r); it would plan as a cartesian "
                "join"
            )
        comps.append(equi)
    flat = [c for equi in comps for c in equi]
    types = iter(
        zip(
            df.alias("l").select(*[F.expr(a) for a, _ in flat]).schema,
            right.alias("r").select(*[F.expr(b) for _, b in flat]).schema,
        )
    )

    def key(parts: list[str]) -> str:
        not_null = " AND ".join(f"{p} IS NOT NULL" for p in parts)
        return f"CASE WHEN {not_null} THEN xxhash64({', '.join(parts)}) END"

    out = []
    for equi in comps:
        ls, rs = [], []
        for a, b in equi:
            tl, tr = (f.dataType for f in next(types))
            if tl.simpleString() != tr.simpleString():
                t = _comparison_type(df.sparkSession, tl, tr)
                a, b = f"CAST(({a}) AS {t})", f"CAST(({b}) AS {t})"
            ls.append(f"({a})")
            rs.append(f"({b})")
        out.append((key(ls), key(rs)))
    return out


def _key_table(
    frame: DataFrame, alias: str, cols: list[str], entries: list[tuple]
) -> DataFrame:
    """One row per (record, rule[, salt]): ``cols`` + ``__rule``,
    ``__key``, ``__salt``, from (rule id, key SQL, salt SQL) ``entries``
    over ``frame`` under ``alias``. A NULL key never joins. A single
    entry is a projection, not a generate, so a bucketed frame keeps
    its layout."""
    if len(entries) == 1:
        ((i, key, salt),) = entries
        gen = [
            F.lit(i).alias("__rule"),
            F.expr(key).alias("__key"),
            F.expr(f"CAST({salt} AS INT)").alias("__salt"),
        ]
    else:
        structs = ", ".join(
            f"struct({i} AS __rule, {key} AS __key, CAST({salt} AS INT) AS __salt)"
            for i, key, salt in entries
        )
        gen = [F.inline(F.expr(f"array({structs})"))]
    return frame.alias(alias).select(*[F.col(f"{alias}.{c}") for c in cols], *gen)


def _key_census(lkt: DataFrame, rkt: DataFrame, two_table: bool) -> DataFrame:
    """Block census over the key tables: ``(__rule, __key, n, n_b)`` per
    non-NULL key. ``n`` is the block size — left rows, plus each right
    record once (its salt-0 replica) for two tables; ``n_b`` counts the
    rows of the side the governor broadcasts, the right one, which in
    dedupe IS the left."""
    keys = lkt.select("__rule", "__key", F.lit(0 if two_table else 1).alias("__b"))
    if two_table:
        keys = keys.unionByName(
            rkt.where("__salt = 0").select("__rule", "__key", F.lit(1).alias("__b"))
        )
    return (
        keys.where("__key IS NOT NULL")
        .groupBy("__rule", "__key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__b").alias("n_b"))
    )


def _hot_split(
    lkt: DataFrame,
    rkt: DataFrame,
    rules: list[BlockingRule],
    two_table: bool,
) -> list[tuple[DataFrame, DataFrame]]:
    """Skew governor (north rule: "broadcast threshold on oversized
    blocks"): split the key join into a NORMAL branch (keys not hot,
    shuffled hash join, still salted) and a HOT branch (blocks larger
    than the rule's ``broadcast_hot_keys_above``) where the right side
    is broadcast, so an oversized block's n² pair work spreads over
    the left side's partitions instead of one shuffle reducer.

    The hot (rule, key) set is collected once, while the plan is built,
    and split on by one SQL ``__key IN`` list per rule. Any hot set
    splits exactly (both sides of a candidate carry the same key), so
    it keeps only blocks that yield pairs and the ``_HOT_KEYS`` largest:
    the list is planned on every call, and many hot blocks spread over
    reducers anyway. With no hot key the join is the ungoverned one."""
    thr = {
        i: br.broadcast_hot_keys_above
        for i, br in enumerate(rules)
        if br.broadcast_hot_keys_above > 0
    }
    limit = "CASE __rule " + " ".join(
        f"WHEN {i} THEN {t}" for i, t in thr.items()
    ) + " END"
    census = _key_census(lkt, rkt, two_table).where(
        F.col("__rule").isin(list(thr)) & (F.col("n") > F.expr(limit))
    )
    if two_table:
        census = census.where("n_b > 0 AND n > n_b")
    hot_keys: dict[int, list[str]] = {}
    for r in census.orderBy(F.desc("n")).limit(_HOT_KEYS).collect():
        hot_keys.setdefault(r["__rule"], []).append(f"{r['__key']}L")
    if not hot_keys:
        return [(lkt, rkt)]
    hot = F.expr(" OR ".join(
        f"(__rule = {i} AND __key IN ({', '.join(ks)}))"
        for i, ks in sorted(hot_keys.items())
    ))
    normal = ~F.coalesce(hot, F.lit(False))
    return [
        (lkt.where(normal), rkt.where(normal)),
        (lkt.where(hot), F.broadcast(rkt.where(hot))),
    ]


def block_using_rules(
    df: DataFrame,
    rules: list[BlockingRule],
    uid: str = "unique_id",
    retain_columns: list[str] | None = None,
    link_mode: bool = False,
    source_col: str = "source_dataset",
    df_right: DataFrame | None = None,
    link_only: bool = False,
    pair_ordering: bool = True,
) -> DataFrame:
    """Candidate pairs under OR-of-rules with match_key provenance.

    Output columns: ``<uid>_l``, ``<uid>_r`` (+ ``<source>_l/_r`` in
    link mode), ``match_key``, plus ``<c>_l``/``<c>_r`` for each
    retained column. Each pair appears once, tagged with the first rule
    it satisfies — exactly the OR of the rules, with no global distinct.

    ``link_only`` additionally excludes within-source pairs
    (reference: splink/blocking.py::block_using_rules_sql).
    ``pair_ordering=False`` drops the unordered-pair dedup predicate —
    correct (and required) when the two sides are distinct tables, e.g.
    base-vs-new incremental linkage, where every (l, r) combination is
    already unique and an ordering predicate over composite ids would
    silently drop pairs.

    A governed rule runs its census job here, when the DataFrame is
    built (``explain()`` pays it too); a governed online request thus
    aggregates the whole base key table each time.

    The join design is in the module docstring. Precondition, as for
    the whole linkage model: the uid (with the source column in link
    mode) is non-NULL and unique on each side.
    """
    if retain_columns is None:
        retain_columns = []
    right = df_right if df_right is not None else df
    keys = _rule_keys(df, right, rules)

    ids = [uid] + ([source_col] if link_mode or link_only else [])
    one = len(rules) == 1

    def carry(side: str) -> list[str]:
        # several rules: ids + every column a rule reads on this side
        if one:
            return ["*"]
        out = {c.lower(): c for c in ids}
        for br in rules:
            for s, c in sorted(_side_columns(br.rule)):
                if s == side:
                    out.setdefault(c.lower(), f"`{c}`")
        return list(out.values())

    lkt = _key_table(df, "l", carry("l"), [
        (
            i,
            lk,
            f"pmod(xxhash64(l.{uid}), {br.salting_partitions})"
            if br.salting_partitions > 1
            else "0",
        )
        for i, (br, (lk, _)) in enumerate(zip(rules, keys))
    ])
    rkt = _key_table(right, "r", carry("r"), [
        (i, rk, s)
        for i, (br, (_, rk)) in enumerate(zip(rules, keys))
        for s in range(max(br.salting_partitions, 1))
    ])

    first_wins = "CASE l.__rule " + " ".join(
        f"WHEN {i} THEN ({br.rule})"
        + "".join(f" AND NOT coalesce(({p.rule}), false)" for p in rules[:i])
        for i, br in enumerate(rules)
    ) + " END"
    if one:
        conds = [f"({rules[0].rule})"]
    else:
        conds = ["l.__rule = r.__rule", "l.__key = r.__key", first_wins]
    if any(br.salting_partitions > 1 for br in rules):
        conds.append("l.__salt = r.__salt")
    if pair_ordering:
        conds.append(_ordering_condition(link_mode, uid, source_col))
    if link_only:
        conds.append(f"l.{source_col} <> r.{source_col}")
    cond = F.expr(" AND ".join(conds))
    if any(br.broadcast_hot_keys_above > 0 for br in rules):
        branches = _hot_split(lkt, rkt, rules, right is not df)
    else:
        branches = [(lkt, rkt)]
    joined = [lb.alias("l").join(rb.alias("r"), cond) for lb, rb in branches]

    def pairs(frame: DataFrame, rule_col: str) -> DataFrame:
        def both(cs: list[str]) -> list:
            return [F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in cs for s in "lr"]

        return frame.select(
            *both([uid] + ([source_col] if link_mode else [])),
            F.col(rule_col).alias(MATCH_KEY_COLUMN),
            *both(retain_columns),
        )

    if one or not retain_columns:
        return functools.reduce(
            DataFrame.unionByName, [pairs(j, "l.__rule") for j in joined]
        )
    # attach the retained columns to the kept pairs by identity
    cands = functools.reduce(DataFrame.unionByName, [
        j.select(
            F.col("l.__rule").alias("__rule"),
            *[F.col(f"{s}.{c}").alias(f"__{s}_{c}") for s in "lr" for c in ids],
        )
        for j in joined
    ])
    att = ids if link_mode else [uid]
    for s, frame in (("l", df), ("r", right)):
        on = " AND ".join(f"__{s}_{c} = {s}.{c}" for c in att)
        cands = cands.join(frame.alias(s), F.expr(on))
    return pairs(cands, "__rule")


def count_comparisons_from_blocking_rule(
    df: DataFrame,
    rule: BlockingRule,
    uid: str = "unique_id",
    link_mode: bool = False,
    source_col: str = "source_dataset",
) -> int:
    """O19 exact count: materialises the join and counts.

    reference: splink/analyse_blocking.py::
    count_comparisons_from_blocking_rule.
    """
    pairs = block_using_rules(
        df, [rule], uid=uid, link_mode=link_mode, source_col=source_col
    )
    return pairs.count()


def block_census(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Block-size census for one equi-key blocking rule: rows per key.

    The scalable O19 estimate: pair count for the rule =
    sum over blocks of c*(c-1)/2 — no join, one aggregation.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("block_size"))
        .withColumn(
            "pairs_in_block",
            (F.col("block_size") * (F.col("block_size") - 1) / 2).cast("long"),
        )
    )


def estimate_comparisons_from_equi_keys(df: DataFrame, key_cols: list[str]) -> int:
    """Aggregation-only estimate of the pair count for an equi rule."""
    row = (
        block_census(df, key_cols)
        .agg(F.sum("pairs_in_block").alias("n"))
        .collect()[0]
    )
    return int(row["n"] or 0)


def estimate_comparisons_for_combos(
    df: DataFrame, combos: list[tuple[str, ...]]
) -> dict[tuple[str, ...], int]:
    """Census-estimate the pair count for MANY equi-key combos in ONE
    shuffle via GROUPING SETS: every combo's block census comes out of
    a single aggregation pass (``grouping_id`` identifies which combo a
    result row belongs to — a data NULL and a rollup NULL are
    distinguished, preserving per-combo census semantics exactly).
    At scale this replaces len(combos) full scans+shuffles with one.
    """
    all_cols = sorted({c for combo in combos for c in combo})
    pos = {c: i for i, c in enumerate(all_cols)}
    n = len(all_cols)
    # grouping_id: bit per grouped column (first listed = MSB), set
    # when the column is aggregated away, i.e. NOT in the combo
    gid_of = {
        combo: sum(
            1 << (n - 1 - pos[c]) for c in all_cols if c not in combo
        )
        for combo in combos
    }
    agg = (
        df.groupingSets([list(c) for c in combos], *[F.col(c) for c in all_cols])
        .agg(
            F.count(F.lit(1)).alias("block_size"),
            F.grouping_id().alias("gid"),
        )
        .withColumn(
            "pairs",
            (F.col("block_size") * (F.col("block_size") - 1) / 2).cast(
                "long"
            ),
        )
        .groupBy("gid")
        .agg(F.sum("pairs").alias("n"))
    )
    by_gid = {r["gid"]: int(r["n"] or 0) for r in agg.collect()}
    # a combo whose every group is empty (empty df) yields no row
    return {combo: by_gid.get(gid, 0) for combo, gid in gid_of.items()}


def find_blocking_rules_below_threshold(
    df: DataFrame,
    candidate_columns: list[str],
    max_comparisons: int = 1_000_000,
    max_combo_size: int = 2,
) -> list[dict]:
    """O20 — blocking-rule discovery: enumerate equality rules over
    column combinations and keep those whose (aggregation-only
    estimated) pair count is below the threshold.

    reference: splink/find_brs_with_comparison_counts_below_threshold.py.
    Uses the census estimate (sum c*(c-1)/2 per block), never a join,
    and censuses ALL combos in one GROUPING SETS pass — one shuffle
    regardless of how many candidate combos are enumerated.
    """
    import itertools

    combos = [
        combo
        for size in range(1, max_combo_size + 1)
        for combo in itertools.combinations(candidate_columns, size)
    ]
    estimates = estimate_comparisons_for_combos(df, combos)
    out = [
        {
            "rule": " AND ".join(f"l.{c} = r.{c}" for c in combo),
            "columns": list(combo),
            "estimated_comparisons": n,
        }
        for combo, n in estimates.items()
        if n <= max_comparisons
    ]
    return sorted(out, key=lambda d: d["estimated_comparisons"])


def cumulative_comparisons_from_blocking_rules(
    df: DataFrame,
    rules: list[BlockingRule],
    uid: str = "unique_id",
    link_mode: bool = False,
    source_col: str = "source_dataset",
    link_only: bool = False,
) -> DataFrame:
    """O19 cumulative rollup: one row per rule with the MARGINAL pair
    count it contributes (pairs not already generated by an earlier
    rule — block_using_rules' match_key provenance is exactly this
    partition) and the running cumulative total.

    reference: splink/analyse_blocking.py::
    cumulative_comparisons_from_blocking_rules_records.

    One blocking pass + one tiny aggregation; the cumulative window
    runs over #rules rows (single partition is fine at that size).
    """
    from pyspark.sql import Window

    pairs = block_using_rules(
        df,
        rules,
        uid=uid,
        link_mode=link_mode,
        source_col=source_col,
        link_only=link_only,
    )
    counts = pairs.groupBy(MATCH_KEY_COLUMN).agg(
        F.count(F.lit(1)).alias("row_count")
    )
    rule_names = df.sparkSession.createDataFrame(
        [(i, br.rule) for i, br in enumerate(rules)],
        f"{MATCH_KEY_COLUMN} int, rule string",
    )
    w = (
        Window.orderBy(MATCH_KEY_COLUMN)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rule_names.join(F.broadcast(counts), MATCH_KEY_COLUMN, "left")
        .withColumn("row_count", F.coalesce("row_count", F.lit(0)))
        .withColumn("cumulative_rows", F.sum("row_count").over(w))
        .select(MATCH_KEY_COLUMN, "rule", "row_count", "cumulative_rows")
    )


def skew_report(
    df: DataFrame, key_cols: list[str], top_n: int = 20
) -> DataFrame:
    """The skew governor's input: largest blocks for an equi key.

    Feeds the decision: salt factor per rule / broadcast path / per-block
    cap (SURVEY.md §4 'skew governor').
    """
    return block_census(df, key_cols).orderBy(F.desc("block_size")).limit(top_n)


def estimate_avg_row_bytes(df: DataFrame, sample_rows: int = 10_000) -> float:
    """Cheap average serialized-row-width estimate for broadcast sizing.

    Measures ``octet_length(to_json(struct(*)))`` over a bounded sample.
    JSON framing overestimates the in-memory Tungsten width modestly —
    the right direction for a broadcast SAFETY bound. One limit + one
    scalar agg; nothing wide reaches the driver.
    """
    row = (
        df.limit(sample_rows)
        .select(
            F.avg(
                F.octet_length(F.to_json(F.struct(*df.columns)))
            ).alias("w")
        )
        .collect()[0]
    )
    return float(row["w"] or 0.0)


def tune_blocking_rules(
    df: DataFrame,
    rules: list[BlockingRule],
    target_block_pairs: int = 5_000_000,
    hot_broadcast_row_limit: int = 2_000_000,
    df_right: DataFrame | None = None,
    hot_broadcast_byte_limit: int = 256 * 1024 * 1024,
    width_sample_rows: int = 10_000,
) -> tuple[list[BlockingRule], list[dict]]:
    """Auto-tune the skew governor: census each rule's equi-key blocks
    and switch on ``broadcast_hot_keys_above`` where a block's pair
    count (c*(c-1)/2) would exceed ``target_block_pairs`` — the largest
    pair workload one shuffle reducer should absorb.

    The threshold in ROWS is floor((1+sqrt(1+8*target))/2), the block
    size whose pair count hits the target. Every rule is censused in
    one aggregation over its key table (``_key_census``, the governor's
    own census, so the tuner counts the hashed, type-cast keys the join
    joins); only per-rule scalar stats reach the driver, so this is
    safe to run on the full corpus at any scale. Rules without
    extractable equi conjuncts (top-level OR) are passed through
    unchanged and flagged in the report.

    Link mode: pass ``df_right`` and the census counts left keys plus
    right keys — the same hot-key definition the governor applies — so
    a hot key concentrated on either side is seen. Asymmetric rules
    (``l.a = r.b``) are censused on their own side's expression.

    Broadcast safety is bounded in BOTH rows and bytes: the governor
    broadcasts the RIGHT side's hot rows with all retained columns, so
    the tuner estimates avg row width (``estimate_avg_row_bytes`` over
    the broadcast side) and falls back to salting (boosting
    ``salting_partitions`` to at least 16) when hot rows exceed
    ``hot_broadcast_row_limit`` OR hot_rows x avg_width exceeds
    ``hot_broadcast_byte_limit``. Wide retained columns (token arrays,
    html) therefore count against the budget — a 2M-row cap alone
    would admit multi-GB broadcasts.

    Returns (tuned rules, per-rule report dicts with max/p99 block
    size, hot-block count, hot-pair fraction, and the broadcast-side
    row/byte estimates at the chosen threshold).
    """
    threshold = int((1 + math.isqrt(1 + 8 * target_block_pairs)) // 2)
    bcast_side = df_right if df_right is not None else df
    avg_row_bytes = estimate_avg_row_bytes(bcast_side, width_sample_rows)
    gov = [i for i, br in enumerate(rules) if extract_equi_components(br.rule)]
    stats: dict[int, dict] = {}
    if gov:
        keys = list(zip(gov, _rule_keys(df, bcast_side, [rules[i] for i in gov])))
        lkt = _key_table(df, "l", [], [(i, k, "0") for i, (k, _) in keys])
        rkt = _key_table(bcast_side, "r", [], [(i, k, "0") for i, (_, k) in keys])
        pairs = F.col("n") * (F.col("n") - 1) / 2
        hot_cond = F.col("n") > threshold

        def hot_sum(c):
            return F.sum(F.when(hot_cond, c).otherwise(F.lit(0)))

        census = _key_census(lkt, rkt, df_right is not None).groupBy("__rule")
        stats = {
            r["__rule"]: r.asDict()
            for r in census.agg(
                F.max("n").alias("max_block"),
                F.expr("percentile_approx(n, 0.99)").alias("p99_block"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum(pairs).alias("total_pairs"),
                hot_sum(F.lit(1)).alias("hot_blocks"),
                hot_sum(pairs).alias("hot_pairs"),
                hot_sum(F.col("n")).alias("hot_rows"),
                hot_sum(F.col("n_b")).alias("hot_bcast_rows"),
            ).collect()
        }
    tuned: list[BlockingRule] = []
    report: list[dict] = []
    for i, br in enumerate(rules):
        if i not in gov:
            tuned.append(br)
            report.append(
                {"rule": br.rule, "governable": False, "reason": "no equi conjuncts"}
            )
            continue
        # a rule whose every key is NULL has no census row
        st = stats.get(i, {})
        hot = int(st.get("hot_blocks") or 0)
        hot_rows = int(st.get("hot_rows") or 0)
        hot_bcast_rows = int(st.get("hot_bcast_rows") or 0)
        hot_bcast_bytes = int(hot_bcast_rows * avg_row_bytes)
        total = float(st.get("total_pairs") or 0.0)
        row = {
            "rule": br.rule,
            "governable": True,
            "threshold_rows": threshold,
            "max_block": int(st.get("max_block") or 0),
            "p99_block": int(st.get("p99_block") or 0),
            "n_blocks": int(st.get("n_blocks") or 0),
            "hot_blocks": hot,
            "hot_rows": hot_rows,
            "hot_bcast_rows": hot_bcast_rows,
            "avg_row_bytes": round(avg_row_bytes, 1),
            "hot_bcast_bytes_est": hot_bcast_bytes,
            "hot_pair_fraction": (
                float(st.get("hot_pairs") or 0.0) / total if total else 0.0
            ),
        }
        if (
            hot > 0
            and hot_bcast_rows <= hot_broadcast_row_limit
            and hot_bcast_bytes <= hot_broadcast_byte_limit
        ):
            tuned.append(
                dataclasses.replace(br, broadcast_hot_keys_above=threshold)
            )
        elif hot > 0:
            row["fallback"] = (
                "salted (hot side too large to broadcast: "
                f"{hot_bcast_rows} rows ~ {hot_bcast_bytes} bytes)"
            )
            tuned.append(
                dataclasses.replace(
                    br,
                    salting_partitions=max(br.salting_partitions, 16),
                    broadcast_hot_keys_above=0,
                )
            )
        else:
            tuned.append(br)
        report.append(row)
    return tuned, report
