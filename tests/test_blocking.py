"""Blocking semantics: pair ordering, cross-rule dedup, salting parity,
census estimates (reference: tests/test_blocking.py analogue)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from splink_spark.model import BlockingRule
from splink_spark.operators.blocking import (
    block_using_rules,
    estimate_comparisons_from_equi_keys,
    count_comparisons_from_blocking_rule,
    rule_has_equi_component,
)


def test_pair_ordering_and_no_self_pairs(docs):
    pairs = block_using_rules(docs, [BlockingRule("l.source = r.source")])
    assert pairs.filter("unique_id_l >= unique_id_r").count() == 0


def test_census_estimate_equals_exact_count(docs):
    rule = BlockingRule("l.source = r.source AND l.lang = r.lang")
    exact = count_comparisons_from_blocking_rule(docs, rule)
    est = estimate_comparisons_from_equi_keys(docs, ["source", "lang"])
    assert exact == est


def test_cross_rule_dedup_no_duplicate_pairs(docs):
    rules = [
        BlockingRule("l.source = r.source"),
        BlockingRule("l.lang = r.lang"),
    ]
    pairs = block_using_rules(docs, rules)
    total = pairs.count()
    distinct = pairs.select("unique_id_l", "unique_id_r").distinct().count()
    assert total == distinct


def test_union_of_rules_matches_or_semantics(docs):
    rules = [
        BlockingRule("l.source = r.source"),
        BlockingRule("l.lang = r.lang"),
    ]
    ours = block_using_rules(docs, rules)
    # oracle: single OR-rule join, distinct pairs
    oracle = (
        docs.alias("l")
        .join(
            docs.alias("r"),
            F.expr(
                "(l.source = r.source OR l.lang = r.lang) "
                "AND l.unique_id < r.unique_id"
            ),
        )
        .select(
            F.col("l.unique_id").alias("unique_id_l"),
            F.col("r.unique_id").alias("unique_id_r"),
        )
        .distinct()
    )
    assert ours.count() == oracle.count()


def test_match_key_provenance(docs):
    rules = [
        BlockingRule("l.source = r.source"),
        BlockingRule("l.lang = r.lang"),
    ]
    pairs = block_using_rules(docs, rules)
    keys = {r["match_key"] for r in pairs.select("match_key").distinct().collect()}
    assert keys == {0, 1}
    # every match_key=1 pair must NOT satisfy rule 0
    mk1 = block_using_rules(docs, rules).filter("match_key = 1")
    joined = (
        mk1.join(
            docs.select(
                F.col("unique_id").alias("unique_id_l"),
                F.col("source").alias("source_l2"),
            ),
            "unique_id_l",
        ).join(
            docs.select(
                F.col("unique_id").alias("unique_id_r"),
                F.col("source").alias("source_r2"),
            ),
            "unique_id_r",
        )
    )
    assert joined.filter("source_l2 = source_r2").count() == 0


def test_salted_rule_produces_identical_pairs(docs):
    plain = block_using_rules(docs, [BlockingRule("l.source = r.source")])
    salted = block_using_rules(
        docs, [BlockingRule("l.source = r.source", salting_partitions=4)]
    )
    a = {(r[0], r[1]) for r in plain.select("unique_id_l", "unique_id_r").collect()}
    b = {(r[0], r[1]) for r in salted.select("unique_id_l", "unique_id_r").collect()}
    assert a == b


def test_cartesian_guard():
    assert not rule_has_equi_component("abs(l.x - r.x) < 2")
    assert rule_has_equi_component("l.a = r.a AND abs(l.x - r.x) < 2")
    assert rule_has_equi_component("r.a = l.a")
    # a top-level OR of equalities plans as a cartesian product
    assert not rule_has_equi_component(
        "l.domain = r.domain OR l.title = r.title"
    )
    assert rule_has_equi_component(
        "l.domain = r.domain AND (l.title = r.title OR l.x = r.x)"
    )


def test_retained_columns_suffixed(docs):
    pairs = block_using_rules(
        docs, [BlockingRule("l.source = r.source")], retain_columns=["lang"]
    )
    assert {"lang_l", "lang_r"} <= set(pairs.columns)


def test_cumulative_comparisons_rollup(docs):
    from splink_spark.operators.blocking import (
        cumulative_comparisons_from_blocking_rules,
    )

    rules = [
        BlockingRule("l.source = r.source"),
        BlockingRule("l.lang = r.lang"),
    ]
    out = cumulative_comparisons_from_blocking_rules(docs, rules).collect()
    assert [r["match_key"] for r in out] == [0, 1]
    assert [r["rule"] for r in out] == [rules[0].rule, rules[1].rule]
    # marginal counts sum to the full blocked-pair count, and the
    # cumulative column is the running total
    pairs_total = block_using_rules(docs, rules).count()
    assert out[-1]["cumulative_rows"] == pairs_total
    assert out[0]["cumulative_rows"] == out[0]["row_count"]
    assert (
        out[1]["cumulative_rows"] == out[0]["row_count"] + out[1]["row_count"]
    )
    # rule 2's marginal excludes pairs already generated by rule 1
    rule2_alone = count_comparisons_from_blocking_rule(docs, rules[1])
    assert out[1]["row_count"] < rule2_alone


def test_combo_census_one_pass_matches_per_combo(spark, docs):
    """GROUPING SETS batch census == per-combo census, in one action
    (AQE may split the action into a few jobs, but the count must not
    scale with the number of combos the way the per-combo loop does)."""
    from splink_spark.operators.blocking import (
        estimate_comparisons_for_combos,
        estimate_comparisons_from_equi_keys,
    )

    combos = [
        ("lang",), ("source",), ("n_chars",),
        ("lang", "source"), ("lang", "n_chars"), ("source", "n_chars"),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("combo_census_test", "batched")
    batch = estimate_comparisons_for_combos(docs, list(combos))
    n_jobs = len(
        sc.statusTracker().getJobIdsForGroup("combo_census_test")
    )
    sc.setJobGroup(None, None)
    assert n_jobs < len(combos)
    for combo in combos:
        assert batch[combo] == estimate_comparisons_from_equi_keys(
            docs, list(combo)
        )


def test_combo_census_distinguishes_data_nulls(spark):
    """A NULL in the data is a real block; a rollup NULL is not —
    grouping_id must keep them apart."""
    from splink_spark.operators.blocking import (
        estimate_comparisons_for_combos,
    )

    df = spark.createDataFrame(
        [(1, None, "x"), (2, None, "x"), (3, None, "y"), (4, "a", "y")],
        "unique_id long, k1 string, k2 string",
    )
    est = estimate_comparisons_for_combos(df, [("k1",), ("k2",), ("k1", "k2")])
    # k1: NULL-block of 3 -> 3 pairs; 'a'-block of 1 -> 0
    assert est[("k1",)] == 3
    # k2: x-block 2 -> 1 pair; y-block 2 -> 1 pair
    assert est[("k2",)] == 2
    # (k1,k2): (NULL,x) size 2 -> 1; others singletons
    assert est[("k1", "k2")] == 1


# ---------------------------------------------------------------- skew governor


def test_extract_equi_components_parsing():
    from splink_spark.operators.blocking import extract_equi_components

    assert extract_equi_components("l.a = r.a") == [("l.a", "r.a")]
    # normalised orientation: (left-expr, right-expr)
    assert extract_equi_components("r.a = l.a") == [("l.a", "r.a")]
    assert extract_equi_components(
        "substr(l.name, 1, 2) = substr(r.name, 1, 2) AND l.city = r.city"
    ) == [
        ("substr(l.name, 1, 2)", "substr(r.name, 1, 2)"),
        ("l.city", "r.city"),
    ]
    # top-level OR breaks the conjunct property -> no components
    assert extract_equi_components("l.a = r.a OR l.b = r.b") == []
    # nested OR inside a conjunct is fine; that conjunct is skipped,
    # the clean equality survives
    assert extract_equi_components(
        "l.a = r.a AND (l.b = r.b OR l.c = r.c)"
    ) == [("l.a", "r.a")]
    # non-equality operators are not equi components
    assert extract_equi_components("l.a <> r.a") == []
    assert extract_equi_components("l.a >= r.a") == []
    # same-side equality is not a join key
    assert extract_equi_components("l.a = l.b") == []


def test_governed_join_identical_pairs_skewed(spark):
    """Hot/normal split is exact: governed output == plain output on a
    fixture with one oversized block."""
    rows = [(i, "hot" if i < 60 else f"k{i % 7}", i % 3) for i in range(100)]
    df = spark.createDataFrame(rows, "unique_id long, key string, grp long")
    rule_plain = BlockingRule("l.key = r.key")
    rule_gov = BlockingRule("l.key = r.key", broadcast_hot_keys_above=20)
    a = {
        (r[0], r[1])
        for r in block_using_rules(df, [rule_plain])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    b = {
        (r[0], r[1])
        for r in block_using_rules(df, [rule_gov])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert a == b
    assert len(a) == 60 * 59 // 2 + sum(
        n * (n - 1) // 2
        for n in [6, 6, 6, 6, 6, 5, 5]
    )


def test_governed_join_with_nulls_and_multirule(spark):
    """NULL keys never join and never count as hot; cross-rule dedup
    still applies under the governor."""
    rows = [
        (i, None if i % 4 == 0 else ("hot" if i < 40 else f"k{i % 5}"), i % 2)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "unique_id long, key string, grp long")
    rules_plain = [BlockingRule("l.key = r.key"), BlockingRule("l.grp = r.grp")]
    rules_gov = [
        BlockingRule("l.key = r.key", broadcast_hot_keys_above=10),
        BlockingRule("l.grp = r.grp", broadcast_hot_keys_above=10),
    ]
    a = {
        (r[0], r[1], r[2])
        for r in block_using_rules(df, rules_plain)
        .select("unique_id_l", "unique_id_r", "match_key")
        .collect()
    }
    b = {
        (r[0], r[1], r[2])
        for r in block_using_rules(df, rules_gov)
        .select("unique_id_l", "unique_id_r", "match_key")
        .collect()
    }
    assert a == b


def test_governed_join_composes_with_salting(spark):
    rows = [(i, "hot" if i < 50 else f"k{i % 9}") for i in range(120)]
    df = spark.createDataFrame(rows, "unique_id long, key string")
    plain = block_using_rules(df, [BlockingRule("l.key = r.key")])
    gov = block_using_rules(
        df,
        [
            BlockingRule(
                "l.key = r.key",
                salting_partitions=4,
                broadcast_hot_keys_above=15,
            )
        ],
    )
    a = {(r[0], r[1]) for r in plain.select("unique_id_l", "unique_id_r").collect()}
    b = {(r[0], r[1]) for r in gov.select("unique_id_l", "unique_id_r").collect()}
    assert a == b


def test_governed_join_rejects_or_rule(spark):
    df = spark.createDataFrame([(1, "a", "b")], "unique_id long, x string, y string")
    with pytest.raises(ValueError, match="hot-key split|equi component"):
        block_using_rules(
            df,
            [BlockingRule("l.x = r.x OR l.y = r.y", broadcast_hot_keys_above=5)],
        ).collect()


def test_governed_join_link_mode(spark):
    left = spark.createDataFrame(
        [(i, "hot" if i < 30 else f"k{i}", "ds1") for i in range(50)],
        "unique_id long, key string, source_dataset string",
    )
    right = spark.createDataFrame(
        [(1000 + i, "hot" if i < 25 else f"k{i}", "ds2") for i in range(40)],
        "unique_id long, key string, source_dataset string",
    )
    both = left.unionByName(right)
    kw = dict(link_mode=True, link_only=True)
    a = {
        (r[0], r[1])
        for r in block_using_rules(both, [BlockingRule("l.key = r.key")], **kw)
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    b = {
        (r[0], r[1])
        for r in block_using_rules(
            both,
            [BlockingRule("l.key = r.key", broadcast_hot_keys_above=10)],
            **kw,
        )
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert a == b
    # hot block spans both sources (30x25) + k30..k39 overlap singletons
    assert len(a) == 30 * 25 + 10


def test_tune_blocking_rules(spark):
    from splink_spark.operators.blocking import tune_blocking_rules

    rows = [(i, "hot" if i < 70 else f"k{i % 10}", i % 2) for i in range(130)]
    df = spark.createDataFrame(rows, "unique_id long, key string, grp long")
    rules = [
        BlockingRule("l.key = r.key"),
        BlockingRule("l.grp = r.grp OR l.key = r.key"),  # ungovernable
    ]
    # target 500 pairs -> threshold rows = floor((1+sqrt(4001))/2) = 32
    tuned, report = tune_blocking_rules(df, rules, target_block_pairs=500)
    assert tuned[0].broadcast_hot_keys_above == 32
    assert report[0]["governable"] and report[0]["hot_blocks"] == 1
    assert report[0]["max_block"] == 70
    assert 0 < report[0]["hot_pair_fraction"] < 1
    # ungovernable rule passes through untouched
    assert tuned[1].broadcast_hot_keys_above == 0
    assert report[1] == {
        "rule": rules[1].rule,
        "governable": False,
        "reason": "no equi conjuncts",
    }
    # no hot blocks at a huge target -> rule unchanged
    tuned2, report2 = tune_blocking_rules(
        df, [rules[0]], target_block_pairs=10_000_000
    )
    assert tuned2[0].broadcast_hot_keys_above == 0
    assert report2[0]["hot_blocks"] == 0
    # tuned rule produces identical pairs
    a = {
        (r[0], r[1])
        for r in block_using_rules(df, [rules[0]])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    b = {
        (r[0], r[1])
        for r in block_using_rules(df, [tuned[0]])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert a == b


def test_tune_blocking_rules_broadcast_safety_fallback(spark):
    from splink_spark.operators.blocking import tune_blocking_rules

    rows = [(i, "hot" if i < 70 else f"k{i % 10}", i % 2) for i in range(130)]
    df = spark.createDataFrame(rows, "unique_id long, key string, grp long")
    rule = BlockingRule("l.key = r.key")
    # hot block = 70 rows > 50-row broadcast cap -> salt, don't broadcast
    tuned, report = tune_blocking_rules(
        df, [rule], target_block_pairs=500, hot_broadcast_row_limit=50
    )
    assert tuned[0].broadcast_hot_keys_above == 0
    assert tuned[0].salting_partitions >= 16
    assert report[0]["hot_blocks"] == 1
    assert report[0]["hot_rows"] == 70
    assert report[0]["fallback"].startswith("salted")
    # salted fallback still produces identical pairs
    a = {
        (r[0], r[1])
        for r in block_using_rules(df, [rule])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    b = {
        (r[0], r[1])
        for r in block_using_rules(df, [tuned[0]])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert a == b


def test_governed_join_two_table(spark):
    """df_right path (incremental linkage shape): hot keys are counted
    over BOTH sides and the split stays exact."""
    base = spark.createDataFrame(
        [(i, "hot" if i < 40 else f"b{i % 6}") for i in range(70)],
        "unique_id long, key string",
    )
    new = spark.createDataFrame(
        [(500 + i, "hot" if i < 20 else f"b{i % 6}") for i in range(30)],
        "unique_id long, key string",
    )
    kw = dict(uid="unique_id", pair_ordering=False)
    a = {
        (r[0], r[1])
        for r in block_using_rules(
            base, [BlockingRule("l.key = r.key")], df_right=new, **kw
        )
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    b = {
        (r[0], r[1])
        for r in block_using_rules(
            base,
            [BlockingRule("l.key = r.key", broadcast_hot_keys_above=30)],
            df_right=new,
            **kw,
        )
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert a == b
    # hot: 40x20; each b-key: |base|x|new| per key
    from collections import Counter
    base_c = Counter(f"b{i % 6}" for i in range(40, 70))
    new_c = Counter(f"b{i % 6}" for i in range(20, 30))
    assert len(a) == 40 * 20 + sum(base_c[k] * new_c[k] for k in base_c)


def test_governed_join_two_table_many_hot_keys(spark):
    """Two tables with more hot blocks than the governor broadcasts in
    one call (``_HOT_KEYS``), plus as many base-only blocks above the
    threshold (no pair, so never hot): the split stays exact."""
    from splink_spark.operators.blocking import _HOT_KEYS

    n = _HOT_KEYS + 500
    base = spark.createDataFrame(
        [(i, f"k{i % (2 * n)}") for i in range(6 * n)],
        "unique_id long, key string",
    )
    new = spark.createDataFrame(
        [(10 * n + i, f"k{i}") for i in range(n)], "unique_id long, key string"
    )
    kw = dict(uid="unique_id", pair_ordering=False, df_right=new)

    def pairs(rule):
        out = block_using_rules(base, [rule], **kw).select(
            "unique_id_l", "unique_id_r"
        )
        return sorted(tuple(r) for r in out.collect())

    a = pairs(BlockingRule("l.key = r.key"))
    # every shared block has 3 base + 1 new rows, the base-only ones 3
    b = pairs(BlockingRule("l.key = r.key", broadcast_hot_keys_above=2))
    assert len(a) == 3 * n
    assert a == b


def test_tune_blocking_rules_link_mode_right_side_hot(spark):
    """r4 verdict task 2: a hot key concentrated on the RIGHT frame must
    flip the rule to governed — the tuner censuses the union of sides,
    like _governed_join."""
    from splink_spark.operators.blocking import tune_blocking_rules

    # left frame: all-cold keys (max block 2 rows)
    left = spark.createDataFrame(
        [(i, f"c{i % 60}") for i in range(120)], "unique_id long, key string"
    )
    # right frame: one 80-row hot key invisible to a left-only census
    right = spark.createDataFrame(
        [(900 + i, "hot" if i < 80 else f"c{i % 60}") for i in range(100)],
        "unique_id long, key string",
    )
    rule = BlockingRule("l.key = r.key")
    # threshold at target 500 pairs = 32 rows; hot block is right-only
    tuned, report = tune_blocking_rules(
        left, [rule], target_block_pairs=500, df_right=right
    )
    assert tuned[0].broadcast_hot_keys_above == 32
    assert report[0]["hot_blocks"] == 1
    # broadcast side (right) carries all 80 hot rows
    assert report[0]["hot_bcast_rows"] == 80
    # left-only census would have seen no hot block
    tuned_l, report_l = tune_blocking_rules(
        left, [rule], target_block_pairs=500
    )
    assert report_l[0]["hot_blocks"] == 0

    # governed link-mode output identical to ungoverned
    kw = dict(uid="unique_id", pair_ordering=False)
    a = {
        (r[0], r[1])
        for r in block_using_rules(left, [rule], df_right=right, **kw)
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    b = {
        (r[0], r[1])
        for r in block_using_rules(left, [tuned[0]], df_right=right, **kw)
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert a == b


def test_tune_blocking_rules_byte_budget_fallback(spark):
    """r4 verdict task 2: wide retained rows must fall back to salting
    even when the hot row COUNT is under the row limit — the broadcast
    bound is bytes, not rows."""
    from pyspark.sql import functions as F

    from splink_spark.operators.blocking import (
        estimate_avg_row_bytes,
        tune_blocking_rules,
    )

    rows = [(i, "hot" if i < 70 else f"k{i % 10}") for i in range(130)]
    df = spark.createDataFrame(
        rows, "unique_id long, key string"
    ).withColumn(
        # ~2 KB payload per row (e.g. retained text_tokens / html)
        "payload",
        F.expr("repeat('x', 2048)"),
    )
    w = estimate_avg_row_bytes(df)
    assert w > 2000  # sanity: width estimate sees the payload
    rule = BlockingRule("l.key = r.key")
    # 70 hot rows << 2M row cap, but 70 * ~2KB > 64KB byte budget
    tuned, report = tune_blocking_rules(
        df,
        [rule],
        target_block_pairs=500,
        hot_broadcast_byte_limit=64 * 1024,
    )
    assert tuned[0].broadcast_hot_keys_above == 0
    assert tuned[0].salting_partitions >= 16
    assert report[0]["hot_bcast_bytes_est"] > 64 * 1024
    assert report[0]["fallback"].startswith("salted")
    # with a roomy byte budget the same frame broadcasts
    tuned2, _ = tune_blocking_rules(
        df,
        [rule],
        target_block_pairs=500,
        hot_broadcast_byte_limit=256 * 1024 * 1024,
    )
    assert tuned2[0].broadcast_hot_keys_above == 32


def test_tune_blocking_rules_one_census_for_any_rule_count(spark):
    """The tuner censuses every governable rule in one action: one rule
    and three rules run the same number of Spark jobs (AQE may split
    the action into a few jobs, but the count must not grow with the
    rules), and a rule's report does not depend on its neighbours."""
    from splink_spark.operators.blocking import tune_blocking_rules

    rows = [
        (i, "hot" if i < 70 else f"k{i % 10}", i % 2, f"c{i % 5}")
        for i in range(130)
    ]
    df = spark.createDataFrame(
        rows, "unique_id long, key string, grp long, city string"
    )
    rules = [
        BlockingRule("l.key = r.key"),
        BlockingRule("l.grp = r.grp"),
        BlockingRule("l.city = r.city"),
    ]
    sc = spark.sparkContext

    def run(rs, group):
        sc.setJobGroup(group, "tuner")
        try:
            _, report = tune_blocking_rules(df, rs, target_block_pairs=500)
            return report, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    one, jobs_one = run(rules[:1], "tune_one_rule")
    three, jobs_three = run(rules, "tune_three_rules")
    assert jobs_one == jobs_three
    assert three[0] == one[0]
    assert [r["max_block"] for r in three] == [70, 65, 26]
    # a rule whose every key is NULL has no block and stays as it is
    nulls = df.withColumn("z", F.lit(None).cast("string"))
    rule = BlockingRule("l.z = r.z")
    tuned, (row,) = tune_blocking_rules(nulls, [rule], target_block_pairs=500)
    assert tuned == [rule]
    assert (row["n_blocks"], row["max_block"], row["hot_blocks"]) == (0, 0, 0)


def test_rule_tokenizer_quote_aware():
    """String literals containing AND/OR, parens, or '=' must not
    corrupt conjunct splitting or equi extraction (ADVICE r4)."""
    from splink_spark.operators.blocking import (
        extract_equi_components,
        rule_has_equi_component,
    )

    # ')' inside a literal used to corrupt depth tracking
    r = "l.tag = ':)' AND l.key = r.key"
    assert extract_equi_components(r) == [("l.key", "r.key")]
    assert rule_has_equi_component(r)
    # AND inside a literal must not split the conjunct
    r = "l.note = 'a AND b' AND l.key = r.key"
    assert extract_equi_components(r) == [("l.key", "r.key")]
    # '=' and parens inside a literal must not register as equality
    r = "l.x = 'y=(z' AND l.key = r.key"
    assert extract_equi_components(r) == [("l.key", "r.key")]
    # escaped quote ('') stays inside the literal
    r = "l.x = 'it''s (fine)' AND l.key = r.key"
    assert extract_equi_components(r) == [("l.key", "r.key")]
    # OR inside a literal is not a top-level OR
    r = "l.note = 'a OR b' AND l.key = r.key"
    assert extract_equi_components(r) == [("l.key", "r.key")]
    # a REAL top-level OR still disables extraction
    assert extract_equi_components("l.a = r.a OR l.b = r.b") == []
    # expression equi keys pass the cartesian gate (r5 widening)
    assert rule_has_equi_component(
        "least(l.a, l.b) = least(r.a, r.b) AND "
        "greatest(l.a, l.b) = greatest(r.a, r.b)"
    )


def test_linker_tune_blocking_rules_surface(spark):
    from splink_spark.model import Comparison, ComparisonLevel, Settings
    from splink_spark.plans.linker import Linker

    rows = [
        (i, "hot" if i < 70 else f"k{i % 10}", "en") for i in range(130)
    ]
    df = spark.createDataFrame(
        rows, "unique_id long, key string, lang string"
    )
    settings = Settings(
        comparisons=[
            Comparison(
                "lang",
                input_columns=["lang"],
                levels=[
                    ComparisonLevel(
                        "null",
                        "lang_l IS NULL OR lang_r IS NULL",
                        is_null_level=True,
                    ),
                    ComparisonLevel(
                        "exact",
                        "lang_l = lang_r",
                        m_probability=0.9,
                        u_probability=0.2,
                    ),
                    ComparisonLevel(
                        "else",
                        "TRUE",
                        m_probability=0.1,
                        u_probability=0.8,
                        is_else_level=True,
                    ),
                ],
            )
        ],
        blocking_rules=[BlockingRule("l.key = r.key")],
        probability_two_random_records_match=0.01,
    )
    linker = Linker(df, settings)
    before = {
        (r[0], r[1])
        for r in linker.blocked_pairs()
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    report = linker.tune_blocking_rules(target_block_pairs=500)
    assert settings.blocking_rules[0].broadcast_hot_keys_above == 32
    assert report[0]["governable"] and report[0]["hot_blocks"] == 1
    after = {
        (r[0], r[1])
        for r in linker.blocked_pairs()
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert after == before


def test_block_on_constructor(spark):
    from splink_spark.model import block_on
    from splink_spark.operators.blocking import extract_equi_components

    assert block_on("first_name", "dob").rule == (
        "l.first_name = r.first_name AND l.dob = r.dob"
    )
    br = block_on("substr(email, 1, 3)", "coalesce(city, '')")
    assert br.rule == (
        "substr(l.email, 1, 3) = substr(r.email, 1, 3) "
        "AND coalesce(l.city, '') = coalesce(r.city, '')"
    )
    # produced rules are always governable (equi keys extractable)
    comps = extract_equi_components(br.rule)
    assert len(comps) == 2
    # keywords and string literals survive untouched
    assert block_on("case when x is null then 'a' else x end").rule == (
        "case when l.x is null then 'a' else l.x end = "
        "case when r.x is null then 'a' else r.x end"
    )
    # kwargs pass through
    assert block_on("k", salting_partitions=4).salting_partitions == 4
    # identical pairs vs the hand-written rule
    rows = [(i, f"k{i % 7}", f"u{i % 3}@x.com") for i in range(60)]
    df = spark.createDataFrame(rows, "unique_id long, key string, email string")
    hand = BlockingRule("l.key = r.key AND substr(l.email, 1, 2) = substr(r.email, 1, 2)")
    auto = block_on("key", "substr(email, 1, 2)")
    a = {
        (r[0], r[1])
        for r in block_using_rules(df, [hand])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    b = {
        (r[0], r[1])
        for r in block_using_rules(df, [auto])
        .select("unique_id_l", "unique_id_r")
        .collect()
    }
    assert a == b and a


# ------------------------------------------------ reference equivalence

# Three rules exercising the cases the key table must get exactly right:
# a residual (non-equi) conjunct, an expression key, and an asymmetric
# key whose two sides differ in type (int vs numeric string).
_REF_RULES = [
    "l.a = r.a AND levenshtein(l.b, r.b) <= 1",
    "least(l.a, l.b) = least(r.a, r.b)",
    "l.n = r.s",
]
_REF_SCHEMA = (
    "unique_id long, a string, b string, n int, s string, "
    "source_dataset string"
)


def _ref_rows(seed: int, source: str, n_rows: int = 28) -> list[tuple]:
    import random

    rng = random.Random(seed)
    out = []
    for i in range(n_rows):
        a = rng.choice(["p", "p", "p", "p", "q", "q", "r", None])
        b = rng.choice(["ab", "ac", "bb", "p", "q", None])
        n = rng.choice([1, 2, 3, None])
        s = rng.choice(["1", "01", "2", "3", None])
        out.append((i, a, b, n, s, source))
    return out


def _reference_pairs(left, right, rules, *, ordering, link_only, cols):
    """The definition of OR-of-rules blocking with first-rule-wins
    provenance: a cartesian join, filtered by the first rule that holds
    for the pair, plus the ordering and link_only predicates."""
    case = (
        "CASE "
        + " ".join(
            f"WHEN coalesce(({r.rule}), false) THEN {i}"
            for i, r in enumerate(rules)
        )
        + " END"
    )
    conds = [f"({case}) IS NOT NULL"]
    if ordering:
        conds.append(ordering)
    if link_only:
        conds.append("l.source_dataset <> r.source_dataset")
    # one partition per side: a tiny cross join, not 8 x 8 tasks
    out = (
        left.coalesce(1).alias("l").crossJoin(right.coalesce(1).alias("r"))
    ).where(
        F.expr(" AND ".join(conds))
    )
    return out.select(
        *[
            F.expr(case if c == "match_key" else f"{c[-1]}.{c[:-2]}").alias(c)
            for c in cols
        ]
    )


def _multiset(df, cols):
    from collections import Counter

    return Counter(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("n_rules", [1, 3])
@pytest.mark.parametrize("mode", ["dedupe", "link_only", "two_table"])
@pytest.mark.parametrize("variant", ["plain", "retain", "salted", "governed"])
def test_block_using_rules_equals_reference(spark, mode, variant, n_rules):
    """block_using_rules' exact (uid_l, uid_r, match_key) multiset (plus
    source and retained columns) equals its definition, for every
    blocking mode and every join variant, with one rule (joined on its
    own columns) and with several (one keyed join)."""
    extra = {
        "plain": {},
        "retain": {},
        "salted": {"salting_partitions": 3},
        "governed": {"broadcast_hot_keys_above": 4},
    }[variant]
    rules = [BlockingRule(r, **extra) for r in _REF_RULES[:n_rules]]
    retain = ["b", "n"] if variant in ("retain", "governed") else []
    left_rows = _ref_rows(1, "s1")
    kw: dict = {}
    if mode == "dedupe":
        left = right = spark.createDataFrame(left_rows, _REF_SCHEMA)
        ordering, link_only = "l.unique_id < r.unique_id", False
    elif mode == "link_only":
        # uids repeat across sources: identity is (source, uid)
        left = right = spark.createDataFrame(
            left_rows + _ref_rows(2, "s2"), _REF_SCHEMA
        )
        ordering = (
            "concat(l.source_dataset, '-__-', cast(l.unique_id as string)) "
            "< concat(r.source_dataset, '-__-', cast(r.unique_id as string))"
        )
        link_only = True
        kw = dict(link_mode=True, link_only=True)
    else:
        left = spark.createDataFrame(left_rows, _REF_SCHEMA)
        right = spark.createDataFrame(_ref_rows(3, "__new__", 9), _REF_SCHEMA)
        ordering, link_only = None, False
        kw = dict(link_mode=True, df_right=right, pair_ordering=False)
    cols = ["unique_id_l", "unique_id_r", "match_key"]
    if kw.get("link_mode"):
        cols += ["source_dataset_l", "source_dataset_r"]
    for c in retain:
        cols += [f"{c}_l", f"{c}_r"]
    ours = block_using_rules(left, rules, retain_columns=retain, **kw)
    want = _reference_pairs(
        left, right, rules, ordering=ordering, link_only=link_only, cols=cols
    )
    got, exp = _multiset(ours, cols), _multiset(want, cols)
    assert sum(exp.values()) > 0
    assert {k[2] for k in exp} == set(range(n_rules))
    assert got == exp


@pytest.mark.parametrize("n_rules", [1, 2])
def test_or_rule_is_refused(spark, n_rules):
    """A top-level-OR rule has no equi component, so it would be a
    cartesian product: the guard refuses it, alone and followed by a
    keyed rule."""
    df = spark.createDataFrame(_ref_rows(4, "s1"), _REF_SCHEMA)
    rules = [
        BlockingRule("l.a = r.a OR l.b = r.b"),
        BlockingRule("l.n = r.s"),
    ][:n_rules]
    with pytest.raises(ValueError, match="equi component"):
        block_using_rules(df, rules)


def test_alias_case_and_backticks(spark):
    """Upper-case and back-ticked side aliases parse like plain ones,
    with and without retained columns."""
    from splink_spark.operators.blocking import extract_equi_components

    assert extract_equi_components("L.domain = R.domain") == [
        ("L.domain", "R.domain")
    ]
    assert extract_equi_components("R.domain = l.domain") == [
        ("l.domain", "R.domain")
    ]
    assert extract_equi_components("l.`domain` = r.`domain`") == [
        ("l.`domain`", "r.`domain`")
    ]
    assert extract_equi_components("`l`.domain = `r`.domain") == [
        ("`l`.domain", "`r`.domain")
    ]
    rows = [
        (i, f"d{i % 4}", f"t{i % 5}", "en" if i % 3 else None)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "unique_id long, domain string, title string, lang string"
    )
    plain = [BlockingRule("l.domain = r.domain"), BlockingRule("l.title = r.title")]
    cols = ["unique_id_l", "unique_id_r", "match_key", "lang_l", "lang_r"]
    want = _multiset(block_using_rules(df, plain, retain_columns=["lang"]), cols)
    assert want
    for first in ("L.domain = R.domain", "l.`domain` = r.`domain`"):
        rules = [BlockingRule(first), plain[1]]
        got = block_using_rules(df, rules, retain_columns=["lang"])
        assert _multiset(got, cols) == want
        assert block_using_rules(df, rules).count() == sum(want.values())
