"""Physical-plan audits — assert the plans we designed for are the plans
Catalyst actually produces.

Each test pins a scale property claimed in an operator docstring:
broadcast join-backs stay broadcast (no shuffle of the big side),
blocking compiles to equi joins (never a cartesian/nested-loop), parquet
scans prune columns and push filters, the scoring projection stays
JVM-side (whole-stage codegen, zero per-row Python), and pandas-UDF
comparators ride the Arrow batch path (ArrowEvalPython), never the
row-at-a-time one (BatchEvalPython).

These are regression guards: a refactor that silently turns the TF
join-back into a SortMergeJoin or drops a gamma cascade out of codegen
passes every value-level oracle but is wrong at 100 TB. The plan is the
contract.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from splink_spark.functions.comparators import (
    else_level,
    exact_match_level,
    jaro_winkler_level,
    levenshtein_level,
    null_level,
)
from splink_spark.model import BlockingRule, Comparison, Settings
from splink_spark.operators.blocking import block_using_rules
from splink_spark.operators.predict import predict_from_comparison_vectors
from splink_spark.operators.tf import concat_with_tf
from splink_spark.operators.vectors import (
    compute_comparison_vectors,
    comparison_viewer_data,
)

JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
BAD_JOIN_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


def plan_str(df, mode: str = "formatted") -> str:
    """Capture df.explain(mode) output (PySpark prints from Python via
    py4j, so redirecting stdout is sufficient)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _count(haystack: str, needles: tuple[str, ...]) -> int:
    return sum(haystack.count(n) for n in needles)


def join_counts(df) -> tuple[int, int, int]:
    """(equi-join nodes, bad nodes, broadcast joins) from the SIMPLE-mode
    plan — formatted mode prints each node twice (tree + detail), so
    counting there double-counts."""
    p = plan_str(df, mode="simple")
    return (
        _count(p, JOIN_NODES),
        _count(p, BAD_JOIN_NODES),
        p.count("BroadcastHashJoin"),
    )


@pytest.fixture(scope="module")
def settings_native():
    """Scoring settings whose every level is a native Spark expression."""
    return Settings(
        unique_id_column_name="unique_id",
        probability_two_random_records_match=0.01,
        blocking_rules=[BlockingRule("l.lang = r.lang")],
        comparisons=[
            Comparison(
                "lang",
                input_columns=["lang"],
                levels=[
                    null_level("lang"),
                    exact_match_level("lang", m=0.9, u=0.2),
                    else_level(m=0.1, u=0.8),
                ],
            ),
            Comparison(
                "source",
                input_columns=["source"],
                levels=[
                    null_level("source"),
                    exact_match_level("source", m=0.8, u=0.1),
                    levenshtein_level("source", 2, m=0.15, u=0.3),
                    else_level(m=0.05, u=0.6),
                ],
            ),
        ],
    )


def test_parquet_scan_prunes_and_pushes(spark):
    """A 2-column projection with a filter must reach the parquet reader
    as PushedFilters + a ReadSchema that omits the wide text column."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    p = plan_str(df)
    assert "PushedFilters" in p and "EqualTo(lang,en)" in p, p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    assert "text" not in read_schema[0], read_schema[0]
    assert "n_chars" not in read_schema[0], read_schema[0]


def test_tf_joinback_is_broadcast(docs):
    """O3: the TF dictionary must broadcast — the big concat side never
    shuffles for the join-back (tf.py docstring's 100 TB claim)."""
    out = concat_with_tf(docs, ["lang", "source"])
    equi, bad, bcast = join_counts(out)
    p = plan_str(out, mode="simple")
    assert bcast == 2 and equi == 2 and bad == 0, p


def test_blocking_compiles_to_equi_join(spark, docs):
    """O4: an equi blocking rule with the non-equi ordering predicate
    attached must still plan as a hash-partitioned equi join, never a
    nested-loop/cartesian (which would be O(n^2) tasks at scale)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = block_using_rules(docs, [BlockingRule("l.lang = r.lang")])
        equi, bad, _ = join_counts(pairs)
        p = plan_str(pairs, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert bad == 0, p
    assert equi == 1, p


def test_salted_blocking_is_one_equi_join(spark, docs):
    """O5: key-append salting must not multiply join nodes — one rule is
    ONE join whose key simply gains the salt conjunct."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = block_using_rules(
            docs, [BlockingRule("l.lang = r.lang", salting_partitions=4)]
        )
        equi, bad, _ = join_counts(pairs)
        p = plan_str(pairs, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert bad == 0, p
    assert equi == 1, p


@pytest.mark.parametrize("retain, joins", [([], 1), (["n_chars"], 3)])
def test_multi_rule_blocking_is_one_keyed_join(spark, docs, retain, joins):
    """O4 with several rules: ONE (rule, key) join serves every rule and
    applies first-rule-wins itself; only retained columns add the two
    uid joins that attach them to the kept pairs."""
    rules = [BlockingRule("l.lang = r.lang"), BlockingRule("l.source = r.source")]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = block_using_rules(docs, rules, retain_columns=retain)
        equi, bad, _ = join_counts(pairs)
        p = plan_str(pairs, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert bad == 0, p
    assert equi == joins, p


def test_governed_blocking_broadcasts_hot_branch(spark, docs):
    """O5b: with a hot-key threshold the plan splits — the hot branch is
    a broadcast join, the normal branch the lone shuffled one, and no
    branch degrades to a nested loop. The hot set is collected before
    the join is planned, so the returned plan holds no census
    aggregation and no semi/anti membership join."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = block_using_rules(
            docs,
            [BlockingRule("l.lang = r.lang", broadcast_hot_keys_above=50)],
        )
        _, bad, bcast = join_counts(pairs)
        p = plan_str(pairs, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert bad == 0, p
    assert bcast == 1, p
    assert _count(p, ("SortMergeJoin", "ShuffledHashJoin")) == 1, p
    assert _count(p, ("HashAggregate", "LeftSemi", "LeftAnti")) == 0, p


def test_governed_blocking_without_hot_keys_plans_as_ungoverned(spark, docs):
    """O5b: a threshold above every block (sf0.001 ``lang`` blocks hold
    71-193 rows) leaves no hot key, and the governed call plans exactly
    like the ungoverned one."""
    import re

    def plan(rule):
        p = plan_str(block_using_rules(docs, [rule]))
        return re.sub(r"(#|plan_id=)\d+", r"\1", p)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        governed = plan(
            BlockingRule("l.lang = r.lang", broadcast_hot_keys_above=1000)
        )
        plain = plan(BlockingRule("l.lang = r.lang"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert governed == plain, governed


@pytest.mark.parametrize(
    "rules", [["l.lang = r.lang"], ["l.lang = r.lang", "l.source = r.source"]]
)
def test_online_matching_broadcasts_new_records(
    spark, docs, settings_native, rules
):
    """O17: find_matches_to_new_records broadcasts the new-records side
    into the candidate join — keyed on the rule's columns for one rule,
    on (rule, key) for several — so the base is never shuffled for it,
    and no branch degrades to a nested loop. Automatic broadcasts are
    off, so the broadcast comes from the method's own hint."""
    import dataclasses

    from splink_spark.plans.linker import Linker

    settings = dataclasses.replace(
        settings_native, blocking_rules=[BlockingRule(r) for r in rules]
    )
    linker = Linker(docs, settings)
    new = docs.limit(3)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_str(linker.find_matches_to_new_records(new), mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert _count(p, BAD_JOIN_NODES) == 0, p
    key = "__key" if len(rules) > 1 else "[lang#"
    candidate_joins = [
        ln for ln in p.splitlines() if "Join" in ln and key in ln
    ]
    assert candidate_joins, p
    assert all(
        "BroadcastHashJoin" in ln and "BuildRight" in ln
        for ln in candidate_joins
    ), p


def test_native_scoring_is_codegen_no_python(spark, docs, settings_native):
    """O6+O7 on native levels: the gamma cascades and Bayes-factor
    projection must stay inside whole-stage codegen with ZERO Python
    evaluation nodes (north rule: 'zero per-row Python').

    AQE is disabled for the assertion only because an unexecuted
    AdaptiveSparkPlan hides codegen ids; the operators themselves run
    with AQE on everywhere else."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pairs = block_using_rules(
            docs,
            settings_native.blocking_rules,
            retain_columns=["lang", "source"],
        )
        vectors = compute_comparison_vectors(pairs, settings_native)
        scored = predict_from_comparison_vectors(vectors, settings_native)
        p = plan_str(scored)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    # formatted mode tags codegen'd nodes with [codegen id : N]
    assert "[codegen id :" in p, p
    # the whole scoring projection (gamma CASE cascades + Bayes factors)
    # must be expression-level: visible as CASE WHEN in the plan
    assert "CASE WHEN" in p, p


def test_pandas_udf_scoring_is_arrow_not_rowwise(spark, docs):
    """A comparator Spark lacks natively (Jaro-Winkler) must ride the
    Arrow batch path (ArrowEvalPython), never row-at-a-time
    BatchEvalPython."""
    from splink_spark.functions.udfs import register_udfs

    register_udfs(spark)
    settings = Settings(
        unique_id_column_name="unique_id",
        probability_two_random_records_match=0.01,
        blocking_rules=[BlockingRule("l.lang = r.lang")],
        comparisons=[
            Comparison(
                "source",
                input_columns=["source"],
                levels=[
                    null_level("source"),
                    jaro_winkler_level("source", 0.9, m=0.8, u=0.1),
                    else_level(m=0.2, u=0.9),
                ],
            )
        ],
    )
    pairs = block_using_rules(
        docs, settings.blocking_rules, retain_columns=["source"]
    )
    scored = predict_from_comparison_vectors(
        compute_comparison_vectors(pairs, settings), settings
    )
    p = plan_str(scored)
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p, p


def test_viewer_aggregates_without_window(docs, settings_native):
    """O23 viewer data: the example-pair decomposition must keep every
    aggregate hash-based (min(struct) would silently fall back to
    SortAggregate) and use no Window (a row_number window would sort the
    hottest gamma pattern on one reducer at scale)."""
    pairs = block_using_rules(
        docs,
        settings_native.blocking_rules,
        retain_columns=["lang", "source"],
    )
    vectors = compute_comparison_vectors(pairs, settings_native)
    viewer = comparison_viewer_data(vectors, settings_native)
    p = plan_str(viewer, mode="simple")
    assert "HashAggregate" in p, p
    assert "SortAggregate" not in p, p
    assert "ObjectHashAggregate" not in p, p
    assert "Window" not in p, p


def test_column_pruning_reaches_scan_through_self_join(spark, docs):
    """Column pruning must survive the blocking self-join: when only
    lang/source are retained for scoring, the parquet scans feeding BOTH
    sides of the join must omit the wide text column. At 100 TB reading
    text into a pair explosion is the difference between a working job
    and an OOM'd one."""
    pairs = block_using_rules(
        docs,
        [BlockingRule("l.lang = r.lang")],
        retain_columns=["lang", "source"],
    )
    p = plan_str(pairs)
    read_schemas = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schemas, p
    for ln in read_schemas:
        assert "text" not in ln, ln


def test_sessionize_one_shuffle_one_sort(spark):
    """Sessionize claims ONE shuffle on the user key with lag and the
    running session sum sharing a single sort (sessions.py docstring).
    Two Window nodes are expected (the sum consumes lag's output) but
    they must reuse the same Exchange and the same Sort."""
    from splink_spark.operators.sessions import sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = sessionize(events)
    p = plan_str(out, mode="simple")
    assert p.count("Exchange") == 1, p
    assert p.count("Sort") == 1, p
    assert p.count("Window") == 2, p


def test_minhash_lsh_joins_are_equi(spark, docs):
    """MinHash LSH candidate generation must plan as per-band equi
    self-joins — never a cartesian/nested-loop — with the NOT-previous-
    band dedup folded into the join predicates."""
    from splink_spark.operators.dedup import minhash_lsh_candidates

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = minhash_lsh_candidates(
            docs, id_col="unique_id", num_bands=4
        )
        equi, bad, _ = join_counts(cands)
        p = plan_str(cands, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert bad == 0, p
    assert equi == 4, p  # one equi join per band


def test_session_stats_is_hash_aggregate(spark):
    """Per-session aggregation must hash-aggregate (all-primitive
    buffers), reusing the sessionize shuffle's partitioning where
    possible — and never sort-aggregate."""
    from splink_spark.operators.sessions import session_stats, sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = session_stats(sessionize(events))
    p = plan_str(out, mode="simple")
    assert "HashAggregate" in p, p
    assert "SortAggregate" not in p, p


def test_pack_shards_windows_are_bucket_parallel(spark, docs):
    """pack_token_shards claims NO single-partition window over the
    data: per-row windows hash-partition on the md5-prefix bucket, and
    the only SinglePartition exchange feeds the 16^k-row totals frame
    (curation.py docstring)."""
    from splink_spark.operators.curation import pack_token_shards

    out = pack_token_shards(docs, budget_tokens=2000, id_col="unique_id")
    p = plan_str(out, mode="simple")
    assert "hashpartitioning(__bucket" in p, p
    # exactly one global exchange — the tiny totals prefix-sum, never
    # the data path
    assert p.count("Exchange SinglePartition") == 1, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_bloom_probe_join_is_broadcast(spark, docs):
    """bloom_incremental_new claims the position set broadcasts (it is
    bounded by 16^prefix_hex rows regardless of base size) — the probe
    join must be a BroadcastHashJoin, never a shuffled join."""
    from splink_spark.operators.curation import bloom_incremental_new

    out = bloom_incremental_new(
        docs.limit(200), docs, id_col="unique_id"
    )
    equi, bad, broadcast = join_counts(out)
    p = plan_str(out, mode="simple")
    assert bad == 0, p
    assert broadcast >= 1, p
    assert "SortMergeJoin" not in p, p


def test_stratified_prefilter_census_joins_are_broadcast(spark, docs):
    """stratified_sample's scale path: census and shortfall frames are
    tiny (one row per stratum) and must broadcast back; the top-N
    window partitions on the stratum key."""
    from splink_spark.operators.curation import stratified_sample

    out = stratified_sample(
        docs, "lang", 10, id_col="unique_id", prefilter_oversample=8.0
    )
    p = plan_str(out, mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "hashpartitioning(lang" in p, p
    assert "Exchange SinglePartition" not in p, p


def test_redact_pii_is_codegen_no_python(spark, docs):
    """PII redaction is native regexp column work: whole-stage codegen,
    zero Python eval nodes."""
    from splink_spark.operators.textprep import pii_counts, redact_pii

    out = docs.select(
        "unique_id",
        redact_pii("text").alias("red"),
        *pii_counts("text").values(),
    )
    p = plan_str(out, mode="formatted")
    # formatted mode marks codegen stages with a leading '*'
    assert "* Project" in p or "WholeStageCodegen" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_boilerplate_is_hash_aggregate_no_bad_joins(spark, docs):
    """boilerplate_share: explode -> hash aggregate on the shingle key
    (map-side combine collapses hot boilerplate shingles before the
    shuffle) -> equi join-back; never a cartesian."""
    from splink_spark.operators.textprep import boilerplate_share

    out = boilerplate_share(docs, id_col="unique_id", k=8, min_docs=5)
    p = plan_str(out, mode="simple")
    assert "HashAggregate" in p, p
    _, bad, _ = join_counts(out)
    assert bad == 0, p
