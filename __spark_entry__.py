"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship dedupe on sf0.001; ``queries()`` maps
operator names (SURVEY.md §2) to (spark, sf_dir) callables; ``oracle_sql()``
gives the DuckDB-equivalent SQL. Oracle SQL is generated from the SAME
Settings objects as the Spark plans (gamma_sql / match_weight_sql use the
levels' oracle conditions), so model constants can never drift between the
two sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splink_spark.functions.comparators import (
    else_level,
    exact_match_level,
    null_level,
    percentage_difference_level,
)
from splink_spark.functions.text import (
    doc_fingerprint,
    doc_fingerprint_sql,
    langid_scores,
    minhash_band_sql,
    quality_features,
    token_count,
    token_count_sql,
    word_shingles_sql,
)
from splink_spark.model import BlockingRule, Comparison, ComparisonLevel, Settings
from splink_spark.operators.blocking import block_census, block_using_rules
from splink_spark.operators.cluster import connected_components
from splink_spark.operators.concat import vertically_concatenate
from splink_spark.operators.curation import (
    bloom_incremental_new,
    pack_token_shards,
    stratified_sample,
)
from splink_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    shingle_jaccard_pairs,
    simhash_near_duplicates,
)
from splink_spark.operators.predict import (
    match_weight_breakdown_sql,
    match_weight_sql,
    predict_from_comparison_vectors,
)
from splink_spark.operators.profile import missingness, profile_column_values
from splink_spark.operators.similarity import brute_force_topk, lsh_topk
from splink_spark.operators.accuracy import truth_space_table
from splink_spark.operators.tf import join_term_frequencies, term_frequency_table
from splink_spark.operators.training import (
    estimate_probability_two_random_records_match,
)
from splink_spark.operators.vectors import (
    comparison_vector_sql_projection,
    compute_comparison_vectors,
)

# ---------------------------------------------------------------------------
# shared model over the `documents` table
# ---------------------------------------------------------------------------

DOC_UID = "doc_id"
DOC_COLS = ["lang", "source", "n_chars", "text"]

RULE_1 = BlockingRule(rule="l.source = r.source AND l.lang = r.lang")
RULE_2 = BlockingRule(rule="l.lang = r.lang AND l.n_chars = r.n_chars")


def documents_settings() -> Settings:
    return Settings(
        unique_id_column_name=DOC_UID,
        probability_two_random_records_match=0.01,
        blocking_rules=[RULE_1, RULE_2],
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
                    exact_match_level("source", m=0.85, u=0.05),
                    else_level(m=0.15, u=0.95),
                ],
            ),
            Comparison(
                "n_chars",
                input_columns=["n_chars"],
                levels=[
                    null_level("n_chars"),
                    percentage_difference_level("n_chars", 0.02, m=0.7, u=0.04),
                    else_level(m=0.3, u=0.96),
                ],
            ),
            Comparison(
                "text",
                input_columns=["text"],
                levels=[
                    null_level("text"),
                    ComparisonLevel(
                        label="text prefix lev <= 5",
                        condition=(
                            "levenshtein(substring(text_l, 1, 20), "
                            "substring(text_r, 1, 20), 5) BETWEEN 0 AND 5"
                        ),
                        sql_condition=(
                            "levenshtein(substring(text_l, 1, 20), "
                            "substring(text_r, 1, 20)) <= 5"
                        ),
                        m_probability=0.8,
                        u_probability=0.01,
                    ),
                    else_level(m=0.2, u=0.99),
                ],
            ),
        ],
    )


def tf_documents_settings() -> Settings:
    """documents model with a TF-adjusted exact-match level on `source`
    (SURVEY §7.3(d) drift hotspot — the clamp/greatest(tf_l, tf_r)
    semantics, oracle-exercised via o7_tf_adjusted).

    reference: splink/comparison_level.py::ComparisonLevel
    (_tf_adjustment_sql)."""
    from splink_spark.functions.comparators import exact_match_level as eml

    return Settings(
        unique_id_column_name=DOC_UID,
        probability_two_random_records_match=0.01,
        blocking_rules=[RULE_1],
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
                    eml(
                        "source",
                        m=0.85,
                        u=0.05,
                        tf_adjustment=True,
                        tf_minimum_u_value=0.001,
                    ),
                    else_level(m=0.15, u=0.95),
                ],
            ),
        ],
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _pairs_sql(
    rules: list[BlockingRule], retain: list[str], table: str = "documents"
) -> str:
    """DuckDB pair-table SQL mirroring block_using_rules (ordering,
    match_key, NOT-coalesce previous-rules dedup)."""
    sel_cols = [
        f"l.{DOC_UID} AS {DOC_UID}_l",
        f"r.{DOC_UID} AS {DOC_UID}_r",
    ]
    for c in retain:
        sel_cols.append(f"l.{c} AS {c}_l")
        sel_cols.append(f"r.{c} AS {c}_r")
    parts = []
    for i, br in enumerate(rules):
        conds = [f"({br.oracle_rule})", f"(l.{DOC_UID} < r.{DOC_UID})"]
        for prev in rules[:i]:
            conds.append(f"(NOT coalesce(({prev.oracle_rule}), false))")
        parts.append(
            f"SELECT {', '.join(sel_cols)}, {i} AS match_key "
            f"FROM {table} l JOIN {table} r ON {' AND '.join(conds)}"
        )
    return " UNION ALL ".join(parts)


def _planted_dupes(docs: DataFrame) -> DataFrame:
    """documents plus exact copies of every 10th doc (id + 100000) —
    deterministic planted duplicates for the dedup operators."""
    copies = docs.filter(F.col(DOC_UID) % 10 == 0).withColumn(
        DOC_UID, F.col(DOC_UID) + F.lit(100000)
    )
    return docs.unionByName(copies)


_PLANTED_SQL = (
    f"SELECT * FROM documents UNION ALL "
    f"SELECT {DOC_UID} + 100000 AS {DOC_UID}, text, lang, source, n_chars "
    f"FROM documents WHERE {DOC_UID} % 10 = 0"
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_o1_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    even = docs.filter(F.col(DOC_UID) % 2 == 0)
    odd = docs.filter(F.col(DOC_UID) % 2 == 1)
    out = vertically_concatenate({"even": even, "odd": odd})
    return out.select(DOC_UID, "lang", "source", "n_chars", "source_dataset")


def q_o2_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_frequency_table(_docs(spark, sf_dir), "lang")


def q_o3_concat_with_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tfs = {
        "lang": term_frequency_table(docs, "lang"),
        "source": term_frequency_table(docs, "source"),
    }
    return join_term_frequencies(docs, tfs).select(
        DOC_UID, "lang", "source", "tf_lang", "tf_source"
    )


def q_o4_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return block_using_rules(
        _docs(spark, sf_dir), [RULE_1, RULE_2], uid=DOC_UID
    ).select(f"{DOC_UID}_l", f"{DOC_UID}_r", "match_key")


def q_o5_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    salted = BlockingRule(rule=RULE_1.rule, salting_partitions=4)
    return block_using_rules(
        _docs(spark, sf_dir), [salted], uid=DOC_UID
    ).select(f"{DOC_UID}_l", f"{DOC_UID}_r", "match_key")


def q_o5b_governed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew governor: same pairs as the plain join, but blocks larger
    than the threshold take the broadcast path (hot/normal split —
    north rule's broadcast threshold on oversized blocks). Oracle is
    the ungoverned pair SQL: the split must be invisible in the output.
    """
    governed = BlockingRule(rule=RULE_1.rule, broadcast_hot_keys_above=10)
    return block_using_rules(
        _docs(spark, sf_dir), [governed], uid=DOC_UID
    ).select(f"{DOC_UID}_l", f"{DOC_UID}_r", "match_key")


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    settings = documents_settings()
    pairs = block_using_rules(
        _docs(spark, sf_dir), [RULE_1], uid=DOC_UID, retain_columns=DOC_COLS
    )
    return compute_comparison_vectors(pairs, settings)


def q_o6_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    settings = documents_settings()
    return _vectors(spark, sf_dir).select(
        f"{DOC_UID}_l", f"{DOC_UID}_r", *settings.gamma_columns
    )


def q_o7_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    settings = documents_settings()
    out = predict_from_comparison_vectors(
        _vectors(spark, sf_dir), settings
    )
    return out.select(
        f"{DOC_UID}_l",
        f"{DOC_UID}_r",
        *settings.gamma_columns,
        "match_weight",
        "match_probability",
    )


def q_o7_tf_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 with term-frequency adjustment: exact source matches are
    re-weighted by the rarity of the shared value (u / max(tf, tf_min)),
    with tf joined back from the base TF table (O2/O3)."""
    settings = tf_documents_settings()
    docs = _docs(spark, sf_dir)
    docs_tf = join_term_frequencies(
        docs, {"source": term_frequency_table(docs, "source")}
    )
    pairs = block_using_rules(
        docs_tf,
        [RULE_1],
        uid=DOC_UID,
        retain_columns=["lang", "source", "tf_source"],
    )
    preds = predict_from_comparison_vectors(
        compute_comparison_vectors(pairs, settings), settings
    )
    # log2 at runtime on both engines -> round derived doubles
    return preds.select(
        f"{DOC_UID}_l",
        f"{DOC_UID}_r",
        *settings.gamma_columns,
        F.round("match_weight", 9).alias("match_weight"),
        F.round("match_probability", 9).alias("match_probability"),
    )


def q_link_only_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link_only blocking over two sources: only cross-source pairs,
    composite-id ordering, NOT-coalesce cross-rule dedup."""
    docs = _docs(spark, sf_dir)
    cat = vertically_concatenate(
        {
            "dsa": docs.filter(F.col(DOC_UID) % 2 == 0),
            "dsb": docs.filter(F.col(DOC_UID) % 2 == 1),
        },
        unique_id_column=DOC_UID,
    )
    pairs = block_using_rules(
        cat,
        [RULE_1, RULE_2],
        uid=DOC_UID,
        link_mode=True,
        link_only=True,
    )
    return pairs.select(
        f"{DOC_UID}_l",
        f"{DOC_UID}_r",
        "source_dataset_l",
        "source_dataset_r",
        "match_key",
    )


def q_o8_u_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    settings = documents_settings()
    docs = _docs(spark, sf_dir).filter(F.col(DOC_UID) % 5 == 0)
    pairs = (
        docs.alias("l")
        .join(docs.alias("r"), F.expr(f"l.{DOC_UID} < r.{DOC_UID}"))
        .select(
            F.col(f"l.{DOC_UID}").alias(f"{DOC_UID}_l"),
            F.col(f"r.{DOC_UID}").alias(f"{DOC_UID}_r"),
            *[F.col(f"l.{c}").alias(f"{c}_l") for c in DOC_COLS],
            *[F.col(f"r.{c}").alias(f"{c}_r") for c in DOC_COLS],
        )
    )
    vectors = compute_comparison_vectors(pairs, settings)
    return vectors.groupBy(*settings.gamma_columns).agg(
        F.count(F.lit(1)).alias("pattern_count")
    )


def q_o9_gamma_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    settings = documents_settings()
    return (
        _vectors(spark, sf_dir)
        .groupBy(*settings.gamma_columns)
        .agg(F.count(F.lit(1)).alias("pattern_count"))
    )


def _em_prob_expr(settings: Settings, lam: float) -> str:
    """Shared Spark/DuckDB SQL for the EM E-step posterior
    P(match|gamma) = lam*prod(m) / (lam*prod(m) + (1-lam)*prod(u)),
    gamma = -1 contributing factor 1 on both sides. One string, one
    expression tree, evaluated by both engines so the doubles track
    (reference: splink/expectation_maximisation.py E-step SQL)."""
    m_factors, u_factors = [], []
    for comp in settings.comparisons:
        g = comp.gamma_column
        mp = [f"CASE {g}", "WHEN -1 THEN CAST(1.0 AS DOUBLE)"]
        up = [f"CASE {g}", "WHEN -1 THEN CAST(1.0 AS DOUBLE)"]
        for k, lv in enumerate(comp.scored_levels):
            mp.append(f"WHEN {k} THEN CAST({lv.m_probability!r} AS DOUBLE)")
            up.append(f"WHEN {k} THEN CAST({lv.u_probability!r} AS DOUBLE)")
        mp.append("ELSE CAST(1.0 AS DOUBLE) END")
        up.append("ELSE CAST(1.0 AS DOUBLE) END")
        m_factors.append("(" + " ".join(mp) + ")")
        u_factors.append("(" + " ".join(up) + ")")
    prod_m = " * ".join(m_factors)
    prod_u = " * ".join(u_factors)
    lam_s = f"CAST({lam!r} AS DOUBLE)"
    one_m_lam = f"CAST({1.0 - lam!r} AS DOUBLE)"
    return (
        f"({lam_s} * ({prod_m})) / "
        f"({lam_s} * ({prod_m}) + {one_m_lam} * ({prod_u}))"
    )


def _em_e_step_sql(settings: Settings, lam: float, hist_rel: str) -> str:
    """O10 — one E-step over the gamma histogram ``hist_rel``
    (columns: gamma_*, pattern_count)."""
    gamma_cols = ", ".join(settings.gamma_columns)
    p = _em_prob_expr(settings, lam)
    return (
        f"SELECT {gamma_cols}, pattern_count, "
        f"round({p}, 9) AS p_match FROM {hist_rel}"
    )


def _em_m_step_sql(settings: Settings, lam: float, hist_rel: str) -> str:
    """O11 — one M-step from the E-step posteriors:
    m_new[c,k] = sum(p*cnt)[g_c=k] / sum(p*cnt)[g_c!=-1] (u with 1-p).
    The per-level numerators aggregate first; the denominator is the
    window sum across the comparison's levels."""
    p = _em_prob_expr(settings, lam)
    parts = []
    for comp in settings.comparisons:
        g = comp.gamma_column
        parts.append(
            f"SELECT '{comp.output_column_name}' AS comparison, {g} AS gamma_value, "
            f"sum(p * pattern_count) AS m_num, "
            f"sum((CAST(1.0 AS DOUBLE) - p) * pattern_count) AS u_num "
            f"FROM hp WHERE {g} != -1 GROUP BY {g}"
        )
    inner = " UNION ALL ".join(parts)
    return (
        f"WITH hp AS (SELECT *, {p} AS p FROM {hist_rel}) "
        f"SELECT comparison, gamma_value, "
        f"round(m_num / sum(m_num) OVER (PARTITION BY comparison), 9)"
        f" AS m_new, "
        f"round(u_num / sum(u_num) OVER (PARTITION BY comparison), 9)"
        f" AS u_new FROM ({inner}) t"
    )


def _em_session_sql(
    settings: Settings, lam_init: float, n_iter: int, hist_rel: str
) -> str:
    """O12 — a full multi-iteration EM training session as ONE shared
    SQL string (Spark and DuckDB evaluate the same text over their own
    independently computed gamma histograms).

    Unlike the single-step mirrors (o10/o11) the per-iteration m/u are
    RELATIONS, not literals: ``params{t}`` carries (comparison,
    gamma_value, m, u); the E-step cross-joins the histogram with
    ``params{t}`` pivoted to one row (``pw{t}``) and picks each
    comparison's factor by CASE on its gamma (coalesce(.,1.0) so
    gamma = -1 contributes factor 1); the M-step unpivots the gammas,
    aggregates posterior mass, and window-normalises per comparison
    over the full level grid so unobserved levels keep m = 0 rather
    than vanishing.
    lambda updates as sum(p*cnt)/sum(cnt) each iteration: the grid
    carries a pseudo-comparison ``__lambda`` whose gamma is 0 on every
    row, so its M-step row has m_num = sum(p*cnt) and m_num + u_num =
    sum(cnt), and ``pw{t}`` carries lambda beside the pivoted m/u.

    DuckDB (1.0) inlines every reference to a CTE rather than
    materialising it, so iteration t holds one copy of iteration t-1
    per reference and the copies multiply across iterations (Spark
    keeps a CTE referenced more than once as one relation). Each
    iteration therefore reads the previous one exactly once along the
    chain ``e{t} <- pw{t-1} <- params{t-1} <- mu{t-1} <- e{t-1}``: the
    unpivot reads ``e{t}`` once (a CROSS JOIN with the comparison
    names, the gamma picked by CASE) and lambda comes out of the same
    aggregate, so DuckDB's time grows linearly with the iterations.

    Surface: (iteration, comparison, gamma_value, m_e9, u_e9,
    lambda_e9) — scaled integers only, hash-robust per the oracle
    type-hygiene rule.
    reference: splink/em_training_session.py::EMTrainingSession
    (_train / expectation_maximisation loop)."""
    comps = settings.comparisons

    # static level grid + initial params as inline VALUES relations
    p0_rows, grid_rows = [], []
    for comp in comps:
        for k, lv in enumerate(comp.scored_levels):
            p0_rows.append(
                f"('{comp.output_column_name}', {k}, "
                f"CAST({lv.m_probability!r} AS DOUBLE), "
                f"CAST({lv.u_probability!r} AS DOUBLE))"
            )
            grid_rows.append(f"('{comp.output_column_name}', {k})")
    grid_rows.append("('__lambda', 0)")
    ctes = [
        f"h AS (SELECT * FROM {hist_rel})",
        (
            "grid AS (SELECT * FROM (VALUES "
            + ", ".join(grid_rows)
            + ") AS g(comparison, gamma_value))"
        ),
        (
            "params0 AS (SELECT * FROM (VALUES "
            + ", ".join(p0_rows)
            + ") AS p(comparison, gamma_value, m, u))"
        ),
    ]

    def factor(col: str, i: int, comp) -> str:
        # the level's m or u for this row's gamma; 1.0 for gamma = -1
        whens = " ".join(
            f"WHEN {k} THEN P.{col}{i}_{k}"
            for k in range(len(comp.scored_levels))
        )
        return (
            f"coalesce(CASE h.{comp.gamma_column} {whens} END, "
            f"CAST(1.0 AS DOUBLE))"
        )

    # params{t} pivoted to one row beside lambda, so e{t+1} reads it once
    pivot = ", ".join(
        f"max(CASE WHEN comparison = '{comp.output_column_name}' "
        f"AND gamma_value = {k} THEN {col} END) AS {col}{i}_{k}"
        for i, comp in enumerate(comps)
        for k in range(len(comp.scored_levels))
        for col in ("m", "u")
    )
    ctes.append(
        f"pw0 AS (SELECT {pivot}, CAST({lam_init!r} AS DOUBLE) AS lam "
        f"FROM params0)"
    )
    for t in range(1, n_iter + 1):
        prev = t - 1
        prodm = " * ".join(factor("m", i, c) for i, c in enumerate(comps))
        produ = " * ".join(factor("u", i, c) for i, c in enumerate(comps))
        gamma_cols = ", ".join(f"h.{c.gamma_column}" for c in comps)
        ctes.append(
            f"e{t} AS (SELECT {gamma_cols}, h.pattern_count, "
            f"(P.lam * ({prodm})) / (P.lam * ({prodm}) + "
            f"(CAST(1.0 AS DOUBLE) - P.lam) * ({produ})) AS p "
            f"FROM h CROSS JOIN pw{prev} P)"
        )
        names = ", ".join(f"('{c.output_column_name}')" for c in comps)
        names += ", ('__lambda')"
        pick = " ".join(
            f"WHEN '{c.output_column_name}' THEN e.{c.gamma_column}"
            for c in comps
        ) + " WHEN '__lambda' THEN 0"
        # gamma = -1 rows match no grid level, so the LEFT JOIN drops them
        unpivot = (
            f"SELECT n.comparison, CASE n.comparison "
            f"{pick} END AS gamma_value, e.p, e.pattern_count "
            f"FROM e{t} e CROSS JOIN (VALUES {names}) AS n(comparison)"
        )
        ctes.append(
            f"mu{t} AS (SELECT g.comparison, g.gamma_value, "
            f"coalesce(sum(x.p * CAST(x.pattern_count AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE)) AS m_num, "
            f"coalesce(sum((CAST(1.0 AS DOUBLE) - x.p) * "
            f"CAST(x.pattern_count AS DOUBLE)), CAST(0.0 AS DOUBLE)) "
            f"AS u_num FROM grid g LEFT JOIN ({unpivot}) x "
            f"ON x.comparison = g.comparison "
            f"AND x.gamma_value = g.gamma_value "
            f"GROUP BY g.comparison, g.gamma_value)"
        )
        ctes.append(
            f"params{t} AS (SELECT comparison, gamma_value, "
            f"m_num / sum(m_num) OVER (PARTITION BY comparison) AS m, "
            f"u_num / sum(u_num) OVER (PARTITION BY comparison) AS u, "
            f"CASE WHEN comparison = '__lambda' "
            f"THEN m_num / (m_num + u_num) END AS lam FROM mu{t})"
        )
        ctes.append(
            f"pw{t} AS (SELECT {pivot}, max(lam) AS lam FROM params{t})"
        )

    surface = " UNION ALL ".join(
        f"SELECT {t} AS iteration, p.comparison, p.gamma_value, "
        f"p.m, p.u, L.lam FROM params{t} p CROSS JOIN pw{t} L "
        f"WHERE p.comparison != '__lambda'"
        for t in range(1, n_iter + 1)
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT CAST(iteration AS BIGINT) AS iteration, comparison, "
        "CAST(gamma_value AS BIGINT) AS gamma_value, "
        "CAST(round(m * 1e9) AS BIGINT) AS m_e9, "
        "CAST(round(u * 1e9) AS BIGINT) AS u_e9, "
        "CAST(round(lam * 1e9) AS BIGINT) AS lambda_e9 "
        f"FROM ({surface}) final"
    )


def q_o12_em_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 — three EM iterations (m, u and lambda all training) over
    the documents gamma histogram, per-iteration parameter surface.
    reference: splink/em_training_session.py::EMTrainingSession."""
    settings = documents_settings()
    hist = q_o9_gamma_histogram(spark, sf_dir)
    hist.createOrReplaceTempView("__em_hist")
    return spark.sql(
        _em_session_sql(
            settings,
            settings.probability_two_random_records_match,
            3,
            "__em_hist",
        )
    )


def q_o10_e_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 — EM E-step posteriors per agreement pattern, evaluated by
    the same SQL expression tree the DuckDB oracle runs.
    reference: splink/expectation_maximisation.py::
    compute_new_parameters_sql (E-step CTE)."""
    settings = documents_settings()
    hist = q_o9_gamma_histogram(spark, sf_dir)
    hist.createOrReplaceTempView("__em_hist")
    return spark.sql(
        _em_e_step_sql(
            settings,
            settings.probability_two_random_records_match,
            "__em_hist",
        )
    )


def q_o11_m_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 — one EM M-step (new m/u per comparison level).
    reference: splink/expectation_maximisation.py::
    compute_new_parameters_sql (M-step aggregation)."""
    settings = documents_settings()
    hist = q_o9_gamma_histogram(spark, sf_dir)
    hist.createOrReplaceTempView("__em_hist")
    return spark.sql(
        _em_m_step_sql(
            settings,
            settings.probability_two_random_records_match,
            "__em_hist",
        )
    )


def q_o23_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23 — waterfall chart data: per-pair per-comparison log2-BF
    contributions (the chart's record set; JSON rendering out of
    scope). reference: splink/charts.py::waterfall_chart."""
    from splink_spark.operators.predict import match_weight_breakdown

    settings = documents_settings()
    return match_weight_breakdown(
        _vectors(spark, sf_dir), settings, uid=DOC_UID
    )


def _o22_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        block_using_rules(
            _docs(spark, sf_dir), [RULE_1], uid=DOC_UID,
            retain_columns=["n_chars"],
        )
        .select(
            f"{DOC_UID}_l",
            f"{DOC_UID}_r",
            (F.abs(F.col("n_chars_l") - F.col("n_chars_r")) <= 2).alias(
                "is_match"
            ),
        )
    )


def q_o22_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """False positives + false negatives against labelled pairs.
    reference: splink/accuracy.py::prediction_errors_from_labels_table.
    Hash-robust output: match_weight as scaled BIGINT (NULL when the
    model never scored the labelled pair)."""
    from splink_spark.operators.accuracy import (
        prediction_errors_from_labels,
    )

    settings = documents_settings()
    preds = predict_from_comparison_vectors(_vectors(spark, sf_dir), settings)
    errors = prediction_errors_from_labels(
        preds,
        _o22_labels(spark, sf_dir),
        threshold_match_probability=0.5,
        left=f"{DOC_UID}_l",
        right=f"{DOC_UID}_r",
    )
    return errors.select(
        f"{DOC_UID}_l",
        f"{DOC_UID}_r",
        "is_match",
        "predicted_match",
        F.round(F.col("match_weight") * 1e9).cast("long").alias("mw_e9"),
    )


def q_o24_unlinkables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlinkables chart data: cumulative share of records by best
    match weight. reference: splink/unlinkables.py::unlinkables_data.
    Scaled-integer output discipline (weights x10 at 1dp, proportions
    x1e9; never-paired records' -inf bucket becomes NULL)."""
    from splink_spark.operators.accuracy import unlinkables_data

    settings = documents_settings()
    preds = predict_from_comparison_vectors(_vectors(spark, sf_dir), settings)
    out = unlinkables_data(
        preds, records=_docs(spark, sf_dir), uid=DOC_UID, round_dp=1
    )
    neg_inf = F.lit(float("-inf"))
    return out.select(
        F.when(F.col("match_weight_rounded") == neg_inf, F.lit(None))
        .otherwise(F.round(F.col("match_weight_rounded") * 10))
        .cast("long")
        .alias("mw_x10"),
        F.round(F.col("cum_proportion") * 1e9).cast("long").alias(
            "cum_prop_e9"
        ),
    )


def q_o23_viewer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison-viewer data: gamma-pattern distribution with min/max
    example pairs. reference:
    splink/comparison_vector_distribution.py."""
    from splink_spark.operators.vectors import comparison_viewer_data

    settings = documents_settings()
    return comparison_viewer_data(
        _vectors(spark, sf_dir), settings, uid=DOC_UID
    )


def q_o26_topk_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record top-k candidate cap (skew guardrail, SURVEY §2.3)."""
    from splink_spark.operators.predict import keep_top_k_candidates

    settings = documents_settings()
    preds = predict_from_comparison_vectors(_vectors(spark, sf_dir), settings)
    out = keep_top_k_candidates(preds, k=3, uid=DOC_UID)
    return out.select(
        f"{DOC_UID}_l",
        f"{DOC_UID}_r",
        "candidate_rank",
        F.round(F.col("match_weight") * 1e9).cast("long").alias("mw_e9"),
    )


def q_o14_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    lam = estimate_probability_two_random_records_match(
        docs, [RULE_1], recall=0.8, uid=DOC_UID
    )
    return spark.createDataFrame([(lam,)], "lambda_est: double")


def q_o15_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    edges = block_using_rules(
        docs,
        [
            BlockingRule(
                rule=(
                    "l.source = r.source AND l.lang = r.lang "
                    "AND abs(l.n_chars - r.n_chars) <= 2"
                )
            )
        ],
        uid=DOC_UID,
    )
    comps = connected_components(
        edges, src=f"{DOC_UID}_l", dst=f"{DOC_UID}_r"
    )
    return comps.select(
        F.col("unique_id").alias(DOC_UID), "cluster_id"
    )


def q_o16_cluster_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 — cluster join-back: threshold the o7 predictions at 0.5,
    solve connected components on the surviving edges, and LEFT-join the
    cluster labels back onto the full node table so records absent from
    every retained edge come through as singleton clusters (cluster_id =
    own id), carrying their attributes.
    reference: splink/clustering.py::
    cluster_pairwise_predictions_at_threshold (the join-back CTE
    __splink__clusters_at_threshold)."""
    from splink_spark.operators.cluster import (
        cluster_pairwise_predictions_at_threshold,
    )

    settings = documents_settings()
    docs = _docs(spark, sf_dir)
    preds = predict_from_comparison_vectors(
        _vectors(spark, sf_dir), settings
    )
    out = cluster_pairwise_predictions_at_threshold(
        preds,
        docs,
        0.5,
        uid=DOC_UID,
        src=f"{DOC_UID}_l",
        dst=f"{DOC_UID}_r",
    )
    return out.select(DOC_UID, "lang", "source", "n_chars", "cluster_id")


def q_o15b_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: the o15 blocking graph is
    split into three deterministic edge batches and FOLDED into a
    running (id, cluster) assignment via delta-graph CC
    (incremental_connected_components) — the oracle is the SAME full
    recursive-CTE closure as o15, so the fold must reproduce a
    from-scratch re-run's labels exactly (min-member-id invariant).
    reference: n/a (splink is batch-only; incremental O15 is the
    streaming/trickle-load counterpart)."""
    from splink_spark.operators.cluster import (
        incremental_connected_components,
    )

    docs = _docs(spark, sf_dir)
    edges = block_using_rules(
        docs,
        [
            BlockingRule(
                rule=(
                    "l.source = r.source AND l.lang = r.lang "
                    "AND abs(l.n_chars - r.n_chars) <= 2"
                )
            )
        ],
        uid=DOC_UID,
    ).select(f"{DOC_UID}_l", f"{DOC_UID}_r").localCheckpoint()
    assignments = spark.createDataFrame(
        [], "unique_id long, cluster_id long"
    )
    for k in range(3):
        batch = edges.filter(
            (F.col(f"{DOC_UID}_l") + F.col(f"{DOC_UID}_r")) % 3 == k
        )
        assignments = incremental_connected_components(
            assignments, batch, src=f"{DOC_UID}_l", dst=f"{DOC_UID}_r"
        ).localCheckpoint()
    return assignments.select(
        F.col("unique_id").alias(DOC_UID), "cluster_id"
    )


def q_o25_cluster_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster graph metrics over the o15 component assignment.
    reference: splink/graph_metrics.py::compute_cluster_metrics.
    Scaled-integer ratios (density/centralisation x1e9, NULL where the
    denominator degenerates)."""
    from splink_spark.operators.cluster import cluster_metrics

    docs = _docs(spark, sf_dir)
    edges = block_using_rules(
        docs,
        [
            BlockingRule(
                rule=(
                    "l.source = r.source AND l.lang = r.lang "
                    "AND abs(l.n_chars - r.n_chars) <= 2"
                )
            )
        ],
        uid=DOC_UID,
    )
    comps = connected_components(
        edges, src=f"{DOC_UID}_l", dst=f"{DOC_UID}_r"
    )
    m = cluster_metrics(
        edges, comps, src=f"{DOC_UID}_l", dst=f"{DOC_UID}_r"
    )
    return m.select(
        "cluster_id",
        "n_nodes",
        "n_edges",
        F.round(F.col("density") * 1e9).cast("long").alias("density_e9"),
        F.round(F.col("cluster_centralisation") * 1e9)
        .cast("long")
        .alias("centralisation_e9"),
    )


def q_o17_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New records (planted copies) scored against the base without
    re-blocking it: broadcast join path (O17)."""
    settings = documents_settings()
    docs = _docs(spark, sf_dir)
    new = (
        docs.filter(F.col(DOC_UID) % 10 == 0)
        .withColumn(DOC_UID, F.col(DOC_UID) + F.lit(100000))
    )
    pairs = block_using_rules(
        docs,
        [RULE_1],
        uid=DOC_UID,
        retain_columns=DOC_COLS,
        df_right=F.broadcast(new),
    )
    preds = predict_from_comparison_vectors(
        compute_comparison_vectors(pairs, settings), settings
    )
    return preds.select(
        f"{DOC_UID}_l", f"{DOC_UID}_r", "match_weight"
    )


def q_o18_self_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every record scored against itself (O18): best-possible weight."""
    settings = documents_settings()
    docs = _docs(spark, sf_dir)
    cols = [
        F.col(DOC_UID).alias(f"{DOC_UID}_l"),
        F.col(DOC_UID).alias(f"{DOC_UID}_r"),
    ]
    for c in DOC_COLS:
        cols.append(F.col(c).alias(f"{c}_l"))
        cols.append(F.col(c).alias(f"{c}_r"))
    pairs = docs.select(*cols)
    preds = predict_from_comparison_vectors(
        compute_comparison_vectors(pairs, settings), settings
    )
    return preds.select(f"{DOC_UID}_l", f"{DOC_UID}_r", "match_weight")


def q_o13_m_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-from-labels core (O13): gamma histogram over pairs blocked on
    a label-like column (source stands in for the label)."""
    settings = documents_settings()
    docs = _docs(spark, sf_dir)
    pairs = block_using_rules(
        docs,
        [BlockingRule("l.source = r.source")],
        uid=DOC_UID,
        retain_columns=DOC_COLS,
    )
    vectors = compute_comparison_vectors(pairs, settings)
    return vectors.groupBy(*settings.gamma_columns).agg(
        F.count(F.lit(1)).alias("pattern_count")
    )


def q_o20_rule_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-rule discovery (O20): estimated comparison counts for
    equality rules over column combos, filtered below a threshold."""
    from splink_spark.operators.blocking import (
        find_blocking_rules_below_threshold,
    )

    rules = find_blocking_rules_below_threshold(
        _docs(spark, sf_dir),
        ["lang", "source", "n_chars"],
        max_comparisons=30_000,
        max_combo_size=2,
    )
    return spark.createDataFrame(
        [(r["rule"], r["estimated_comparisons"]) for r in rules],
        "rule: string, estimated_comparisons: long",
    )


def q_o19_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return block_census(_docs(spark, sf_dir), ["source", "lang"])


def q_o19_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19 cumulative rollup: marginal + running pair counts per rule.

    reference: splink/analyse_blocking.py::
    cumulative_comparisons_from_blocking_rules_records."""
    from splink_spark.operators.blocking import (
        cumulative_comparisons_from_blocking_rules,
    )

    out = cumulative_comparisons_from_blocking_rules(
        _docs(spark, sf_dir), [RULE_1, RULE_2], uid=DOC_UID
    )
    return out.select(
        "match_key",
        "rule",
        F.col("row_count").cast("long").alias("row_count"),
        F.col("cumulative_rows").cast("long").alias("cumulative_rows"),
    )


def q_o21_missingness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return missingness(
        _docs(spark, sf_dir), ["doc_id", "text", "lang", "source", "n_chars"]
    )


def q_o21_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_column_values(_docs(spark, sf_dir), "lang", top_k=10)


def q_o22_truth_space(spark: SparkSession, sf_dir: str) -> DataFrame:
    settings = documents_settings()
    preds = predict_from_comparison_vectors(_vectors(spark, sf_dir), settings)
    labels = _o22_labels(spark, sf_dir)
    return truth_space_table(
        preds,
        labels,
        left=f"{DOC_UID}_l",
        right=f"{DOC_UID}_r",
        as_scaled_ints=True,
    )


# -- persons-fixture queries: comparison templates, pairwise-label m -------
# The persons fixture is deterministic (fixtures/persons.py, fixed seed);
# the oracle inlines the IDENTICAL rows as a VALUES table, so both
# engines see byte-equal inputs regardless of sf_dir.

PERSONS_N = 150
PERSONS_SEED = 13
PERSONS_COLS = [
    "unique_id", "first_name", "surname", "dob", "city", "email",
    "postcode", "cluster",
]


def _persons_values_sql() -> str:
    from splink_spark.fixtures.persons import generate_persons

    pdf = generate_persons(n_entities=PERSONS_N, seed=PERSONS_SEED)

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(int(v))

    rows = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")"
        for row in pdf.itertuples(index=False)
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS "
        f"t({', '.join(PERSONS_COLS)})"
    )


def persons_template_settings() -> Settings:
    from splink_spark.functions.templates import (
        date_comparison,
        email_comparison,
        forename_surname_comparison,
        postcode_comparison,
    )

    return Settings(
        unique_id_column_name="unique_id",
        probability_two_random_records_match=0.01,
        blocking_rules=[BlockingRule(rule="l.city = r.city")],
        comparisons=[
            forename_surname_comparison(),
            date_comparison("dob", cast_strings_to_date=True),
            postcode_comparison(),
            email_comparison(),
        ],
    )


_PERSON_PAIR_COLS = ["first_name", "surname", "dob", "postcode", "email"]


def _persons(spark: SparkSession) -> DataFrame:
    from splink_spark.fixtures.persons import persons_dataframe

    return persons_dataframe(
        spark, n_entities=PERSONS_N, seed=PERSONS_SEED
    )


def q_o6_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison template library end-to-end: forename+surname, date,
    postcode, email cascades over city-blocked person pairs."""
    from splink_spark.functions.udfs import register_udfs

    register_udfs(spark)
    settings = persons_template_settings()
    pairs = block_using_rules(
        _persons(spark),
        settings.blocking_rules,
        uid="unique_id",
        retain_columns=_PERSON_PAIR_COLS,
    )
    v = compute_comparison_vectors(pairs, settings)
    return v.select(
        "unique_id_l",
        "unique_id_r",
        *[c.gamma_column for c in settings.comparisons],
    )


def persons_m_settings() -> Settings:
    from splink_spark.functions.comparators import (
        exact_match,
        levenshtein_at_thresholds,
    )

    return Settings(
        unique_id_column_name="unique_id",
        comparisons=[
            levenshtein_at_thresholds("surname", 2),
            exact_match("city"),
        ],
        blocking_rules=[BlockingRule(rule="l.city = r.city")],
    )


def q_o13_m_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m estimated from a labelled pair table (within-cluster pairs of
    the persons fixture), emitted as scaled-integer probabilities.
    reference: splink/m_from_labels.py::estimate_m_from_pairwise_labels."""
    import math

    from splink_spark.functions.udfs import register_udfs
    from splink_spark.operators.training import (
        estimate_m_from_pairwise_labels,
    )

    register_udfs(spark)
    persons = _persons(spark)
    settings = persons_m_settings()
    labels = (
        persons.alias("l")
        .join(
            persons.alias("r"),
            F.expr("l.cluster = r.cluster AND l.unique_id < r.unique_id"),
        )
        .select(
            F.col("l.unique_id").alias("unique_id_l"),
            F.col("r.unique_id").alias("unique_id_r"),
        )
    )
    m = estimate_m_from_pairwise_labels(persons, settings, labels)
    rows = [
        (comp.output_column_name, k, int(math.floor(1e9 * val + 0.5)))
        for comp, arr in zip(settings.comparisons, m)
        for k, val in enumerate(arr)
    ]
    return spark.createDataFrame(
        rows, "comparison string, gamma int, m_e9 long"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_planted_dupes(_docs(spark, sf_dir)))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(
        _planted_dupes(_docs(spark, sf_dir)),
        num_bands=4,
        shingle_k=3,
        jaccard_threshold=0.5,
    ).select(f"{DOC_UID}_l", f"{DOC_UID}_r", "jaccard")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _planted_dupes(_docs(spark, sf_dir))
    cands = block_using_rules(
        docs, [BlockingRule("l.source = r.source AND l.lang = r.lang")],
        uid=DOC_UID,
    ).select(f"{DOC_UID}_l", f"{DOC_UID}_r")
    return shingle_jaccard_pairs(docs, cands).filter(
        F.col("jaccard") >= 0.3
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup recall gate, oracle-checkable: every planted
    exact copy MUST be recovered by the full pipeline (signature ->
    chunk buckets -> hamming verify) with hamming 0. Organic near-dup
    pairs are pytest-verified (the 64-bit signature itself is not
    cleanly ANSI-expressible)."""
    out = simhash_near_duplicates(
        _planted_dupes(_docs(spark, sf_dir)), max_hamming=3
    )
    return out.filter(
        (F.col(f"{DOC_UID}_r") - F.col(f"{DOC_UID}_l") == 100000)
        & (F.col(f"{DOC_UID}_l") % 10 == 0)
    ).select(f"{DOC_UID}_l", f"{DOC_UID}_r", "hamming")


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    out = brute_force_topk(emb, queries_df, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with a driver-checkable quality gate: recall@1 of the
    LSH top-k vs exact brute force over the first 50 query vectors must
    be >= 0.9 (hyperplanes are deterministic from the seed, so the
    recall value is stable). The oracle asserts the gate passed."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    lsh = lsh_topk(emb, dim=64, k=5, n_planes=3, n_tables=10).select(
        "query_id", "vec_id"
    )
    bf1 = brute_force_topk(emb, queries_df, k=1).select(
        "query_id", "vec_id"
    )
    n_q = queries_df.count()
    hits = bf1.join(lsh, ["query_id", "vec_id"], "left_semi").count()
    recall = hits / max(n_q, 1)
    return spark.createDataFrame(
        [(n_q, bool(recall >= 0.9))],
        "n_queries: long, recall_ok: boolean",
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-file, deterministic k-means centroids) with a
    driver-checkable quality gate: recall@1 vs brute force over the
    first 50 queries must be >= 0.8.

    Index sizing follows the standard IVF rule — n_centroids ~ sqrt(n),
    nprobe a fixed fraction of the lists — so the gate holds across
    scale factors (fixed 64/16 passed at sf0.01 but dipped to 0.74 at
    sf0.1's 2000 vectors). The fraction is high (60%) because these
    fixture embeddings are noise-dominated 16-dim vectors — a worst
    case for coarse quantization; clustered real embeddings probe far
    fewer lists for the same recall."""
    import math

    from splink_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    n = emb.count()
    n_centroids = max(16, min(64, int(math.isqrt(n))))
    nprobe = max(8, (3 * n_centroids) // 5)
    queries_df = emb.filter(F.col("vec_id") < 50)
    ivf = ivf_topk(
        emb,
        queries_df,
        k=5,
        n_centroids=n_centroids,
        nprobe=nprobe,
        iters=3,
    ).select("query_id", "vec_id")
    bf1 = brute_force_topk(emb, queries_df, k=1).select(
        "query_id", "vec_id"
    )
    n_q = queries_df.count()
    hits = bf1.join(ivf, ["query_id", "vec_id"], "left_semi").count()
    recall = hits / max(n_q, 1)
    return spark.createDataFrame(
        [(n_q, bool(recall >= 0.8))],
        "n_queries: long, recall_ok: boolean",
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup over the label-bucketed equi-join path.
    Threshold applied to the ROUNDED cosine on both sides (raw-double
    thresholding could flip boundary pairs between engines)."""
    from splink_spark.operators.dedup import embedding_near_duplicates

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pairs = embedding_near_duplicates(
        emb, bucket_col="label", threshold=-2.0
    )
    return pairs.select(
        "vec_id_l",
        "vec_id_r",
        F.round("cosine", 6).alias("cosine"),
    ).filter(F.round(F.col("cosine"), 6) >= 0.3)


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min gap) with
    per-session aggregates + JSON props extraction. Integer-microsecond
    time math and scaled-integer value sums keep the surface
    hash-robust."""
    from splink_spark.operators.sessions import sessionize

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    s = sessionize(ev, gap_minutes=30.0)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.round(F.sum("value") * 100).cast("long").alias("sum_value_e2"),
        F.sum((F.col("event_type") == "click").cast("long")).alias(
            "n_clicks"
        ),
        F.max(
            F.regexp_extract("props", "[0-9]+", 0).cast("int")
        ).alias("max_k"),
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction over the events stream — the SURVEY
    §2.3 string/json-functions row: `get_json_object` (JVM-native
    JsonPath, whole-stage codegen — no Python) pulls the typed `k`
    property out of the props JSON string; DuckDB replays it with its
    own JSON engine (`->>` extraction), so the oracle cross-checks the
    two JSON parsers' semantics. One partial+final hash aggregation.
    reference: n/a (reference stores no JSON; this covers the checklist
    category on the events table)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.sum(F.when(k % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_even"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scores = langid_scores("text")
    return docs.select(
        DOC_UID,
        token_count("text").alias("n_tokens"),
        doc_fingerprint("text").alias("fingerprint"),
        scores["en"],
        scores["es"],
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    feats = quality_features("text")
    return docs.select(
        DOC_UID,
        feats["n_chars"].alias("q_chars"),
        feats["n_tokens"],
        feats["punct_ratio"],
        feats["stopword_ratio"],
    )


_TEMPLATE_SUFFIX = (
    " homepage terms of service privacy policy contact us all rights reserved"
)


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-shingle share per doc over a corpus with a PLANTED
    per-source template suffix (constructed identically in both
    engines): template-internal 8-shingles hit every doc of a source
    (doc_freq 25+) or every doc (cross-source tail), organic text
    stays under the min_docs threshold."""
    from splink_spark.operators.textprep import boilerplate_share

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" visit "),
            F.col("source"),
            F.lit(_TEMPLATE_SUFFIX),
        ),
    )
    return boilerplate_share(docs, id_col=DOC_UID, k=8, min_docs=5)


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over deterministic synthesized PII (email + phone
    + ipv4 built from doc_id, appended identically in both engines):
    per-kind match counts and the md5 of the redacted text. The
    patterns are the RE2-compatible subset, so Spark's java.util.regex
    and DuckDB's RE2 must agree byte for byte."""
    from splink_spark.operators.textprep import pii_counts, redact_pii

    uid_s = F.col(DOC_UID).cast("string")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        uid_s,
        F.lit("@example.com or +1 555 01"),
        uid_s,
        F.lit(" node 10.0."),
        (F.col(DOC_UID) % 256).cast("string"),
        F.lit("."),
        (F.col(DOC_UID) % 100).cast("string"),
    )
    t = _docs(spark, sf_dir).select(
        F.col(DOC_UID), pii_text.alias("pii_text")
    )
    return t.select(
        DOC_UID,
        *pii_counts("pii_text").values(),
        F.md5(redact_pii("pii_text")).alias("redacted_md5"),
    )


def q_webtext_canonical_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically-messy synthesized
    URLs (mixed-case authority, default port, tracking params,
    fragment, trailing slash — all built from doc_id identically in
    both engines). Patterns are shared; only the backreference
    replacement syntax differs per engine ($1 vs \\1)."""
    from splink_spark.functions.text import url_domain
    from splink_spark.operators.webtext import canonical_url

    uid_s = F.col(DOC_UID).cast("string")
    raw = F.concat(
        F.lit("HTTP://SRC"),
        (F.col(DOC_UID) % 5).cast("string"),
        F.lit(".Example.COM:80/Doc/"),
        uid_s,
        F.lit("/?utm_source=x&q="),
        uid_s,
        F.lit("#f"),
        uid_s,
    )
    t = _docs(spark, sf_dir).select(F.col(DOC_UID), raw.alias("url_raw"))
    canon = canonical_url("url_raw")
    return t.select(
        DOC_UID,
        canon.alias("url_canonical"),
        url_domain(canon).alias("bk_domain"),
    )


def q_o21_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source column completeness for a two-source link job
    (reference: splink/missingness.py::completeness_data): union docs
    under source_dataset labels with lang nulled in one source, one
    grouped aggregate + unpivot."""
    from splink_spark.operators.profile import completeness_by_source

    docs = _docs(spark, sf_dir)
    a = docs.withColumn("source_dataset", F.lit("left"))
    b = docs.withColumn(
        "lang",
        F.when(F.col(DOC_UID) % 4 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    ).withColumn("source_dataset", F.lit("right"))
    return completeness_by_source(
        a.unionByName(b), columns=["text", "lang", "source"]
    )


def q_text_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus length profile with EXACT percentiles
    (Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition — verified bit-identical, including the
    float dust in interpolated values)."""
    tc = token_count("text")
    return _docs(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.percentile(tc, F.lit(0.5)).alias("p50_tokens"),
        F.percentile(tc, F.lit(0.9)).alias("p90_tokens"),
        F.avg(F.length("text")).alias("mean_chars"),
    )


def q_text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication (Lee et al. 2022 as
    relational passes): maximal token spans whose every 10-gram appears
    in >= 2 distinct docs, over the planted-copies corpus. The oracle
    replays shingling, the distinct-doc census, and island merging in
    DuckDB."""
    from splink_spark.operators.textprep import repeated_spans

    return repeated_spans(
        _planted_dupes(_docs(spark, sf_dir)).select(DOC_UID, "text"),
        id_col=DOC_UID,
        k=10,
        min_docs=2,
    )


def q_curate_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample — runs the SCALE path
    (census prefilter + shortfall fallback) whose output is contractually
    identical to the plain top-N window the oracle replays."""
    out = stratified_sample(
        _docs(spark, sf_dir),
        "lang",
        30,
        id_col=DOC_UID,
        seed=7,
        prefilter_oversample=8.0,
    )
    return out.select(
        DOC_UID, "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


def q_curate_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus mixing (60/30/10 en/es/fr of a
    100-row recipe); oracle replays the md5-order rank against an
    inline quota table."""
    from splink_spark.operators.curation import weighted_mix

    out = weighted_mix(
        _docs(spark, sf_dir),
        "lang",
        {"en": 0.6, "es": 0.3, "fr": 0.1},
        total_rows=100,
        id_col=DOC_UID,
        seed=5,
    )
    return out.select(
        DOC_UID, "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


def q_curate_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing via the two-phase distributed prefix
    sum (ordered md5-prefix buckets + broadcast bucket offsets); the
    oracle replays the semantics as ONE global window."""
    return pack_token_shards(
        _docs(spark, sf_dir), budget_tokens=5000, id_col=DOC_UID
    )


def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental-ingest screen: the filter is a distinct
    position DataFrame (≤ 16^4 rows, broadcast), probes are k
    equi-join hits per incoming doc. Planted copies (base docs re-sent
    under new ids) MUST come back maybe_duplicate — no false
    negatives; the deterministic md5 positions replay exactly in
    DuckDB."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col(DOC_UID) % 3 != 0)
    copies = base.filter(F.col(DOC_UID) % 9 == 1).withColumn(
        DOC_UID, F.col(DOC_UID) + F.lit(500000)
    )
    incoming = docs.filter(F.col(DOC_UID) % 3 == 0).unionByName(copies)
    return bloom_incremental_new(
        base, incoming, id_col=DOC_UID, k=4, prefix_hex=4
    )


def q_webtext_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row invariant as a driver row: wrap each document
    in the Common-Crawl-style html container (binary), run the REAL
    extraction + blocking-key functions (operators/webtext.py,
    functions/text.py), and emit byte-identity vs the stored text plus
    the url-domain and normalized-title blocking keys. The oracle
    re-parses the SAME constructed html with DuckDB's own regex engine
    (RE2) — a cross-engine check of the extraction semantics (DOTALL,
    non-greedy, utf-8 hashing), not a formula replay.

    reference: splink has no parser; the invariant is BASELINE.json
    input_hint ("byte-identical extracted text per url").
    """
    from splink_spark.functions.text import normalized_title_key, url_domain
    from splink_spark.operators.webtext import (
        extract_text_from_html,
        extract_title_from_html,
    )

    docs = _docs(spark, sf_dir)
    uid = F.col(DOC_UID)
    title = F.concat_ws(
        " ", F.lit("Doc"), uid.cast("string"), F.upper("source"), F.lit("#1!")
    )
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net")),
        (uid % 3 + 1).cast("int"),
    )
    pages = docs.select(
        uid.alias(DOC_UID),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example."), tld,
            F.lit("/doc/"), uid.cast("string"),
        ).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><title>"), title,
                F.lit("</title><body>"), F.col("text"),
                F.lit("</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        "text",
    )
    return pages.select(
        DOC_UID,
        url_domain("url").alias("bk_domain"),
        normalized_title_key(extract_title_from_html("html")).alias(
            "bk_title"
        ),
        F.md5(F.encode(extract_text_from_html("html"), "UTF-8")).alias(
            "text_md5"
        ),
        (extract_text_from_html("html") == F.col("text")).alias(
            "byte_identical"
        ),
    )


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary plumbing with the stubbed (deterministic-fake) decoder.
    The UDF emits md5(payload) computed INSIDE Python — the oracle
    recomputes it in DuckDB, proving the Arrow batches carried the
    exact bytes end-to-end."""
    from splink_spark.multimodal import extract_features

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col(DOC_UID).alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = extract_features(media, fake=True, with_checksum=True)
    return feats.select(
        "media_id", F.size("feature").alias("feature_dim"), "payload_md5"
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container parsing loop: deterministic BMP/PNG/WAV/GIF bytes
    are synthesized per document (mapInPandas), then attach_metadata
    parses dimensions/duration back out of the actual bytes; the oracle
    recomputes the synthesis formulas in SQL. A wrong struct offset,
    stride, or chunk walk anywhere breaks the match."""
    import pandas as pd  # noqa: PLC0415

    from splink_spark.multimodal import (
        attach_metadata,
        make_bmp,
        make_gif,
        make_png,
        make_wav,
    )

    docs = _docs(spark, sf_dir).select(
        F.col(DOC_UID).alias("media_id"),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("nc"),
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for mid, nc in zip(pdf["media_id"], pdf["nc"]):
                mid, nc = int(mid), int(nc)
                k = mid % 4
                if k == 0:
                    p = make_bmp(nc % 31 + 1, mid % 17 + 1, seed=mid)
                elif k == 1:
                    p = make_png(nc % 23 + 1, mid % 13 + 1, seed=mid)
                elif k == 2:
                    p = make_wav((mid % 5 + 1) * 800)
                else:
                    p = make_gif(nc % 50 + 1, mid % 40 + 1)
                payloads.append(p)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, payload binary")
    return attach_metadata(media).select(
        "media_id",
        F.col("meta.codec").alias("codec"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.round(F.col("meta.duration_s") * 1000).cast("long").alias(
            "duration_ms"
        ),
    )


def q_iceberg_lite_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iceberg-lite storage loop: documents are committed as an
    Iceberg v2 table (pure-Python metadata + Avro manifests,
    sources/iceberg_lite.py) in TWO snapshot commits partitioned by
    lang, then read back per partition THROUGH scan planning —
    manifest pruning decides which parquet files Spark opens. The
    surface carries both the data aggregate (per-lang doc count and
    char sum, which the oracle recomputes straight from the parquet
    table) and the lineage the scan reported (rows_selected per
    partition — must equal the count, proving pruning selected
    exactly the partition's files across both snapshots).
    reference: n/a (storage layer is a north-rule addition)."""
    import shutil
    import tempfile

    from splink_spark.sources.iceberg_lite import (
        read_iceberg,
        scan_files,
        write_iceberg,
    )

    docs = _docs(spark, sf_dir)
    loc = os.path.join(
        tempfile.gettempdir(),
        f"splink_spark_iceberg_{abs(hash(sf_dir)) % 10**8}",
    )
    shutil.rmtree(loc, ignore_errors=True)
    write_iceberg(
        docs.filter(F.col(DOC_UID) % 2 == 0), loc,
        partition_by=["lang"],
    )
    write_iceberg(
        docs.filter(F.col(DOC_UID) % 2 == 1), loc, mode="append"
    )

    langs = [
        r["lang"]
        for r in docs.select("lang").distinct().collect()
        if r["lang"] is not None
    ]
    parts = []
    for lang in sorted(langs):
        pruned = read_iceberg(spark, loc, where={"lang": lang})
        _, stats = scan_files(loc, where={"lang": lang})
        parts.append(
            pruned.agg(
                F.lit(lang).alias("lang"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(
                    F.coalesce(F.col("n_chars"), F.lit(0)).cast("long")
                ).alias("sum_chars"),
                F.lit(int(stats["rows_selected"]))
                .cast("long")
                .alias("rows_selected"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_iceberg_lite_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iceberg-lite EQUALITY-DELETE loop (Iceberg v2 row-level
    deletes, content=2): documents are committed as snapshot s1; an
    equality-delete commit (s2) removes every doc_id % 7 == 0 by key
    WITHOUT rewriting data files; an append commit (s3) re-adds the
    doc_id % 21 == 0 subset — which must SURVIVE the earlier delete
    under the spec's sequence-number rule (a delete applies only to
    data files with a strictly smaller sequence number). The surface
    reads all three snapshots back through time travel plus one
    partition-pruned read of the final state, so the oracle (plain
    filters over the raw table) breaks if deletes leak across
    snapshots, the anti-join misses keys, or pruning drops the
    re-added files. reference: n/a (storage layer is a north-rule
    addition)."""
    import shutil
    import tempfile

    from splink_spark.sources.iceberg_lite import (
        delete_iceberg,
        read_iceberg,
        write_iceberg,
    )

    docs = _docs(spark, sf_dir).select(
        F.col(DOC_UID), "lang", "n_chars"
    )
    loc = os.path.join(
        tempfile.gettempdir(),
        f"splink_spark_iceberg_del_{abs(hash(sf_dir)) % 10**8}",
    )
    shutil.rmtree(loc, ignore_errors=True)
    s1 = write_iceberg(docs, loc, partition_by=["lang"])
    s2 = delete_iceberg(
        docs.filter(F.col(DOC_UID) % 7 == 0), loc,
        equality_cols=[DOC_UID],
    )
    s3 = write_iceberg(
        docs.filter(F.col(DOC_UID) % 21 == 0), loc, mode="append"
    )
    min_lang = (
        docs.filter(F.col("lang").isNotNull())
        .agg(F.min("lang"))
        .collect()[0][0]
    )

    def state(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(label).alias("snap"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(DOC_UID)).cast("long").alias("sum_ids"),
            F.sum(
                F.coalesce(F.col("n_chars"), F.lit(0)).cast("long")
            ).alias("sum_chars"),
        )

    out = state("s1_initial", read_iceberg(spark, loc, snapshot_id=s1))
    out = out.unionByName(
        state("s2_deleted", read_iceberg(spark, loc, snapshot_id=s2))
    )
    out = out.unionByName(
        state("s3_readded", read_iceberg(spark, loc, snapshot_id=s3))
    )
    out = out.unionByName(
        state(
            "s3_pruned",
            read_iceberg(spark, loc, where={"lang": min_lang}),
        )
    )
    return out


def q_iceberg_lite_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iceberg-lite ADD-COLUMN schema evolution (Iceberg v2 Schema
    Evolution): documents are committed WITHOUT n_chars (snapshot s1,
    schema 0), then an append carrying the new n_chars column for the
    doc_id % 5 == 0 subset registers schema 1 (fresh field id, old
    ids preserved). The surface reads s1 through time travel (its own
    pre-evolution schema: sum_chars is NULL), the evolved current
    state (old rows read n_chars as null, appended rows carry it),
    and a partition-pruned read — so the oracle breaks if evolution
    leaks across snapshots, mergeSchema drops rows, or nulls are
    miscounted. reference: n/a (storage layer is a north-rule
    addition)."""
    import shutil
    import tempfile

    from splink_spark.sources.iceberg_lite import (
        drop_iceberg_column,
        read_iceberg,
        rename_iceberg_column,
        write_iceberg,
    )

    docs = _docs(spark, sf_dir).select(F.col(DOC_UID), "lang")
    loc = os.path.join(
        tempfile.gettempdir(),
        f"splink_spark_iceberg_evo_{abs(hash(sf_dir)) % 10**8}",
    )
    shutil.rmtree(loc, ignore_errors=True)
    s1 = write_iceberg(docs, loc, partition_by=["lang"])
    extra = (
        _docs(spark, sf_dir)
        .select(
            F.col(DOC_UID),
            "lang",
            F.coalesce(F.col("n_chars"), F.lit(0))
            .cast("long")
            .alias("n_chars"),
        )
        .filter(F.col(DOC_UID) % 5 == 0)
    )
    s2 = write_iceberg(extra, loc, mode="append")
    min_lang = (
        docs.filter(F.col("lang").isNotNull())
        .agg(F.min("lang"))
        .collect()[0][0]
    )

    def state(
        label: str, df: DataFrame, chars_col: str = "n_chars"
    ) -> DataFrame:
        chars = (
            F.sum(chars_col).cast("long")
            if chars_col in df.columns
            else F.lit(None).cast("long")
        )
        return df.agg(
            F.lit(label).alias("snap"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(DOC_UID)).cast("long").alias("sum_ids"),
            chars.alias("sum_chars"),
        )

    out = state("s1_initial", read_iceberg(spark, loc, snapshot_id=s1))
    out = out.unionByName(state("s2_evolved", read_iceberg(spark, loc)))
    out = out.unionByName(
        state(
            "s2_pruned",
            read_iceberg(spark, loc, where={"lang": min_lang}),
        )
    )
    # rename (metadata-only): current reads present char_count with the
    # SAME values — files written under the old name resolve by field id
    rename_iceberg_column(loc, "n_chars", "char_count")
    out = out.unionByName(
        state(
            "s3_renamed", read_iceberg(spark, loc), chars_col="char_count"
        )
    )
    # drop: the column disappears from current reads (rows remain)...
    drop_iceberg_column(loc, "char_count")
    out = out.unionByName(state("s4_dropped", read_iceberg(spark, loc)))
    # ...but time travel to the pre-drop snapshot presents it again,
    # under the name current when that snapshot was stamped
    out = out.unionByName(
        state(
            "s2_after_drop",
            read_iceberg(spark, loc, snapshot_id=s2),
            chars_col="n_chars",
        )
    )
    return out


def q_iceberg_lite_transforms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition transforms (Iceberg v2 Partition Transforms): the
    events table is committed day(ts)-partitioned and bucket(4,
    event_id)-partitioned into two lite tables; the surface reads one
    calendar day through transform pruning (where on the SOURCE
    column) and one bucket through the stable field name, aggregating
    counts + id sums per state. DuckDB replays the day arithmetic with
    date_format and the bucket hash with its own md5 — so a wrong
    transform derivation, a python/Spark hash replica mismatch, or
    over/under-pruning breaks the match. reference: n/a (storage layer
    is a north-rule addition)."""
    import shutil
    import tempfile

    from splink_spark.sources.iceberg_lite import (
        read_iceberg,
        write_iceberg,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = os.path.join(
        tempfile.gettempdir(),
        f"splink_spark_iceberg_tr_{abs(hash(sf_dir)) % 10**8}",
    )
    loc_day = base + "_day"
    loc_bkt = base + "_bkt"
    shutil.rmtree(loc_day, ignore_errors=True)
    shutil.rmtree(loc_bkt, ignore_errors=True)
    sub = ev.filter(F.col("event_id") < 2000)
    write_iceberg(sub, loc_day, partition_by=["day(ts)"])
    write_iceberg(sub, loc_bkt, partition_by=["bucket(4, event_id)"])

    def state(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(label).alias("state"),
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )

    day = "2024-01-01"
    out = state(
        "day_pruned", read_iceberg(spark, loc_day, where={"ts": day})
    )
    out = out.unionByName(
        state(
            "bucket_0",
            read_iceberg(spark, loc_bkt, where={"event_id_bucket": 0}),
        )
    )
    out = out.unionByName(state("full", read_iceberg(spark, loc_day)))
    return out


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode loop (fake=False end to end): deterministic
    BMP, PNG and GIF payloads are synthesized per document — PNGs with
    MIXED scanline filters (row y uses filter y % 5, so Sub/Up/
    Average/Paeth unfiltering all execute; the PNG arm splits three
    ways into 8-bit RGB — every other one ADAM7-INTERLACED, same
    pixels in a 7-pass-ordered stream — PALETTE at bit depth 1/2/4/8
    via PLTE lookup + sub-byte unpacking, and 16-BIT RGB via
    high-byte downshift), GIFs through the from-scratch LZW codec
    (every third one ANIMATED: two frames, inset-rect frame 1
    composited over frame 0, some row-interlaced — the surfaced sums
    come from the final composited canvas), and JPEGs through the
    full Huffman + dequant + IDCT path — every other one PROGRESSIVE
    (SOF2: DC/AC spectral bands + successive approximation across six
    scans) — with DC-exact synthesis (all-ones quant table + constant
    8x8 blocks, so the lossy-codec decode is still bit-reproducible)
    — then decoded back
    to RGB by the stdlib-only decoders, surfacing integer per-channel
    pixel sums. The oracle replays the pixel formulas relationally
    (lateral range joins), so any wrong stride, filter predictor, LZW
    code width, palette entry, bit unpack, Huffman code, DC
    prediction, or channel order breaks the match exactly.
    reference: n/a (multimodal plumbing is a north-rule addition)."""
    import pandas as pd  # noqa: PLC0415

    from splink_spark.multimodal import (
        decode_bmp,
        decode_gif,
        decode_gif_frames,
        decode_jpeg,
        decode_png,
        make_bmp,
        make_gif,
        make_gif_animated,
        make_jpeg,
        make_jpeg_progressive,
        make_png,
        make_png16,
        make_png_interlaced,
        make_png_palette,
    )

    docs = (
        _docs(spark, sf_dir)
        .select(
            F.col(DOC_UID).alias("media_id"),
            F.coalesce(F.col("n_chars"), F.lit(0))
            .cast("long")
            .alias("nc"),
        )
    )

    def synth_decode(batches):
        for pdf in batches:
            out = []
            for mid, nc in zip(pdf["media_id"], pdf["nc"]):
                mid, nc = int(mid), int(nc)
                if mid % 4 == 0:
                    codec = "bmp"
                    p = make_bmp(nc % 31 + 1, mid % 17 + 1, seed=mid)
                    rgb = decode_bmp(p)
                elif mid % 4 == 3:
                    # every other JPEG doc ships the SAME DC-exact
                    # pixels as a PROGRESSIVE (SOF2) six-scan stream —
                    # identical sums, but only a real Annex G decoder
                    # (spectral bands + successive approximation)
                    # recovers them
                    if (mid // 4) % 2 == 1:
                        codec = "jpeg_p"
                        p = make_jpeg_progressive(
                            nc % 29 + 1, mid % 15 + 1, seed=mid
                        )
                    else:
                        codec = "jpeg"
                        p = make_jpeg(
                            nc % 29 + 1, mid % 15 + 1, seed=mid
                        )
                    rgb = decode_jpeg(p)
                elif mid % 4 == 2:
                    if (mid // 4) % 3 == 1:
                        # ANIMATED (2 frames, frame 1 an inset rect,
                        # disposal 1; every other one row-interlaced):
                        # features come from the FINAL composited
                        # canvas, so GCE parsing, sub-rect placement
                        # and compositing are all on the oracle path
                        codec = "gif_anim"
                        p = make_gif_animated(
                            nc % 19 + 3,
                            mid % 11 + 3,
                            seed=mid,
                            n_frames=2,
                            interlaced=(mid % 8 == 6),
                        )
                        rgb = decode_gif_frames(p)[-1]
                    else:
                        codec = "gif"
                        p = make_gif(nc % 19 + 1, mid % 11 + 1, seed=mid)
                        rgb = decode_gif(p)
                elif mid % 3 == 1:
                    codec = "png_pal"
                    p = make_png_palette(
                        nc % 23 + 1,
                        mid % 13 + 1,
                        seed=mid,
                        depth=1 << ((mid // 4) % 4),
                        filter_mode="mixed",
                    )
                    rgb = decode_png(p)
                elif mid % 3 == 2:
                    codec = "png16"
                    p = make_png16(
                        nc % 23 + 1,
                        mid % 13 + 1,
                        seed=mid,
                        filter_mode="mixed",
                    )
                    rgb = decode_png(p)
                else:
                    # every other plain-PNG doc ships the SAME pixels
                    # in an Adam7-interlaced container — identical
                    # sums, but only a real 7-pass deinterlace
                    # recovers them from the pass-ordered byte stream
                    interlaced = (mid // 12) % 2 == 1
                    codec = "png_i" if interlaced else "png"
                    maker = (
                        make_png_interlaced if interlaced else make_png
                    )
                    p = maker(
                        nc % 23 + 1,
                        mid % 13 + 1,
                        seed=mid,
                        filter_mode="mixed",
                    )
                    rgb = decode_png(p)
                s = rgb.reshape(-1, 3).astype("int64").sum(axis=0)
                out.append(
                    (
                        mid,
                        codec,
                        rgb.shape[1],
                        rgb.shape[0],
                        int(s[0]),
                        int(s[1]),
                        int(s[2]),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "codec", "width", "height",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return docs.mapInPandas(
        synth_decode,
        "media_id long, codec string, width long, height long, "
        "sum_r long, sum_g long, sum_b long",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "o1_concat": q_o1_concat,
        "o2_term_frequency": q_o2_tf,
        "o3_concat_with_tf": q_o3_concat_with_tf,
        "o4_blocking": q_o4_blocking,
        "o5_salted_blocking": q_o5_salted,
        "o5b_governed_blocking": q_o5b_governed,
        "o4_link_only": q_link_only_blocking,
        "o6_comparison_vectors": q_o6_vectors,
        "o7_match_weights": q_o7_predict,
        "o7_tf_adjusted": q_o7_tf_adjusted,
        "o8_u_histogram": q_o8_u_histogram,
        "o9_gamma_histogram": q_o9_gamma_histogram,
        "o10_e_step": q_o10_e_step,
        "o11_m_step": q_o11_m_step,
        "o12_em_session": q_o12_em_session,
        "o13_m_histogram": q_o13_m_histogram,
        "o13_m_pairwise": q_o13_m_pairwise,
        "o6_templates": q_o6_templates,
        "o14_lambda": q_o14_lambda,
        "o15_connected_components": q_o15_cluster,
        "o15b_incremental_cc": q_o15b_incremental_cc,
        "o16_cluster_joinback": q_o16_cluster_joinback,
        "o25_cluster_metrics": q_o25_cluster_metrics,
        "o18_self_link": q_o18_self_link,
        "o20_rule_discovery": q_o20_rule_discovery,
        "o17_incremental": q_o17_incremental,
        "o19_block_census": q_o19_census,
        "o19_cumulative": q_o19_cumulative,
        "o21_missingness": q_o21_missingness,
        "o21_completeness": q_o21_completeness,
        "o21_profile_values": q_o21_profile,
        "o22_truth_space": q_o22_truth_space,
        "o22_errors": q_o22_errors,
        "o23_waterfall": q_o23_waterfall,
        "o23_viewer": q_o23_viewer,
        "o24_unlinkables": q_o24_unlinkables,
        "o26_topk_candidates": q_o26_topk_candidates,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "sim_topk_bruteforce": q_sim_topk,
        "sim_topk_lsh": q_sim_lsh_topk,
        "sim_topk_ivf": q_sim_ivf_topk,
        "events_sessions": q_events_sessions,
        "events_json_props": q_events_json_props,
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "curate_stratified_sample": q_curate_stratified,
        "curate_weighted_mix": q_curate_weighted_mix,
        "curate_pack_shards": q_curate_pack_shards,
        "dedup_bloom_incremental": q_dedup_bloom,
        "text_boilerplate": q_text_boilerplate,
        "text_pii_redact": q_text_pii_redact,
        "text_repeated_spans": q_text_repeated_spans,
        "text_length_profile": q_text_length_profile,
        "webtext_extract": q_webtext_extract,
        "webtext_canonical_url": q_webtext_canonical_url,
        "multimodal_features": q_multimodal,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_decode": q_multimodal_decode,
        "iceberg_lite_scan": q_iceberg_lite_scan,
        "iceberg_lite_deletes": q_iceberg_lite_deletes,
        "iceberg_lite_evolution": q_iceberg_lite_evolution,
        "iceberg_lite_transforms": q_iceberg_lite_transforms,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    settings = documents_settings()
    gammas = comparison_vector_sql_projection(settings)
    gamma_cols = ", ".join(settings.gamma_columns)
    retain_pairs = _pairs_sql([RULE_1], DOC_COLS)
    mw = match_weight_sql(settings)

    vectors_sql = (
        f"SELECT {DOC_UID}_l, {DOC_UID}_r, {', '.join(gammas)} "
        f"FROM ({retain_pairs}) pairs"
    )
    predict_sql = (
        f"SELECT *, pow(2.0, match_weight) / (1.0 + pow(2.0, match_weight))"
        f" AS match_probability FROM ("
        f"SELECT {DOC_UID}_l, {DOC_UID}_r, {gamma_cols}, {mw} AS match_weight"
        f" FROM ({vectors_sql}) v) w"
    )

    u_pairs = (
        f"SELECT l.{DOC_UID} AS {DOC_UID}_l, r.{DOC_UID} AS {DOC_UID}_r, "
        + ", ".join(
            f"l.{c} AS {c}_l, r.{c} AS {c}_r" for c in DOC_COLS
        )
        + f" FROM (SELECT * FROM documents WHERE {DOC_UID} % 5 = 0) l "
        f"JOIN (SELECT * FROM documents WHERE {DOC_UID} % 5 = 0) r "
        f"ON l.{DOC_UID} < r.{DOC_UID}"
    )

    cc_edges = (
        f"SELECT l.{DOC_UID} AS u, r.{DOC_UID} AS v FROM documents l "
        f"JOIN documents r ON l.source = r.source AND l.lang = r.lang "
        f"AND abs(l.n_chars - r.n_chars) <= 2 AND l.{DOC_UID} < r.{DOC_UID}"
    )
    cc_sql = f"""
        WITH RECURSIVE edges AS ({cc_edges}),
        sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        nodes AS (SELECT DISTINCT u AS n FROM sym),
        reach(n, m) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u
        )
        SELECT n AS {DOC_UID}, min(m) AS cluster_id FROM reach GROUP BY n
    """

    # -- o25: per-cluster graph metrics over the recursive-CTE closure --
    cluster_metrics_sql = f"""
        WITH RECURSIVE edges AS ({cc_edges}),
        sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        nodes AS (SELECT DISTINCT u AS n FROM sym),
        reach(n, m) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u
        ),
        clus AS (SELECT n AS id, min(m) AS cluster_id
                 FROM reach GROUP BY n),
        deg AS (SELECT u AS id, count(*) AS d FROM sym GROUP BY u),
        nd AS (SELECT c.cluster_id, coalesce(d.d, 0) AS d
               FROM clus c LEFT JOIN deg d ON c.id = d.id),
        per AS (SELECT cluster_id, count(*) AS n_nodes,
                       CAST(sum(d) AS BIGINT) AS deg_sum,
                       max(d) AS deg_max
                FROM nd GROUP BY cluster_id)
        SELECT cluster_id, n_nodes,
               CAST(deg_sum / 2 AS BIGINT) AS n_edges,
               CASE WHEN n_nodes > 1 THEN CAST(round(
                    ((2 * CAST(deg_sum / 2 AS BIGINT))
                     / (n_nodes * (n_nodes - 1))) * 1e9) AS BIGINT)
               END AS density_e9,
               CASE WHEN n_nodes > 2 THEN CAST(round(
                    ((n_nodes * deg_max - deg_sum)
                     / ((n_nodes - 1) * (n_nodes - 2))) * 1e9) AS BIGINT)
               END AS centralisation_e9
        FROM per
    """

    shingles = word_shingles_sql("text", 3)
    planted = _PLANTED_SQL
    mh_keyed = (
        f"SELECT {DOC_UID}, "
        + ", ".join(
            f"{minhash_band_sql('text', b, 3)} AS mh_{b}" for b in range(4)
        )
        + " FROM planted d"
    )
    mh_cand_parts = []
    for b in range(4):
        conds = [f"l.mh_{b} = r.mh_{b}", f"l.{DOC_UID} < r.{DOC_UID}"]
        for prev in range(b):
            conds.append(f"NOT (l.mh_{prev} = r.mh_{prev})")
        mh_cand_parts.append(
            f"SELECT l.{DOC_UID} AS {DOC_UID}_l, r.{DOC_UID} AS {DOC_UID}_r "
            f"FROM keyed l JOIN keyed r ON {' AND '.join(conds)}"
        )
    mh_cands = " UNION ALL ".join(mh_cand_parts)
    jaccard_expr = (
        "len(list_intersect(sl.sh, sr.sh)) / "
        "(len(sl.sh) + len(sr.sh) - len(list_intersect(sl.sh, sr.sh)))"
    )
    minhash_sql = f"""
        WITH planted AS ({planted}),
        keyed AS ({mh_keyed}),
        cands AS ({mh_cands}),
        sh AS (SELECT {DOC_UID}, list_distinct({shingles}) AS sh FROM planted)
        SELECT c.{DOC_UID}_l, c.{DOC_UID}_r, {jaccard_expr} AS jaccard
        FROM cands c
        JOIN sh sl ON sl.{DOC_UID} = c.{DOC_UID}_l
        JOIN sh sr ON sr.{DOC_UID} = c.{DOC_UID}_r
        WHERE {jaccard_expr} >= 0.5
    """

    ngram_sql = f"""
        WITH planted AS ({planted}),
        cands AS (
            SELECT l.{DOC_UID} AS {DOC_UID}_l, r.{DOC_UID} AS {DOC_UID}_r
            FROM planted l JOIN planted r
            ON l.source = r.source AND l.lang = r.lang
               AND l.{DOC_UID} < r.{DOC_UID}),
        sh AS (SELECT {DOC_UID}, list_distinct({shingles}) AS sh FROM planted)
        SELECT c.{DOC_UID}_l, c.{DOC_UID}_r, {jaccard_expr} AS jaccard
        FROM cands c
        JOIN sh sl ON sl.{DOC_UID} = c.{DOC_UID}_l
        JOIN sh sr ON sr.{DOC_UID} = c.{DOC_UID}_r
        WHERE {jaccard_expr} >= 0.3
    """

    labels_sql = (
        f"SELECT {DOC_UID}_l, {DOC_UID}_r, "
        f"abs(n_chars_l - n_chars_r) <= 2 AS is_match "
        f"FROM ({_pairs_sql([RULE_1], ['n_chars'])}) p"
    )
    truth_sql = f"""
        WITH preds AS ({predict_sql}),
        labels AS ({labels_sql}),
        joined AS (
            SELECT coalesce(p.match_weight, '-infinity'::DOUBLE) AS mw,
                   l.is_match
            FROM labels l LEFT JOIN preds p
              USING ({DOC_UID}_l, {DOC_UID}_r)),
        totals AS (
            -- CAST: DuckDB sum(int) returns HUGEINT, which Arrow renders
            -- as decimal128(38,0) -> Decimal cells under the driver's
            -- normalizer. Every count on the comparison surface must be
            -- BIGINT (root cause of the r1-r3 o22 hash mismatch).
            SELECT CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
                        AS BIGINT) AS P,
                   CAST(sum(CASE WHEN is_match THEN 0 ELSE 1 END)
                        AS BIGINT) AS N
            FROM joined),
        per AS (
            SELECT mw,
                   sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS pos_here,
                   sum(CASE WHEN is_match THEN 0 ELSE 1 END) AS neg_here
            FROM joined GROUP BY mw),
        cum AS (
            SELECT mw,
                   CAST(sum(pos_here) OVER (ORDER BY mw DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS tp,
                   CAST(sum(neg_here) OVER (ORDER BY mw DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS fp
            FROM per),
        -- precision/recall computed ONCE, f1 from those columns: same
        -- sub-expression structure and evaluation order as the Spark
        -- side (operators/accuracy.py). Hash-robust by construction:
        -- ratios leave the query as CAST(round(x*1e9) AS BIGINT) and
        -- the -inf sentinel (kept internal so window ordering stays
        -- purely numeric) maps to NULL in the final projection — no
        -- floats or infinities on the comparison surface.
        pr AS (
            SELECT mw, tp, fp,
                   (SELECT P FROM totals) - tp AS fn,
                   (SELECT N FROM totals) - fp AS tn,
                   CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 1.0 END
                       AS precision,
                   CASE WHEN (SELECT P FROM totals) > 0
                        THEN tp / (SELECT P FROM totals)
                        ELSE 1.0 END AS recall
            FROM cum)
        SELECT CASE WHEN mw = '-infinity'::DOUBLE THEN NULL
                    ELSE CAST(round(mw * 1e9) AS BIGINT)
               END AS threshold_weight_e9,
               tp, fp, fn, tn,
               CAST(round(precision * 1e9) AS BIGINT) AS precision_e9,
               CAST(round(recall * 1e9) AS BIGINT) AS recall_e9,
               CAST(round(CASE WHEN precision + recall > 0
                               THEN 2 * precision * recall
                                    / (precision + recall)
                               ELSE 0.0 END * 1e9) AS BIGINT) AS f1_e9
        FROM pr ORDER BY threshold_weight_e9 DESC NULLS LAST
    """

    # -- o22_errors: prediction-errors table ----------------------------
    errors_sql = f"""
        WITH preds AS ({predict_sql}),
        labels AS ({labels_sql})
        SELECT {DOC_UID}_l, {DOC_UID}_r, is_match,
               coalesce(p.match_probability, 0.0) >= 0.5
                   AS predicted_match,
               CAST(round(p.match_weight * 1e9) AS BIGINT) AS mw_e9
        FROM labels l LEFT JOIN preds p USING ({DOC_UID}_l, {DOC_UID}_r)
        WHERE (coalesce(p.match_probability, 0.0) >= 0.5
               AND NOT is_match)
           OR (coalesce(p.match_probability, 0.0) < 0.5 AND is_match)
    """

    # -- o24_unlinkables: best-weight cumulative distribution -----------
    unlinkables_sql = f"""
        WITH preds AS ({predict_sql}),
        sides AS (
            SELECT {DOC_UID}_l AS {DOC_UID}, match_weight FROM preds
            UNION ALL
            SELECT {DOC_UID}_r AS {DOC_UID}, match_weight FROM preds),
        best AS (
            SELECT d.{DOC_UID}, max(s.match_weight) AS best_mw
            FROM documents d LEFT JOIN sides s USING ({DOC_UID})
            GROUP BY d.{DOC_UID}),
        hist AS (
            SELECT round(coalesce(best_mw, '-infinity'::DOUBLE), 1)
                       AS mwr,
                   count(*) AS n
            FROM best GROUP BY 1),
        cum AS (
            SELECT mwr,
                   sum(n) OVER (ORDER BY mwr ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_n
            FROM hist)
        SELECT CASE WHEN mwr = '-infinity'::DOUBLE THEN NULL
                    ELSE CAST(round(mwr * 10) AS BIGINT) END AS mw_x10,
               CAST(round(1e9 * (cum_n /
                    (SELECT count(*) FROM documents))) AS BIGINT)
                   AS cum_prop_e9
        FROM cum
    """

    # -- o23_viewer: gamma-pattern distribution + min/max examples ------
    viewer_sql = f"""
        SELECT {gamma_cols}, count(*) AS pattern_count,
               (min({{'l': {DOC_UID}_l, 'r': {DOC_UID}_r}})).l
                   AS example_l_1,
               (min({{'l': {DOC_UID}_l, 'r': {DOC_UID}_r}})).r
                   AS example_r_1,
               (max({{'l': {DOC_UID}_l, 'r': {DOC_UID}_r}})).l
                   AS example_l_2,
               (max({{'l': {DOC_UID}_l, 'r': {DOC_UID}_r}})).r
                   AS example_r_2
        FROM ({vectors_sql}) v GROUP BY {gamma_cols}
    """

    # -- o7_tf_adjusted: TF-adjusted prediction -------------------------
    tf_settings = tf_documents_settings()
    tf_gammas = comparison_vector_sql_projection(tf_settings)
    tf_gamma_cols = ", ".join(tf_settings.gamma_columns)
    tf_mw = match_weight_sql(tf_settings)
    docs_tf_cte = (
        "SELECT d.*, ts.tf_source FROM documents d LEFT JOIN "
        "(SELECT source, count(*) / (SELECT count(*) FROM documents "
        "WHERE source IS NOT NULL) AS tf_source FROM documents "
        "WHERE source IS NOT NULL GROUP BY source) ts "
        "ON d.source = ts.source"
    )
    tf_pairs = _pairs_sql(
        [RULE_1], ["lang", "source", "tf_source"], table="docs_tf"
    )
    tf_adjusted_sql = f"""
        WITH docs_tf AS ({docs_tf_cte})
        SELECT {DOC_UID}_l, {DOC_UID}_r, {tf_gamma_cols},
               round(match_weight, 9) AS match_weight,
               round(pow(2.0, match_weight) /
                     (1.0 + pow(2.0, match_weight)), 9) AS match_probability
        FROM (
            SELECT {DOC_UID}_l, {DOC_UID}_r, {tf_gamma_cols},
                   {tf_mw} AS match_weight
            FROM (
                SELECT {DOC_UID}_l, {DOC_UID}_r, tf_source_l, tf_source_r,
                       {', '.join(tf_gammas)}
                FROM ({tf_pairs}) pairs) v) w
    """

    # -- o4_link_only: cross-source-only blocking ------------------------
    lo_comp_l = f"concat(l.source_dataset, '-__-', CAST(l.{DOC_UID} AS VARCHAR))"
    lo_comp_r = f"concat(r.source_dataset, '-__-', CAST(r.{DOC_UID} AS VARCHAR))"
    lo_parts = []
    lo_rules = [RULE_1, RULE_2]
    for i, br in enumerate(lo_rules):
        conds = [
            f"({br.oracle_rule})",
            f"({lo_comp_l} < {lo_comp_r})",
            "(l.source_dataset <> r.source_dataset)",
        ]
        for prev in lo_rules[:i]:
            conds.append(f"(NOT coalesce(({prev.oracle_rule}), false))")
        lo_parts.append(
            f"SELECT l.{DOC_UID} AS {DOC_UID}_l, r.{DOC_UID} AS {DOC_UID}_r, "
            f"l.source_dataset AS source_dataset_l, "
            f"r.source_dataset AS source_dataset_r, {i} AS match_key "
            f"FROM cat l JOIN cat r ON {' AND '.join(conds)}"
        )
    link_only_sql = (
        f"WITH cat AS (SELECT *, CASE WHEN {DOC_UID} % 2 = 0 THEN 'dsa' "
        f"ELSE 'dsb' END AS source_dataset FROM documents) "
        + " UNION ALL ".join(lo_parts)
    )

    incr_pairs = (
        f"SELECT l.{DOC_UID} AS {DOC_UID}_l, r.{DOC_UID} AS {DOC_UID}_r, "
        + ", ".join(f"l.{c} AS {c}_l, r.{c} AS {c}_r" for c in DOC_COLS)
        + f" FROM documents l JOIN "
        f"(SELECT {DOC_UID} + 100000 AS {DOC_UID}, text, lang, source, "
        f"n_chars FROM documents WHERE {DOC_UID} % 10 = 0) r "
        f"ON l.source = r.source AND l.lang = r.lang "
        f"AND l.{DOC_UID} < r.{DOC_UID}"
    )
    incr_sql = (
        f"SELECT {DOC_UID}_l, {DOC_UID}_r, {mw} AS match_weight FROM ("
        f"SELECT {DOC_UID}_l, {DOC_UID}_r, {', '.join(gammas)} "
        f"FROM ({incr_pairs}) p) v"
    )

    # -- persons-fixture oracles: templates + pairwise-label m ----------
    # Same Settings objects as the Spark queries; the fixture rows are
    # inlined as a VALUES table (deterministic, seed-pinned).
    persons_cte = _persons_values_sql()
    tmpl_settings = persons_template_settings()
    tmpl_gammas = comparison_vector_sql_projection(tmpl_settings)
    person_pair_cols = ", ".join(
        f"l.{c} AS {c}_l, r.{c} AS {c}_r" for c in _PERSON_PAIR_COLS
    )
    templates_sql = f"""
        WITH persons AS ({persons_cte}),
        pairs AS (
            SELECT l.unique_id AS unique_id_l,
                   r.unique_id AS unique_id_r, {person_pair_cols}
            FROM persons l JOIN persons r
              ON (l.city = r.city) AND (l.unique_id < r.unique_id))
        SELECT unique_id_l, unique_id_r, {', '.join(tmpl_gammas)}
        FROM pairs
    """

    mset = persons_m_settings()
    m_gammas = comparison_vector_sql_projection(mset)
    m_pair_cols = ", ".join(
        f"l.{c} AS {c}_l, r.{c} AS {c}_r" for c in ("surname", "city")
    )
    m_levels_values = ", ".join(
        f"('{c.output_column_name}', {k})"
        for c in mset.comparisons
        for k in range(c.num_scored_levels)
    )
    m_stack = " UNION ALL ".join(
        f"SELECT '{c.output_column_name}' AS comparison, "
        f"{c.gamma_column} AS gamma FROM v WHERE {c.gamma_column} != -1"
        for c in mset.comparisons
    )
    # ratio discipline mirrors _level_shares: int64/int64 -> exact IEEE
    # double division, then floor(1e9*x + 0.5) on both sides
    m_pairwise_sql = f"""
        WITH persons AS ({persons_cte}),
        pairs AS (
            SELECT {m_pair_cols}
            FROM persons l JOIN persons r
              ON l.cluster = r.cluster AND l.unique_id < r.unique_id),
        v AS (SELECT {', '.join(m_gammas)} FROM pairs),
        s AS ({m_stack}),
        cnt AS (SELECT comparison, gamma, count(*) AS c
                FROM s GROUP BY comparison, gamma),
        den AS (SELECT comparison, CAST(sum(c) AS BIGINT) AS d
                FROM cnt GROUP BY comparison),
        lv(comparison, gamma) AS (VALUES {m_levels_values})
        SELECT lv.comparison, lv.gamma,
               CAST(floor(1e9 * (coalesce(cnt.c, 0) / den.d) + 0.5)
                    AS BIGINT) AS m_e9
        FROM lv JOIN den ON lv.comparison = den.comparison
        LEFT JOIN cnt ON lv.comparison = cnt.comparison
                     AND lv.gamma = cnt.gamma
    """

    return {
        "o1_concat": (
            f"SELECT {DOC_UID}, lang, source, n_chars, "
            f"'even' AS source_dataset FROM documents WHERE {DOC_UID} % 2 = 0 "
            f"UNION ALL SELECT {DOC_UID}, lang, source, n_chars, 'odd' "
            f"FROM documents WHERE {DOC_UID} % 2 = 1"
        ),
        "o2_term_frequency": (
            "SELECT lang, count(*) / (SELECT count(*) FROM documents "
            "WHERE lang IS NOT NULL) AS tf_lang FROM documents "
            "WHERE lang IS NOT NULL GROUP BY lang"
        ),
        "o3_concat_with_tf": (
            f"SELECT d.{DOC_UID}, d.lang, d.source, tl.tf_lang, ts.tf_source"
            f" FROM documents d LEFT JOIN (SELECT lang, count(*) / "
            f"(SELECT count(*) FROM documents WHERE lang IS NOT NULL) AS "
            f"tf_lang FROM documents WHERE lang IS NOT NULL GROUP BY lang) tl"
            f" ON d.lang = tl.lang LEFT JOIN (SELECT source, count(*) / "
            f"(SELECT count(*) FROM documents WHERE source IS NOT NULL) AS "
            f"tf_source FROM documents WHERE source IS NOT NULL "
            f"GROUP BY source) ts ON d.source = ts.source"
        ),
        "o4_blocking": _pairs_sql([RULE_1, RULE_2], []),
        "o4_link_only": link_only_sql,
        "o5_salted_blocking": _pairs_sql([RULE_1], []),
        "o5b_governed_blocking": _pairs_sql([RULE_1], []),
        "o6_comparison_vectors": vectors_sql,
        "o7_match_weights": predict_sql,
        "o7_tf_adjusted": tf_adjusted_sql,
        "o8_u_histogram": (
            f"SELECT {gamma_cols}, count(*) AS pattern_count FROM ("
            f"SELECT {', '.join(gammas)} FROM ({u_pairs}) p) v "
            f"GROUP BY {gamma_cols}"
        ),
        "o9_gamma_histogram": (
            f"SELECT {gamma_cols}, count(*) AS pattern_count "
            f"FROM ({vectors_sql}) v GROUP BY {gamma_cols}"
        ),
        "o23_waterfall": match_weight_breakdown_sql(
            settings, f"({vectors_sql}) v", uid=DOC_UID
        ),
        "o10_e_step": _em_e_step_sql(
            settings,
            settings.probability_two_random_records_match,
            f"(SELECT {gamma_cols}, count(*) AS pattern_count "
            f"FROM ({vectors_sql}) v GROUP BY {gamma_cols}) h",
        ),
        "o11_m_step": _em_m_step_sql(
            settings,
            settings.probability_two_random_records_match,
            f"(SELECT {gamma_cols}, count(*) AS pattern_count "
            f"FROM ({vectors_sql}) v GROUP BY {gamma_cols}) h",
        ),
        "o12_em_session": _em_session_sql(
            settings,
            settings.probability_two_random_records_match,
            3,
            f"(SELECT {gamma_cols}, count(*) AS pattern_count "
            f"FROM ({vectors_sql}) v GROUP BY {gamma_cols}) h",
        ),
        "o13_m_pairwise": m_pairwise_sql,
        "o6_templates": templates_sql,
        "o22_errors": errors_sql,
        "o24_unlinkables": unlinkables_sql,
        "o23_viewer": viewer_sql,
        "o26_topk_candidates": f"""
            WITH preds AS ({predict_sql})
            SELECT {DOC_UID}_l, {DOC_UID}_r, candidate_rank,
                   CAST(round(match_weight * 1e9) AS BIGINT) AS mw_e9
            FROM (
                SELECT {DOC_UID}_l, {DOC_UID}_r, match_weight,
                       row_number() OVER (
                           PARTITION BY {DOC_UID}_l
                           ORDER BY match_weight DESC, {DOC_UID}_r
                       ) AS candidate_rank
                FROM preds) t
            WHERE candidate_rank <= 3
        """,
        "o13_m_histogram": (
            f"SELECT {gamma_cols}, count(*) AS pattern_count FROM ("
            f"SELECT {', '.join(gammas)} FROM "
            f"({_pairs_sql([BlockingRule('l.source = r.source')], DOC_COLS)})"
            f" p) v GROUP BY {gamma_cols}"
        ),
        "o18_self_link": (
            f"SELECT {DOC_UID}_l, {DOC_UID}_r, {mw} AS match_weight FROM ("
            f"SELECT {', '.join(gammas)}, {DOC_UID}_l, {DOC_UID}_r FROM ("
            f"SELECT {DOC_UID} AS {DOC_UID}_l, {DOC_UID} AS {DOC_UID}_r, "
            + ", ".join(f"{c} AS {c}_l, {c} AS {c}_r" for c in DOC_COLS)
            + " FROM documents) p) v"
        ),
        "o20_rule_discovery": (
            "SELECT rule, estimated_comparisons FROM ("
            + " UNION ALL ".join(
                f"SELECT '{' AND '.join(f'l.{c} = r.{c}' for c in combo)}'"
                f" AS rule, CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT)"
                f" AS estimated_comparisons FROM (SELECT count(*) AS c "
                f"FROM documents GROUP BY {', '.join(combo)}) t"
                for combo in [
                    ("lang",),
                    ("source",),
                    ("n_chars",),
                    ("lang", "source"),
                    ("lang", "n_chars"),
                    ("source", "n_chars"),
                ]
            )
            + ") u WHERE estimated_comparisons <= 30000"
        ),
        "o14_lambda": (
            f"SELECT least(1.0, (SELECT count(*) FROM documents l JOIN "
            f"documents r ON ({RULE_1.oracle_rule}) AND "
            f"l.{DOC_UID} < r.{DOC_UID}) / 0.8 / "
            f"((SELECT count(*) FROM documents) * "
            f"((SELECT count(*) FROM documents) - 1) / 2)) AS lambda_est"
        ),
        "o15_connected_components": cc_sql,
        "o15b_incremental_cc": cc_sql,
        "o16_cluster_joinback": f"""
            WITH RECURSIVE preds AS ({predict_sql}),
            edges AS (
                SELECT {DOC_UID}_l AS u, {DOC_UID}_r AS v FROM preds
                WHERE match_probability >= 0.5),
            sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
            nodes AS (SELECT DISTINCT u AS n FROM sym),
            reach(n, m) AS (
                SELECT n, n FROM nodes
                UNION
                SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u
            ),
            clus AS (SELECT n AS id, min(m) AS cluster_id
                     FROM reach GROUP BY n)
            SELECT d.{DOC_UID}, d.lang, d.source, d.n_chars,
                   coalesce(c.cluster_id, d.{DOC_UID}) AS cluster_id
            FROM documents d LEFT JOIN clus c ON d.{DOC_UID} = c.id
        """,
        "o25_cluster_metrics": cluster_metrics_sql,
        "o17_incremental": incr_sql,
        "o19_block_census": (
            "SELECT source, lang, count(*) AS block_size, "
            "CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS pairs_in_block"
            " FROM documents GROUP BY source, lang"
        ),
        "o19_cumulative": (
            f"WITH pairs AS ({_pairs_sql([RULE_1, RULE_2], [])}), "
            "counts AS (SELECT match_key, count(*) AS row_count FROM pairs"
            " GROUP BY match_key), "
            "rules(match_key, rule) AS (VALUES "
            f"(0, '{RULE_1.rule}'), (1, '{RULE_2.rule}')) "
            "SELECT r.match_key, r.rule, "
            "CAST(coalesce(c.row_count, 0) AS BIGINT) AS row_count, "
            "CAST(sum(coalesce(c.row_count, 0)) OVER (ORDER BY r.match_key)"
            " AS BIGINT) AS cumulative_rows "
            "FROM rules r LEFT JOIN counts c USING (match_key)"
        ),
        "o21_missingness": (
            " UNION ALL ".join(
                f"SELECT '{c}' AS column_name, "
                f"avg(CASE WHEN {c} IS NULL THEN 1.0 ELSE 0.0 END) "
                f"AS null_share FROM documents"
                for c in ["doc_id", "text", "lang", "source", "n_chars"]
            )
        ),
        "o21_profile_values": (
            "SELECT CAST(lang AS VARCHAR) AS value, value_count, "
            "value_count / (SELECT count(*) FROM documents) AS share, "
            "value_rank FROM (SELECT lang, count(*) AS value_count, "
            "row_number() OVER (ORDER BY count(*) DESC, lang) AS value_rank "
            "FROM documents GROUP BY lang) t WHERE value_rank <= 10"
        ),
        "o22_truth_space": truth_sql,
        "dedup_exact": (
            f"WITH planted AS ({planted}), fp AS (SELECT {DOC_UID}, "
            f"{doc_fingerprint_sql('text')} AS fingerprint FROM planted), "
            f"groups AS (SELECT fingerprint, min({DOC_UID}) AS canonical_id,"
            f" count(*) AS group_size FROM fp GROUP BY fingerprint) "
            f"SELECT f.{DOC_UID}, f.fingerprint, g.canonical_id, "
            f"g.group_size FROM fp f JOIN groups g USING (fingerprint) "
            f"WHERE g.group_size >= 2"
        ),
        "dedup_minhash": minhash_sql,
        "dedup_ngram_jaccard": ngram_sql,
        # planted-copy recovery: exact copies share identical simhash
        # fingerprints, so the chunk-bucket path MUST emit them at
        # hamming 0; missing any planted pair fails rows+hash
        "dedup_simhash": (
            f"SELECT {DOC_UID} AS {DOC_UID}_l, "
            f"{DOC_UID} + 100000 AS {DOC_UID}_r, 0 AS hamming "
            f"FROM documents WHERE {DOC_UID} % 10 = 0"
        ),
        # the Spark side computes recall@1 vs brute force and returns a
        # boolean gate; the oracle asserts the gate holds
        "sim_topk_ivf": (
            "SELECT count(*) AS n_queries, true AS recall_ok "
            "FROM embeddings WHERE vec_id < 50"
        ),
        "sim_topk_lsh": (
            "SELECT count(*) AS n_queries, true AS recall_ok "
            "FROM embeddings WHERE vec_id < 50"
        ),
        # md5 recomputed by DuckDB over the same bytes the pandas UDF
        # hashed inside the executor (NULL text -> empty payload)
        "multimodal_features": (
            f"SELECT {DOC_UID} AS media_id, CAST(16 AS INTEGER) AS "
            f"feature_dim, md5(coalesce(text, '')) AS payload_md5 "
            f"FROM documents"
        ),
        # the synthesis formulas replayed in SQL; the Spark side must
        # recover these exact values by parsing the generated bytes
        "multimodal_meta": f"""
            SELECT {DOC_UID} AS media_id,
                   CASE {DOC_UID} % 4
                        WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                        WHEN 2 THEN 'pcm_s16le' ELSE 'gif' END AS codec,
                   CASE {DOC_UID} % 4
                        WHEN 0 THEN CAST(coalesce(n_chars, 0) % 31 + 1
                                         AS INTEGER)
                        WHEN 1 THEN CAST(coalesce(n_chars, 0) % 23 + 1
                                         AS INTEGER)
                        WHEN 2 THEN NULL
                        ELSE CAST(coalesce(n_chars, 0) % 50 + 1
                                  AS INTEGER) END AS width,
                   CASE {DOC_UID} % 4
                        WHEN 0 THEN CAST({DOC_UID} % 17 + 1 AS INTEGER)
                        WHEN 1 THEN CAST({DOC_UID} % 13 + 1 AS INTEGER)
                        WHEN 2 THEN NULL
                        ELSE CAST({DOC_UID} % 40 + 1 AS INTEGER)
                   END AS height,
                   CASE WHEN {DOC_UID} % 4 = 2
                        THEN CAST(round(1000 * ((({DOC_UID} % 5) + 1)
                             * 800 * 2 / 16000)) AS BIGINT)
                        ELSE NULL END AS duration_ms
            FROM documents
        """,
        # storage loop: the spark side routed documents through TWO
        # iceberg-lite snapshot commits and per-partition pruned scans;
        # the oracle reads the same rows straight from parquet. A wrong
        # manifest walk, partition filter, or lost row anywhere breaks
        # n_docs/sum_chars; rows_selected (scan lineage) must equal
        # n_docs or pruning selected the wrong files
        "iceberg_lite_scan": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(coalesce(n_chars, 0)) AS BIGINT)
                       AS sum_chars,
                   CAST(count(*) AS BIGINT) AS rows_selected
            FROM documents WHERE lang IS NOT NULL GROUP BY lang
        """,
        # equality-delete replay: each snapshot state is a plain
        # filter over the raw table (delete = % 7, re-add = % 21;
        # a re-added row survives the earlier delete, so s3 = kept
        # UNION re-added). Spark reads the SAME states through
        # iceberg-lite time travel + delete anti-joins.
        "iceberg_lite_deletes": f"""
            WITH d AS (
                SELECT {DOC_UID} AS uid, lang,
                       coalesce(n_chars, 0) AS nc
                FROM documents),
            states AS (
                SELECT 's1_initial' AS snap, uid, nc FROM d
                UNION ALL
                SELECT 's2_deleted', uid, nc FROM d WHERE uid % 7 <> 0
                UNION ALL
                SELECT 's3_readded', uid, nc FROM d
                WHERE uid % 7 <> 0 OR uid % 21 = 0
                UNION ALL
                SELECT 's3_pruned', uid, nc FROM d
                WHERE (uid % 7 <> 0 OR uid % 21 = 0)
                  AND lang = (SELECT min(lang) FROM d
                              WHERE lang IS NOT NULL)
            )
            SELECT snap,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(uid) AS BIGINT) AS sum_ids,
                   CAST(sum(nc) AS BIGINT) AS sum_chars
            FROM states GROUP BY snap
        """,
        # add-column evolution replay: s1 has NO n_chars column (NULL
        # sum), the evolved state is all original rows (null n_chars)
        # plus the appended % 5 subset carrying it
        "iceberg_lite_evolution": f"""
            WITH d AS (
                SELECT {DOC_UID} AS uid, lang,
                       coalesce(n_chars, 0) AS nc
                FROM documents),
            states AS (
                SELECT 's1_initial' AS snap, uid,
                       CAST(NULL AS BIGINT) AS nc FROM d
                UNION ALL
                SELECT 's2_evolved', uid, CAST(NULL AS BIGINT) FROM d
                UNION ALL
                SELECT 's2_evolved', uid, CAST(nc AS BIGINT) FROM d
                WHERE uid % 5 = 0
                UNION ALL
                SELECT 's2_pruned', uid, CAST(NULL AS BIGINT) FROM d
                WHERE lang = (SELECT min(lang) FROM d
                              WHERE lang IS NOT NULL)
                UNION ALL
                SELECT 's2_pruned', uid, CAST(nc AS BIGINT) FROM d
                WHERE uid % 5 = 0
                  AND lang = (SELECT min(lang) FROM d
                              WHERE lang IS NOT NULL)
                UNION ALL
                SELECT 's3_renamed', uid, CAST(NULL AS BIGINT) FROM d
                UNION ALL
                SELECT 's3_renamed', uid, CAST(nc AS BIGINT) FROM d
                WHERE uid % 5 = 0
                UNION ALL
                SELECT 's4_dropped', uid, CAST(NULL AS BIGINT) FROM d
                UNION ALL
                SELECT 's4_dropped', uid, CAST(NULL AS BIGINT) FROM d
                WHERE uid % 5 = 0
                UNION ALL
                SELECT 's2_after_drop', uid, CAST(NULL AS BIGINT) FROM d
                UNION ALL
                SELECT 's2_after_drop', uid, CAST(nc AS BIGINT) FROM d
                WHERE uid % 5 = 0
            )
            SELECT snap,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(uid) AS BIGINT) AS sum_ids,
                   CAST(sum(nc) AS BIGINT) AS sum_chars
            FROM states GROUP BY snap
        """,
        # partition-transform replay: DuckDB recomputes the day slice
        # with date arithmetic and the bucket with its own md5, so the
        # two engines' transform derivations must agree exactly
        "iceberg_lite_transforms": """
            WITH e AS (
                SELECT event_id, ts FROM events WHERE event_id < 2000),
            states AS (
                SELECT 'day_pruned' AS state, event_id FROM e
                WHERE strftime(ts, '%Y-%m-%d') = '2024-01-01'
                UNION ALL
                SELECT 'bucket_0', event_id FROM e
                WHERE (('0x' || substr(
                        md5(CAST(event_id AS VARCHAR)), 1, 15
                       ))::BIGINT) % 4 = 0
                UNION ALL
                SELECT 'full', event_id FROM e
            )
            SELECT state,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(event_id) AS BIGINT) AS sum_ids
            FROM states GROUP BY state
        """,
        # the pixel-value formulas replayed relationally: unnest(range)
        # builds the (x, y) grid per image; the Spark side must recover
        # the exact per-channel pixel sums by decoding the REAL
        # container bytes (BMP strides, PNG zlib + Sub/Up/Average/Paeth
        # unfiltering — the synth uses filter y % 5 per scanline)
        "multimodal_decode": f"""
            WITH m AS (
                SELECT {DOC_UID} AS media_id,
                       CAST(coalesce(n_chars, 0) AS BIGINT) AS nc
                FROM documents),
            dims AS (
                SELECT media_id,
                       CASE media_id % 4 WHEN 0 THEN 'bmp'
                            WHEN 2 THEN CASE
                                 WHEN (media_id // 4) % 3 = 1
                                 THEN 'gif_anim' ELSE 'gif' END
                            WHEN 3 THEN CASE
                                 WHEN (media_id // 4) % 2 = 1
                                 THEN 'jpeg_p' ELSE 'jpeg' END
                            ELSE CASE media_id % 3
                                 WHEN 1 THEN 'png_pal'
                                 WHEN 2 THEN 'png16'
                                 ELSE CASE
                                      WHEN (media_id // 12) % 2 = 1
                                      THEN 'png_i' ELSE 'png' END
                            END
                       END AS codec,
                       CASE media_id % 4
                            WHEN 0 THEN nc % 31 + 1
                            WHEN 2 THEN nc % 19 + CASE
                                 WHEN (media_id // 4) % 3 = 1
                                 THEN 3 ELSE 1 END
                            WHEN 3 THEN nc % 29 + 1
                            ELSE nc % 23 + 1 END AS width,
                       CASE media_id % 4
                            WHEN 0 THEN media_id % 17 + 1
                            WHEN 2 THEN media_id % 11 + CASE
                                 WHEN (media_id // 4) % 3 = 1
                                 THEN 3 ELSE 1 END
                            WHEN 3 THEN media_id % 15 + 1
                            ELSE media_id % 13 + 1 END AS height,
                       -- palette size 2^depth, depth = 1<<((id//4)%4)
                       CASE ((media_id // 4) % 4)
                            WHEN 0 THEN 2 WHEN 1 THEN 4
                            WHEN 2 THEN 16 ELSE 256 END AS npal
                FROM m),
            px AS (
                SELECT *, unnest(range(width)) AS x FROM dims),
            pxy AS (
                SELECT *, unnest(range(height)) AS y FROM px),
            vals AS (
                SELECT media_id, codec, width, height,
                       CASE WHEN codec IN ('png', 'png_i', 'png16')
                            THEN (3 * x + y + media_id) % 256
                            WHEN codec = 'png_pal'
                            THEN (x + y + media_id) % npal
                            WHEN codec IN ('jpeg', 'jpeg_p')
                            -- DC-exact blocks: value depends only on
                            -- the 8x8 block coordinates
                            THEN (3 * (x // 8) + 2 * (y // 8)
                                  + media_id) % 256
                            WHEN codec = 'gif_anim'
                            -- frame 1 (inset rect, +31 formula shift)
                            -- composited over frame 0
                            THEN CASE WHEN x >= 1 AND x < width - 1
                                       AND y >= 1 AND y < height - 1
                                 THEN (x + 2 * y + media_id + 31) % 256
                                 ELSE (x + 2 * y + media_id) % 256 END
                            ELSE (x + 2 * y + media_id) % 256
                       END AS base
                FROM pxy)
            SELECT media_id, codec,
                   CAST(width AS BIGINT) AS width,
                   CAST(height AS BIGINT) AS height,
                   CAST(sum(CASE codec WHEN 'bmp'
                            THEN (base + 170) % 256
                            WHEN 'gif' THEN base
                            WHEN 'jpeg' THEN base
                            WHEN 'jpeg_p' THEN base
                            WHEN 'png_pal' THEN (7 * base + media_id) % 256
                            ELSE base END) AS BIGINT) AS sum_r,
                   CAST(sum(CASE codec WHEN 'bmp'
                            THEN (base + 85) % 256
                            WHEN 'gif' THEN (base + 85) % 256
                            WHEN 'gif_anim' THEN (base + 85) % 256
                            WHEN 'jpeg' THEN base
                            WHEN 'jpeg_p' THEN base
                            WHEN 'png_pal' THEN (13 * base + media_id) % 256
                            ELSE (base + 60) % 256 END) AS BIGINT)
                       AS sum_g,
                   CAST(sum(CASE codec WHEN 'bmp'
                            THEN base
                            WHEN 'gif' THEN (base + 170) % 256
                            WHEN 'gif_anim' THEN (base + 170) % 256
                            WHEN 'jpeg' THEN base
                            WHEN 'jpeg_p' THEN base
                            WHEN 'png_pal' THEN (29 * base + media_id) % 256
                            ELSE (base + 120) % 256 END) AS BIGINT)
                       AS sum_b
            FROM vals
            GROUP BY media_id, codec, width, height
        """,
        "dedup_embedding": (
            "SELECT vec_id_l, vec_id_r, cosine FROM ("
            "SELECT l.vec_id AS vec_id_l, r.vec_id AS vec_id_r, "
            "round(list_cosine_similarity(l.embedding::DOUBLE[], "
            "r.embedding::DOUBLE[]), 6) AS cosine "
            "FROM embeddings l JOIN embeddings r "
            "ON l.label = r.label AND l.vec_id < r.vec_id) t "
            "WHERE round(cosine, 6) >= 0.3"
        ),
        # ::DOUBLE[] casts: Spark computes cosine in double; DuckDB's
        # float32 path diverges in the last ulps otherwise
        "sim_topk_bruteforce": (
            "SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank "
            "FROM (SELECT q.vec_id AS query_id, c.vec_id, "
            "list_cosine_similarity(q.embedding::DOUBLE[], "
            "c.embedding::DOUBLE[]) AS cosine, "
            "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "list_cosine_similarity(q.embedding::DOUBLE[], "
            "c.embedding::DOUBLE[]) DESC, "
            "c.vec_id) AS rank FROM embeddings q JOIN embeddings c "
            "ON c.vec_id != q.vec_id WHERE q.vec_id < 10) t "
            "WHERE rank <= 5"
        ),
        "events_sessions": """
            WITH base AS (
                SELECT user_id, event_id, event_type, value, props,
                       epoch_us(ts) AS us,
                       lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_us
                FROM events),
            s AS (
                SELECT *, CAST(sum(CASE WHEN prev_us IS NULL
                                   OR us - prev_us > 1800000000
                              THEN 1 ELSE 0 END) OVER (
                        PARTITION BY user_id ORDER BY us, event_id
                    ) AS BIGINT) AS session_idx
                FROM base)
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   max(us) - min(us) AS duration_us,
                   CAST(round(sum(value) * 100) AS BIGINT)
                       AS sum_value_e2,
                   CAST(sum(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
                   max(CAST(regexp_extract(props, '[0-9]+', 0)
                            AS INTEGER)) AS max_k
            FROM s GROUP BY user_id, session_idx
        """,
        # DuckDB's own JSON engine replays the extraction — a
        # cross-check of two independent JSON parsers' semantics
        "events_json_props": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(props->>'$.k' AS BIGINT))
                        AS BIGINT) AS sum_k,
                   CAST(sum(CASE WHEN CAST(props->>'$.k' AS BIGINT)
                                      % 2 = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_even
            FROM events GROUP BY event_type
        """,
        "text_stats": (
            f"SELECT {DOC_UID}, {token_count_sql('text')} AS n_tokens, "
            f"{doc_fingerprint_sql('text')} AS fingerprint, "
            f"{_stopword_share_sql('en')} AS score_en, "
            f"{_stopword_share_sql('es')} AS score_es FROM documents"
        ),
        "text_quality": (
            f"SELECT {DOC_UID}, length(text) AS q_chars, "
            f"{token_count_sql('text')} AS n_tokens, "
            f"length(regexp_replace(text, '[\\w\\s]', '', 'g')) / "
            f"greatest(length(text), 1) AS punct_ratio, "
            f"{_stopword_hits_sql('en')} / "
            f"greatest({token_count_sql('text')}, 1) AS stopword_ratio "
            f"FROM documents"
        ),
        "webtext_extract": _webtext_extract_sql(),
        "webtext_canonical_url": _webtext_canonical_url_sql(),
        "curate_stratified_sample": (
            f"SELECT {DOC_UID}, lang, sample_rank FROM ("
            f"SELECT {DOC_UID}, lang, CAST(ROW_NUMBER() OVER ("
            f"PARTITION BY lang ORDER BY "
            f"md5(CAST({DOC_UID} AS VARCHAR) || ':7'), {DOC_UID}"
            f") AS BIGINT) AS sample_rank FROM documents"
            f") WHERE sample_rank <= 30"
        ),
        "curate_weighted_mix": (
            f"SELECT {DOC_UID}, lang, sample_rank FROM ("
            f"SELECT {DOC_UID}, lang, CAST(ROW_NUMBER() OVER ("
            f"PARTITION BY lang ORDER BY "
            f"md5(CAST({DOC_UID} AS VARCHAR) || ':5'), {DOC_UID}"
            f") AS BIGINT) AS sample_rank FROM documents) t "
            f"JOIN (VALUES ('en', 60), ('es', 30), ('fr', 10)) "
            f"q(lang_q, quota) ON t.lang = q.lang_q "
            f"WHERE sample_rank <= quota"
        ),
        "curate_pack_shards": (
            f"WITH t AS (SELECT {DOC_UID}, "
            f"CAST(coalesce({token_count_sql('text')}, 0) AS BIGINT) "
            f"AS n_tokens, md5(CAST({DOC_UID} AS VARCHAR)) AS k "
            f"FROM documents) "
            f"SELECT {DOC_UID}, n_tokens, "
            f"CAST(ROW_NUMBER() OVER (ORDER BY k, {DOC_UID}) AS BIGINT) "
            f"AS pack_pos, "
            f"CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY k, {DOC_UID} "
            f"ROWS UNBOUNDED PRECEDING) - n_tokens) / 5000) AS BIGINT) "
            f"AS shard_id FROM t"
        ),
        "dedup_bloom_incremental": _bloom_incremental_sql(),
        "text_boilerplate": _text_boilerplate_sql(),
        "text_pii_redact": _text_pii_redact_sql(),
        "text_repeated_spans": _text_repeated_spans_sql(),
        "o21_completeness": (
            f"WITH u AS ("
            f"SELECT text, lang, source, 'left' AS source_dataset "
            f"FROM documents UNION ALL "
            f"SELECT text, CASE WHEN {DOC_UID} % 4 = 0 THEN NULL "
            f"ELSE lang END AS lang, source, 'right' AS source_dataset "
            f"FROM documents) "
            f"SELECT source_dataset, column_name, completeness FROM ("
            f"SELECT source_dataset, "
            f"avg(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END) AS text, "
            f"avg(CASE WHEN lang IS NOT NULL THEN 1.0 ELSE 0.0 END) AS lang, "
            f"avg(CASE WHEN source IS NOT NULL THEN 1.0 ELSE 0.0 END) AS source "
            f"FROM u GROUP BY source_dataset) "
            f"UNPIVOT (completeness FOR column_name IN (text, lang, source))"
        ),
        "text_length_profile": (
            f"SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            f"quantile_cont(tc, 0.5) AS p50_tokens, "
            f"quantile_cont(tc, 0.9) AS p90_tokens, "
            f"avg(length(text)) AS mean_chars FROM ("
            f"SELECT lang, text, {token_count_sql('text')} AS tc "
            f"FROM documents) GROUP BY lang"
        ),
    }


def _text_repeated_spans_sql() -> str:
    from splink_spark.operators.textprep import repeated_spans_sql

    return repeated_spans_sql(
        f"(SELECT {DOC_UID}, text FROM ({_PLANTED_SQL}))",
        id_col=DOC_UID,
        k=10,
        min_docs=2,
    )


def _text_boilerplate_sql() -> str:
    """DuckDB replay of q_text_boilerplate: same constructed template
    suffix, same shingle builder (word_shingles_sql), same distinct-
    shingle doc-frequency threshold and per-doc share."""
    sh = word_shingles_sql("text", 8)
    return f"""
        WITH t AS (
            SELECT {DOC_UID},
                   text || ' visit ' || source || '{_TEMPLATE_SUFFIX}'
                       AS text
            FROM documents
        ), ex AS (
            SELECT {DOC_UID}, unnest(list_distinct({sh})) AS shingle
            FROM t
        ), boiler AS (
            SELECT shingle FROM ex GROUP BY shingle
            HAVING count(*) >= 5
        )
        SELECT e.{DOC_UID},
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boilerplate,
               CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
                   / greatest(CAST(count(*) AS BIGINT), 1)
                   AS boilerplate_share
        FROM ex e LEFT JOIN boiler b USING (shingle)
        GROUP BY e.{DOC_UID}
    """


def _text_pii_redact_sql() -> str:
    from splink_spark.operators.textprep import (
        pii_counts_sql,
        redact_pii_sql,
    )

    counts = pii_counts_sql("pii_text")
    count_cols = ", ".join(
        f"{sql} AS {name}" for name, sql in counts.items()
    )
    return f"""
        WITH t AS (
            SELECT {DOC_UID},
                   text || ' contact user' || CAST({DOC_UID} AS VARCHAR)
                        || '@example.com or +1 555 01'
                        || CAST({DOC_UID} AS VARCHAR)
                        || ' node 10.0.'
                        || CAST({DOC_UID} % 256 AS VARCHAR) || '.'
                        || CAST({DOC_UID} % 100 AS VARCHAR) AS pii_text
            FROM documents
        )
        SELECT {DOC_UID}, {count_cols},
               md5({redact_pii_sql('pii_text')}) AS redacted_md5
        FROM t
    """


def _bloom_incremental_sql() -> str:
    """DuckDB replay of q_dedup_bloom: same md5 fingerprints, same k=4
    position strings (first 4 hex chars of md5(fp || ':i')), same
    distinct-position build + probe joins."""
    fp = doc_fingerprint_sql("text")
    return f"""
        WITH base AS (
            SELECT {DOC_UID}, {fp} AS fingerprint
            FROM documents WHERE {DOC_UID} % 3 <> 0
        ), incoming AS (
            SELECT {DOC_UID}, {fp} AS fingerprint
            FROM documents WHERE {DOC_UID} % 3 = 0
            UNION ALL
            SELECT b.{DOC_UID} + 500000 AS {DOC_UID}, b.fingerprint
            FROM base b WHERE b.{DOC_UID} % 9 = 1
        ), ks AS (
            SELECT * FROM (VALUES (1), (2), (3), (4)) t(i)
        ), bpos AS (
            SELECT DISTINCT substr(
                md5(fingerprint || ':' || CAST(i AS VARCHAR)), 1, 4
            ) AS pos
            FROM base CROSS JOIN ks
        ), probes AS (
            SELECT {DOC_UID}, fingerprint, substr(
                md5(fingerprint || ':' || CAST(i AS VARCHAR)), 1, 4
            ) AS pos
            FROM incoming CROSS JOIN ks
        )
        SELECT p.{DOC_UID}, p.fingerprint,
               CAST(count(b.pos) AS BIGINT) AS hits,
               count(b.pos) = 4 AS maybe_duplicate
        FROM probes p LEFT JOIN bpos b USING (pos)
        GROUP BY p.{DOC_UID}, p.fingerprint
    """


def _webtext_canonical_url_sql() -> str:
    from splink_spark.functions.text import url_domain_sql
    from splink_spark.operators.webtext import canonical_url_sql

    canon = canonical_url_sql("url_raw")
    return f"""
        WITH t AS (
            SELECT {DOC_UID},
                   'HTTP://SRC' || CAST({DOC_UID} % 5 AS VARCHAR)
                       || '.Example.COM:80/Doc/'
                       || CAST({DOC_UID} AS VARCHAR)
                       || '/?utm_source=x&q=' || CAST({DOC_UID} AS VARCHAR)
                       || '#f' || CAST({DOC_UID} AS VARCHAR) AS url_raw
            FROM documents
        )
        SELECT {DOC_UID}, {canon} AS url_canonical,
               {url_domain_sql(canon)} AS bk_domain
        FROM t
    """


def _webtext_extract_sql() -> str:
    """DuckDB replay of q_webtext_extract: constructs the SAME html
    wrapper, then re-extracts with RE2 — cross-engine extraction check."""
    from splink_spark.functions.text import normalize_text_sql, url_domain_sql

    title_norm = normalize_text_sql("title_x")
    return f"""
        WITH pages AS (
            SELECT {DOC_UID},
                   'https://' || source || '.example.' ||
                       (['com','org','net'])[CAST({DOC_UID} % 3 + 1 AS INTEGER)] ||
                       '/doc/' || CAST({DOC_UID} AS VARCHAR) AS url,
                   '<html><title>' ||
                       concat_ws(' ', 'Doc', CAST({DOC_UID} AS VARCHAR),
                                 upper(source), '#1!') ||
                       '</title><body>' || text || '</body></html>' AS html,
                   text
            FROM documents
        ), ex AS (
            SELECT {DOC_UID}, url, text,
                   regexp_extract(html, '(?s)<title>(.*?)</title>', 1)
                       AS title_x,
                   regexp_extract(html, '(?s)<body>(.*)</body>', 1)
                       AS text_x
            FROM pages
        )
        SELECT {DOC_UID},
               {url_domain_sql('url')} AS bk_domain,
               regexp_replace({title_norm}, '\\s', '', 'g') AS bk_title,
               md5(text_x) AS text_md5,
               text_x = text AS byte_identical
        FROM ex
    """


def _stopword_share_sql(lang: str) -> str:
    from splink_spark.functions.text import _LANG_STOPWORDS, tokens_sql

    words = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS[lang])
    t = tokens_sql("text")
    return (
        f"len(list_intersect(list_distinct({t}), [{words}])) / "
        f"greatest(len({t}), 1)"
    )


def _stopword_hits_sql(lang: str) -> str:
    from splink_spark.functions.text import _LANG_STOPWORDS, tokens_sql

    words = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS[lang])
    t = tokens_sql("text")
    return (
        f"len(list_filter({t}, x -> list_contains([{words}], x)))"
    )


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Fellegi–Sunter dedupe of documents (with planted
    duplicates) — block, score, threshold, cluster — on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    settings = documents_settings()
    docs = _planted_dupes(_docs(spark, sf_dir))
    pairs = block_using_rules(
        docs, settings.blocking_rules, uid=DOC_UID, retain_columns=DOC_COLS
    )
    preds = predict_from_comparison_vectors(
        compute_comparison_vectors(pairs, settings),
        settings,
        threshold_match_probability=0.9,
    )
    edges = preds.select(f"{DOC_UID}_l", f"{DOC_UID}_r")
    comps = connected_components(
        edges, src=f"{DOC_UID}_l", dst=f"{DOC_UID}_r"
    )
    return comps.select(
        F.col("unique_id").alias(DOC_UID), "cluster_id"
    )
