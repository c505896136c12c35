"""EM core vs an independent numpy reference + planted-mixture recovery
(SURVEY.md §5.3: numeric convergence tests,
reference: tests/test_u_train.py / test_correctness_of_convergence.py).
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from splink_spark.operators.training import em_fit


def _naive_em_once(patterns, counts, m, u, lam):
    """Independent single-iteration reference (loops, no vectorization)."""
    n, C = patterns.shape
    probs = np.zeros(n)
    for i in range(n):
        pm, pu = lam, 1 - lam
        for c in range(C):
            g = patterns[i, c]
            if g == -1:
                continue
            pm *= m[c][g]
            pu *= u[c][g]
        probs[i] = pm / (pm + pu)
    new_m = []
    new_u = []
    for c in range(C):
        K = len(m[c])
        nm = np.zeros(K)
        nu = np.zeros(K)
        dm = du = 0.0
        for i in range(n):
            g = patterns[i, c]
            if g == -1:
                continue
            nm[g] += probs[i] * counts[i]
            nu[g] += (1 - probs[i]) * counts[i]
            dm += probs[i] * counts[i]
            du += (1 - probs[i]) * counts[i]
        new_m.append(nm / dm)
        new_u.append(nu / du)
    new_lam = (probs * counts).sum() / counts.sum()
    return new_m, new_u, new_lam


def test_em_single_iteration_matches_naive():
    rng = np.random.default_rng(3)
    C, K = 3, 3
    patterns = np.array(
        [list(p) for p in np.ndindex(K, K, K)], dtype=np.int64
    )
    # add some null gammas
    patterns = np.vstack([patterns, [[-1, 0, 2], [1, -1, -1]]])
    counts = rng.integers(1, 100, len(patterns)).astype(np.float64)
    m = [np.array([0.1, 0.2, 0.7])] * C
    u = [np.array([0.7, 0.2, 0.1])] * C
    lam = 0.3
    res = em_fit(
        patterns, counts, [K] * C, m, u, lam, max_iterations=1, tol=0.0
    )
    em, eu, elam = _naive_em_once(patterns, counts, m, u, lam)
    for c in range(C):
        np.testing.assert_allclose(res.m[c], em[c], atol=1e-12)
        np.testing.assert_allclose(res.u[c], eu[c], atol=1e-12)
    assert res.lam == pytest.approx(elam, abs=1e-12)


def test_em_recovers_planted_mixture():
    """Generate a histogram from known m/u/lambda; EM from a perturbed
    start must recover the parameters. Three comparisons: a 2-component
    mixture of independent categoricals needs >= 3 observed variables to
    be identifiable (with 2 the likelihood has a ridge and EM lands on a
    different parameterization of the same distribution)."""
    true_m = [
        np.array([0.05, 0.15, 0.8]),
        np.array([0.1, 0.9]),
        np.array([0.2, 0.8]),
    ]
    true_u = [
        np.array([0.85, 0.1, 0.05]),
        np.array([0.95, 0.05]),
        np.array([0.9, 0.1]),
    ]
    true_lam = 0.2
    N = 2_000_000
    patterns = np.array(
        [[a, b, c] for a in range(3) for b in range(2) for c in range(2)],
        dtype=np.int64,
    )
    counts = np.zeros(len(patterns))
    for i, (a, b, c) in enumerate(patterns):
        p_match = true_lam * true_m[0][a] * true_m[1][b] * true_m[2][c]
        p_non = (1 - true_lam) * true_u[0][a] * true_u[1][b] * true_u[2][c]
        counts[i] = N * (p_match + p_non)

    m0 = [np.array([0.2, 0.2, 0.6]), np.array([0.3, 0.7]), np.array([0.4, 0.6])]
    u0 = [np.array([0.6, 0.3, 0.1]), np.array([0.7, 0.3]), np.array([0.6, 0.4])]
    res = em_fit(
        patterns, counts, [3, 2, 2], m0, u0, 0.5, tol=1e-12,
        max_iterations=2000,
    )
    assert res.converged
    np.testing.assert_allclose(res.lam, true_lam, atol=1e-3)
    for c in range(3):
        np.testing.assert_allclose(res.m[c], true_m[c], atol=1e-3)
        np.testing.assert_allclose(res.u[c], true_u[c], atol=1e-3)


def test_em_fixed_u_only_trains_m():
    patterns = np.array([[0], [1]], dtype=np.int64)
    counts = np.array([50.0, 50.0])
    u0 = [np.array([0.6, 0.4])]
    res = em_fit(
        patterns, counts, [2], [np.array([0.4, 0.6])], u0, 0.5,
        fixed_u=True, max_iterations=5, tol=0.0,
    )
    np.testing.assert_allclose(res.u[0], u0[0])


def test_em_empty_histogram_no_crash():
    res = em_fit(
        np.zeros((0, 1), dtype=np.int64),
        np.zeros(0),
        [2],
        [np.array([0.5, 0.5])],
        [np.array([0.5, 0.5])],
        0.3,
    )
    assert res.converged


def test_m_from_pairwise_labels_matches_label_column(spark):
    """A labelled pair table of ALL within-cluster pairs must produce
    the same m estimates as blocking on the label column itself.
    reference: splink/m_from_labels.py::estimate_m_from_pairwise_labels."""
    from pyspark.sql import functions as F

    from splink_spark.fixtures.persons import persons_dataframe
    from splink_spark.functions.comparators import (
        exact_match,
        levenshtein_at_thresholds,
    )
    from splink_spark.model import Settings, BlockingRule
    from splink_spark.operators.training import (
        estimate_m_from_label_column,
        estimate_m_from_pairwise_labels,
    )

    persons = persons_dataframe(spark, n_entities=60, seed=3)
    settings = Settings(
        comparisons=[
            levenshtein_at_thresholds("surname", 2),
            exact_match("city"),
        ],
        blocking_rules=[BlockingRule(rule="l.city = r.city")],
    )
    from splink_spark.functions.udfs import register_udfs

    register_udfs(spark)

    m_col = estimate_m_from_label_column(persons, settings, "cluster")

    labels = (
        persons.alias("l")
        .join(
            persons.alias("r"),
            F.expr("l.cluster = r.cluster AND l.unique_id < r.unique_id"),
        )
        .select(
            F.col("l.unique_id").alias("unique_id_l"),
            F.col("r.unique_id").alias("unique_id_r"),
            F.lit(1.0).alias("clerical_match_score"),
        )
    )
    m_pair = estimate_m_from_pairwise_labels(persons, settings, labels)
    for a, b in zip(m_col, m_pair):
        np.testing.assert_allclose(a, b, rtol=1e-12)


def test_m_from_pairwise_labels_drops_low_scores(spark):
    from pyspark.sql import functions as F

    from splink_spark.fixtures.persons import persons_dataframe
    from splink_spark.functions.comparators import exact_match
    from splink_spark.model import Settings, BlockingRule
    from splink_spark.operators.training import (
        estimate_m_from_pairwise_labels,
    )

    persons = persons_dataframe(spark, n_entities=30, seed=5)
    settings = Settings(
        comparisons=[exact_match("city")],
        blocking_rules=[BlockingRule(rule="l.city = r.city")],
    )
    # true within-cluster pairs scored 1.0 plus garbage cross-cluster
    # pairs scored 0.0 — the garbage must not contaminate m
    good = (
        persons.alias("l")
        .join(
            persons.alias("r"),
            F.expr("l.cluster = r.cluster AND l.unique_id < r.unique_id"),
        )
        .select(
            F.col("l.unique_id").alias("unique_id_l"),
            F.col("r.unique_id").alias("unique_id_r"),
            F.lit(1.0).alias("clerical_match_score"),
        )
    )
    bad = (
        persons.alias("l")
        .join(
            persons.alias("r"),
            F.expr("l.cluster + 1 = r.cluster"),
        )
        .select(
            F.col("l.unique_id").alias("unique_id_l"),
            F.col("r.unique_id").alias("unique_id_r"),
            F.lit(0.0).alias("clerical_match_score"),
        )
    )
    m_clean = estimate_m_from_pairwise_labels(persons, settings, good)
    m_mixed = estimate_m_from_pairwise_labels(
        persons, settings, good.unionByName(bad)
    )
    for a, b in zip(m_clean, m_mixed):
        np.testing.assert_allclose(a, b, rtol=1e-12)


def test_em_fixed_m_only_trains_u_and_lambda():
    """fix_m_probabilities: m stays at its init; u and lambda move.
    reference: splink/settings.py fix_m_probabilities option."""
    rng = np.random.default_rng(0)
    patterns = rng.integers(0, 2, size=(40, 2))
    counts = rng.integers(1, 50, size=40).astype(float)
    m0 = [np.array([0.2, 0.8]), np.array([0.3, 0.7])]
    u0 = [np.array([0.9, 0.1]), np.array([0.85, 0.15])]
    res = em_fit(
        patterns, counts, [2, 2], m0, u0, 0.3,
        fixed_m=True, max_iterations=10, tol=1e-12,
    )
    for got, init in zip(res.m, m0):
        np.testing.assert_array_equal(got, init)
    assert any(
        not np.array_equal(got, init) for got, init in zip(res.u, u0)
    )
    assert res.lam != 0.3


def test_em_param_history_snapshots():
    rng = np.random.default_rng(1)
    patterns = rng.integers(0, 2, size=(20, 1))
    counts = np.ones(20)
    res = em_fit(
        patterns, counts, [2],
        [np.array([0.4, 0.6])], [np.array([0.7, 0.3])], 0.5,
        max_iterations=5, tol=1e-12,
    )
    # one snapshot per completed iteration plus the initial state
    assert len(res.param_history) == res.iterations + 1
    assert res.param_history[0]["iteration"] == 0
    assert res.param_history[0]["lam"] == 0.5
    assert res.param_history[-1]["lam"] == res.lam
    assert res.param_history[-1]["m"][0] == res.m[0].tolist()


def test_session_fix_m_leaves_model_untouched(spark):
    from splink_spark.fixtures.persons import persons_dataframe
    from splink_spark.functions.comparators import exact_match
    from splink_spark.model import Settings, BlockingRule
    from splink_spark.operators.training import (
        estimate_parameters_using_em,
    )

    persons = persons_dataframe(spark, n_entities=50, seed=9)
    settings = Settings(
        comparisons=[exact_match("surname"), exact_match("city")],
        blocking_rules=[BlockingRule(rule="l.dob = r.dob")],
        probability_two_random_records_match=0.01,
    )
    for comp in settings.comparisons:
        for lv, mv, uv in zip(comp.scored_levels, (0.9, 0.1), (0.05, 0.95)):
            lv.m_probability = mv
            lv.u_probability = uv
    before_m = [
        [lv.m_probability for lv in c.scored_levels]
        for c in settings.comparisons
    ]
    before_u = [
        [lv.u_probability for lv in c.scored_levels]
        for c in settings.comparisons
    ]
    estimate_parameters_using_em(
        persons, settings, BlockingRule(rule="l.dob = r.dob"), fix_m=True
    )
    after_m = [
        [lv.m_probability for lv in c.scored_levels]
        for c in settings.comparisons
    ]
    after_u = [
        [lv.u_probability for lv in c.scored_levels]
        for c in settings.comparisons
    ]
    assert after_m == before_m
    assert after_u != before_u


def test_em_session_sql_matches_numpy_em_fit(spark):
    """The O12 relational EM-session SQL (params-as-relations, three
    iterations) must reproduce the production numpy ``em_fit`` path
    iteration by iteration — ties the driver oracle to the library.
    reference: splink/em_training_session.py::EMTrainingSession."""
    import __spark_entry__ as entrymod
    from splink_spark.operators.training import collect_histogram

    sf_dir = "/root/testdata/sf0.001"
    settings = entrymod.documents_settings()
    vectors = entrymod._vectors(spark, sf_dir)
    patterns, counts = collect_histogram(vectors, settings)
    res = em_fit(
        patterns,
        counts,
        [len(c.scored_levels) for c in settings.comparisons],
        [
            np.array([lv.m_probability for lv in c.scored_levels])
            for c in settings.comparisons
        ],
        [
            np.array([lv.u_probability for lv in c.scored_levels])
            for c in settings.comparisons
        ],
        settings.probability_two_random_records_match,
        tol=0.0,  # run all iterations, no early stop
        max_iterations=3,
    )

    rows = entrymod.q_o12_em_session(spark, sf_dir).collect()
    assert len(rows) == 3 * sum(
        len(c.scored_levels) for c in settings.comparisons
    )
    names = [c.output_column_name for c in settings.comparisons]
    for r in rows:
        snap = res.param_history[r["iteration"]]
        ci = names.index(r["comparison"])
        k = r["gamma_value"]
        assert r["m_e9"] == round(snap["m"][ci][k] * 1e9), r
        assert r["u_e9"] == round(snap["u"][ci][k] * 1e9), r
        assert r["lambda_e9"] == round(snap["lam"] * 1e9), r


def test_em_session_sql_reads_each_iteration_twice():
    """DuckDB inlines every CTE reference, so each read of ``e{t}``
    copies the whole of iteration t (and, under it, the blocking and
    comparison-vector query) into iteration t+1. The O12 text must read
    ``e{t}`` exactly once — the M-step unpivot in ``mu{t}``, which also
    yields lambda — or the copies compound per iteration (a
    per-comparison UNION ALL unpivot ran DuckDB out of memory at three
    iterations; two reads, one more for lambda, cost ~4x DuckDB time
    per iteration)."""
    import __spark_entry__ as entrymod

    settings = entrymod.documents_settings()
    sql = entrymod._em_session_sql(
        settings, settings.probability_two_random_records_match, 3, "h0"
    )
    for t in (1, 2, 3):
        reads = re.findall(rf"\b(?:FROM|JOIN) e{t}\b", sql)
        assert len(reads) == 1, (t, reads)
    # and e{t} itself holds one copy of e{t-1}, whatever the number of
    # comparisons: through pw{t-1}, the pivoted params beside lambda
    ctes = _cte_bodies(sql)

    def copies(name, of):
        return sum(
            1 if ref == of else copies(ref, of)
            for ref in re.findall(r"\b(?:FROM|JOIN) (\w+)", ctes[name])
            if ref in ctes
        )

    assert len(settings.comparisons) > 1
    for t in (2, 3):
        assert copies(f"e{t}", f"e{t - 1}") == 1, t
    # e{t} reads the histogram and the previous iteration's one-row
    # pivot, and nothing else
    for t in (1, 2, 3):
        refs = re.findall(r"\b(?:FROM|JOIN) (\w+)", ctes[f"e{t}"])
        assert sorted(refs) == ["h", f"pw{t - 1}"], (t, refs)


def _cte_bodies(sql):
    """name -> body of each top-level ``name AS (...)`` of a WITH list."""
    bodies, depth, name, start = {}, 0, None, 0
    for m in re.finditer(r"\b(\w+) AS \(|\(|\)", sql):
        if m.group(0) == ")":
            depth -= 1
            if depth == 0 and name:
                bodies[name], name = sql[start:m.start()], None
            continue
        if depth == 0 and m.group(1):
            name, start = m.group(1), m.end()
        depth += 1
    return bodies
