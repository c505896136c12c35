"""The Linker — top-level orchestration API.

reference: splink/linker.py::Linker (predict,
estimate_u_using_random_sampling,
estimate_probability_two_random_records_match,
estimate_parameters_using_expectation_maximisation,
cluster_pairwise_predictions_at_threshold, find_matches_to_new_records,
compare_two_records, save_model_to_json / load_model).

Spark-first: each method composes lazy DataFrame transformations
(SURVEY.md §3); the only materialisation points are the persisted
concat_with_tf table and the per-superstep checkpoints inside
connected components. Everything else is one Catalyst plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from splink_spark.model import BlockingRule, Settings
from splink_spark.operators.blocking import block_using_rules
from splink_spark.operators.cluster import (
    cluster_pairwise_predictions_at_threshold as _cluster,
)
from splink_spark.operators.concat import vertically_concatenate
from splink_spark.operators.predict import predict_from_comparison_vectors
from splink_spark.operators.tf import (
    join_term_frequencies,
    term_frequency_table,
    tf_column_name,
)
from splink_spark.operators.training import (
    EMResult,
    apply_u_estimates,
    estimate_m_from_label_column,
    estimate_m_from_pairwise_labels,
    estimate_parameters_using_em,
    estimate_probability_two_random_records_match,
    estimate_u,
)
from splink_spark.operators.vectors import compute_comparison_vectors
from splink_spark.plans.validate import validate_settings_against_schemas


class Linker:
    """Dedupe/link orchestrator over one or more input DataFrames."""

    def __init__(
        self,
        inputs: DataFrame | dict[str, DataFrame],
        settings: Settings,
        spark: SparkSession | None = None,
    ) -> None:
        if isinstance(inputs, DataFrame):
            inputs = {"__input__": inputs}
        self.inputs = inputs
        self.settings = settings
        self.spark = spark or next(iter(inputs.values())).sparkSession
        self._concat_with_tf: DataFrame | None = None
        self._tf_tables: dict[str, DataFrame] = {}
        # EM multi-session accumulators: per comparison index, the list
        # of per-session m/u estimates; the model carries their mean
        # (reference: splink/em_training_session.py — multiple sessions'
        # estimates are averaged per comparison).
        self._em_m_sessions: dict[int, list[np.ndarray]] = {}
        self._em_u_sessions: dict[int, list[np.ndarray]] = {}
        validate_settings_against_schemas(settings, inputs)
        # comparison-level SQL may reference the fuzzy/phonetic UDFs by
        # name (jaro_winkler, dmetaphone, ...) — register once per
        # session (re-registration is a cheap overwrite)
        from splink_spark.functions.udfs import register_udfs

        register_udfs(self.spark)

    # -- stage: concat (+ TF) ---------------------------------------------

    @property
    def link_mode(self) -> bool:
        return self.settings.link_type != "dedupe_only"

    def tf_columns(self) -> list[str]:
        cols: list[str] = []
        for comp in self.settings.comparisons:
            for lv in comp.scored_levels:
                c = lv.tf_adjustment_column
                if c and c not in cols:
                    cols.append(c)
        return cols

    def concat_with_tf(self) -> DataFrame:
        """O1 + O2/O3, persisted once per Linker (the reference caches
        __splink__df_concat_with_tf the same way). The per-column TF
        tables are also cached (``tf_tables``) so incremental linkage
        and single-pair scoring reuse the BASE distribution
        (reference: splink/linker.py _intermediate_table_cache tf
        tables)."""
        if self._concat_with_tf is None:
            df = vertically_concatenate(
                self.inputs,
                source_dataset_column=self.settings.source_dataset_column_name,
                unique_id_column=self.settings.uid,
            )
            self._tf_tables = {
                c: term_frequency_table(df, c).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                for c in self.tf_columns()
            }
            df = join_term_frequencies(df, self._tf_tables)
            self._concat_with_tf = df.persist(StorageLevel.MEMORY_AND_DISK)
        return self._concat_with_tf

    def tf_tables(self) -> dict[str, DataFrame]:
        """The base input's cached TF tables (column -> (value, tf))."""
        self.concat_with_tf()
        return self._tf_tables

    # -- stage: blocking + vectors + predict ------------------------------

    def _retain_columns(self) -> list[str]:
        cols: list[str] = []
        for comp in self.settings.comparisons:
            for c in comp.input_columns:
                if c not in cols:
                    cols.append(c)
        for c in self.tf_columns():
            tc = tf_column_name(c)
            if tc not in cols:
                cols.append(tc)
        return cols

    def blocked_pairs(
        self, rules: list[BlockingRule] | None = None
    ) -> DataFrame:
        return block_using_rules(
            self.concat_with_tf(),
            rules or self.settings.blocking_rules,
            uid=self.settings.uid,
            retain_columns=self._retain_columns(),
            link_mode=self.link_mode,
            source_col=self.settings.source_dataset_column_name,
            link_only=self.settings.link_type == "link_only",
        )

    def comparison_vectors(
        self, rules: list[BlockingRule] | None = None
    ) -> DataFrame:
        return compute_comparison_vectors(self.blocked_pairs(rules), self.settings)

    def predict(
        self,
        threshold_match_probability: float | None = None,
        threshold_match_weight: float | None = None,
    ) -> DataFrame:
        """The scoring pipeline: O1→O4→O6→O7 as one lazy plan."""
        return predict_from_comparison_vectors(
            self.comparison_vectors(),
            self.settings,
            threshold_match_probability=threshold_match_probability,
            threshold_match_weight=threshold_match_weight,
        )

    def tune_blocking_rules(
        self,
        target_block_pairs: int = 5_000_000,
        **kwargs,
    ) -> list[dict]:
        """Auto-tune the skew governor over the settings' blocking
        rules: census each rule's equi-key blocks on the concatenated
        input (both datasets in link mode — the frame the prediction
        self-join actually runs over), switch on
        ``broadcast_hot_keys_above`` where a block's pair count would
        exceed ``target_block_pairs``, and fall back to salting when
        the hot side would not broadcast safely (row AND byte budgets).
        Updates ``settings.blocking_rules`` in place and returns the
        per-rule census report. One aggregation over the rules' key
        table censuses every rule; only per-rule scalar stats reach
        the driver.

        reference: n/a (skew governance is a north-rule addition; see
        operators/blocking.py::tune_blocking_rules).
        """
        from splink_spark.operators.blocking import (
            tune_blocking_rules as _tune,
        )

        tuned, report = _tune(
            self.concat_with_tf(),
            self.settings.blocking_rules,
            target_block_pairs=target_block_pairs,
            **kwargs,
        )
        self.settings.blocking_rules = tuned
        return report

    def deterministic_link(
        self, rules: list[BlockingRule | str] | None = None
    ) -> DataFrame:
        """Pairwise predictions from deterministic match rules alone — no
        Fellegi-Sunter scoring. Every candidate pair the rules generate is
        declared a match (``match_probability`` = 1.0), so for this mode
        the rules must be strict enough to admit only true links. The
        output feeds ``cluster_pairwise_predictions_at_threshold`` (any
        threshold ≤ 1.0) for transitive closure, exactly like ``predict``.

        ``rules`` defaults to the settings' blocking rules, matching the
        reference's behaviour of reusing
        ``blocking_rules_to_generate_predictions``.

        reference: splink/inference.py::deterministic_link.
        """
        pairs = (
            self.blocked_pairs()
            if rules is None
            else self.blocked_pairs(
                [
                    r if isinstance(r, BlockingRule) else BlockingRule(rule=r)
                    for r in rules
                ]
            )
        )
        return pairs.withColumn("match_probability", F.lit(1.0))

    # -- training ----------------------------------------------------------

    def estimate_u_using_random_sampling(
        self, max_pairs: int = 1_000_000, seed: int = 42
    ) -> None:
        u = estimate_u(
            self.concat_with_tf(), self.settings, max_pairs=max_pairs, seed=seed
        )
        apply_u_estimates(self.settings, u)

    def estimate_probability_two_random_records_match(
        self, deterministic_rules: list[BlockingRule | str], recall: float
    ) -> float:
        rules = [
            r if isinstance(r, BlockingRule) else BlockingRule(rule=r)
            for r in deterministic_rules
        ]
        lam = estimate_probability_two_random_records_match(
            self.concat_with_tf(), rules, recall, uid=self.settings.uid
        )
        self.settings.probability_two_random_records_match = lam
        return lam

    def estimate_parameters_using_expectation_maximisation(
        self, blocking_rule: BlockingRule | str, fix_u: bool = False
    ) -> EMResult:
        """One EM session; across multiple sessions each comparison's
        model m/u is the MEAN of the sessions that trained it
        (reference: splink/em_training_session.py +
        splink/settings.py — estimates averaged per comparison)."""
        rule = (
            blocking_rule
            if isinstance(blocking_rule, BlockingRule)
            else BlockingRule(rule=blocking_rule)
        )
        result = estimate_parameters_using_em(
            self.concat_with_tf(), self.settings, rule, fix_u=fix_u
        )
        for ci, comp in enumerate(self.settings.comparisons):
            if ci in result.fixed_comparisons:
                continue
            self._em_m_sessions.setdefault(ci, []).append(result.m[ci])
            if not fix_u:
                self._em_u_sessions.setdefault(ci, []).append(result.u[ci])
            m_avg = np.mean(self._em_m_sessions[ci], axis=0)
            u_avg = (
                np.mean(self._em_u_sessions[ci], axis=0)
                if self._em_u_sessions.get(ci)
                else None
            )
            for lv in comp.scored_levels:
                g = comp.gamma_of(lv)
                lv.m_probability = float(m_avg[g])
                if u_avg is not None:
                    lv.u_probability = float(u_avg[g])
        return result

    def estimate_m_from_label_column(self, label_column: str) -> None:
        m = estimate_m_from_label_column(
            self.concat_with_tf(), self.settings, label_column
        )
        for ci, comp in enumerate(self.settings.comparisons):
            for lv in comp.scored_levels:
                lv.m_probability = float(m[ci][comp.gamma_of(lv)])

    def estimate_m_from_pairwise_labels(self, labels: DataFrame) -> None:
        """Direct m estimates from a labelled pair table with
        ``<uid>_l`` / ``<uid>_r`` columns (optionally
        ``clerical_match_score``; rows under 0.5 are dropped).

        reference: splink/m_from_labels.py::estimate_m_from_pairwise_labels
        (exposed on the Linker like the reference's training API).
        """
        m = estimate_m_from_pairwise_labels(
            self.concat_with_tf(), self.settings, labels
        )
        for ci, comp in enumerate(self.settings.comparisons):
            for lv in comp.scored_levels:
                lv.m_probability = float(m[ci][comp.gamma_of(lv)])

    # -- clustering --------------------------------------------------------

    def cluster_pairwise_predictions_at_threshold(
        self, predictions: DataFrame, threshold_match_probability: float
    ) -> DataFrame:
        return _cluster(
            predictions,
            self.concat_with_tf(),
            threshold_match_probability,
            uid=self.settings.uid,
        )

    # -- self-link (O18) ----------------------------------------------------

    def self_link(self) -> DataFrame:
        """Score every record against itself — the best-possible match
        weight per record (unlinkables analysis).

        reference: splink/linker.py::Linker._self_link.
        """
        df = self.concat_with_tf()
        uid = self.settings.uid
        cols = [
            F.col(uid).alias(f"{uid}_l"),
            F.col(uid).alias(f"{uid}_r"),
        ]
        for c in self._retain_columns():
            cols.append(F.col(c).alias(f"{c}_l"))
            cols.append(F.col(c).alias(f"{c}_r"))
        pairs = df.select(*cols)
        vectors = compute_comparison_vectors(pairs, self.settings)
        return predict_from_comparison_vectors(vectors, self.settings)

    # -- incremental (O17) -------------------------------------------------

    def find_matches_to_new_records(
        self,
        new_records: DataFrame,
        threshold_match_probability: float | None = None,
    ) -> DataFrame:
        """Score a small new table against the base without re-blocking
        everything: the new side is broadcast into the blocking key
        join, so the base's key table does not shuffle for that join.
        With several rules the kept pairs are then attached to the base
        by uid, and once the base is too big to broadcast that attach
        shuffles the base once per request.

        TF columns on the new side come from the BASE's cached TF tables
        (not batch-local frequencies — a new record's tf must reflect
        the base distribution); the pair-ordering predicate is skipped
        because base and new are distinct tables, so every (base, new)
        combination is already unique.

        reference: splink/linker.py::Linker.find_matches_to_new_records.
        """
        base = self.concat_with_tf()
        new = vertically_concatenate(
            {"__new__": new_records},
            source_dataset_column=self.settings.source_dataset_column_name,
            unique_id_column=self.settings.uid,
        )
        if self.tf_columns():
            new = join_term_frequencies(new, self.tf_tables())
        pairs = block_using_rules(
            base,
            self.settings.blocking_rules,
            uid=self.settings.uid,
            retain_columns=self._retain_columns(),
            link_mode=True,
            source_col=self.settings.source_dataset_column_name,
            df_right=F.broadcast(new),
            pair_ordering=False,
        )
        vectors = compute_comparison_vectors(pairs, self.settings)
        return predict_from_comparison_vectors(
            vectors,
            self.settings,
            threshold_match_probability=threshold_match_probability,
        )

    def compare_two_records(
        self, record_l: dict, record_r: dict
    ) -> DataFrame:
        """Single-pair scoring. TF columns resolve from the record dicts
        when supplied (key ``tf_<col>``) and otherwise left-join from the
        base's cached TF tables, as the reference does.

        reference: splink/linker.py::Linker.compare_two_records."""
        uid = self.settings.uid
        tf_cols = {tf_column_name(c): c for c in self.tf_columns()}
        row = {}
        row[f"{uid}_l"] = record_l.get(uid, 0)
        row[f"{uid}_r"] = record_r.get(uid, 1)
        for c in self._retain_columns():
            if c in tf_cols:
                continue  # resolved below (record value or base TF join)
            row[f"{c}_l"] = record_l.get(c)
            row[f"{c}_r"] = record_r.get(c)
        pair = self.spark.createDataFrame([row])
        for tfc, c in tf_cols.items():
            tf = self.tf_tables()[c]
            for side, rec in (("l", record_l), ("r", record_r)):
                if tfc in rec:
                    pair = pair.withColumn(
                        f"{tfc}_{side}", F.lit(rec[tfc]).cast("double")
                    )
                else:
                    t = tf.select(
                        F.col(c).alias(f"{c}_{side}"),
                        F.col(tfc).alias(f"{tfc}_{side}"),
                    )
                    pair = pair.join(
                        F.broadcast(t), on=f"{c}_{side}", how="left"
                    )
        vectors = compute_comparison_vectors(pair, self.settings)
        return predict_from_comparison_vectors(vectors, self.settings)

    # -- analysis / profiling entry points ----------------------------------
    # (reference: splink/linker.py exposes these as Linker methods; users
    # call the linker, not the operator modules)

    def profile_columns(self, columns: list[str], top_k: int = 20):
        """Per-column top-k value profiles.
        reference: splink/linker.py::Linker.profile_columns."""
        from splink_spark.operators.profile import profile_column_values

        df = self.concat_with_tf()
        return {c: profile_column_values(df, c, top_k) for c in columns}

    def missingness_report(self, columns: list[str] | None = None):
        """Null share per column (one scan).
        reference: splink/missingness.py::missingness_data."""
        from splink_spark.operators.profile import missingness

        return missingness(self.concat_with_tf(), columns)

    def count_num_comparisons_from_blocking_rule(self, rule) -> int:
        """reference: splink/linker.py::
        Linker.count_num_comparisons_from_blocking_rule."""
        from splink_spark.model import BlockingRule
        from splink_spark.operators.blocking import (
            count_comparisons_from_blocking_rule,
        )

        if isinstance(rule, str):
            rule = BlockingRule(rule)
        return count_comparisons_from_blocking_rule(
            self.concat_with_tf(),
            rule,
            uid=self.settings.uid,
            link_mode=self.link_mode,
            source_col=self.settings.source_dataset_column_name,
        )

    def cumulative_num_comparisons_from_blocking_rules(
        self, rules=None
    ) -> DataFrame:
        """Marginal + cumulative pair counts per blocking rule.
        reference: splink/analyse_blocking.py::
        cumulative_comparisons_from_blocking_rules_records."""
        from splink_spark.operators.blocking import (
            cumulative_comparisons_from_blocking_rules,
        )

        return cumulative_comparisons_from_blocking_rules(
            self.concat_with_tf(),
            rules or self.settings.blocking_rules,
            uid=self.settings.uid,
            link_mode=self.link_mode,
            source_col=self.settings.source_dataset_column_name,
            link_only=self.settings.link_type == "link_only",
        )

    def truth_space_table(
        self, labels: DataFrame, predictions: DataFrame | None = None
    ) -> DataFrame:
        """Precision/recall/F1 across match-weight thresholds.
        reference: splink/accuracy.py::truth_space_table_from_labels."""
        from splink_spark.operators.accuracy import truth_space_table

        preds = predictions if predictions is not None else self.predict()
        uid = self.settings.uid
        return truth_space_table(
            preds, labels, left=f"{uid}_l", right=f"{uid}_r"
        )

    def match_weight_breakdown(
        self, predictions: DataFrame | None = None
    ) -> DataFrame:
        """Waterfall-chart record set (per-pair per-comparison log2-BF
        contributions). reference: splink/charts.py::waterfall_chart."""
        from splink_spark.operators.predict import match_weight_breakdown

        preds = (
            predictions
            if predictions is not None
            else self.comparison_vectors()
        )
        return match_weight_breakdown(
            preds, self.settings, uid=self.settings.uid
        )

    def unlinkables(
        self, predictions: DataFrame | None = None, round_dp: int = 1
    ) -> DataFrame:
        """Unlinkables chart data: cumulative share of records by best
        match weight. reference: splink/unlinkables.py."""
        from splink_spark.operators.accuracy import unlinkables_data

        preds = predictions if predictions is not None else self.predict()
        return unlinkables_data(
            preds,
            records=self.concat_with_tf(),
            uid=self.settings.uid,
            round_dp=round_dp,
        )

    def prediction_errors_from_labels(
        self,
        labels: DataFrame,
        predictions: DataFrame | None = None,
        threshold_match_probability: float = 0.5,
        include_false_positives: bool = True,
        include_false_negatives: bool = True,
    ) -> DataFrame:
        """False-positive / false-negative labelled pairs at a
        threshold. reference: splink/accuracy.py::
        prediction_errors_from_labels_table."""
        from splink_spark.operators.accuracy import (
            prediction_errors_from_labels,
        )

        preds = predictions if predictions is not None else self.predict()
        uid = self.settings.uid
        return prediction_errors_from_labels(
            preds,
            labels,
            threshold_match_probability=threshold_match_probability,
            left=f"{uid}_l",
            right=f"{uid}_r",
            include_false_positives=include_false_positives,
            include_false_negatives=include_false_negatives,
        )

    def comparison_viewer_data(
        self, vectors: DataFrame | None = None
    ) -> DataFrame:
        """Gamma-pattern distribution with example pairs. reference:
        splink/comparison_vector_distribution.py."""
        from splink_spark.operators.vectors import comparison_viewer_data

        v = vectors if vectors is not None else self.comparison_vectors()
        return comparison_viewer_data(
            v, self.settings, uid=self.settings.uid
        )

    # -- chart specs (Vega-Lite dicts; see splink_spark/charts.py) --------

    def match_weights_chart(self) -> dict:
        """reference: splink/linker.py::Linker.match_weights_chart."""
        from splink_spark.charts import match_weights_chart

        return match_weights_chart(self.settings)

    def m_u_parameters_chart(self) -> dict:
        """reference: splink/linker.py::Linker.m_u_parameters_chart."""
        from splink_spark.charts import m_u_parameters_chart

        return m_u_parameters_chart(self.settings)

    def waterfall_chart(self, breakdown: DataFrame) -> dict:
        """Waterfall for ONE pair's match_weight_breakdown rows.
        reference: splink/linker.py::Linker.waterfall_chart."""
        from splink_spark.charts import waterfall_chart

        return waterfall_chart(breakdown)

    def roc_chart_from_labels(self, labels: DataFrame) -> dict:
        """reference: splink/linker.py::Linker.roc_chart_from_labels."""
        from splink_spark.charts import roc_chart

        return roc_chart(self.truth_space_table(labels))

    def precision_recall_chart_from_labels(
        self, labels: DataFrame
    ) -> dict:
        """reference: splink/linker.py::
        Linker.precision_recall_chart_from_labels."""
        from splink_spark.charts import precision_recall_chart

        return precision_recall_chart(self.truth_space_table(labels))

    def unlinkables_chart(self) -> dict:
        """reference: splink/linker.py::Linker.unlinkables_chart."""
        from splink_spark.charts import unlinkables_chart

        return unlinkables_chart(self.unlinkables())

    def missingness_chart(
        self, columns: list[str] | None = None
    ) -> dict:
        """reference: splink/linker.py::Linker.missingness_chart."""
        from splink_spark.charts import missingness_chart

        return missingness_chart(self.missingness_report(columns))

    def comparison_viewer_chart(self) -> dict:
        """reference: splink/linker.py::
        Linker.comparison_viewer_dashboard (pattern distribution)."""
        from splink_spark.charts import comparison_viewer_chart

        return comparison_viewer_chart(
            self.comparison_viewer_data(), self.settings
        )

    def cluster_studio_html(
        self,
        predictions: DataFrame,
        clusters: DataFrame,
        max_clusters: int = 50,
    ) -> str:
        """Self-contained cluster-inspector HTML page. reference:
        splink/linker.py::Linker.cluster_studio_dashboard."""
        from splink_spark.charts import cluster_studio_html
        from splink_spark.operators.cluster import cluster_metrics

        uid = self.settings.uid
        return cluster_studio_html(
            clusters,
            predictions,
            cluster_metrics(
                predictions,
                clusters,
                src=f"{uid}_l",
                dst=f"{uid}_r",
                uid=uid,
            ),
            uid=uid,
            max_clusters=max_clusters,
        )

    # -- model io ----------------------------------------------------------

    def save_model_to_json(self, path: str) -> None:
        self.settings.save(path)

    @classmethod
    def load_model(
        cls, inputs: DataFrame | dict[str, DataFrame], path: str
    ) -> Linker:
        return cls(inputs, Settings.load(path))
