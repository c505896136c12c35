"""The benchmark's workloads, driven only through splink_spark's public
entry points: ``Linker``, ``prepare_pages`` / ``web_dedupe_settings`` and
the ``distributed_persons`` / ``distributed_corpus`` fixtures.

Each workload sets up (session, inputs written to parquet, warm-up),
then repeats its unit of work -- one pipeline run or one online request
-- until the measuring window has passed, checking every unit's output.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.meter import CpuDelta, ProcTreeMeter
from perfbench.trace import NullTracer, Tracer

# a run must exit within 180 s; stop starting new units after this
HARD_STOP_S = 150.0

# the JVM heap of every run, fixed from the start (-Xms = -Xmx) so heap
# growth does not differ from run to run; README.md says why this size
DRIVER_HEAP = "2g"


@dataclass(frozen=True)
class Sizes:
    web_entities: int
    web_u_pairs: int
    person_entities: int
    person_u_pairs: int
    heldout: int
    warmup_requests: int


SIZES = {
    "full": Sizes(
        web_entities=3000,
        web_u_pairs=500_000,
        person_entities=4000,
        person_u_pairs=250_000,
        heldout=160,
        # request time falls steeply over the first few requests (JIT),
        # then slowly; the window's median takes the slow part
        warmup_requests=4,
    ),
    # a few seconds of work per unit: for the benchmark's own tests
    "smoke": Sizes(
        web_entities=200,
        web_u_pairs=20_000,
        person_entities=300,
        person_u_pairs=20_000,
        heldout=24,
        warmup_requests=1,
    ),
}

WEB_CLUSTER_THRESHOLD = 0.5
PERSON_MATCH_THRESHOLD = 0.9
F1_FLOOR = {"web_dedupe": 0.9, "persons_online": 0.9}


@dataclass
class Unit:
    """One pipeline run or one online request."""

    index: int
    traced: bool
    wall_s: float
    cpu: CpuDelta
    ok: bool
    detail: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    records: int
    units: list[Unit]
    f1: float
    window_s: float
    window_cpu: CpuDelta
    notes: dict = field(default_factory=dict)
    setup_ok: bool = True  # the warm-up's outputs passed their checks


class Bench:
    """Shared state of one run: session, meter, tracer, work directory."""

    def __init__(self, args, work: Path, meter: ProcTreeMeter,
                 t_process_start: float):
        self.args = args
        self.work = work
        self.meter = meter
        self.t0 = t_process_start
        self.sizes = SIZES[args.scale]
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer: Tracer | NullTracer = NullTracer()
        self.storage_peak_mb = 0.0

    # -- set-up -----------------------------------------------------------

    def start_session(self) -> None:
        from splink_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData "
                f"-Xms{DRIVER_HEAP}",
        }
        if self.args.trace:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench_{self.args.workload}",
                               cores=self.cores, extra_conf=conf)
        self.session_start_s = time.perf_counter() - t
        if self.args.trace:
            self.tracer = Tracer(self.spark.sparkContext, clock=time.time,
                                 on_end=self._probe_storage)
        self.log(f"session started in {self.session_start_s:.2f}s "
                 f"on {self.cores} cores")

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit: the gateway JVM ends when its stdin closes."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)

    def _probe_storage(self, span) -> None:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        span.attrs["storage_mb"] = mb
        self.storage_peak_mb = max(self.storage_peak_mb, mb)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.elapsed():7.2f}s] {msg}", file=sys.stderr,
              flush=True)

    # -- measuring window -------------------------------------------------

    def window(self, run_unit, want_traced_and_untraced: bool,
               expected_s: float):
        """Repeat ``run_unit(index, traced)`` while the window is expected
        to end nearer to ``--seconds`` with one more unit than without it
        (a unit is expected to last as long as the last one, the first as
        long as ``expected_s``). At least one unit runs; a traced run
        alternates and runs at least one of each."""
        units: list[Unit] = []
        start_cpu = self.meter.cpu()
        start = time.perf_counter()
        i = 0
        while True:
            ends_at = time.perf_counter() - start + 0.5 * (
                units[-1].wall_s if units else expected_s
            )
            need_both = want_traced_and_untraced and len(
                {u.traced for u in units}
            ) < 2
            if units and (ends_at > self.args.seconds and not need_both
                          or self.elapsed() > HARD_STOP_S):
                break
            traced = want_traced_and_untraced and i % 2 == 1
            before = self.meter.cpu()
            t = time.perf_counter()
            ok, detail = run_unit(i, traced)
            wall = time.perf_counter() - t
            cpu = self.meter.cpu().minus(before)
            units.append(Unit(i, traced, wall, cpu, ok, detail))
            self.log(
                f"sample {i} traced={int(traced)} wall={wall:.3f}s "
                f"cpu={cpu.total:.2f}s steal={cpu.steal_pct:.2f}% ok={ok}"
            )
            i += 1
        window_s = time.perf_counter() - start
        return units, window_s, self.meter.cpu().minus(start_cpu)


# ---------------------------------------------------------------------------
# checksums shared by both workloads
# ---------------------------------------------------------------------------

def pair_digest(preds, threshold: float) -> dict:
    """Count, count at/above ``threshold`` and an order-free checksum of
    (unique_id_l, unique_id_r, match_weight) -- one aggregation pass, so
    scoring cannot be pruned away."""
    from pyspark.sql import functions as F

    row = preds.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("match_probability") >= threshold).cast("long"))
        .alias("kept"),
        F.bit_xor(F.xxhash64("unique_id_l", "unique_id_r", "match_weight"))
        .alias("digest"),
    ).first()
    return {"pairs": int(row["n"]), "kept": int(row["kept"] or 0),
            "digest": int(row["digest"] or 0)}


def cluster_digest(clusters) -> dict:
    from pyspark.sql import functions as F

    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.bit_xor(F.xxhash64("unique_id", "cluster_id")).alias("digest"),
    ).first()
    return {"nodes": int(row["n"]), "clusters": int(row["k"]),
            "digest": int(row["digest"] or 0)}


_PRED_COLS = ("unique_id_l", "unique_id_r", "match_weight",
              "match_probability")


def predict_split(bench: Bench, linker, threshold: float) -> tuple:
    """``Linker.predict()``, persisted and digested. Traced, the lazy plan
    is split at its public boundary: ``Linker.blocked_pairs()`` is
    persisted and counted (blocking), then scored (scoring)."""
    from splink_spark.operators.predict import (
        predict_from_comparison_vectors,
    )
    from splink_spark.operators.vectors import compute_comparison_vectors

    tr = bench.tracer
    if not tr.enabled:
        preds = linker.predict().select(*_PRED_COLS).persist()
        return preds, pair_digest(preds, threshold), None
    with tr.span("blocking") as s:
        pairs = linker.blocked_pairs().persist()
        s.attrs["pairs"] = pairs.count()
    with tr.span("scoring") as s:
        vectors = compute_comparison_vectors(pairs, linker.settings)
        preds = predict_from_comparison_vectors(
            vectors, linker.settings
        ).select(*_PRED_COLS).persist()
        d = pair_digest(preds, threshold)
        s.attrs.update(d)
    return preds, d, pairs


# ---------------------------------------------------------------------------
# web_dedupe
# ---------------------------------------------------------------------------

def web_pipeline(bench: Bench, pages_path: str, trace_id: str) -> dict:
    """Parquet read -> prepare_pages (MinHash UDF) -> concat -> u over
    sampled pairs -> predict over the five web rules -> clusters,
    materialised and digested. Caches are released at the end."""
    from splink_spark.operators.webtext import (
        prepare_pages,
        web_dedupe_settings,
    )
    from splink_spark.plans.linker import Linker

    spark, tr = bench.spark, bench.tracer
    out: dict = {}
    with tr.span("pipeline", trace_id=trace_id):
        pages = spark.read.parquet(pages_path)
        with tr.span("webtext.derive_keys") as s:
            prepared = prepare_pages(pages).persist()
            out["records"] = prepared.count()
            if s:
                s.attrs["rows"] = out["records"]
        linker = Linker(prepared, web_dedupe_settings())
        with tr.span("concat") as s:
            rows = linker.concat_with_tf().count()
            if s:
                s.attrs["rows"] = rows
        with tr.span("training.u"):
            linker.estimate_u_using_random_sampling(
                max_pairs=bench.sizes.web_u_pairs
            )
        preds, out["pairs"], _ = predict_split(
            bench, linker, WEB_CLUSTER_THRESHOLD
        )
        with tr.span("cluster") as s:
            clusters = linker.cluster_pairwise_predictions_at_threshold(
                preds, WEB_CLUSTER_THRESHOLD
            ).select("unique_id", "cluster_id").persist()
            out["clusters"] = cluster_digest(clusters)
            if s:
                s.attrs["edges"] = out["pairs"]["kept"]
    out["_clusters"] = clusters
    return out


def pairwise_f1_vs_entities(clusters, pages) -> float:
    """Exact pairwise F1 of ``clusters`` (unique_id, cluster_id) against
    the planted ``entity_id`` of ``pages``, over all record pairs: pair
    counts come from group sizes, so no pair table is built."""
    from pyspark.sql import functions as F

    j = clusters.join(pages.select("unique_id", "entity_id"), "unique_id")

    def pairs(*keys):
        n = F.col("count")
        row = j.groupBy(*keys).count().agg(
            F.sum(n * (n - 1) / 2).alias("p")
        ).first()
        return float(row["p"] or 0.0)

    tp = pairs("cluster_id", "entity_id")
    predicted, actual = pairs("cluster_id"), pairs("entity_id")
    return 2 * tp / (predicted + actual) if predicted + actual else 1.0


def run_web_dedupe(bench: Bench) -> Outcome:
    from splink_spark.fixtures.webpages import distributed_corpus

    spark, args, sizes = bench.spark, bench.args, bench.sizes
    pages_path = str(bench.work / "pages.parquet")
    with bench.tracer.span("inputs", trace_id="setup"):
        pages, _ = distributed_corpus(
            spark, n_entities=sizes.web_entities, seed=args.seed,
            partitions=bench.cores,
        )
        pages.write.parquet(pages_path)
    bench.log("inputs written")

    # warm-up: one untraced pass; its output is the reference every
    # timed pass must reproduce, and the one scored against truth
    tracer, bench.tracer = bench.tracer, NullTracer()
    t = time.perf_counter()
    ref = web_pipeline(bench, pages_path, "warmup")
    warm_s = time.perf_counter() - t
    f1 = pairwise_f1_vs_entities(ref["_clusters"],
                                 spark.read.parquet(pages_path))
    spark.catalog.clearCache()
    bench.tracer = tracer
    setup_s = bench.elapsed()
    bench.log(f"warm-up done: records={ref['records']} "
              f"pairs={ref['pairs']} f1={f1:.5f}")

    def unit(i: int, traced: bool):
        saved = bench.tracer
        if not traced:
            bench.tracer = NullTracer()
        try:
            got = web_pipeline(bench, pages_path, f"rep{i}")
        finally:
            bench.tracer = saved
            spark.catalog.clearCache()
        same = all(got[k] == ref[k] for k in ("records", "pairs",
                                              "clusters"))
        return same and f1 >= F1_FLOOR["web_dedupe"], {
            k: got[k] for k in ("records", "pairs", "clusters")
        }

    units, window_s, window_cpu = bench.window(unit, bool(args.trace),
                                               warm_s)
    notes = {"reference": {k: ref[k] for k in ("records", "pairs",
                                               "clusters")}}
    return Outcome(setup_s, ref["records"], units, f1, window_s,
                   window_cpu, notes)


# ---------------------------------------------------------------------------
# persons_online
# ---------------------------------------------------------------------------

def person_keys(df):
    """Swap-invariant blocking keys: year + sorted month/day of dob, and
    the two names in sorted order."""
    return df.selectExpr(
        "*",
        "concat(substr(dob, 1, 4), least(substr(dob, 6, 2), "
        "substr(dob, 9, 2)), greatest(substr(dob, 6, 2), "
        "substr(dob, 9, 2))) AS dob_canon",
        "least(first_name, surname) AS name_a",
        "greatest(first_name, surname) AS name_b",
    )


def persons_settings():
    """Nine selective blocking rules; equality plus bounded levenshtein
    comparisons and a first/surname columns-reversed level."""
    from splink_spark.functions.comparators import (
        columns_reversed_level,
        else_level,
        exact_match,
        exact_match_level,
        levenshtein_at_thresholds,
        levenshtein_level,
        null_level,
    )
    from splink_spark.model import BlockingRule, Comparison, Settings

    rules = [
        "l.dob = r.dob AND l.city = r.city",
        "l.email = r.email",
        "l.postcode = r.postcode",
        "l.surname = r.surname AND l.dob = r.dob",
        "l.first_name = r.first_name AND l.dob = r.dob",
        "l.dob_canon = r.dob_canon AND l.surname = r.surname",
        "l.dob_canon = r.dob_canon AND l.first_name = r.first_name",
        "l.dob_canon = r.dob_canon AND l.city = r.city",
        "l.name_a = r.name_a AND l.name_b = r.name_b "
        "AND l.dob_canon = r.dob_canon",
    ]
    return Settings(
        unique_id_column_name="unique_id",
        probability_two_random_records_match=0.001,
        blocking_rules=[BlockingRule(rule=r) for r in rules],
        comparisons=[
            Comparison(
                output_column_name="first_name",
                input_columns=["first_name"],
                levels=[
                    null_level("first_name"),
                    exact_match_level("first_name"),
                    columns_reversed_level("first_name", "surname"),
                    levenshtein_level("first_name", 2),
                    else_level(),
                ],
            ),
            levenshtein_at_thresholds("surname", 2),
            levenshtein_at_thresholds("dob", 2),
            exact_match("city"),
            levenshtein_at_thresholds("email", 2),
        ],
    )


def _weights_match(got: dict[int, float], want: dict[int, float]) -> bool:
    if got.keys() != want.keys():
        return False
    for k, w in want.items():
        g = got[k]
        if g != w and not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9):
            return False
    return True


def run_persons_online(bench: Bench) -> Outcome:
    from pyspark.sql import functions as F

    from splink_spark.fixtures.persons import distributed_persons
    from splink_spark.plans.linker import Linker

    spark, args, sizes, tr = bench.spark, bench.args, bench.sizes, \
        bench.tracer
    path = str(bench.work / "persons.parquet")
    with tr.span("inputs", trace_id="setup"):
        distributed_persons(
            spark, n_entities=sizes.person_entities, seed=args.seed,
            partitions=bench.cores,
        ).repartition(1).write.parquet(path)
    raw = spark.read.parquet(path)
    # held-out requests: a seeded sample, in seeded order
    rows = sorted(raw.collect(), key=lambda r: r["unique_id"])
    heldout = random.Random(args.seed).sample(rows, sizes.heldout)
    held_ids = {r["unique_id"] for r in heldout}
    base = raw.filter(~F.col("unique_id").isin(sorted(held_ids)))
    held_clusters = {r["cluster"] for r in heldout}
    base_by_cluster: dict[int, set[int]] = {}
    for r in rows:
        if r["cluster"] in held_clusters and r["unique_id"] not in held_ids:
            base_by_cluster.setdefault(r["cluster"], set()).add(
                r["unique_id"]
            )
    bench.log(f"inputs written: {len(heldout)} records held out")

    # the base model, trained once
    linker = Linker(person_keys(base.drop("cluster")), persons_settings())
    with tr.span("base_model", trace_id="setup"):
        with tr.span("concat") as s:
            base_rows = linker.concat_with_tf().count()
            if s:
                s.attrs["rows"] = base_rows
        with tr.span("training.lambda"):
            linker.estimate_probability_two_random_records_match(
                ["l.email = r.email"], recall=0.8
            )
        with tr.span("training.u"):
            linker.estimate_u_using_random_sampling(
                max_pairs=sizes.person_u_pairs
            )
        with tr.span("training.em") as s:
            its = 0
            for rule in ("l.dob = r.dob AND l.city = r.city",
                         "l.email = r.email"):
                its += linker.estimate_parameters_using_expectation_maximisation(
                    rule, fix_u=True
                ).iterations
            if s:
                s.attrs["iterations"] = its

    # cross-path oracle: batch predict() over base + held-out with the
    # same trained model; every (held-out, base) pair it scores
    oracle_linker = Linker(person_keys(raw.drop("cluster")), linker.settings)
    bench.log("base model trained")
    with tr.span("oracle", trace_id="setup"):
        # materialised here so the traced blocking span times blocking
        oracle_linker.concat_with_tf().count()
        preds, _, pairs = predict_split(bench, oracle_linker,
                                        PERSON_MATCH_THRESHOLD)
        ids = F.lit(sorted(held_ids))
        cross = preds.filter(
            F.array_contains(ids, F.col("unique_id_l"))
            != F.array_contains(ids, F.col("unique_id_r"))
        ).collect()
    oracle: dict[int, dict[int, float]] = {i: {} for i in held_ids}
    for r in cross:
        l, rr = r["unique_id_l"], r["unique_id_r"]
        new, old = (l, rr) if l in held_ids else (rr, l)
        oracle[new][old] = r["match_weight"]
    preds.unpersist()
    if pairs is not None:
        pairs.unpersist()
    oracle_linker.concat_with_tf().unpersist()
    bench.log(f"oracle scored {len(cross)} cross pairs")

    schema = raw.drop("cluster").schema
    fields = schema.fieldNames()
    tally = {"tp": 0, "fp": 0, "fn": 0}

    def request(row, traced: bool, index: int):
        rtr = bench.tracer if traced else NullTracer()
        with rtr.span("online.request", trace_id=f"req{index}"):
            with rtr.span("online.build"):
                new = person_keys(spark.createDataFrame(
                    [tuple(row[c] for c in fields)], schema
                ))
                matches = linker.find_matches_to_new_records(new).select(
                    *_PRED_COLS
                )
            with rtr.span("online.collect"):
                got = matches.collect()
        return got

    def check(row, got) -> tuple[bool, dict]:
        uid = row["unique_id"]
        weights, predicted = {}, set()
        for r in got:
            old = r["unique_id_l"] if r["unique_id_r"] == uid else \
                r["unique_id_r"]
            weights[old] = r["match_weight"]
            if r["match_probability"] >= PERSON_MATCH_THRESHOLD:
                predicted.add(old)
        truth = base_by_cluster.get(row["cluster"], set())
        return _weights_match(weights, oracle[uid]), {
            "tp": len(predicted & truth),
            "fp": len(predicted - truth),
            "fn": len(truth - predicted),
            "pairs": len(got),
        }

    warm = heldout[: sizes.warmup_requests]
    timed = heldout[sizes.warmup_requests :]
    setup_ok = True
    for i, row in enumerate(warm):
        t = time.perf_counter()
        ok, _ = check(row, request(row, False, -1 - i))
        warm_s = time.perf_counter() - t
        if not ok:
            setup_ok = False
            bench.log(f"warm-up request {row['unique_id']} failed its check")
    setup_s = bench.elapsed()
    bench.log("warm-up done")

    def unit(i: int, traced: bool):
        row = timed[i % len(timed)]
        ok, d = check(row, request(row, traced, i))
        if i < len(timed):  # score each held-out record once
            for k in tally:
                tally[k] += d[k]
        d["unique_id"] = row["unique_id"]
        return ok, d

    units, window_s, window_cpu = bench.window(unit, bool(args.trace),
                                               warm_s)
    tp, fp, fn = tally["tp"], tally["fp"], tally["fn"]
    f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
    notes = {"base_records": base_rows,
             "oracle_records": base_rows + len(heldout), "truth": tally}
    return Outcome(setup_s, len(units), units, f1, window_s, window_cpu,
                   notes, setup_ok)


WORKLOAD_RUNNERS = {
    "web_dedupe": run_web_dedupe,
    "persons_online": run_persons_online,
}
