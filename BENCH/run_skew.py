"""Measured skew resilience: governed vs ungoverned blocking over a
corpus with a planted hot block.

Why AQE doesn't cover this: Spark's adaptive skew-join splitting
triggers on partition BYTES (spark.sql.adaptive.skewJoin.
skewedPartitionThresholdInBytes, default 256 MB). A hot blocking key
of a few thousand rows is a couple of megabytes of shuffle input —
invisible to AQE — yet emits rows² / 2 candidate pairs, so the single
reducer that owns the key does millions of pair-scorings while every
other core is idle. Pair-count amplification is OUTPUT skew; AQE only
sees INPUT skew. The governor (BlockingRule.broadcast_hot_keys_above)
removes the hot block from the shuffle entirely and spreads its pair
work across the left side's partitions via a broadcast join.

Protocol (same discipline as run_scaling.py): identical input,
identical session; PAIRS_N interleaved (ungoverned, governed) pairs so
co-tenant load shifts cancel out of the ratio; medians reported;
scoring output verified identical (count + rounded-weight sum) across
every leg.

Auto-broadcast is DISABLED for the A/B legs (spark.sql.
autoBroadcastJoinThreshold=-1): at bench scale Spark happily
broadcasts the whole 20k-row corpus side, which makes ANY join
skew-immune — but a 100-TB corpus is orders of magnitude above any
broadcast threshold, so the real at-scale plan is a shuffled join.
The governor's explicit broadcast covers only the oversized blocks'
rows (thousands, not the corpus), which stays feasible at any corpus
size. Disabling auto-broadcast reproduces the at-scale regime on the
small fixture; both legs run under the same setting.

``--hot-keys K`` spreads the planted rows over K (domain, title) keys
instead of one; ``--link`` blocks the even-id pages against the odd-id
ones (``df_right``, the two-table shape of incremental linkage).
``hot_blocks`` in the output counts the blocks above the threshold that
yield pairs — the governor broadcasts at most 1000 of them per call.

Usage: python BENCH/run_skew.py [--entities 8000] [--cores 8]
       [--hot-permille 150] [--hot-keys 1] [--link] [--pairs 3]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from splink_spark.session import get_spark  # noqa: E402
from splink_spark.model import BlockingRule  # noqa: E402
from splink_spark.fixtures.webpages import distributed_corpus  # noqa: E402
from splink_spark.operators.blocking import block_using_rules  # noqa: E402
from splink_spark.operators.predict import (  # noqa: E402
    predict_from_comparison_vectors,
)
from splink_spark.operators.vectors import (  # noqa: E402
    compute_comparison_vectors,
)
from splink_spark.operators.webtext import (  # noqa: E402
    prepare_pages,
    web_dedupe_settings,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entities", type=int, default=8000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--hot-permille", type=int, default=150)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--threshold", type=int, default=500)
    ap.add_argument("--hot-keys", type=int, default=1)
    ap.add_argument("--link", action="store_true")
    args = ap.parse_args()

    spark = get_spark(
        app_name="skew_bench",
        cores=args.cores,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )

    pages, _ = distributed_corpus(
        spark, n_entities=args.entities, seed=42, partitions=args.cores * 2
    )
    prepared = prepare_pages(pages)
    # Plant the hot block AFTER key derivation: ~hot_permille/1000 of
    # all pages share one (domain, title) blocking key — the popular-
    # domain / empty-title pathology the north rule names. Minhash-band
    # keys are left untouched. With --hot-keys K the planted rows are
    # hashed over K titles.
    hot = F.pmod(F.col("unique_id"), F.lit(1000)) < F.lit(args.hot_permille)
    hot_title = F.concat(
        F.lit("hot-title-"), F.pmod(F.xxhash64("unique_id"), F.lit(args.hot_keys))
    )
    prepared = (
        prepared.withColumn(
            "bk_domain", F.when(hot, F.lit("hot.example")).otherwise(F.col("bk_domain"))
        )
        .withColumn(
            "bk_title", F.when(hot, hot_title).otherwise(F.col("bk_title"))
        )
        .persist()
    )
    n_pages = prepared.count()
    n_hot = prepared.filter(F.col("bk_domain") == "hot.example").count()
    side = F.pmod(F.col("unique_id"), F.lit(2))
    if args.link:
        left, right = prepared.where(side == 0), prepared.where(side == 1)
        link_kw = dict(df_right=right, pair_ordering=False)
    else:
        left, link_kw = prepared, {}
    # blocks of the governed rule above the threshold, with pairs
    blocks = prepared.groupBy("bk_domain", "bk_title").agg(
        F.count(F.lit(1)).alias("n"), F.sum(side).alias("n_odd")
    )
    if args.link:
        blocks = blocks.where("n_odd > 0 AND n > n_odd")
    hot_blocks = blocks.where(
        F.col("bk_domain").isNotNull()
        & F.col("bk_title").isNotNull()
        & (F.col("n") > args.threshold)
    ).count()

    settings = web_dedupe_settings()
    base_rules = settings.blocking_rules
    governed_rules = [
        BlockingRule(
            rule=base_rules[0].rule,
            broadcast_hot_keys_above=args.threshold,
        )
    ] + base_rules[1:]

    def run_leg(rules: list[BlockingRule]) -> tuple[float, tuple]:
        t0 = time.time()
        pairs = block_using_rules(
            left,
            rules,
            uid="unique_id",
            retain_columns=["text_tokens", "bk_title", "bk_domain"],
            **link_kw,
        )
        scored = predict_from_comparison_vectors(
            compute_comparison_vectors(pairs, settings), settings
        )
        row = scored.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("match_weight", 6)).alias("w"),
        ).collect()[0]
        return time.time() - t0, (int(row["n"]), float(row["w"]))

    # warmup (JIT/codegen/broadcast machinery) — result discarded
    run_leg(base_rules)

    walls_off: list[float] = []
    walls_on: list[float] = []
    checks = set()
    for _ in range(args.pairs):
        w_off, c1 = run_leg(base_rules)
        w_on, c2 = run_leg(governed_rules)
        checks.update([c1, c2])
        walls_off.append(w_off)
        walls_on.append(w_on)

    # Counts must match exactly; weight sums only to relative 1e-9 —
    # summing 30M+ doubles in a different partition order reassociates
    # the additions (observed |Δ| ≈ 5e-10 relative on identical pairs).
    counts = {n for n, _ in checks}
    sums = [w for _, w in checks]
    assert len(counts) == 1, f"governed pair count diverged: {counts}"
    rel = (max(sums) - min(sums)) / max(abs(s) for s in sums)
    assert rel < 1e-9, f"governed weight sum diverged: {sums} (rel {rel})"
    n_pairs = next(iter(counts))
    med_off = statistics.median(walls_off)
    med_on = statistics.median(walls_on)
    print(
        json.dumps(
            {
                "metric": "skew_governed_speedup",
                "value": round(med_off / med_on, 3),
                "unit": "x",
                "pages": n_pages,
                "hot_block_rows": n_hot,
                "hot_keys_planted": args.hot_keys,
                "hot_blocks": hot_blocks,
                "link": args.link,
                "scored_pairs": n_pairs,
                "cores": args.cores,
                "threshold_rows": args.threshold,
                "wall_ungoverned_s": [round(w, 2) for w in walls_off],
                "wall_governed_s": [round(w, 2) for w in walls_on],
                "median_ungoverned_s": round(med_off, 2),
                "median_governed_s": round(med_on, 2),
                "pairs_per_sec_ungoverned": round(n_pairs / med_off),
                "pairs_per_sec_governed": round(n_pairs / med_on),
            }
        )
    )


if __name__ == "__main__":
    main()
