"""Three-way hot-key join bench: naive vs AQE skew split vs manual salt.

Same hot-key fact (operators.relational2.skewed_fact: ~75% of lineitem
on one orderkey), same join + aggregate, three physical strategies:

- naive: shuffle join with AQE skew splitting disabled — the hot
  reduce partition lands on ONE task while the rest of the cluster
  idles (the failure mode both remedies exist for).
- aqe: OptimizeSkewedJoin splits the hot partition into mapper-range
  chunks at runtime (thresholds scoped to the fixture size; forced
  because the downstream agg would otherwise veto — see
  AQE_SKEW_CONFS).
- salted: the manual N_SALT-way salt of skew_salted_join applied to
  the hot fact — build side replicated N_SALT ways, salt never in the
  output.

Wall times are best-of-N (default 3) on a warmed session; results to
SKEW_BENCH.json, quoted in BASELINE.md. Run after gen: no fixture
needed beyond /root/testdata.

Usage: python tools/skew_bench.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--best-of", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "SKEW_BENCH.json"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.operators.relational2 import (
        N_SALT,
        _dec,
        skewed_fact,
    )
    from sfdc_cdc_aws_spark.plans.introspect import executed_plan_string
    from sfdc_cdc_aws_spark.session import get_session, scoped_conf
    from sfdc_cdc_aws_spark.sources import load_table

    spark = get_session("skew-bench")

    # bench-only amplification: replicate the hot fact AMPLIFY ways so
    # the hot reduce partition is ~80 MB — big enough that one task
    # owning it visibly stalls the stage on 32 cores (the registered
    # query keeps the un-amplified fact; the strategies, not the
    # volume, are what differ here)
    AMPLIFY = 8

    def amplified_fact():
        return skewed_fact(spark, args.sf).withColumn(
            "rep", F.explode(F.sequence(F.lit(1), F.lit(AMPLIFY)))
        )

    def agg(joined):
        return joined.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )

    def plain_join():
        fact = amplified_fact()
        o = load_table(spark, args.sf, "orders")
        return agg(fact.join(o, fact["k"] == o["o_orderkey"]))

    def salted_join():
        fact = amplified_fact().withColumn(
            "salt", (F.col("l_linenumber") * AMPLIFY + F.col("rep")) % N_SALT
        )
        o = load_table(spark, args.sf, "orders").withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1)))
        )
        return agg(
            fact.join(
                o,
                (fact["k"] == o["o_orderkey"]) & (fact["salt"] == o["salt"]),
            )
        )

    # thresholds sized for the sf0.1 hot partition (~10 MB shuffled):
    # split target ~1 MB -> ~10 chunks, i.e. real parallelism without
    # thousand-task overhead
    base = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    variants = {
        "naive": (
            plain_join,
            {**base, "spark.sql.adaptive.skewJoin.enabled": "false"},
        ),
        "aqe_skew": (
            plain_join,
            {
                **base,
                "spark.sql.adaptive.skewJoin.enabled": "true",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1048576",
                "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
            },
        ),
        "salted": (salted_join, {**base}),
    }

    report = {"sf": args.sf, "best_of": args.best_of, "variants": {}}
    for name, (builder, confs) in variants.items():
        with scoped_conf(spark, confs):
            builder().foreachPartition(lambda it: None)  # warm
            best = float("inf")
            for _ in range(args.best_of):
                df = builder()
                t0 = time.monotonic()
                df.foreachPartition(lambda it: None)
                best = min(best, time.monotonic() - t0)
            plan = executed_plan_string(builder())
            report["variants"][name] = {
                "best_sec": round(best, 3),
                "skew_split": "skew=true" in plan,
                "rows": builder().count(),
            }
        print(name, report["variants"][name])

    # all three strategies must agree with each other
    answers = {
        name: sorted(map(tuple, builder().collect()))
        for name, (builder, _) in variants.items()
    }
    vals = list(answers.values())
    report["all_equal"] = all(v == vals[0] for v in vals)

    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("wrote", args.out)


if __name__ == "__main__":
    main()
