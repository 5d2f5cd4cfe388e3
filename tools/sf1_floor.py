"""Per-query floor decomposition for the SF1 residual (round-6 verdict
item: "close the gap or prove the residual is irreducible Spark fixed
cost"). For each remaining >2x query, times three things back-to-back
on the same compacted SF1 layout the bench uses:

  * scan   — the query's fact-scan + map-side projection only (no
             exchange): the Tungsten scan floor.
  * skel   — the query's dominant exchange SKELETON: the same fact
             columns through the same shuffle key(s) and a minimal
             aggregate, nothing else. This is the cheapest plan Spark
             can run that still performs the query's required data
             movement.
  * full   — the registry query itself.

If full ~= skel >> scan, the residual vs DataFusion is the exchange
materialization floor (shuffle write+read through the BlockManager),
not plan shape: no rewrite that keeps the required exchange can close
it on one node. DataFusion streams the same hash repartition through
in-memory channels without materializing shuffle files, which is
where its 0.2-0.9 s per-query times come from (reference
datafusion/physical-plan/src/repartition/).

Usage: python tools/sf1_floor.py [--dir /tmp/sf1_tpch] [--passes 3]
Prints one JSON line; paste the table into BENCH_NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def _skeletons(spark, sf_dir):
    """name -> (scan_df_fn, skeleton_df_fn); both end in a 1-row agg so
    collect() cost is nil and nothing is cached between variants."""
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    def t(name):
        return load_table(spark, sf_dir, name)

    def q9_scan():
        return (t("lineitem")
                .select("l_orderkey", "l_extendedprice")
                .agg(F.max("l_extendedprice")))

    def q9_skel():
        # dominant movement: full-fact orderkey exchange into orders
        li = t("lineitem").select("l_orderkey", "l_extendedprice")
        o = t("orders").select("o_orderkey", "o_orderdate")
        return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy(F.year("o_orderdate").alias("y"))
                .agg(F.sum("l_extendedprice").alias("s"))
                .agg(F.max("s")))

    def q18_scan():
        return (t("lineitem").select("l_orderkey", "l_quantity")
                .agg(F.max("l_quantity")))

    def q18_skel():
        # dominant movement: 6M-row -> 1.5M-group orderkey aggregate
        return (t("lineitem").groupBy("l_orderkey")
                .agg(F.sum("l_quantity").alias("s"))
                .agg(F.max("s")))

    def q21_scan():
        li = t("lineitem")
        return (li.filter(F.col("l_receiptdate") > F.col("l_commitdate"))
                .select("l_orderkey", "l_suppkey")
                .agg(F.max("l_suppkey")))

    def q21_skel():
        # dominant movement: one orderkey exchange + the two window
        # counts over it (q21's confirmed-best form, tpch.py:973)
        from pyspark.sql import Window
        li = (t("lineitem")
              .select("l_orderkey", "l_suppkey",
                      (F.col("l_receiptdate") > F.col("l_commitdate"))
                      .alias("late")))
        w = Window.partitionBy("l_orderkey")
        return (li.withColumn("n_supp",
                              F.size(F.collect_set("l_suppkey").over(w)))
                .withColumn("n_late",
                            F.sum(F.when(F.col("late"), 1).otherwise(0))
                            .over(w))
                .agg(F.max("n_supp"), F.max("n_late")))

    def q17_scan():
        return (t("lineitem").select("l_partkey", "l_quantity")
                .agg(F.max("l_quantity")))

    def q17_skel():
        # dominant movement: partkey aggregate + rejoin at partkey
        per = (t("lineitem").groupBy("l_partkey")
               .agg(F.avg("l_quantity").alias("a")))
        li = t("lineitem").select("l_partkey", "l_quantity")
        return (li.join(per, "l_partkey")
                .filter(F.col("l_quantity") < F.col("a"))
                .agg(F.sum("l_quantity")))

    def q11_scan():
        return (t("lineitem").select("l_partkey", "l_quantity")
                .agg(F.max("l_quantity")))

    def q11_skel():
        # dominant movement: 6M -> 200k-group partkey aggregate (x1;
        # the scalar branch reuses the exchange, pinned in test_plans)
        return (t("lineitem").groupBy("l_partkey")
                .agg(F.sum("l_quantity").alias("s"))
                .agg(F.max("s")))

    def q8_scan():
        return (t("lineitem")
                .select("l_orderkey", "l_partkey", "l_extendedprice")
                .agg(F.max("l_extendedprice")))

    def q8_skel():
        # dominant movement: fact orderkey exchange into date-filtered
        # orders, then the custkey exchange of the joined slice
        li = t("lineitem").select("l_orderkey", "l_extendedprice")
        o = (t("orders")
             .filter(F.col("o_orderdate").between(
                 F.lit("1996-01-01").cast("timestamp"),
                 F.lit("1997-12-31").cast("timestamp")))
             .select("o_orderkey", "o_custkey", "o_orderdate"))
        c = t("customer").select("c_custkey")
        return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(c, F.col("o_custkey") == F.col("c_custkey"))
                .groupBy(F.year("o_orderdate").alias("y"))
                .agg(F.sum("l_extendedprice").alias("s"))
                .agg(F.max("s")))

    def q4_scan():
        return (t("lineitem").select("l_orderkey", "l_shipdate")
                .agg(F.max("l_shipdate")))

    def q4_skel():
        # dominant movement: fact join into one broadcast year of
        # orders, then the dedup exchange over the MATCHED rows only
        # (the EXISTS lowering, tpch.py:283)
        o = (t("orders")
             .filter((F.col("o_orderdate")
                      >= F.lit("1996-01-01").cast("timestamp"))
                     & (F.col("o_orderdate")
                        < F.lit("1997-01-01").cast("timestamp")))
             .select("o_orderkey", "o_orderdate"))
        li = t("lineitem").select("l_orderkey", "l_shipdate")
        return (li.join(o, (F.col("l_orderkey") == F.col("o_orderkey"))
                        & (F.col("l_shipdate") > F.col("o_orderdate")
                           + F.expr("INTERVAL 30 DAYS")))
                .select("o_orderkey").dropDuplicates(["o_orderkey"])
                .agg(F.count(F.lit(1))))

    def q16_scan():
        return (t("lineitem").select("l_partkey", "l_suppkey")
                .agg(F.max("l_suppkey")))

    def q16_skel():
        # dominant movement: the partial/final DISTINCT aggregate over
        # the broadcast-joined bridge (q16's single exchange); the
        # anti-join the full query adds is broadcast (map-side)
        p = (t("part")
             .filter((F.col("p_brand") != "Brand#1")
                     & F.col("p_size").isin(5, 10, 15, 20, 25, 30))
             .select("p_partkey", "p_brand", "p_type", "p_size"))
        return (t("lineitem").select("l_partkey", "l_suppkey")
                .join(F.broadcast(p),
                      F.col("l_partkey") == F.col("p_partkey"))
                .groupBy("p_brand", "p_type", "p_size")
                .agg(F.countDistinct("l_suppkey").alias("c"))
                .agg(F.max("c")))

    def q22_scan():
        return (t("customer").select("c_custkey", "c_acctbal")
                .agg(F.max("c_acctbal")))

    def q22_skel():
        # dominant movement: the customer-vs-recent-orders anti join
        # (custkey exchange of both sides); the scalar AVG branch the
        # full query adds is a 1-row broadcast
        o = (t("orders")
             .filter(F.col("o_orderdate")
                     >= F.lit("1999-06-01").cast("timestamp"))
             .select("o_custkey"))
        return (t("customer").select("c_custkey", "c_acctbal")
                .join(o, F.col("c_custkey") == F.col("o_custkey"),
                      "left_anti")
                .agg(F.count(F.lit(1))))

    return {
        "tpch_q4": (q4_scan, q4_skel),
        "tpch_q8": (q8_scan, q8_skel),
        "tpch_q9": (q9_scan, q9_skel),
        "tpch_q11": (q11_scan, q11_skel),
        "tpch_q16": (q16_scan, q16_skel),
        "tpch_q17": (q17_scan, q17_skel),
        "tpch_q18": (q18_scan, q18_skel),
        "tpch_q21": (q21_scan, q21_skel),
        "tpch_q22": (q22_scan, q22_skel),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/sf1_tpch")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--queries", default=None,
                    help="comma list of qN names (default: all skeletons)")
    args = ap.parse_args()

    from instrument import idle_gate
    from tpch_sf1 import TPCH_TABLES, ensure_sf1

    from rust_query_engine_greatest_spark.queries import REGISTRY
    from rust_query_engine_greatest_spark.session import get_spark
    from rust_query_engine_greatest_spark.sources import compact, stats

    ensure_sf1(args.dir)
    spark = get_spark(app_name="sf1-floor")
    compact.activate(spark, args.dir, tables=TPCH_TABLES)
    # same configuration as the bench of record (r7: stats+CBO default)
    stats.activate(spark, args.dir)

    idle_gate(3.0, 240.0)

    out: dict[str, dict[str, float]] = {}
    skels = _skeletons(spark, args.dir)
    if args.queries:
        want = {f"tpch_{q.strip()}" for q in args.queries.split(",")}
        skels = {k: v for k, v in skels.items() if k in want}
    for name, (scan_fn, skel_fn) in skels.items():
        best = {"scan": 9e9, "skel": 9e9, "full": 9e9}
        for _ in range(args.passes):
            for kind, build in (("scan", scan_fn), ("skel", skel_fn),
                                ("full", lambda: REGISTRY[name].build(
                                    spark, args.dir))):
                t0 = time.time()
                build().collect()
                best[kind] = min(best[kind], time.time() - t0)
        out[name] = {k: round(v, 3) for k, v in best.items()}
        out[name]["plan_overhead"] = round(
            best["full"] - best["skel"], 3)

    print(json.dumps({
        "metric": "sf1_floor_decomposition",
        "sf": 1.0,
        "layout": "compacted",
        "queries": out,
        "load": list(os.getloadavg()),
        "ts": round(time.time(), 1),
    }))


if __name__ == "__main__":
    main()
