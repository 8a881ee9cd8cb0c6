"""Skew operators preserve exact results; bucketed joins drop the
shuffle (no Exchange in the physical plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_migration_engine_spark import warehouse as WH
from database_migration_engine_spark.io import read_table
from database_migration_engine_spark.operators import skew as SK

from .conftest import SF_DIR


def test_salted_sum_equals_plain_sum(spark):
    """Two-phase salted sum must equal the single-phase sum exactly —
    decimal partials are associative."""
    li = read_table(spark, SF_DIR, "lineitem")
    plain = {
        r.l_returnflag: r.total
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,10)"))
            .cast("double")
            .alias("total")
        )
        .collect()
    }
    salted = {
        r.l_returnflag: r.total
        for r in SK.salted_sum(li, "l_returnflag", "l_quantity").collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    orders = read_table(spark, SF_DIR, "orders")
    cust = read_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").count()
    salted = SK.salted_join(orders, cust, "o_custkey", salts=8).count()
    assert salted == plain


def test_key_histogram(spark):
    ev = read_table(spark, SF_DIR, "events")
    hist = SK.key_histogram(ev, "event_type", top=5).collect()
    assert len(hist) == 5
    assert hist[0].n_rows >= hist[-1].n_rows
    assert sum(r.n_rows for r in hist) == ev.count()


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    orders = read_table(spark, SF_DIR, "orders")
    li = read_table(spark, SF_DIR, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    WH.ensure_bucketed(spark, orders, "b_orders", "o_orderkey", num_buckets=8)
    WH.ensure_bucketed(spark, li, "b_lineitem", "o_orderkey", num_buckets=8)
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    left, right = bucketed_tables
    assert spark.catalog.tableExists(left) and spark.catalog.tableExists(right)
    # disable broadcast so the planner must consider bucket co-location
    # (at fixture scale it would otherwise just broadcast the small side —
    # at 100 TB neither fact side is broadcastable)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(spark.table(right), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, (
        f"bucketed join still shuffles:\n{plan}"
    )
    assert "SortMergeJoin" in plan
    # and it is correct
    plain = (
        read_table(spark, SF_DIR, "orders")
        .join(
            read_table(spark, SF_DIR, "lineitem").withColumnRenamed(
                "l_orderkey", "o_orderkey"
            ),
            "o_orderkey",
        )
        .count()
    )
    assert joined.count() == plain


def test_salted_join_balances_hot_key_partitions(spark):
    """Skew proof (VERDICT r01 item 9): with one key owning ~50% of the
    fact rows, a plain shuffle join hashes half of all rows to ONE
    reducer key — the straggler task at scale; salting bounds every
    (key, salt) group near hot_share/salts. Max-rows-per-shuffle-key is
    the deterministic form of the claim (physical partition probes just
    measure AQE's small-data coalescing, and a single key can never split
    across tasks without AQE skew handling); SCALE.md records the
    measured sf0.1 wall-clock alongside."""
    from database_migration_engine_spark.io import read_table
    from database_migration_engine_spark.operators.skew import (
        salted_join,
        with_salt,
    )

    li = read_table(spark, SF_DIR, "lineitem")
    # one hot key: half of all rows remapped onto okey=1 (deterministic)
    fact = li.select(
        F.when(F.pmod(F.col("l_linenumber"), F.lit(2)) == 0, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("okey"),
        "l_quantity",
    )
    total = fact.count()

    def max_key_share(df, *keys):
        counts = [r["count"] for r in df.groupBy(*keys).count().collect()]
        return max(counts) / total

    plain_share = max_key_share(fact, "okey")
    salted_share = max_key_share(with_salt(fact, 8), "okey", "_salt")
    assert plain_share >= 0.4, f"hot key did not skew the fact: {plain_share}"
    assert salted_share <= plain_share / 4, (
        f"salting failed to spread the hot key: {salted_share}"
    )

    # and the salted JOIN must not change the join's row multiset
    dim = fact.select("okey").distinct().withColumn("okey_flag", F.lit(1))
    plain_join = fact.hint("SHUFFLE_MERGE").join(dim, "okey")
    assert plain_join.count() == salted_join(fact, dim, "okey", salts=8).count()


def test_suggest_salt_factor_from_measured_skew(spark):
    """r05 verdict item 7: a synthetic 90/10 skew must get exactly the
    factor its log2 histogram implies; uniform keys must get 1."""
    # 10_000 rows: one hot key holds 9_000 (log2 bucket 13 → hot ceiling
    # 2^14 = 16384), 100 cold keys hold 10 each
    hot = spark.range(9000).select(F.lit(0).alias("k"))
    cold = spark.range(1000).select((1 + F.col("id") % 100).alias("k"))
    df = hot.unionByName(cold)
    # parallelism 8 → target 10000/8 = 1250 rows/partition;
    # ceil(16384/1250) = 14 → next power of two = 16
    assert SK.suggest_salt_factor(df, "k", parallelism=8) == 16
    # same data, huge parallelism: clamped at max_salts
    assert SK.suggest_salt_factor(df, "k", parallelism=10_000) == 64
    # uniform keys: measure-first says don't salt
    uni = spark.range(4096).select((F.col("id") % 1024).alias("k"))
    assert SK.suggest_salt_factor(uni, "k", parallelism=8) == 1
    # histogram sanity: buckets partition all rows
    hist = SK.log2_histogram(df, "k")
    assert sum(r.n_rows for r in hist) == 10_000
    assert {r.bucket for r in hist} == {13, 3}  # 9000 → b13, 10 → b3


def test_ensure_bucketed_idempotent_and_one_file_per_bucket(spark):
    """r06: the second call must skip the write (stamp + catalog hit),
    and the pre-write repartition must land each bucket in ONE file so
    sortBy metadata stays usable."""
    import glob
    import os

    from database_migration_engine_spark import warehouse as WH

    orders = read_table(spark, SF_DIR, "orders")
    t = WH.ensure_bucketed(
        spark, orders, "t_idem_orders", "o_orderkey",
        num_buckets=4, sort_by="o_orderkey",
    )
    path = [
        r for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        if r.col_name == "Location"
    ][0].data_type.replace("file:", "")
    files = [f for f in glob.glob(os.path.join(path, "*.parquet"))]
    assert len(files) == 4, files  # one file per bucket
    mtimes = {f: os.path.getmtime(f) for f in files}
    # second call: no rewrite
    assert WH.ensure_bucketed(
        spark, orders, "t_idem_orders", "o_orderkey", num_buckets=4
    ) == t
    assert {f: os.path.getmtime(f) for f in files} == mtimes
    assert spark.table(t).count() == orders.count()
    spark.sql("DROP TABLE IF EXISTS t_idem_orders")


def test_ensure_partitioned_prunes_and_is_idempotent(spark):
    import os

    from database_migration_engine_spark import warehouse as WH

    orders = read_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    p = WH.ensure_partitioned(spark, orders, "t_idem_part", "o_year")
    years = [
        d for d in os.listdir(p) if d.startswith("o_year=")
    ]
    assert len(years) >= 2, years  # hive-style directory per year
    stamp_m = os.path.getmtime(os.path.join(p, "_dbmig_stamp"))
    assert WH.ensure_partitioned(spark, orders, "t_idem_part", "o_year") == p
    assert os.path.getmtime(os.path.join(p, "_dbmig_stamp")) == stamp_m
    sub = spark.read.parquet(p).filter(F.col("o_year") == 1997)
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    want = orders.filter(F.col("o_year") == 1997).count()
    assert sub.count() == want
