"""salted_join must be row-for-row identical to the plain join, with the
salt machinery visible in the physical plan (build-side replication, salted
join keys)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehouse_spark.operators.skew import salted_join


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_equals_plain_join(spark):
    stream = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", "hot", "cold")],
        ["k", "payload"],
    )
    build = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("absent", 3)], ["k", "attr"]
    )
    got = salted_join(stream, build, on=["k"], n_salts=4)
    want = stream.join(build, ["k"])
    assert _rows(got) == _rows(want)


def test_salted_left_join_keeps_unmatched_once(spark):
    stream = spark.createDataFrame([("a", 1), ("x", 2)], ["k", "payload"])
    build = spark.createDataFrame([("a", 10)], ["k", "attr"])
    got = salted_join(stream, build, on=["k"], n_salts=8, how="left")
    want = stream.join(build, ["k"], "left")
    assert _rows(got) == _rows(want)


def test_salted_join_plan_replicates_build_side(spark):
    from .explain import plan_report

    stream = spark.createDataFrame([("a", 1)], ["k", "payload"])
    build = spark.createDataFrame([("a", 10)], ["k", "attr"])
    rep = plan_report(salted_join(stream, build, on=["k"], n_salts=4))
    # build replication = explode of the salt array → a Generate node, and
    # the join condition carries the salt column alongside the key
    assert "Generate" in rep.text, rep.text
    assert "__salt" in rep.text, rep.text


def test_salted_join_bounds_reducer_load_on_zipfian_keys(spark):
    """Deliberately Zipfian stress fixture (the catalog's salt-invariance
    oracle runs on near-uniform synthetic keys; this is the distribution
    salting exists for): key(i) = floor(N/(i+1)) gives counts(k) ∝ 1/k²,
    so the hottest key carries ~half of all rows.

    Pins, against actual hash-partitioned physical distribution:
      1. result still row-for-row equals the plain join on this fixture;
      2. the hot key's rows spread across ALL n_salts salt groups, each
         within 1.5× of the even share (the 1/n reducer-load cap the
         module docstring promises);
      3. repartitioned by the salted key, no reducer partition carries the
         whole hot key and the max partition is at most half the unsalted
         max (which pins the entire hot key — more than half the corpus —
         onto ONE reducer). The salted max is NOT near perfect balance at
         this geometry: 8 salt groups hashed into 16 partitions collide
         (birthday effect), stacking 2-3 hot-salt groups per partition —
         the residual imbalance the ``n_salts`` knob (sized against the
         reducer count) controls, on top of AQE's partition-splitting.
    """
    import math

    n, n_salts, n_part = 40_000, 8, 16
    stream = spark.range(n).select(
        F.concat(F.lit("u"), F.floor(F.lit(n) / (F.col("id") + 1))).alias("k"),
        F.col("id").alias("payload"),
    )
    build = (
        stream.select("k").distinct().withColumn("attr", F.length("k"))
    )
    got = salted_join(stream, build, on=["k"], n_salts=n_salts)
    want = stream.join(build, ["k"])
    assert got.count() == want.count() == n  # every stream row matches once

    counts = {r["k"]: r["cnt"] for r in
              stream.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    hot_key, hot = max(counts.items(), key=lambda t: t[1])
    assert hot >= n // 2  # the fixture is actually skewed

    from data_warehouse_spark.operators.skew import _SALT

    salted = stream.withColumn(
        _SALT,
        F.pmod(
            F.xxhash64(F.struct(*[F.col(c) for c in stream.columns])),
            F.lit(n_salts),
        ).cast("int"),
    )
    per_salt = {
        r[_SALT]: r["cnt"]
        for r in salted.filter(F.col("k") == hot_key)
        .groupBy(_SALT)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert len(per_salt) == n_salts  # hot key reaches every salt bucket
    assert max(per_salt.values()) <= 1.5 * math.ceil(hot / n_salts), per_salt

    def max_partition(df, *cols):
        return max(
            r["cnt"]
            for r in df.repartition(n_part, *cols)
            .select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )

    salted_max = max_partition(salted, F.col("k"), F.col(_SALT))
    unsalted_max = max_partition(stream, F.col("k"))
    assert unsalted_max >= hot  # the hot key pins one reducer unsalted
    assert salted_max < hot, (salted_max, hot)  # hot key never whole on one
    assert salted_max <= unsalted_max / 2, (salted_max, unsalted_max)


def test_salt_column_collision_rejected(spark):
    df = spark.createDataFrame([(1,)], ["__salt"])
    try:
        salted_join(df, df, on=["__salt"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_salted_join_rejects_build_sided_how(spark):
    df = spark.createDataFrame([("a", 1)], ["k", "v"])
    for how in ("right", "full", "right_outer", "full_outer"):
        try:
            salted_join(df, df, on=["k"], how=how)
            raise AssertionError(f"{how} must be rejected")
        except ValueError:
            pass
