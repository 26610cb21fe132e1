"""Count-min sketch gate + quantile envelope: exactness and plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehouse_spark import catalog as cat
from data_warehouse_spark.operators import sketches
from .explain import plan_report

from .conftest import SF_DIR


def _plain_heavy_hitters(df, key_col, permille):
    total = df.count()
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") * 1000 >= permille * F.lit(total))
    )


def test_cms_heavy_hitters_equals_plain_group_by(spark):
    events = cat.load_table(spark, SF_DIR, "events")
    keys = events.select(F.col("user_id").cast("string").alias("k"))
    got = sketches.cms_heavy_hitters(keys, "k", threshold_permille=50).collect()
    want = _plain_heavy_hitters(keys, "k", 50).collect()
    assert sorted((r["k"], r["n_occurrences"]) for r in got) == sorted(
        (r["k"], r["n_occurrences"]) for r in want
    )
    assert len(want) > 0  # the threshold actually selects something


def test_cms_answer_is_sketch_parameter_independent(spark):
    events = cat.load_table(spark, SF_DIR, "events")
    keys = events.select(F.col("user_id").cast("string").alias("k"))
    wide = sketches.cms_heavy_hitters(keys, "k", 50, width=2048, depth=4).collect()
    # width 2 forces massive collisions -> every key becomes a candidate,
    # yet the exact verify keeps the answer identical
    tiny = sketches.cms_heavy_hitters(keys, "k", 50, width=2, depth=1).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, tiny))


def test_cms_sketch_is_mergeable_and_bounds_true_counts(spark):
    events = cat.load_table(spark, SF_DIR, "events")
    keys = events.select(F.col("user_id").cast("string").alias("k"))
    half_a = keys.filter(F.crc32(F.col("k")) % 2 == 0)
    half_b = keys.filter(F.crc32(F.col("k")) % 2 == 1)
    # cell-wise sum of the two shard sketches
    merged = (
        sketches.count_min_sketch(half_a, "k")
        .unionByName(sketches.count_min_sketch(half_b, "k"))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = sketches.count_min_sketch(keys, "k")
    m = {(r["d"], r["bucket"]): r["cnt"] for r in merged.collect()}
    w = {(r["d"], r["bucket"]): r["cnt"] for r in whole.collect()}
    assert m == w
    # one-sided bound: every true count <= its sketch estimate
    table = {}
    for (d, b), c in w.items():
        table.setdefault(d, {})[b] = c
    true_counts = {
        r["k"]: r["cnt"]
        for r in keys.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[1:16], 16)

    for k, c in true_counts.items():
        est = min(
            table[d].get(((h60(k) >> (15 * d)) & 0x7FFF) % sketches.CMS_WIDTH, 0)
            for d in table
        )
        assert est >= c, (k, est, c)


def test_cms_verify_is_single_shuffle_with_mapside_gate(spark):
    docs = cat.load_table(spark, SF_DIR, "documents")
    df = sketches.token_heavy_hitters(docs, threshold_permille=30)
    rep = plan_report(df)
    # the candidate gate is literal-array lookups (no join, no second agg
    # over the full stream): exactly one shuffle — the verify groupBy —
    # plus the orderBy exchange
    assert rep.exchanges <= 2, rep.text
    assert rep.broadcast_joins == 0 and rep.cartesian_products == 0, rep.text
    assert "element_at" in rep.text, rep.text


def test_quantile_check_rank_property_holds(spark):
    events = cat.load_table(spark, SF_DIR, "events")
    rows = sketches.quantile_sketch_check(events).collect()
    assert len(rows) > 0
    assert all(r["approx_rank_ok"] == 1 for r in rows), rows


def test_hll_cube_serves_all_rollups_within_tolerance(spark):
    events = cat.load_table(spark, SF_DIR, "events")
    cube = sketches.hll_distinct_cube(events)
    # cube grain: one row per (event_type, day) cell, binary sketch column
    assert cube.schema["sk"].dataType.typeName() == "binary"
    n_cells = cube.count()
    assert (
        n_cells
        == events.select("event_type", F.to_date("ts").alias("d")).distinct().count()
    )
    # every coarser rollup served from the cube lands within 5% of exact
    for dims, exact_df in (
        (
            ["event_type"],
            events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")),
        ),
        (
            [],
            events.agg(F.countDistinct("user_id").alias("n")),
        ),
    ):
        served = sketches.hll_serve_distinct(cube, dims).collect()
        exact = {
            tuple(r[d] for d in dims): r["n"] for r in exact_df.collect()
        }
        for r in served:
            key = tuple(r[d] for d in dims)
            approx = r["n_distinct_approx"]
            assert abs(approx - exact[key]) * 1000 <= 50 * exact[key], (
                key,
                approx,
                exact[key],
            )


def test_hll_cube_cells_merge_like_the_whole(spark):
    events = cat.load_table(spark, SF_DIR, "events")
    cube = sketches.hll_distinct_cube(events)
    # serving the global rollup from per-cell sketches ≈ one direct sketch
    # over the raw stream (merge loses nothing beyond sketch error)
    from_cells = sketches.hll_serve_distinct(cube, []).collect()[0][
        "n_distinct_approx"
    ]
    direct = events.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(sketches.HLL_LG_K))
        ).alias("n")
    ).collect()[0]["n"]
    assert abs(from_cells - direct) * 1000 <= 50 * max(direct, 1), (from_cells, direct)


def test_estimate_expr_is_bigint_even_for_int32_tables(spark):
    """Regression: the collected sketch's literal arrays infer array<int>
    whenever every cell fits int32, so the heavy-hitter gate's integer
    cross-multiplication (est·1000) overflowed once an estimate passed
    ~2.1M — first hit by the sf100 scale study's 600M-row token stream.
    The estimate must be BIGINT no matter what the table inferred."""
    df = spark.range(1).select(F.lit("k").alias("key"))
    # int32-range cells (3M) whose gated product (3e9) exceeds int32
    table = [[3_000_000] * sketches.CMS_WIDTH for _ in range(sketches.CMS_DEPTH)]
    est = sketches.estimate_expr(
        table, F.col("key"), sketches.CMS_WIDTH, sketches.CMS_DEPTH
    )
    out = df.select((est * 1000).alias("gated"))
    assert dict(out.dtypes)["gated"] == "bigint"
    assert out.collect()[0]["gated"] == 3_000_000_000
