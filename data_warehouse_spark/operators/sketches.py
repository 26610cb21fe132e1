"""Mergeable-sketch operators: count-min frequency gating + quantile checks.

At 100 TB the expensive part of "which keys are frequent?" is not the
counting — it is the shuffle that routes every occurrence of every key to
its reducer. A count-min sketch (Cormode & Muthukrishnan, 2005) bounds that
cost: ``depth`` hash rows × ``width`` counters, built with ONE scan whose
aggregation state is a constant-size table (depth×width rows regardless of
key cardinality), mergeable across partitions/executors by cell-wise sum
(exactly what Spark's partial aggregation does with the (d, bucket) group
key). The sketch's one-sided guarantee — estimate ≥ true count, always —
makes it a sound PRE-FILTER: keys whose estimate clears a frequency
threshold form a superset of the true heavy hitters, so the exact verify
pass shuffles only candidate occurrences and the final HAVING filter makes
the answer exact (deterministic, sketch-parameter-independent — only the
pruning efficiency varies with width/depth).

This is the frequency twin of the broadcast-Bloom membership gate in
``functions/bloom.py``: tiny driver-resident summary → map-side literal
expressions → smaller shuffle, never a changed answer.

Sizing at scale: width drives the overestimate (≤ total/width per cell in
expectation at each depth; the min over ``depth`` independent rows makes a
large overestimate exponentially unlikely). At the maximum width this
implementation supports (2¹⁵ — one 60-bit hash yields four 15-bit derived
hashes, see ``_cms_bucket``), a 10¹¹-token corpus gives E[overestimate]
≈ 3 M per cell ≪ a 1‰ threshold of 10⁸ — ~1 MB of driver memory replaces
a full-cardinality shuffle, and the gate expression stays a literal-array
lookup Catalyst can codegen (the reason for the width cap: a wider sketch
would need a broadcast join per depth instead of literals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X

CMS_WIDTH = 1024
CMS_DEPTH = 4


def _cms_bucket(key: F.Column, d: int, width: int) -> F.Column:
    """Depth-``d`` bucket of ``key``: a 15-bit slice of ONE 60-bit hash.

    One md5 per key serves all depths (bits 15d..15d+14 are the depth-d
    hash — the Kirsch-Mitzenmacher observation that a few derived hashes
    preserve sketch guarantees); per-depth salted hashes would cost
    ``depth`` md5s per row in BOTH the build and the gate pass, and the
    hash is the dominant per-row cost of the whole operator. Same h60
    primitive as every cross-engine hash in the repo (functions/text.py) —
    deterministic, engine-independent, no RNG. Requires width ≤ 2¹⁵ and
    depth ≤ 4 (60 bits / 15).
    """
    assert 0 <= d < 4 and width <= 32768
    sliced = F.shiftright(X.h60(key.cast("string")), 15 * d).bitwiseAND(F.lit(0x7FFF))
    return (sliced % width).cast("int")


def count_min_sketch(
    df: DataFrame, key_col: str, width: int = CMS_WIDTH, depth: int = CMS_DEPTH
) -> DataFrame:
    """Build the sketch as a DataFrame: (d, bucket, cnt), ≤ depth×width rows.

    One scan; ``posexplode`` fans each row into its ``depth`` cells and the
    (d, bucket) groupBy aggregates them — partial (map-side) aggregation
    keeps the shuffle at most depth×width×partitions rows, independent of
    key cardinality. The result is a mergeable artifact: sketches of two
    corpora (same geometry) merge by (d, bucket) cell-wise sum.
    """
    key = F.col(key_col)
    cells = F.array(*[_cms_bucket(key, d, width) for d in range(depth)])
    return (
        # NULL keys are excluded throughout the sketch family (a NULL key
        # hashes to NULL, which is not a bucket): COUNT-over-non-null
        # semantics, matching every oracle's WHERE key IS NOT NULL shape
        df.filter(key.isNotNull())
        .select(F.posexplode(cells).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def estimate_expr(
    table: list[list[int]], key: F.Column, width: int, depth: int
) -> F.Column:
    """The map-side CMS estimate of ``key`` against a collected sketch:
    min over depths of a literal-array lookup — the pre-filter of
    :func:`cms_heavy_hitters`."""
    # each depth row is a width-sized literal array; build it by parsing ONE
    # SQL string instead of F.lit(list), which assembles the array through
    # one py4j call PER ELEMENT (4×1024 round trips ≈ 3.2 s of driver wall
    # per construction, measured on sketch_suite — guide §7.3: driver/plan
    # work is wall time too). The L suffix pins array<bigint>; the estimate
    # was already cast to bigint below, so values are unchanged.
    ests = [
        F.coalesce(
            F.element_at(
                F.expr("array(" + ",".join(f"{v}L" for v in table[d]) + ")"),
                _cms_bucket(key, d, width) + 1,
            ),
            F.lit(0),
        )
        for d in range(depth)
    ]
    # BIGINT, unconditionally: the literal arrays infer array<int> whenever
    # every cell fits int32, so downstream integer cross-multiplication
    # (est·1000 in the heavy-hitter gate) overflows under ANSI once a cell
    # count passes ~2.1M — first hit at the sf100 scale study (600M-row
    # token stream). A count estimate's honest type is long regardless of
    # what the collected table happened to infer.
    return (F.least(*ests) if depth > 1 else ests[0]).cast("bigint")


def sketch_table(rows, width: int, depth: int) -> list[list[int]]:
    """Collected (d, bucket, cnt) rows → dense per-depth counter arrays."""
    table = [[0] * width for _ in range(depth)]
    for r in rows:
        table[r["d"]][r["bucket"]] = r["cnt"]
    return table


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold_permille: int,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """EXACT heavy hitters (count ≥ threshold_permille·total/1000), with the
    shuffle gated by a count-min pre-filter.

    Pass 1 builds the sketch (constant-size agg state) and collects it to
    the driver — depth×width longs, a few KB. The total row count falls out
    of the sketch for free (any depth row sums to it) — no extra job.
    Pass 2 evaluates the estimate map-side as ``least(element_at(lit(row_d),
    bucket_d) …)`` — literal-array lookups, zero Python, zero join — keeps
    rows whose estimate clears the threshold (superset of the truth by the
    one-sided bound), then exact-counts only the survivors. The final
    HAVING filter re-applies the threshold on true counts, so the output is
    exactly the plain groupBy-HAVING answer over NON-NULL keys (NULL keys
    are excluded by the sketch family — a NULL estimate fails the gate, and
    :func:`count_min_sketch` drops them from the totals symmetrically);
    integer cross-multiplication (``cnt·1000 ≥ permille·total``) keeps the
    comparison engine-exact.
    """
    key = F.col(key_col)
    table = sketch_table(
        count_min_sketch(df, key_col, width=width, depth=depth).collect(),
        width,
        depth,
    )
    total = sum(table[0])
    est = estimate_expr(table, key, width, depth)
    # the threshold product is computed in PYTHON (arbitrary precision) and
    # shipped as ONE literal — writing `threshold_permille * F.lit(total)`
    # instead made Catalyst constant-fold an int32 multiply whenever `total`
    # still fit int32, overflowing at plan time once permille·total passed
    # 2^31 (first hit: sf100's ~1e9-token stream, 30·total ≈ 3e10)
    min_count_x1000 = F.lit(threshold_permille * total)
    candidates = df.filter(est * 1000 >= min_count_x1000)
    return (
        candidates.groupBy(key.alias(key_col))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") * 1000 >= min_count_x1000)
    )


def token_heavy_hitters(
    documents: DataFrame,
    threshold_permille: int = 30,
    text_col: str = "text",
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Heavy hitters over the corpus token stream (the high-cardinality
    domain the sketch exists for: token vocabulary scales with corpus size,
    user-id-style keys don't). Output: (token, n_occurrences), exact."""
    toks = documents.select(
        F.explode(X.tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    return cms_heavy_hitters(
        toks, "token", threshold_permille, width=width, depth=depth
    ).orderBy("token")


def quantile_sketch_check(events: DataFrame, value_col: str = "value") -> DataFrame:
    """Per event type: the exact median of the 2-dp value (integer-cents
    domain) plus a self-checked bound on the engine's own quantile sketch.

    ``approx_rank_ok`` asserts the approximate median lands inside the
    exact [p45, p55] value envelope — the RANK-error guarantee quantile
    sketches actually make (value-space error is unbounded on skewed data).
    Cross-engine discipline: each engine checks ITS OWN sketch against ITS
    OWN exact envelope (the same pattern as the HLL arm of
    events_shapes_suite) — the exact median is value-checked directly, the
    sketch property must hold at 1 on both engines.
    """
    v = F.round(F.col(value_col) * 100).cast("bigint")
    g = events.select("event_type", v.alias("v_cents")).groupBy("event_type")
    agg = g.agg(
        F.expr("percentile(v_cents, 0.5)").alias("p50_cents"),
        F.expr("percentile(v_cents, 0.45)").alias("p45"),
        F.expr("percentile(v_cents, 0.55)").alias("p55"),
        F.expr("approx_percentile(v_cents, 0.5, 1000)").alias("p50_approx"),
    )
    ok = (F.col("p50_approx") >= F.col("p45")) & (F.col("p50_approx") <= F.col("p55"))
    return agg.select(
        "event_type",
        "p50_cents",
        F.when(ok, 1).otherwise(0).cast("bigint").alias("approx_rank_ok"),
    ).orderBy("event_type")


# --- HLL distinct-count cube --------------------------------------------------
# The mergeable-summary pattern applied to COUNT(DISTINCT): persist one
# DataSketches HLL per fine-grained cell, answer any coarser rollup by
# unioning cell sketches — the classic pre-aggregated distinct cube. The
# exact distinct over 100 TB re-shuffles every (key, user) pair per
# question; the cube pays that once at build and every rollup after is a
# cells-count merge.

HLL_LG_K = 12  # 2^12 registers ≈ 1.6 % relative standard error


def hll_distinct_cube(
    events: DataFrame,
    value_col: str = "user_id",
    lg_k: int = HLL_LG_K,
) -> DataFrame:
    """The stored cube: one HLL sketch of ``value_col`` per
    (event_type, day) cell — (event_type, day, sk binary). Build is one
    shuffle on the cell key with partial map-side sketch aggregation (the
    sketch is the agg state, constant-size per cell)."""
    return events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sk"))


def hll_serve_distinct(cube: DataFrame, group_cols: list[str]) -> DataFrame:
    """Answer ``COUNT(DISTINCT value) GROUP BY group_cols`` from the stored
    cube: union the cell sketches along the collapsed dimensions. Cost is
    O(|cells|), never a re-scan of the fact."""
    return cube.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_distinct_approx")
    )
