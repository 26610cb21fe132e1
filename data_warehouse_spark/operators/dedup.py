"""Deduplication operators for 100 TB document corpora.

Four families, each a pure DataFrame pipeline:

  exact          hash-groupBy on normalized text (one shuffle on a 60-bit key)
  minhash_lsh    shingle → per-row MinHash signature (no shuffle) → band
                 bucket self-join (shuffle on band keys only — candidates,
                 never all pairs) → exact Jaccard verify on candidates
  simhash        per-row 60-bit signature; near-dups = small Hamming distance
  embedding      cosine near-dup over array<float> (see similarity.py for
                 the bucketed scale path)

Scale story: the LSH pipeline's cost is O(docs · shingles) map-side plus a
shuffle whose keys are (band, bucket) — the classic way all-pairs O(n²)
similarity becomes tractable; band/row counts trade recall vs candidate
volume (8 bands × 2 rows ≈ catches Jaccard ≳ 0.6 with high probability).
"""

from __future__ import annotations

import re as _re

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..materialize import storage_checkpoint as _storage_checkpoint

# (the multi-branch pipelines below reuse expensive intermediates — MinHash
# signatures feed the band join AND both sides of the verify join — so they
# are checkpointed to storage via materialize.storage_checkpoint, never
# persist()ed: zero cached RDDs left behind across repeated invocations)


# (app_id, caller key, geometry) → checkpointed-signature parquet path. A
# signature table is a STORED artifact in a production dedup pipeline
# (computed once over the corpus, probed by every dedup/clustering pass);
# this cache is the local stand-in, same contract as the IVF index cache:
# cache_key must uniquely identify the corpus DATA — two different corpora
# sharing a key would serve the first caller's signatures. Entries are
# parquet paths, not persisted DataFrames: reuse costs a read, never
# accumulates executor cache.
_SIGNATURE_CACHE: dict[tuple, str] = {}


def clear_signature_cache(cache_key: str | None = None) -> int:
    """Drop cached signature artifacts (all, or those built under one key).
    Returns the number of entries evicted; files are removed eagerly."""
    doomed = [k for k in _SIGNATURE_CACHE if cache_key is None or k[1] == cache_key]
    for k in doomed:
        shutil.rmtree(_SIGNATURE_CACHE.pop(k), ignore_errors=True)
    return len(doomed)


def _cached_signatures(
    documents: DataFrame, id_col: str, text_col: str, shingle_n: int, cache_key: str | None
) -> DataFrame:
    if cache_key is None:
        return _storage_checkpoint(
            minhash_signatures(documents, id_col, text_col, shingle_n)
        )
    spark = documents.sparkSession
    key = (
        spark.sparkContext.applicationId,
        cache_key,
        id_col,
        text_col,
        shingle_n,
    )
    path = _SIGNATURE_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="dwh-sigs-")
        atexit.register(shutil.rmtree, path, True)
        minhash_signatures(documents, id_col, text_col, shingle_n).write.mode(
            "overwrite"
        ).parquet(path)
        _SIGNATURE_CACHE[key] = path
    return spark.read.parquet(path)


def exact_duplicates(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text: every doc mapped to its group's
    canonical (minimum) id + group size. ``is_duplicate`` marks rows a
    dedup pass would drop."""
    keyed = documents.select(
        F.col(id_col).alias("doc_id"), X.h60(X.normalize(text_col)).alias("content_key")
    )
    groups = keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return (
        keyed.join(groups, "content_key")
        .select(
            "doc_id",
            "canonical_id",
            "n_copies",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def minhash_signatures(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """doc_id + HASHED shingle set (``hset``, distinct h31 values) + k
    MinHash values (sig_0..sig_{k-1}).

    Signature computation is entirely within-row (array transforms) — at
    cluster scale this stage is embarrassingly parallel with zero shuffle.

    The stored artifact carries the hashed set, not the shingle strings:
    the verify stage's Jaccard runs on ``hset``, so the candidate join
    shuffles fixed-width integers instead of ~24-byte-per-gram string
    arrays (at 1.5 M docs the string-array verify spilled >50 GB through
    a single disk; this is the standard hashed-shingle discipline of
    production dedup pipelines). The h31 values fit 31 bits, so ``hset``
    is stored as array<int> — HALF the shuffle/store width of the int64
    form the verify first shipped with (the 64-bit width only ever
    existed because the signature arithmetic needs 64-bit intermediates;
    the SET doesn't). Jaccard over the 31-bit hashed space is exact
    modulo within-doc hash collisions (~200²/2³¹ ≈ 2e-5 per doc); the
    DuckDB twin hashes with the same h31, so cross-engine results stay
    bit-identical."""
    sigs = X.minhash_signature(F.col("hs"))
    return (
        X.add_shingles(
            documents.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
            "__t",
            shingle_n,
        )
        .drop("__t")
        .withColumn("hs", X.hashed_shingles(F.col("shingles")))
        .select(
            "doc_id",
            F.array_sort(F.array_distinct("hs")).alias("hset"),
            *[s.alias(f"sig_{i}") for i, s in enumerate(sigs)],
        )
    )


def band_keys(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """(doc_id, band_key) rows: one key per band, each key fusing that
    band's ``rows_per_band`` MinHash values. Map-side only (explode); this
    IS the probe-table layout a production pipeline persists next to the
    signature store (partitioned/bucketed by ``band_key`` so batch probes
    prune to matching buckets instead of scanning the corpus)."""
    n_sigs = bands * rows_per_band
    keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )
    assert all(f"sig_{i}" in signatures.columns for i in range(n_sigs))
    # docs with no shingles have null signatures (array_min of empty) —
    # concat_ws would silently drop the nulls and bucket them all together
    return signatures.filter(F.size("hset") > 0).select(
        "doc_id", F.explode(keys).alias("band_key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of ≥1 band become a candidate
    pair. One explode to (band, bucket) keys + a self-join per band bucket —
    the only shuffle in the pipeline, and it carries keys, not documents."""
    keyed = band_keys(signatures, bands, rows_per_band)
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, signatures: DataFrame, threshold_x1000: int = 600
) -> DataFrame:
    """Exact hashed-shingle-set Jaccard on candidate pairs only (the verify
    stage) — int64 sets, so the two candidate joins shuffle fixed-width
    arrays, never shingle strings (see :func:`minhash_signatures`).

    Output carries ``jaccard_x1000`` (floor of ×1000 — exact integer across
    engines) and keeps pairs ≥ threshold.
    """
    sh = signatures.select("doc_id", "hset")
    paired = (
        candidates.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hset", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hset", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.floor(inter * 1000 / F.greatest(union, F.lit(1))).cast("bigint")
    return (
        paired.select("doc_a", "doc_b", jac.alias("jaccard_x1000"))
        .filter(F.col("jaccard_x1000") >= threshold_x1000)
    )


def minhash_lsh_duplicates(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold_x1000: int = 600,
    signatures_cache_key: str | None = None,
    verify_slices: int | None = None,
) -> DataFrame:
    """The full fuzzy-dedup pipeline: signatures → LSH candidates → verify.

    The signature stage feeds three plan branches (band keys + both sides of
    the verify join); checkpoint it to storage so shingling+hashing runs
    once — exactly what a cluster pipeline does before the LSH shuffle, and
    unlike ``persist()`` it leaves no cached RDDs behind across repeated
    invocations in one session. Pass ``signatures_cache_key`` (contract as
    :data:`_SIGNATURE_CACHE`) to reuse the checkpointed signature artifact
    across invocations — the stored-signature-table pattern of a production
    dedup pipeline; steady-state then pays a parquet read, not a rebuild.

    ``verify_slices`` (default: env ``SPARK_GRAFT_MINHASH_VERIFY_SLICES``
    or 1) bounds the verify join's TRANSIENT disk footprint: the
    pair×hset intermediate is the pipeline's only super-corpus-sized
    object (~2× candidate volume — it exhausted a single 252 GB test
    volume at 5 M docs even with int32 hashed shingles), so with K > 1
    the candidate pairs are checkpointed once and verified in K
    sequential hash-disjoint slices, each slice's shuffle ≈ 1/K of the
    whole and its files eligible for cleanup before the next slice runs.
    On a cluster the same knob caps per-wave spill without changing the
    plan shape; results are the exact union of the slices (the pair set
    is hash-partitioned, never sampled).
    """
    sigs = _cached_signatures(documents, id_col, text_col, shingle_n, signatures_cache_key)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    if verify_slices is None:
        import os

        verify_slices = int(os.environ.get("SPARK_GRAFT_MINHASH_VERIFY_SLICES", "1"))
    if verify_slices <= 1:
        return jaccard_verify(cands, sigs, threshold_x1000).orderBy("doc_a", "doc_b")
    spark = documents.sparkSession
    cands_ck = _storage_checkpoint(cands)  # 2 int64s/row — tiny vs pair×hset
    if cands_ck.limit(1).count() == 0:
        # no candidates at all: parquet dirs with zero part files can't
        # serve the union read's schema — the unsliced (empty) verify can
        return jaccard_verify(cands_ck, sigs, threshold_x1000).orderBy("doc_a", "doc_b")
    out_root = tempfile.mkdtemp(prefix="dwh-minhash-verify-")
    atexit.register(shutil.rmtree, out_root, True)
    slice_paths = []
    for k in range(verify_slices):
        part = cands_ck.filter(
            F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(verify_slices)) == k
        )
        path = f"{out_root}/part_{k:04d}"
        jaccard_verify(part, sigs, threshold_x1000).write.mode("overwrite").parquet(path)
        slice_paths.append(path)
        # this slice's survivors are on disk; drop every reference to its
        # plan (Python first — py4j proxies pin the JVM objects) and nudge
        # the JVM so ContextCleaner reclaims the slice's shuffle files
        # before the next slice starts writing its own — the whole point
        # of slicing is that at most ONE slice's shuffle exists at a time
        part = None
        try:
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    # a slice whose verify survived zero pairs may write a dir with NO
    # part files (AQE empty-relation propagation) — such dirs can't serve
    # schema inference, so only read slices that actually hold data; if
    # every slice came up empty, the unsliced path's empty result (with
    # schema) is the answer (r8 review finding)
    import os as _os

    nonempty = [
        p
        for p in slice_paths
        if any(f.endswith(".parquet") for f in _os.listdir(p))
    ]
    if not nonempty:
        return jaccard_verify(cands_ck.limit(0), sigs, threshold_x1000).orderBy(
            "doc_a", "doc_b"
        )
    return spark.read.parquet(*nonempty).orderBy("doc_a", "doc_b")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus_signatures: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold_x1000: int = 600,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Dedup an incoming batch against an already-signed corpus WITHOUT
    re-signing the corpus — the daily-batch shape of a production pipeline:
    the historical signature store (output of :func:`minhash_signatures`,
    persisted once) is probed; only the new batch pays shingling+hashing
    (and only once: pass ``new_signatures`` — a materialized
    :func:`minhash_signatures` of the batch — when the caller also needs
    the signatures, e.g. to append the survivors' to the store).

    Output: one row per duplicate found — ``(doc_id, dup_of,
    jaccard_x1000, scope)`` where ``doc_id`` is the new document,
    ``dup_of`` its surviving canonical (a corpus doc for scope='corpus',
    the smaller-id batch partner for scope='batch'), and both scopes are
    reported so a doc duplicating corpus AND batch content shows each
    relationship. Replay-safe: a batch doc whose id already exists in the
    corpus store never matches itself.

    Scale shape (the reason this exists): cost is O(|batch|·shingles)
    map-side + one pass over the corpus band-key projection. The batch's
    band keys are explicitly broadcast, so the corpus side never shuffles —
    with the store partitioned by ``band_key`` (see :func:`band_keys`) the
    probe prunes to matching buckets and the scan is sub-linear. Verify
    joins fetch corpus shingles only for candidate ids. Contrast with
    re-running :func:`minhash_lsh_duplicates` over corpus+batch: that
    re-signs and re-shuffles the full corpus every batch.
    """
    nsig = (
        new_signatures
        if new_signatures is not None
        else _storage_checkpoint(minhash_signatures(new_docs, id_col, text_col, shingle_n))
    )
    nkeys = band_keys(nsig, bands, rows_per_band).withColumnRenamed("doc_id", "new_id")
    ckeys = band_keys(corpus_signatures, bands, rows_per_band).withColumnRenamed(
        "doc_id", "corpus_id"
    )
    cross = (
        ckeys.join(F.broadcast(nkeys), "band_key")
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()  # shuffles candidate PAIRS only, never documents
    )
    n_sh = nsig.select(F.col("doc_id").alias("new_id"), F.col("hset").alias("sh_a"))
    c_sh = corpus_signatures.select(
        F.col("doc_id").alias("corpus_id"), F.col("hset").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.floor(inter * 1000 / F.greatest(union, F.lit(1))).cast("bigint")
    # the corpus shingle fetch must STREAM past broadcast builds, never
    # sort-merge (a corpus-wide shuffle would break the O(batch) contract).
    # Broadcast bounds: `cross` is bare id pairs (bytes per candidate, no
    # shingle arrays — safe even when a hot band key explodes the candidate
    # count) and `n_sh` is batch-sized by contract; the candidate×shingle
    # blowup rows only ever stream
    vs_corpus = (
        c_sh.join(F.broadcast(cross), "corpus_id")
        .join(F.broadcast(n_sh), "new_id")
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("corpus_id").alias("dup_of"),
            jac.alias("jaccard_x1000"),
            F.lit("corpus").alias("scope"),
        )
        .filter(F.col("jaccard_x1000") >= threshold_x1000)
    )
    within = jaccard_verify(
        lsh_candidate_pairs(nsig, bands, rows_per_band), nsig, threshold_x1000
    ).select(
        F.col("doc_b").alias("doc_id"),  # larger id defers to the smaller
        F.col("doc_a").alias("dup_of"),
        "jaccard_x1000",
        F.lit("batch").alias("scope"),
    )
    return vs_corpus.unionByName(within).orderBy("doc_id", "scope", "dup_of")


def simhash_signatures(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """doc_id → 60-bit SimHash signature (near-dup = small Hamming distance)."""
    return documents.select(
        F.col(id_col).alias("doc_id"), X.simhash60(text_col).alias("simhash")
    )


def simhash_neardup_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup PAIRS via banded Hamming-≤k join — the operator that
    turns signatures into dedup decisions.

    Pigeonhole banding: split the 60-bit signature into ``max_hamming + 1``
    equal bands; any pair within Hamming distance ≤ k must agree EXACTLY on
    at least one band, so a self-join on (band index, band value) has 100 %
    recall — one shuffle carrying (band, 15-bit value) keys, never all
    pairs. Band width is the scale knob: bucket size ~N/2^15, so candidate
    volume stays near-linear at 10⁸⁺ docs (an 8-bit band's ~N/256 buckets
    would grow quadratically). Candidates then verify with an exact popcount
    on the XOR. Same candidate-vs-verify shape as MinHash-LSH; the DuckDB
    twin brute-forces all pairs, independently checking the banding's recall.
    """
    assert X.SIMHASH_BITS % (max_hamming + 1) == 0, "band count must divide 60"
    bands = max_hamming + 1
    width = X.SIMHASH_BITS // bands
    mask = (1 << width) - 1
    # checkpoint the signatures: the self-join reads them on BOTH sides, and
    # without a materialization Spark recomputes the O(tokens × 60) simhash
    # fold twice (measured 24 s/side at 50 k docs — the dominant cost)
    sigs = _storage_checkpoint(simhash_signatures(documents, id_col, text_col))
    # NB: named distinctly from the module-level band_keys() (MinHash probe
    # table) — this is the SimHash banding expression, not that function
    simhash_band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)),
            )
            for b in range(bands)
        ]
    )
    keyed = sigs.select(
        "doc_id", "simhash", F.explode(simhash_band_keys).alias("band_key")
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band_key"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band_key"
    )
    # VERIFY BEFORE DEDUPLICATING: the popcount is a few cycles per
    # candidate, while `.distinct()` is a shuffle — filtering first makes
    # the distinct's input proportional to the OUTPUT (true near-dup pairs,
    # each seen ≤ `bands` times), not the candidate volume. On homogeneous
    # corpora this is the difference between linear and pathological:
    # word-salad docs drawn from one vocabulary CONCENTRATE simhash bands
    # (each bit is the sign of a token-population sum — CLT pulls long docs
    # toward the vocabulary's mean signature), measured 72.6 M candidates /
    # max bucket 4 511 at 50 k docs where a uniform hash predicts ~150 k.
    # A pair's bit_count may be evaluated once per shared band; that
    # recompute is orders cheaper than shuffling every candidate wide.
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("bigint")
    return (
        a.join(b, ["band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_x1000: int = 800,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard — the small-data oracle / recall
    baseline that LSH approximates. O(n²); never run above ~10⁵ docs."""
    sh = (
        X.add_shingles(
            documents.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
            "__t",
            shingle_n,
        )
        .drop("__t")
        .filter(F.size("shingles") > 0)
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.floor(inter * 1000 / F.greatest(union, F.lit(1))).cast("bigint")
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard_x1000"))
        .filter(F.col("jaccard_x1000") >= threshold_x1000)
        .orderBy("doc_a", "doc_b")
    )


def neardup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document in a
    component gets ``cluster_id`` = the component's minimum doc id (the one
    a dedup pass keeps). Input is any pair DataFrame (MinHash-LSH, SimHash,
    embedding near-dups); output covers only docs that appear in a pair —
    singletons are trivially their own cluster and would bloat the result.

    Iterative min-label propagation: labels flow along edges until a
    fixpoint; each round is one shuffle (join on node id) + one grouped
    min. Rounds needed = component diameter ≈ log for the chain-y clusters
    near-dup graphs have (dup clusters are near-cliques — typically 2-3
    rounds). Each round's label table is truncated to a storage checkpoint
    (parquet scratch, the repo-wide pattern) so the plan stays
    iteration-count-independent AND no block-manager state outlives the
    call — ``localCheckpoint`` here would strand one persisted RDD per
    round until JVM GC, the executor-cache leak the cache-hygiene test
    pins against (an iterative driver loop, NOT a driver-side union-find:
    the edge set never leaves the executors). At extreme scale, swap for
    large-star/small-star (Kiveris et al.) — same contract.

    Not SQL-expressible in one query (recursive CTE over an arbitrary graph
    explodes); the catalog records it rows-only, pytest pins exactness
    against a Python union-find on collected pairs.
    """
    edges = _storage_checkpoint(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    # seed with round 1 already applied: label(x) = min(x, direct
    # neighbors). From the identity init the first loop round computes
    # exactly this (edges are symmetrized, so every node appears as dst),
    # and every later round is a deterministic function of the label
    # table — so seeding here drops one join+checkpoint+count round per
    # call (one full shuffle round at scale) with a bit-identical
    # fixpoint AND identical intermediate label tables from round 2 on.
    labels = _storage_checkpoint(
        edges.groupBy("dst")
        .agg(F.least(F.col("dst"), F.min("src")).alias("label"))
        .select(F.col("dst").alias("id"), "label")
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("cand"))
        )
        # the change bit rides the SAME projection that computes the new
        # label (cand < label iff this round lowered it — least() ignores
        # the left-join's NULL cand), so convergence detection is a 1-row
        # aggregate over the just-written checkpoint. The old shape
        # re-joined new_labels⋈labels on id only to count diffs — a full
        # O(|nodes|) shuffle join PER ROUND at scale for one integer.
        new_labels = _storage_checkpoint(
            labels.join(prop, labels["id"] == prop["nid"], "left")
            .select(
                "id",
                F.least("label", "cand").alias("label"),
                (F.col("cand") < F.col("label")).cast("int").alias("_chg"),
            )
        )
        changed = new_labels.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    else:
        # NEVER return silently inconsistent clusters: a component whose
        # diameter exceeds max_iter would carry multiple cluster_ids, and
        # a dedup pass keyed on them would keep multiple "canonical"
        # copies with no sign anything went wrong
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — a component's diameter "
            "exceeds max_iter; raise max_iter (or switch to the "
            "large-star/small-star variant for extreme graphs)"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def paragraph_dedup(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the boilerplate-stripping
    pass every web-scale pipeline runs before document-level dedup: repeated
    footers/navigation/promo blocks are removed EVERYWHERE except their
    first occurrence, keeping each document's unique prose intact).

    Semantics: split each document on ``sep``, key each paragraph by
    h60(normalize(paragraph)); a paragraph survives iff it is the first
    occurrence of its key in corpus order (lowest (doc_id, position)).
    Output per document: paragraph counts plus the cross-engine h60 of the
    surviving paragraphs re-joined in order — the oracle value-checks the
    reconstructed cleaned text, not just the counts.

    Scale shape: explode is map-side; the only shuffle carries
    (paragraph-key → (doc_id, pos)) pairs — one window over the 60-bit key
    (equivalently a min-agg + semi-join), then one agg back to document
    grain. Never all-pairs, never a global sort; hot boilerplate keys skew
    the key shuffle but each group reduces to a single min. The window is
    an UNORDERED min-struct over the key partition (first occurrence =
    minimum (doc_id, pos)), not row_number over an ordered frame: the
    exchange then sorts on the 8-byte key alone instead of
    (pkey, doc_id, pos), and the whole-partition min evaluates in one
    O(group) pass — cheaper sort keys are real money when the corpus-wide
    paragraph set is the widest shuffle of the cleaning pipeline.
    """
    paras = documents.select(
        F.col(id_col).alias("doc_id"),
        # literal separator: F.split takes a Java regex, so escape
        # metacharacters ('|' would split between every character)
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("pos", "para"),
    )
    keyed = paras.withColumn("pkey", X.h60(X.normalize("para")))
    w = Window.partitionBy("pkey")
    first = F.min(F.struct("doc_id", "pos")).over(w)
    kept = keyed.withColumn(
        "keep", (F.struct("doc_id", "pos") == first).cast("int")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            X.h60(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("keep") == 1, F.struct("pos", "para")
                                )
                            )
                        ),
                        lambda s: s.getField("para"),
                    ),
                    sep,
                )
            ).alias("clean_key"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring detection (k-token-gram approximation)
# ---------------------------------------------------------------------------


def substring_duplicate_spans(
    documents: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring spans via k-token-gram collision.

    The scalable approximation of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): any
    duplicated token span of length >= k contains a duplicated k-gram, so
    flagging every k-gram that occurs more than once in the corpus (in any
    document, including the same one) finds all such spans with zero false
    negatives at gram granularity — no suffix array, no global sort.

    Returns one row per document that contains at least one duplicated
    k-gram::

        doc_id        document id
        n_tokens      normalized token count
        dup_grams     k-gram start positions whose gram occurs >1x corpus-wide
        dup_spans     maximal contiguous duplicated regions (runs of flagged
                      windows merged when they overlap or touch, gap <= k)
        dup_tokens    tokens covered by the union of flagged k-windows
        dup_permille  div(1000 * dup_tokens, n_tokens)  (integer-exact)

    Scale story: grams are generated map-side from the token array (no
    explode until after the per-row transform), the duplicate decision is ONE
    shuffle on the 60-bit gram hash (window count — the map-side combine
    happens in the window's partial aggregation), and the per-document span
    fold is ONE shuffle on doc_id with the run/coverage arithmetic done
    JVM-side on the sorted position array (zip_with + aggregate, no Python).
    Candidate volume is linear in corpus token count — never all-pairs.
    """
    toks = X.tokens(text_col)
    # sequence(a, b) counts DOWN when a > b — guard short docs explicitly
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                X.h60(F.concat_ws(" ", F.slice(toks, i, k))).alias("gram_h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gram_h:bigint>>"))
    exploded = (
        documents.select(
            F.col(id_col).alias("doc_id"),
            X.token_count(text_col).alias("n_tokens"),
            grams.alias("grams"),
        )
        .filter(F.size("grams") >= 1)
        .select("doc_id", "n_tokens", F.explode("grams").alias("g"))
        .select("doc_id", "n_tokens", F.col("g.pos").alias("pos"), F.col("g.gram_h").alias("gram_h"))
    )
    w = Window.partitionBy("gram_h")
    flagged = exploded.withColumn("occ", F.count(F.lit(1)).over(w)).filter(F.col("occ") > 1)
    per_doc = flagged.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.array_sort(F.collect_list("pos")).alias("ps"),
    )
    # gaps between consecutive flagged positions; windows merge when gap <= k
    diffs = F.zip_with(
        F.slice(F.col("ps"), 2, F.greatest(F.size("ps") - 1, F.lit(0))),
        F.slice(F.col("ps"), 1, F.greatest(F.size("ps") - 1, F.lit(0))),
        lambda a, b: a - b,
    )
    covered = F.lit(k) + F.aggregate(
        diffs, F.lit(0), lambda acc, d: acc + F.least(d, F.lit(k))
    )
    spans = F.lit(1) + F.aggregate(
        diffs, F.lit(0), lambda acc, d: acc + F.when(d > k, 1).otherwise(0)
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.size("ps").cast("bigint").alias("dup_grams"),
            spans.cast("bigint").alias("dup_spans"),
            covered.cast("bigint").alias("dup_tokens"),
        )
        .withColumn(
            "dup_permille", F.expr("div(1000 * dup_tokens, n_tokens)").cast("bigint")
        )
        .orderBy("doc_id")
    )
