"""Semantic tests for the LLM-pipeline operators (beyond oracle equality):
LSH recall vs the exact baseline, dedup behavior on crafted duplicates,
multimodal plumbing determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_warehouse_spark.operators import dedup, multimodal, similarity

from .conftest import SF_DIR


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "The quick brown fox jumps over the lazy dog near the river bank!"),  # exact mod punct
        (3, "the quick brown fox jumps over the lazy dog near the river shore"),  # near-dup
        (4, "completely different content about spark query engines and shuffles"),
        (5, ""),  # empty
        (6, "tiny doc"),  # < shingle size
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalized(spark):
    out = {r["doc_id"]: r for r in dedup.exact_duplicates(_docs(spark)).collect()}
    # 1 and 2 normalize identically → same group, canonical = min id
    assert out[2]["canonical_id"] == 1 and out[2]["is_duplicate"]
    assert out[1]["canonical_id"] == 1 and not out[1]["is_duplicate"]
    assert out[3]["canonical_id"] == 3  # near-dup is NOT exact-dup


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard_x1000"]
        for r in dedup.minhash_lsh_duplicates(_docs(spark)).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1000  # identical shingle sets
    assert (1, 3) in pairs and 600 <= pairs[(1, 3)] < 1000
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs
    assert not any(5 in p or 6 in p for p in pairs)  # shingle-less docs drop out


def test_lsh_recall_vs_exact_baseline(spark):
    """Every exact-Jaccard ≥0.8 pair on real data must be recalled by LSH
    (8 bands × 2 rows ⇒ P[miss | j=0.8] = (1-0.64)^8 ≈ 0.03; the sf0.001
    corpus near-dups sit at j≈0.97 where P[miss] ≈ 1e-9)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold_x1000=800).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_duplicates(docs, threshold_x1000=800).collect()
    }
    assert exact, "test data should contain near-duplicate pairs"
    assert exact == lsh


def test_minhash_leaves_no_cached_rdds(spark):
    """Repeated fuzzy-dedup invocations (bench best-of-N, a long-lived
    server) must not accumulate executor cache: signatures are checkpointed
    to storage, not persist()ed."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(2):
        dedup.minhash_lsh_duplicates(docs).collect()
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after) <= len(before), (
        f"cached RDDs grew {len(before)} -> {len(after)} across invocations"
    )


def test_simhash60_sql_fast_path_matches_dsl(spark):
    """r11: simhash60 over a plain column name parses ONE SQL string; over
    a computed Column it keeps the per-bit DSL build. Same signature bits
    either way, on real corpus text incl. empty/odd rows."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.functions import text as X

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    both = docs.select(
        X.simhash60("text").alias("fast"),
        # F.col(...) is a Column -> DSL path
        X.simhash60(F.col("text")).alias("dsl"),
    )
    assert both.filter(F.col("fast") != F.col("dsl")).count() == 0


def test_simhash_near_dup_small_hamming(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(_docs(spark)).collect()}
    ham_12 = bin(sigs[1] ^ sigs[2]).count("1")
    ham_14 = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham_12 == 0  # identical token multiset after normalize
    assert ham_14 > 4  # unrelated docs far apart
    assert all(0 <= s < 2**60 for s in sigs.values())  # 60-bit signatures


def test_simhash_band_buckets_scale(spark):
    """The scale guarantee of 15-bit bands: band-bucket population stays
    ~N/2^15, so no band value collects a quadratic candidate set. On the
    real corpus (hundreds of docs incl. crafted near-dup clusters) the
    largest bucket must hold only a near-dup cluster, not a hash-collision
    pileup — and the exact near-dup clusters here are ≤ ~12 docs."""
    from data_warehouse_spark.functions import text as X

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = dedup.simhash_signatures(docs)
    width = X.SIMHASH_BITS // 4
    buckets = (
        sigs.select(
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            F.lit(b),
                            F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                                F.lit((1 << width) - 1)
                            ),
                        )
                        for b in range(4)
                    ]
                )
            ).alias("band_key")
        )
        .groupBy("band_key")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    n_docs = docs.count()
    assert buckets <= max(16, n_docs // 16), (
        f"largest band bucket {buckets} of {n_docs} docs — banding is not dispersing"
    )


def test_ann_lsh_neighbors_share_bucket(spark):
    """The LSH invariant: every returned neighbor lives in its query's
    hyperplane bucket, self never appears, ranks are dense from 1."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]
    buckets = {
        r["vec_id"]: r["bucket"] for r in similarity.bucketize(emb).collect()
    }
    approx = similarity.lsh_topk(emb, qids, k=50).collect()
    assert approx, "64-bucket LSH over ≥500 vectors must yield candidates"
    per_q: dict[int, list[int]] = {}
    for r in approx:
        assert r["neighbor_id"] != r["query_id"]
        assert buckets[r["neighbor_id"]] == buckets[r["query_id"]]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_bruteforce_is_exact(spark):
    """Brute-force top-k must equal a NumPy-computed exact answer."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed[0]  # query = vec_id 0 (first row)
    order = [
        int(ids[i])
        for i in sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
        if ids[i] != 0
    ][:5]
    got = [
        r["neighbor_id"]
        for r in similarity.brute_force_topk(emb, [0], k=5).collect()
    ]
    assert got == order


def test_multimodal_plumbing(spark):
    rows = [
        (1, "image", bytearray(b"img-bytes-aaaa" * 10), "image/png", "s1"),
        (2, "image", bytearray(b"img-bytes-bbbb" * 10), "image/png", "s1"),
        (3, "video", bytearray(b"vid-bytes" * 40), "video/mp4", "s2"),
        (4, "audio", bytearray(b"aud" * 5), "audio/wav", "s2"),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    meta = {
        (r["media_id"], r["metric"]): r["value"]
        for r in multimodal.extract_media_metadata(media).collect()
    }
    assert {m for m, metric in meta if metric == "width"} == {1, 2}
    # header codec: width = 1 + first-two-bytes % 2048 (b"im" → 0x696d)
    assert meta[(1, "width")] == 1 + 0x696D % 2048
    # determinism: same payload → same metadata
    again = multimodal.extract_media_metadata(media).collect()
    assert {(r["media_id"], r["metric"]): r["value"] for r in again} == meta

    frames = multimodal.sample_frames(media).collect()
    assert {r["media_id"] for r in frames} == {3}
    assert [r["frame_no"] for r in sorted(frames, key=lambda r: r["frame_no"])] == list(
        range(len(frames))
    )

    stats = {r["kind"]: r for r in multimodal.media_stats(media).collect()}
    assert stats["image"]["n_items"] == 2
    assert stats["audio"]["total_bytes"] == 15

    # decode="real" behavior is covered by the guarded-import tests below


def test_ann_ivf_structure_and_recall(spark):
    """IVF invariants: every neighbor's assigned cell is one of its query's
    probed cells, self never appears, ranks dense from 1 — and probing
    nprobe=n_cells (exhaustive) must reproduce brute force exactly (IVF with
    full probing IS flat search)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]
    approx = similarity.ivf_topk(emb, qids, k=10).collect()
    assert approx
    per_q: dict[int, list[int]] = {}
    for r in approx:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    exhaustive = similarity.ivf_topk(
        emb, qids, k=5, n_cells=similarity.N_CELLS, nprobe=similarity.N_CELLS
    ).collect()
    exact = similarity.brute_force_topk(emb, qids, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
    assert sorted(map(key, exhaustive)) == sorted(map(key, exact))


def test_ann_recall_floors_at_default_knobs(spark):
    """Pin the recall@k each approximate path delivers at its DEFAULT knobs
    so future knob-tuning can't silently trash quality. Every input is
    deterministic (hash-selected centroids, fixed hyperplanes, fixed codes),
    so these are exact regression values with headroom, not flaky bounds.
    Absolute levels are modest BY CONSTRUCTION: the synthetic embeddings
    are near-uniform random vectors with no cluster structure, the regime
    where cell/bucket pruning genuinely cannot concentrate true neighbors
    Floors are pinned at BOTH geometries the engine ships:

      * PINNED (the catalog arms: 16 cells / 4 probes / 6 planes, trained
        codebooks) — measured at sf0.01: ivf 480 / lsh 80 / lsh_mp 220 /
        pq 300 / ivfpq 260 permille;
      * AUTO (the library DEFAULTS: √N-derived — at this 500-vector corpus
        32 cells / 5 probes / 5 planes, quantizer training active below
        the n_train bound) — measured: ivf 320 / lsh 100 / lsh_mp 280 /
        pq 300 / ivfpq 160. Auto IVF recall is LOWER by design: nprobe/
        n_cells falls from 25% to ~16% of the corpus scanned — that is the
        cost/quality point that stays affordable when N grows 1000×.

    The structural guarantees (exhaustive-probe IVF == brute force; LSH
    recalls all high-Jaccard pairs) live in the tests above; this one
    guards the quality/cost operating points."""
    from .conftest import SF_DIR_MED

    emb = spark.read.parquet(f"{SF_DIR_MED}/embeddings.parquet")
    qids, k = [0, 1, 2, 3, 4], 10
    bf = similarity.brute_force_topk(emb, qids, k=k)

    def mean_recall(df) -> float:
        rows = similarity.recall_vs_exact(df, bf, k=k).collect()
        return sum(r["recall_x1000"] for r in rows) / len(rows)

    # --- auto defaults (corpus-derived geometry)
    ivf = mean_recall(similarity.ivf_topk(emb, qids, k=k))
    lsh = mean_recall(similarity.lsh_topk(emb, qids, k=k))
    lsh_mp = mean_recall(similarity.lsh_topk(emb, qids, k=k, multiprobe=True))
    pq = mean_recall(similarity.pq_topk(emb, qids, k=k))
    ivfpq = mean_recall(similarity.ivfpq_topk(emb, qids, k=k))
    assert ivf >= 280, ivf
    assert lsh_mp >= 240, lsh_mp
    assert pq >= 260, pq
    assert ivfpq >= 130, ivfpq
    # multi-probe must actually lift recall over single-probe at the same
    # plane count — the point of probing Hamming-1 buckets
    assert lsh_mp > lsh, (lsh_mp, lsh)

    # --- pinned catalog geometry (trained codebooks)
    planes = similarity.hyperplanes()
    ivf_p = mean_recall(similarity.ivf_topk(
        emb, qids, k=k, n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE))
    lsh_p = mean_recall(similarity.lsh_topk(emb, qids, k=k, planes=planes))
    lsh_mp_p = mean_recall(
        similarity.lsh_topk(emb, qids, k=k, planes=planes, multiprobe=True))
    ivfpq_p = mean_recall(similarity.ivfpq_topk(
        emb, qids, k=k, n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE))
    assert ivf_p >= 430, ivf_p
    assert lsh_mp_p >= 180, lsh_mp_p
    assert ivfpq_p >= 220, ivfpq_p
    assert lsh_mp_p > lsh_p, (lsh_mp_p, lsh_p)


def test_trained_centroids_match_twin_at_adversarial_knobs(spark):
    """Spark's k-means and the SQL twin must train on the SAME sample even
    when the init set is larger than the training sample (n_cells >
    n_train) — regression for the take=max(n_cells, n_train) collect
    feeding ALL collected rows into the trainer. Evaluates the twin's
    centroid CTE directly in DuckDB and compares vectors bit-for-bit."""
    import duckdb

    from data_warehouse_spark.oracle_twins import _ivf_assigned_cte

    n_cells, n_train, iters = 12, 8, 3
    got = similarity.ivf_centroids(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
        n_cells=n_cells,
        train_iters=iters,
        n_train=n_train,
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    cte = _ivf_assigned_cte(
        n_cells=n_cells, train_iters=iters, n_train=n_train
    )
    want = con.execute(
        f"WITH {cte} SELECT cell_id, cv FROM c ORDER BY cell_id"
    ).fetchall()
    got_sorted = sorted((cid, v) for cid, v, _n in got)
    assert len(got_sorted) == len(want) == n_cells
    for (gc, gv), (wc, wv) in zip(got_sorted, want):
        assert gc == wc
        assert gv == [float(x) for x in wv]  # bit-exact doubles


def test_trained_codebooks_lift_recall(spark):
    """The deterministic k-means refinement must not cost recall versus the
    round-3 hash-selected codebooks it replaced — and on this corpus it
    strictly lifts every trained path (measured at sf0.01: ivf 400→480,
    pq 280→300, ivfpq 200→260 permille). ≥ (not >) is the pinned contract:
    on a corpus with no cluster structure training is allowed to tie, never
    to lose. Measured at the PINNED catalog geometry (16 cells / 4 probes)
    — the arm where training applies; at auto √N geometry the trainer's
    per-cell sample shrinks until the refinement is noise (and is skipped
    outright once n_cells ≥ n_train — the training guard test above)."""
    from .conftest import SF_DIR_MED

    emb = spark.read.parquet(f"{SF_DIR_MED}/embeddings.parquet")
    qids, k = [0, 1, 2, 3, 4], 10
    bf = similarity.brute_force_topk(emb, qids, k=k)

    def mean_recall(df) -> float:
        rows = similarity.recall_vs_exact(df, bf, k=k).collect()
        return sum(r["recall_x1000"] for r in rows) / len(rows)

    geo = dict(n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE)
    for path, kw in (
        (similarity.ivf_topk, geo),
        (similarity.pq_topk, {}),
        (similarity.ivfpq_topk, geo),
    ):
        trained = mean_recall(path(emb, qids, k=k, **kw))
        baseline = mean_recall(path(emb, qids, k=k, train_iters=0, **kw))
        assert trained >= baseline, (path.__name__, trained, baseline)
    # and the refinement actually moves the codebooks (not a no-op): the
    # trained IVF centroids differ from their hash-selected init
    hashed = similarity.ivf_centroids(emb, n_cells=similarity.N_CELLS, train_iters=0)
    trained_c = similarity.ivf_centroids(emb, n_cells=similarity.N_CELLS)
    assert [c for c, _, _ in hashed] == [c for c, _, _ in trained_c]  # ids stable
    assert any(h[1] != t[1] for h, t in zip(hashed, trained_c))


def test_neardup_clusters_match_union_find(spark):
    """Label propagation must produce EXACTLY the components a reference
    union-find computes on the same pairs (min-id as cluster id)."""
    pairs = spark.createDataFrame(
        # two chains that meet + an isolated pair: {1,2,3,9}, {4,7}, {5,6}
        [(2, 3), (1, 2), (3, 9), (4, 7), (5, 6)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.neardup_clusters(pairs).collect()
    }
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in [(2, 3), (1, 2), (3, 9), (4, 7), (5, 6)]:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want


def test_neardup_clusters_on_real_pairs(spark):
    """End-to-end on the corpus: every pair's two docs share a cluster, and
    each cluster id is the min doc id of its members."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.minhash_lsh_duplicates(docs)
    clusters = dedup.neardup_clusters(pairs)
    label = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    pair_rows = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert pair_rows, "fixture must contain near-dup pairs"
    for a, b in pair_rows:
        assert label[a] == label[b], (a, b)
    members: dict[int, list[int]] = {}
    for doc, cl in label.items():
        members.setdefault(cl, []).append(doc)
    for cl, ms in members.items():
        assert cl == min(ms)


def test_pack_sequences_contiguous_within_shard(spark):
    """Concat-and-chunk invariants: within a shard, each doc starts exactly
    where the previous ended (no gaps, no overlaps), and offsets stay below
    max_tokens."""
    from data_warehouse_spark.operators import text_analysis

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    packed = text_analysis.pack_sequences(docs, max_tokens=512).collect()
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 8
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["doc_id"])
        expect_start = 0
        for r in rows:
            got_start = r["seq_id"] * 512 + r["seq_offset"]
            assert got_start == expect_start
            assert 0 <= r["seq_offset"] < 512
            expect_start += r["n_tokens"]


def test_add_shingles_equals_word_shingles(spark):
    """The JVM NGram fast path must be set-identical to the HOF Column form
    on the real corpus (incl. empty/short docs)."""
    from data_warehouse_spark.functions import text as X

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hof = docs.select("doc_id", F.array_sort(X.word_shingles("text", 3)).alias("s"))
    fast = X.add_shingles(docs.select("doc_id", "text"), "text", 3).select(
        "doc_id", F.array_sort("shingles").alias("s")
    )
    assert hof.join(fast, "doc_id").filter(hof["s"] != fast["s"]).count() == 0


def test_resize_payload_deterministic_and_shaped(spark):
    """Fake re-encode: payload = 5-byte header + capped pixel buffer, and
    byte-identical across runs (resumable pipelines re-derive shards)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    media = multimodal.media_from_documents(docs)
    a = {r["media_id"]: bytes(r["payload"]) for r in multimodal.resize_images(media, 8, 8).collect()}
    b = {r["media_id"]: bytes(r["payload"]) for r in multimodal.resize_images(media, 8, 8).collect()}
    assert a and a == b
    for r in multimodal.resize_images(media, 8, 8).collect():
        assert len(bytes(r["payload"])) == 5 + min(8 * 8 * r["channels"], 256)
        w = int.from_bytes(bytes(r["payload"])[0:2], "big")
        assert w == 8 == r["width"]


# --- guarded real-codec path ------------------------------------------------

import importlib.util as _ilu

_HAS_PIL = _ilu.find_spec("PIL") is not None
_HAS_SOUNDFILE = _ilu.find_spec("soundfile") is not None


def _wav(sample_rate: int, samples) -> bytes:
    """Mono 16-bit PCM samples → WAV bytes via stdlib ``wave``."""
    import io
    import wave

    import numpy as np

    out = io.BytesIO()
    with wave.open(out, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return out.getvalue()


def _tiny_media(spark, kind, payload):
    # coalesce(1): exactly ONE task runs the decode, so tests asserting on
    # the surfaced executor error see THE ImportError, never a sibling
    # empty-partition task's failure racing it to the driver (the
    # failure-first surfacing flake a long-lived suite JVM can produce)
    return spark.createDataFrame(
        [(1, kind, bytearray(payload), None, None)], multimodal.MEDIA_SCHEMA
    ).coalesce(1)


@pytest.mark.skipif(_HAS_PIL, reason="Pillow installed — real path is active")
def test_real_image_decode_raises_clear_import_error(spark):
    """Without Pillow, decode='real' on a NON-PNG payload must fail with an
    error NAMING the missing dependency (not a bare NotImplementedError) —
    the vendored pure-Python codec covers PNG only."""
    with pytest.raises(Exception, match="PIL.Image"):
        multimodal.extract_media_metadata(
            _tiny_media(spark, "image", b"x" * 64), decode="real"
        ).collect()
    with pytest.raises(Exception, match="PIL.Image"):
        multimodal.resize_images(
            _tiny_media(spark, "image", b"x" * 64), 8, 8, decode="real"
        ).collect()


@pytest.mark.skipif(_HAS_SOUNDFILE, reason="soundfile installed")
def test_real_audio_decode_raises_clear_import_error(spark):
    """Non-WAV payload without soundfile: same clear-ImportError contract."""
    with pytest.raises(Exception, match="soundfile"):
        multimodal.extract_audio_features(
            _tiny_media(spark, "audio", b"x" * 64), decode="real"
        ).collect()


def _test_png(w=7, h=5, channels=3) -> tuple[bytes, "object"]:
    """A deterministic real PNG + its pixel array (via the vendored
    encoder; Pillow decodes it identically when installed)."""
    import numpy as np

    from data_warehouse_spark.functions import purecodec

    rng = np.random.RandomState(7)
    pixels = rng.randint(0, 256, size=w * h * channels, dtype=np.uint8)
    return purecodec.png_encode(w, h, channels, pixels), pixels


def test_real_image_decode_runs_everywhere(spark):
    """decode='real' parses an ACTUAL PNG through the same mapInPandas
    plumbing as the fake codec — via Pillow when installed, via the
    vendored pure-Python PNG decoder otherwise, so the production branch
    executes in every environment."""
    import io

    from data_warehouse_spark.functions import purecodec

    raw, pixels = _test_png(7, 5, 3)
    meta = {
        r["metric"]: r["value"]
        for r in multimodal.extract_media_metadata(
            _tiny_media(spark, "image", raw), decode="real"
        ).collect()
    }
    assert (meta["width"], meta["height"], meta["channels"]) == (7, 5, 3)
    assert meta["n_bytes"] == len(raw)

    resized = multimodal.resize_images(
        _tiny_media(spark, "image", raw), 8, 8, decode="real"
    ).collect()
    assert (resized[0]["width"], resized[0]["height"]) == (8, 8)
    # output payload is a valid PNG of the target geometry on either codec
    ow, oh, oc, opix = purecodec.png_decode(bytes(resized[0]["payload"]))
    assert (ow, oh, oc) == (8, 8, 3)
    if not _HAS_PIL:
        # the vendored path resamples the REAL decoded pixels
        want = purecodec.resize_nearest(pixels, 7, 5, 3, 8, 8)
        assert opix.tolist() == want.tolist()


def test_real_audio_decode_runs_everywhere(spark):
    """decode='real' reads an ACTUAL RIFF/WAVE payload (soundfile when
    installed, stdlib wave otherwise): rate, sample count and duration all
    come from the real container header."""
    raw = _wav(16000, list(range(-500, 500)))  # 1000 frames
    rows = multimodal.extract_audio_features(
        _tiny_media(spark, "audio", raw), decode="real"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["sample_rate"], r["n_samples"]) == (16000, 1000)
    assert r["duration_ms"] == 1000 * 1000 // 16000
    assert r["n_bytes"] == len(raw)


def test_real_metadata_sweep_runs_everywhere(spark):
    """The fused metadata sweep's decode='real' arm over a mixed PNG+WAV
    corpus — the real-decode twin of the catalog's media_suite fake-codec
    sweep (same operator, same plumbing, real containers)."""
    png, _ = _test_png(9, 4, 1)
    wav = _wav(24000, [0] * 600)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png), "image/png", None),
            (2, "audio", bytearray(wav), "audio/wav", None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    got = {
        (r["media_id"], r["metric"]): r["value"]
        for r in multimodal.extract_media_metadata(media, decode="real").collect()
    }
    assert got[(1, "width")] == 9 and got[(1, "height")] == 4
    assert got[(1, "channels")] == 1 and got[(1, "n_bytes")] == len(png)
    assert got[(2, "sample_rate")] == 24000 and got[(2, "n_samples")] == 600
    assert got[(2, "duration_ms")] == 600 * 1000 // 24000


def test_purecodec_png_all_filters_and_roundtrip():
    """The vendored PNG decoder must invert every scanline filter type.
    Hand-crafted 3×2 grayscale PNGs with a fixed filter per row, expected
    pixels computed by hand from the PNG spec; plus encode→decode
    round-trips for 1/3/4-channel buffers and palette expansion."""
    import struct
    import zlib

    import numpy as np

    from data_warehouse_spark.functions import purecodec as pc

    def craft(rows: list[tuple[int, list[int]]], w=3, h=2, color_type=0) -> bytes:
        scan = bytearray()
        for ftype, vals in rows:
            scan.append(ftype)
            scan.extend(vals)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            pc.PNG_MAGIC
            + pc._chunk(b"IHDR", ihdr)
            + pc._chunk(b"IDAT", zlib.compress(bytes(scan)))
            + pc._chunk(b"IEND", b"")
        )

    # Sub: row [10, 5, 5] → [10, 15, 20]; Up adds the row above
    _, _, _, px = pc.png_decode(craft([(1, [10, 5, 5]), (2, [1, 1, 1])]))
    assert px.tolist() == [10, 15, 20, 11, 16, 21]
    # Average: left=0/up=0 for first byte → raw; then (left+up)//2
    _, _, _, px = pc.png_decode(craft([(0, [4, 8, 12]), (3, [10, 10, 10])]))
    # row2: b0 = 10 + (0+4)//2 = 12; b1 = 10 + (12+8)//2 = 20; b2 = 10 + (20+12)//2 = 26
    assert px.tolist() == [4, 8, 12, 12, 20, 26]
    # Paeth: predictor of (left, up, upleft)
    _, _, _, px = pc.png_decode(craft([(0, [4, 8, 12]), (4, [10, 10, 10])]))
    # row2: b0: paeth(0,4,0)=4 → 14; b1: paeth(14,8,4)=14? p=14+8-4=18, pa=4,pb=10,pc=14 → left=14 → 24
    #       b2: p=24+12-8=28, pa=|28-24|=4, pb=|28-12|=16 → left=24 → 34
    assert px.tolist() == [4, 8, 12, 14, 24, 34]

    for ch in (1, 3, 4):
        buf = np.arange(5 * 4 * ch, dtype=np.uint8)
        w2, h2, c2, out = pc.png_decode(pc.png_encode(5, 4, ch, buf))
        assert (w2, h2, c2) == (5, 4, ch)
        assert out.tolist() == buf.tolist()

    # palette (color type 3): indices expand through PLTE to RGB
    plte = bytes([255, 0, 0, 0, 255, 0])  # 0→red, 1→green
    idx_scan = bytes([0, 0, 1, 0]) + bytes([0, 1, 0, 1])  # 2 rows, filter 0
    raw = (
        pc.PNG_MAGIC
        + pc._chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + pc._chunk(b"PLTE", plte)
        + pc._chunk(b"IDAT", zlib.compress(idx_scan))
        + pc._chunk(b"IEND", b"")
    )
    w3, h3, c3, px3 = pc.png_decode(raw)
    assert (w3, h3, c3) == (3, 2, 3)
    assert px3.tolist() == [255, 0, 0, 0, 255, 0, 255, 0, 0, 0, 255, 0, 255, 0, 0, 0, 255, 0]

    # header-only parse agrees with the full decode (incl. palette → 3ch)
    assert pc.png_header(raw) == (3, 2, 3)
    assert pc.png_header(pc.png_encode(5, 4, 1, np.zeros(20, np.uint8))) == (5, 4, 1)


def test_purecodec_resize_nearest_matches_reference():
    """Nearest-neighbor resample: independent numpy recompute of the
    floor(i·src/target) index mapping."""
    import numpy as np

    from data_warehouse_spark.functions import purecodec as pc

    rng = np.random.RandomState(3)
    w, h, c = 7, 5, 3
    buf = rng.randint(0, 256, size=w * h * c, dtype=np.uint8)
    got = pc.resize_nearest(buf, w, h, c, 4, 6)
    src = buf.reshape(h, w, c)
    expect = np.stack(
        [
            np.stack([src[(y * h) // 6, (x * w) // 4] for x in range(4)])
            for y in range(6)
        ]
    ).ravel()
    assert got.tolist() == expect.tolist()


def test_minhash_signature_cache_reuse_and_eviction(spark):
    """signatures_cache_key reuses the checkpointed artifact (no rebuild),
    results stay identical, no cached RDDs accumulate, and eviction
    removes the files."""
    from data_warehouse_spark.operators.dedup import (
        _SIGNATURE_CACHE,
        clear_signature_cache,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    clear_signature_cache("test-sigs")
    a = dedup.minhash_lsh_duplicates(docs, signatures_cache_key="test-sigs").collect()
    paths = [p for k, p in _SIGNATURE_CACHE.items() if k[1] == "test-sigs"]
    assert len(paths) == 1
    before = len(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    b = dedup.minhash_lsh_duplicates(docs, signatures_cache_key="test-sigs").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    assert [p for k, p in _SIGNATURE_CACHE.items() if k[1] == "test-sigs"] == paths
    after = len(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    assert after <= before, "signature cache must not persist RDDs"
    import os

    assert clear_signature_cache("test-sigs") == 1
    assert not os.path.exists(paths[0])


def test_pii_scrub_redacts_and_counts(spark):
    from data_warehouse_spark.operators import text_analysis

    rows = [
        (1, "reach me at jo.doe+x@mail.example.org or 192.168.1.20 now"),
        (2, "call +441234567890 twice"),
        (3, "nothing sensitive here"),
        (4, "two mails a@b.io c@d.co one ip 8.8.8.8 one phone +12025550123"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_analysis.pii_scrub(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 0)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 1)
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) == (0, 0, 0)
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (2, 1, 1)
    # the clean_key of a clean doc equals h60 of the unchanged text
    clean = df.filter(F.col("doc_id") == 3).select(
        __import__(
            "data_warehouse_spark.functions.text", fromlist=["h60"]
        ).h60("text").alias("k")
    ).collect()[0]["k"]
    assert out[3]["clean_key"] == clean
    # scrubbed docs hash differently from their originals
    orig1 = df.filter(F.col("doc_id") == 1).select(
        __import__(
            "data_warehouse_spark.functions.text", fromlist=["h60"]
        ).h60("text").alias("k")
    ).collect()[0]["k"]
    assert out[1]["clean_key"] != orig1


def test_paragraph_dedup_keeps_first_occurrence(spark):
    boiler = "subscribe to our newsletter"
    rows = [
        (1, "unique intro one\n\n" + boiler),
        (2, "unique intro two\n\n" + boiler + "\n\nunique outro two"),
        (3, boiler),  # whole doc is the boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(df).collect()}
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (2, 2)  # first occurrence kept
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (3, 2)  # boilerplate dropped
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (1, 0)  # fully boilerplate
    # doc 1's surviving text is unchanged → clean_key = h60 of original text
    from data_warehouse_spark.functions.text import h60

    k1 = df.filter(F.col("doc_id") == 1).select(h60("text").alias("k")).collect()[0]["k"]
    assert out[1]["clean_key"] == k1


def test_mixture_split_deterministic_and_complete(spark):
    from data_warehouse_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(300)], "doc_id long, source string"
    )
    a = text_analysis.mixture_split(docs).collect()
    b = text_analysis.mixture_split(docs.repartition(7)).collect()
    # identical decisions regardless of partitioning (no RNG anywhere)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    splits = {r["split"] for r in a}
    assert splits == {"train", "val", "test"}
    n_train = sum(r["split"] == "train" for r in a)
    assert 240 <= n_train <= 300  # ~90% of 300, loose deterministic bound
    # src0 weight 1000 → everything kept; src2 weight 920 → some dropped
    kept_src0 = [r["mix_kept"] for r in a if r["source"] == "src0"]
    assert all(k == 1 for k in kept_src0)


def test_semantic_dedup_finds_planted_duplicate(spark):
    import random

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(30)]
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(base)]
    # plant an exact duplicate of vec 3 as id 100 (cosine 1.0, same cell)
    rows.append((100, [float(x) for x in base[3]], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["dup_id"]: r["keep_id"] for r in
           similarity.semantic_dedup(emb, threshold=0.95, n_cells=4).collect()}
    assert out.get(100) == 3  # the planted copy dedups to its original
    assert 3 not in out  # the canonical survivor is not itself a dup


def _incremental_fixture(spark):
    """A signed corpus + a new batch with one exact copy of a corpus doc,
    one near-dup of a corpus doc, one within-batch dup pair, one fresh doc."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "completely different content about spark query engines and shuffles"),
            (3, "partition pruning and predicate pushdown keep parquet scans minimal"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog near the river bank"),   # copy of 1
            (12, "the quick brown fox jumps over the lazy dog near the river shore"),  # near-dup of 1
            (13, "broadcast joins beat shuffles whenever one side fits in memory"),    # fresh
            (14, "watermarks bound streaming state for late arriving event data"),     # batch-dup a
            (15, "watermarks bound streaming state for late arriving event data!"),    # batch-dup b
        ],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(corpus)
    return corpus, batch, sigs


def test_incremental_dedup_flags_corpus_and_batch_dups(spark):
    corpus, batch, sigs = _incremental_fixture(spark)
    rows = dedup.incremental_minhash_dedup(batch, sigs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["scope"], r["dup_of"], r["jaccard_x1000"]))
    # exact copy of corpus doc 1 → corpus dup at jaccard 1000
    assert ("corpus", 1, 1000) in by_doc[11]
    # near-dup of corpus doc 1 → corpus dup between threshold and 1000
    assert any(s == "corpus" and d == 1 and 600 <= j < 1000 for s, d, j in by_doc[12])
    # within-batch pair: larger id defers to smaller
    assert ("batch", 14, 1000) in by_doc[15]
    assert 14 not in by_doc  # the canonical batch survivor is not a dup
    assert 13 not in by_doc  # fresh doc untouched


def test_incremental_dedup_matches_full_recompute(spark):
    """Incremental probe ≡ full-corpus rerun restricted to batch-touching
    pairs — the equivalence that makes the cheap path trustworthy."""
    corpus, batch, sigs = _incremental_fixture(spark)
    inc = {
        (r["doc_id"], r["dup_of"], r["jaccard_x1000"])
        for r in dedup.incremental_minhash_dedup(batch, sigs).collect()
    }
    full = dedup.minhash_lsh_duplicates(corpus.unionByName(batch)).collect()
    batch_ids = {11, 12, 13, 14, 15}
    expected = set()
    for r in full:
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard_x1000"]
        if a in batch_ids and b in batch_ids:
            expected.add((b, a, j))  # larger batch id defers to smaller
        elif b in batch_ids:  # corpus doc a ∪ batch doc b
            expected.add((b, a, j))
        elif a in batch_ids:
            expected.add((a, b, j))
    assert inc == expected


def test_incremental_dedup_replay_safe(spark):
    """Re-submitting an already-ingested doc (same id in batch and corpus
    store) must not flag it as its own duplicate."""
    corpus, _, sigs = _incremental_fixture(spark)
    replay = corpus.limit(1)  # doc 1 arrives again
    rows = dedup.incremental_minhash_dedup(replay, sigs).collect()
    assert not any(r["doc_id"] == r["dup_of"] for r in rows)
    assert rows == []  # nothing else matches doc 1 in this corpus


def test_incremental_dedup_broadcasts_batch_not_corpus(spark):
    """Plan pin: the corpus band-key side must reach the probe join without
    an Exchange (batch side broadcast) — the property that keeps the
    incremental path sub-linear in corpus size."""
    corpus, batch, sigs = _incremental_fixture(spark)
    plan = dedup.incremental_minhash_dedup(batch, sigs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # neither the band probe nor the shingle verify may sort-merge: a SMJ
    # anywhere means a corpus-sized shuffle snuck back in
    assert "SortMergeJoin" not in plan


def _uniform_gram_model(spark, logp_x1000: int = -5000):
    """A gram model ``(gram, logp_x1000)`` giving every character gram of a
    few prose sentences the same log-probability — the model shape
    ``lm_quality_score`` broadcasts."""
    from data_warehouse_spark.operators import text_analysis

    texts = spark.createDataFrame(
        [
            ("the warehouse keeps the balance of every account",),
            ("each tenant reads its data through the service",),
        ],
        "text string",
    )
    return (
        texts.select(F.explode(text_analysis._char_grams(F.col("text"))).alias("gram"))
        .distinct()
        .withColumn("logp_x1000", F.lit(logp_x1000).cast("bigint"))
    )


def test_char_lm_scores_prose_above_gibberish(spark):
    """The LM quality signal must separate natural prose from junk: a
    sentence sharing the model's grams scores above a gibberish document
    scored with the same model."""
    from data_warehouse_spark.operators import text_analysis

    model = _uniform_gram_model(spark)
    probe = spark.createDataFrame(
        [
            (1, "the data warehouse keeps account balances for every tenant"),
            (2, "qzx jvq wxq zqj xqv qqz jxw vqx zzq qjx wqz xvq"),  # gibberish
            (3, "ab"),  # shorter than a gram → full penalty, still present
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           text_analysis.lm_quality_score(probe, model).collect()}
    assert out[1]["lm_score_x1000"] > out[2]["lm_score_x1000"]
    assert out[3]["n_grams"] == 0
    assert out[3]["lm_score_x1000"] == text_analysis.LM_UNSEEN_PENALTY_X1000
    # determinism: same model + docs → identical scores on re-run
    again = {r["doc_id"]: r["lm_score_x1000"] for r in
             text_analysis.lm_quality_score(probe, model).collect()}
    assert again == {d: r["lm_score_x1000"] for d, r in out.items()}


def test_char_lm_score_is_broadcast_join(spark):
    """Plan pin: the model side must broadcast; the only shuffle is the
    doc_id re-agg (no sort-merge join of corpus grams vs model)."""
    from data_warehouse_spark.operators import text_analysis

    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    model = _uniform_gram_model(spark)
    plan = (
        text_analysis.lm_quality_score(corpus, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_reconstruction_and_overlap(spark):
    """Chunks must tile the document exactly: stride-prefixes reassemble
    the original text, consecutive chunks share exactly `overlap` chars,
    and offsets/ids are dense and 1-based."""
    from data_warehouse_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrstuvwxyz0123456789" * 3),  # 108 chars
            (2, "short"),
            (3, ""),  # empty → no chunks
        ],
        "doc_id long, text string",
    )
    out = text_analysis.chunk_documents(docs, chunk_chars=40, overlap=10)
    rows = sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_id"]))
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    assert [r["chunk"] for r in by_doc[2]] == ["short"]
    chunks = by_doc[1]
    stride = 40 - 10
    assert [r["chunk_id"] for r in chunks] == list(range(len(chunks)))
    assert [r["pos"] for r in chunks] == [1 + i * stride for i in range(len(chunks))]
    original = docs.filter("doc_id = 1").collect()[0]["text"]
    # non-overlapping prefixes reassemble the document exactly
    assert "".join(r["chunk"][:stride] for r in chunks)[: len(original)] == original
    # every boundary-straddling span of ≤ overlap chars lives in one chunk
    for a, b in zip(chunks, chunks[1:]):
        assert a["chunk"][-10:] == b["chunk"][:10]
    # full coverage: last chunk reaches the end of the document
    last = chunks[-1]
    assert last["pos"] + last["n_chars"] - 1 == len(original)


def test_chunk_documents_is_map_side(spark):
    from data_warehouse_spark.operators import text_analysis
    from .explain import plan_report

    from data_warehouse_spark import catalog as cat

    df = text_analysis.chunk_documents(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    assert rep.exchanges == 0, rep.text

    with pytest.raises(ValueError, match="overlap"):
        text_analysis.chunk_documents(_docs(spark), chunk_chars=10, overlap=10)


def test_url_domain_rollup_and_blocklist(spark):
    """``extract_urls`` yields one row per URL occurrence with its
    hostname: case-folded, port stripped, userinfo not taken for the
    host — the per-domain counts a curation pass ranks."""
    from data_warehouse_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [
            (1, "see https://Spam.Example.com/offer and http://ok.org/a for info"),
            (2, "plain text, no links at all"),
            (3, "dup domain http://ok.org/b http://ok.org:8080/c"),
            (4, "https://spam.example.com again"),
            (9, "link https://trusted@evil.com/x here"),
        ],
        "doc_id long, text string",
    )
    roll = {
        r["domain"]: (r["n_urls"], r["n_docs"])
        for r in text_analysis.extract_urls(docs)
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_urls"), F.count_distinct("doc_id").alias("n_docs"))
        .collect()
    }
    assert roll == {"ok.org": (3, 2), "spam.example.com": (2, 2), "evil.com": (1, 1)}


# --- substring dedup (k-gram approximation of suffix-array dedup) ----------


def _substr_corpus(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, f"unique one {shared} tail words here now"),
        (2, f"other prefix text {shared} and a different ending"),
        (3, "completely unrelated content with no overlap at all whatsoever"),
        (4, "short doc"),  # < k tokens: no grams
        # internal repetition: the same 8-gram occurs twice WITHIN one doc
        (5, "x1 x2 x3 x4 x5 x6 x7 x8 filler x1 x2 x3 x4 x5 x6 x7 x8"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_substring_dedup_flags_planted_span(spark):
    out = {
        r["doc_id"]: r
        for r in dedup.substring_duplicate_spans(_substr_corpus(spark), k=8)
        .collect()
    }
    # docs 1 and 2 share one 8-token span; flagged with exactly one span of 8
    for d in (1, 2):
        assert d in out, out
        assert out[d]["dup_spans"] == 1
        assert out[d]["dup_tokens"] == 8
        assert out[d]["dup_grams"] == 1
    # doc 3 shares nothing; doc 4 is below gram length
    assert 3 not in out and 4 not in out
    # doc 5's repeated 8-gram is duplicated within the document itself:
    # two flagged windows of 8 tokens each (gap 9 > k => two spans)
    assert out[5]["dup_spans"] == 2 and out[5]["dup_tokens"] == 16
    # permille is integer-exact div
    assert out[1]["dup_permille"] == 1000 * 8 // out[1]["n_tokens"]


def test_substring_dedup_merges_overlapping_windows(spark):
    # one 10-token duplicated run => 3 overlapping flagged 8-grams that must
    # merge into ONE span covering exactly 10 tokens
    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    df = spark.createDataFrame(
        [(1, f"{run} first unique suffix"), (2, f"pre amble {run} second tail")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.substring_duplicate_spans(df, k=8).collect()}
    for d in (1, 2):
        assert out[d]["dup_grams"] == 3
        assert out[d]["dup_spans"] == 1
        assert out[d]["dup_tokens"] == 10


def test_substring_dedup_two_shuffles_only(spark):
    from .explain import plan_report

    df = dedup.substring_duplicate_spans(_substr_corpus(spark), k=8)
    rep = plan_report(df)
    # one shuffle on gram_h (window), one on doc_id (agg); the final
    # orderBy adds a range-partition exchange — nothing else
    assert rep.exchanges <= 3, rep.text
    assert rep.cartesian_products == 0, rep.text


# --- ANALYZE-style column stats --------------------------------------------


def test_column_stats_exact_and_one_scan(spark):
    import datetime

    from data_warehouse_spark.operators import stats as st

    rows = [
        (1, 2.505, "b", datetime.datetime(2020, 1, 1)),
        (2, None, "a", datetime.datetime(2020, 1, 2)),
        (2, 1.0, None, None),
    ]
    df = spark.createDataFrame(rows, ["k", "v", "s", "ts"])
    spec = [("k", "int"), ("v", "cents"), ("s", "str"), ("ts", "ts")]
    out = {r["col_name"]: r for r in st.column_stats(df, spec).collect()}
    assert out["k"]["n_rows"] == 3 and out["k"]["n_nonnull"] == 3
    assert out["k"]["ndv"] == 2
    assert out["k"]["min_ord"] == 1 and out["k"]["max_ord"] == 2
    # cents domain is half-up: 2.505 -> 251 (HALF_UP on exact decimal string)
    assert out["v"]["n_nonnull"] == 2 and out["v"]["min_ord"] == 100
    assert out["s"]["ndv"] == 2
    assert out["s"]["min_str"] == "a" and out["s"]["max_str"] == "b"
    assert out["s"]["min_ord"] is None
    assert out["ts"]["n_nonnull"] == 2
    assert out["ts"]["ndv"] == 2


def test_column_stats_approx_mode_drops_expand(spark):
    from data_warehouse_spark.operators import stats as st
    from .explain import plan_report

    df = spark.range(1000).selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS v")
    spec = [("k", "int"), ("v", "cents")]
    exact = plan_report(st.column_stats(df, spec, exact_ndv=True))
    approx = plan_report(st.column_stats(df, spec, exact_ndv=False))
    assert "Expand" in exact.text
    # the 100 TB path: HLL++ NDV keeps the agg a plain partial/final pair
    assert "Expand" not in approx.text


# --- temperature-based mixture rebalancing ---------------------------------


def test_temperature_sample_rates_and_determinism(spark):
    from data_warehouse_spark.operators import text_analysis as ta

    rows = [(i, "en" if i < 900 else ("fr" if i < 990 else "de")) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = {r["lang"]: r for r in ta.temperature_sample(df, alpha=0.5).collect()}
    # smallest group keeps everything
    assert out["de"]["rate_permille"] == 1000 and out["de"]["n_kept"] == 10
    # rates are monotone decreasing in group size: sqrt(10/900), sqrt(10/90)
    assert out["en"]["rate_permille"] == 105  # floor(1000*sqrt(10/900))
    assert out["fr"]["rate_permille"] == 333  # floor(1000*sqrt(10/90))
    assert out["en"]["n_kept"] <= out["en"]["n_docs"]
    # deterministic: the same corpus yields byte-identical decisions
    again = {r["lang"]: r for r in ta.temperature_sample(df, alpha=0.5).collect()}
    assert {k: (v["n_kept"]) for k, v in out.items()} == {
        k: (v["n_kept"]) for k, v in again.items()
    }


def test_temperature_sample_alpha_one_keeps_everything(spark):
    from data_warehouse_spark.operators import text_analysis as ta

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = {r["lang"]: r for r in ta.temperature_sample(df, alpha=1.0).collect()}
    # alpha=1 is proportional sampling: no rebalancing, every group kept whole
    for r in out.values():
        assert r["rate_permille"] == 1000 and r["n_kept"] == r["n_docs"]


# --- DataFrame-native Bloom filter -----------------------------------------


def test_bloom_no_false_negatives_and_low_fp(spark):
    from data_warehouse_spark.functions import bloom as B

    build = spark.range(0, 1000).selectExpr("id AS v")
    probe = spark.range(0, 10000).selectExpr("id AS v")
    gated = B.bloom_gate(probe, build, "v", "v").collect()
    got = {r["v"] for r in gated}
    # every member passes (bloom filters never false-negative)
    assert set(range(1000)) <= got
    # false positives are rare at this geometry (<2% of the 9000 non-members)
    assert len(got) - 1000 < 180


def test_bloom_gate_never_shuffles_big_side(spark):
    from data_warehouse_spark.functions import bloom as B
    from .explain import plan_report

    build = spark.range(0, 100).selectExpr("id AS v")
    probe = spark.range(0, 1000).selectExpr("id AS v")
    rep = plan_report(B.bloom_gate(probe, build, "v", "v"))
    # the bitmap arrives via a 1-row broadcast nested-loop join (the
    # intended literal-delivery mechanism — NOT an accidental cartesian);
    # the big side itself is never exchanged
    assert "BroadcastNestedLoopJoin" in rep.text, rep.text
    assert "(d) CartesianProduct" not in rep.text
    assert rep.sortmerge_joins == 0 and rep.shuffle_hash_joins == 0, rep.text


def test_contamination_bloom_prefilter_is_transparent(spark):
    from data_warehouse_spark.operators import text_analysis as ta

    docs = (
        __import__("data_warehouse_spark.catalog", fromlist=["load_table"])
        .load_table(spark, SF_DIR, "documents")
    )
    plain = ta.benchmark_contamination(docs, k=20).collect()
    gated = ta.benchmark_contamination(docs, k=20, bloom_prefilter=True).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, gated))


def test_fused_media_metadata_matches_per_kind_operators(spark):
    """The one-pass kind-dispatched extractor must agree metric-for-metric
    with each single-modality operator (same codec, one scan)."""
    from data_warehouse_spark import catalog as cat

    docs = cat.load_table(spark, SF_DIR, "documents")
    media = multimodal.media_from_documents(docs)
    fused_rows = multimodal.extract_media_metadata(media).collect()
    fused = {(r["media_id"], r["metric"]): r["value"] for r in fused_rows}
    assert len(fused_rows) == len(fused)  # no duplicate (media, metric) rows
    img = media.filter(F.col("kind") == "image").collect()
    assert img
    for r in img:
        # the fake codec's header: 2-byte width and height, then channels
        p = bytes(r["payload"]) + bytes(8)
        header = {
            "width": 1 + int.from_bytes(p[0:2], "big") % 2048,
            "height": 1 + int.from_bytes(p[2:4], "big") % 2048,
            "channels": 1 + p[4] % 4,
            "n_bytes": len(r["payload"]),
        }
        for m, v in header.items():
            assert fused[(r["media_id"], m)] == v, (r["media_id"], m)
    resized = multimodal.resize_images(media).collect()
    for r in resized:
        assert fused[(r["media_id"], "channels")] == r["channels"], r["media_id"]
    aud = multimodal.extract_audio_features(media).collect()
    for r in aud:
        for m in ("sample_rate", "n_samples", "duration_ms", "n_bytes"):
            assert fused[(r["media_id"], m)] == r[m], (r["media_id"], m)
    vid = (
        multimodal.sample_frames(media)
        .groupBy("media_id")
        .count()
        .collect()
    )
    assert vid
    for r in vid:
        assert fused[(r["media_id"], "n_frames")] == r["count"], r["media_id"]
    # and nothing more: the fused sweep emits exactly 4 metrics per image,
    # 4 per audio, 1 per video — no duplicate or stray rows hiding behind
    # the dict (the subset checks above alone would not catch them)
    assert len(fused) == 4 * len(img) + 4 * len(aud) + len(vid)


def test_pq_structure_and_code_bounds(spark):
    """PQ invariants: codes are m ints in [0, kc); the topk excludes self,
    ranks dense from 1; repeated calls under a cache key reuse the stored
    codes (no re-encode)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cw = similarity.pq_codewords(emb)
    assert len(cw) == similarity.PQ_KC
    assert all(len(w) == similarity.PQ_M * similarity.PQ_SUB for w in cw)
    codes = similarity.pq_encode(emb, cw).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["codes"]) == similarity.PQ_M
        assert all(0 <= c < similarity.PQ_KC for c in r["codes"])

    top = similarity.pq_topk(emb, [0, 1, 2], k=7, index_cache_key="t").collect()
    per_q: dict[int, list[int]] = {}
    for r in top:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    assert any(k[1] == "t" for k in similarity._PQ_CODES_CACHE)


def test_ivfpq_equals_pq_restricted_to_ivf_candidates(spark):
    """The composition contract: ivfpq's result per query is exactly the
    PQ (ADC) ranking restricted to the IVF-probed candidate set — both
    halves behave identically inside the composition as standalone."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]
    got = [
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.ivfpq_topk(emb, qids, k=5, index_cache_key="ivfpq-t").collect()
    ]
    assert got

    # reconstruct expected: PQ over the full corpus ranked within the
    # IVF candidate sets (probe the same cells the ivf path probes)
    # — take a large-k pq ranking and filter to candidates, re-rank.
    big_pq = similarity.pq_topk(emb, qids, k=10_000, index_cache_key="ivfpq-t")
    # candidate sets via exhaustive ivf internals: use ivf_topk with huge k
    # (its candidate set = probed-cell members, exposed through its output
    # when k exceeds the candidate count)
    cand = similarity.ivf_topk(emb, qids, k=10_000)
    cand_sets: dict[int, set] = {}
    for r in cand.collect():
        cand_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    order: dict[int, list] = {}
    for r in big_pq.collect():
        if r["neighbor_id"] in cand_sets.get(r["query_id"], set()):
            order.setdefault(r["query_id"], []).append(r["neighbor_id"])
    want = [
        (q, n, i + 1)
        for q, ns in order.items()
        for i, n in enumerate(ns[:5])
    ]
    assert sorted(got) == sorted(want)


def test_bm25_matches_pure_python_reference(spark):
    """bm25_topk must equal an independent row-at-a-time Python BM25 over
    the same corpus (same rational-idf surrogate, same constants)."""
    import math
    import re as _re

    from data_warehouse_spark import catalog as cat
    from data_warehouse_spark.operators import retrieval

    docs = cat.load_table(spark, SF_DIR, "documents")
    rows = docs.select("doc_id", "text").collect()
    corpus = {}
    for r in rows:
        norm = _re.sub(r"[^a-z0-9]+", " ", r.text.lower()).strip()
        corpus[r.doc_id] = norm.split(" ") if norm else []
    n_docs = len(corpus)
    total_tokens = sum(len(t) for t in corpus.values())
    k1, b, k1p1 = retrieval.bm25_constants()

    def topk(terms, k):
        dfq = {
            t: sum(1 for toks in corpus.values() if t in toks) for t in terms
        }
        scores = {}
        for did, toks in corpus.items():
            s = 0.0
            for t in sorted(set(terms)):
                tf = toks.count(t)
                if tf == 0:
                    continue
                idf = ((n_docs - dfq[t]) + 0.5) / (dfq[t] + 0.5)
                denom = tf + (k1 * ((1.0 - b) + (b * ((len(toks) * n_docs) / total_tokens))))
                s = s + idf * ((tf * k1p1) / denom)
            if s > 0.0:
                scores[did] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(did, i + 1) for i, (did, _) in enumerate(ranked)]

    got = retrieval.bm25_topk(docs).collect()
    for qid, terms in retrieval.BM25_QUERIES.items():
        expected = topk(terms, retrieval.BM25_K)
        actual = [(r.doc_id, r.rank) for r in got if r.query_id == qid]
        assert actual == expected, (qid, actual[:5], expected[:5])


def test_bm25_plan_broadcasts_sides_and_pushes_term_filter(spark):
    from data_warehouse_spark import catalog as cat
    from data_warehouse_spark.operators import retrieval
    from .explain import plan_report

    df = retrieval.bm25_topk(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    # query-map / stats join back as broadcasts; no shuffle join
    assert rep.broadcast_joins >= 1, rep.text
    assert rep.sortmerge_joins == 0, rep.text
    # the postings build prunes documents to (doc_id, text)
    cols = rep.scans_column_count("documents")
    assert cols is not None and cols <= 2, rep.text
    # exactly TWO corpus scans: postings + the 1-row stats pass (df comes
    # from a window over the postings, never a third tokenize pass)
    import re

    n_scans = len(re.findall(r"(?m)^\(\d+\) Scan parquet", rep.text))
    assert n_scans == 2, rep.text


def test_phrase_match_is_single_scan(spark):
    from data_warehouse_spark import catalog as cat
    from data_warehouse_spark.operators import retrieval
    from .explain import plan_report

    df = retrieval.phrase_match(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    # ONE corpus scan and ONE doc_id shuffle regardless of phrase length
    import re

    n_scans = len(re.findall(r"(?m)^\(\d+\) Scan parquet", rep.text))
    assert n_scans == 1, rep.text
    assert "Join" not in rep.text, rep.text


def test_phrase_match_equals_naive_token_scan(spark):
    """Positional-index phrase match must equal a per-doc Python scan over
    the token list (every start position counted, overlaps included)."""
    import re as _re

    from data_warehouse_spark import catalog as cat
    from data_warehouse_spark.operators import retrieval

    docs = cat.load_table(spark, SF_DIR, "documents")
    phrase = retrieval.PHRASE
    expected = {}
    for r in docs.select("doc_id", "text").collect():
        norm = _re.sub(r"[^a-z0-9]+", " ", r.text.lower()).strip()
        toks = norm.split(" ") if norm else []
        n = sum(
            1
            for i in range(len(toks) - len(phrase) + 1)
            if toks[i : i + len(phrase)] == phrase
        )
        if n:
            expected[r.doc_id] = n
    got = {
        r.doc_id: r.n_matches for r in retrieval.phrase_match(docs).collect()
    }
    assert got == expected


def test_vocab_with_oov_single_scan_and_model(spark):
    """Top-k vocab + OOV permille: matches a Python model, and the corpus
    is tokenized ONCE — the (token, freq) aggregate is checkpointed, so
    the serving plan's three consumers (top-k, total, kept) read the small
    scratch table and never touch the documents parquet."""
    import re as _re
    from collections import Counter

    from data_warehouse_spark import catalog as cat
    from data_warehouse_spark.operators import retrieval
    from .explain import plan_report

    docs = cat.load_table(spark, SF_DIR, "documents")
    freq = Counter()
    for r in docs.select("text").collect():
        norm = _re.sub(r"[^a-z0-9]+", " ", r.text.lower()).strip()
        freq.update(w for w in norm.split(" ") if w)
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[: retrieval.VOCAB_K]
    total = sum(freq.values())
    kept = sum(f for _, f in top)
    expected = {(t, "n_occurrences", f) for t, f in top}
    expected.add(("<oov>", "oov_permille", 1000 * (total - kept) // total))

    df = retrieval.vocab_with_oov(docs)
    got = {(r.token, r.metric, r.value) for r in df.collect()}
    assert got == expected

    rep = plan_report(df, run_first=True)
    # every scan in the serving plan reads the checkpointed freq table —
    # zero documents scans (the one corpus tokenize happened at the
    # checkpoint write)
    assert rep.read_schemas, rep.text
    assert all(
        "documents" not in loc for loc in rep.read_schemas
    ), rep.text


# --- corpus-derived ANN geometry (auto_n_cells / auto_n_planes / auto_nprobe)


def test_auto_geometry_derivation_matches_sql_twin():
    """``similarity.auto_n_cells``/``auto_nprobe`` and the twin's ``_geo``
    CTE must compute identical geometry for ANY corpus size — this
    derivation is what keeps the catalog's auto-sized arms oracle-checkable
    at every scale factor. Sweeps exact squares, power-of-two boundaries
    and their ±1 neighbors (the isqrt / next-pow2 edge cases)."""
    import duckdb

    from data_warehouse_spark.oracle_twins import geo_cte

    ns = {0, 1, 2, 3, 4, 5, 15, 16, 17, 255, 256, 257, 500, 2000, 20000}
    for b in range(2, 23, 2):
        ns |= {2**b - 1, 2**b, 2**b + 1}
    for s in (22, 44, 141, 1000, 2047):
        ns |= {s * s - 1, s * s, s * s + 1}
    con = duckdb.connect()
    for n in sorted(ns):
        con.execute(
            f"CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT range AS x FROM range({n})"
        )
        row = con.execute(
            f"WITH {geo_cte()} SELECT n, n_cells, nprobe FROM _geo"
        ).fetchone()
        cells = similarity.auto_n_cells(n)
        assert row == (n, cells, similarity.auto_nprobe(cells)), (n, row)
    # the clamp ends are Python-only (a 7e10-row table is not a fixture):
    assert similarity.auto_n_cells(0) == 4
    assert similarity.auto_n_cells(10**12) == similarity.AUTO_MAX_CELLS
    # plane count mirrors the cell count's bucket space
    assert 2 ** similarity.auto_n_planes(500) == similarity.auto_n_cells(500)
    assert 2 ** similarity.auto_n_planes(20000) == similarity.auto_n_cells(20000)
    # the fixture-pinned operating point is reproduced by the derivation
    assert similarity.auto_nprobe(similarity.N_CELLS) == similarity.N_PROBE


def test_hyperplanes_prefix_stability():
    """``hyperplanes(n=k)`` must equal the first k rows of a larger draw —
    numpy's RandomState fills row-major from one stream. The auto-planes
    twin (``embedding_neardup_auto_sql``) depends on this: it embeds
    ``max_planes`` plane literals and gates bucket bit m on
    ``m < n_planes``, so the first-k prefix must BE the k-plane set the
    Spark side resolves."""
    full = similarity.hyperplanes(n=18)
    for k in (2, 5, 6, 9, 12, 18):
        assert similarity.hyperplanes(n=k) == full[:k]


def test_embedding_neardup_auto_sql_derives_plane_count():
    """The auto twin's ``_planes`` CTE must reproduce
    ``similarity.auto_n_planes`` for any corpus size (the pow2→exponent
    VALUES lookup), and the full statement must execute and agree with the
    Spark operator's auto default on a real fixture."""
    import duckdb

    from data_warehouse_spark.oracle_twins import embedding_neardup_auto_sql, geo_cte

    con = duckdb.connect()
    pow2_exp = ", ".join(f"({1 << e}, {e})" for e in range(2, 19))
    for n in (0, 1, 4, 16, 17, 255, 256, 500, 2000, 20000, 200000, 2**18):
        con.execute(
            f"CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT range AS x FROM range({n})"
        )
        got = con.execute(
            f"WITH {geo_cte()}, _planes AS ("
            f"  SELECT e AS n_planes"
            f"  FROM _geo JOIN (VALUES {pow2_exp}) pw(v, e)"
            f"    ON pw.v = _geo.n_cells)"
            f"SELECT n_planes FROM _planes"
        ).fetchone()[0]
        assert got == similarity.auto_n_planes(n), (n, got)


def test_embedding_neardup_auto_matches_operator(spark):
    """Cross-engine: ``embedding_near_duplicates(planes=None)`` vs the
    auto-geometry twin on the test fixture (500 vectors → 5 planes — a
    DIFFERENT geometry than the pinned 6-plane default, so this also
    proves the derivation actually fires on both sides)."""
    import duckdb

    from data_warehouse_spark.oracle_twins import embedding_neardup_auto_sql

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.4, planes=None
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = [
        tuple(r) for r in con.execute(embedding_neardup_auto_sql(threshold=0.4)).fetchall()
    ]
    assert got == sorted(want)


def test_ann_ivf_sql_auto_nprobe_with_pinned_cells_is_valid_sql():
    """Regression: ``nprobe=None`` with a CONCRETE ``n_cells`` used to emit
    ``(SELECT nprobe FROM _geo)`` while the ``_geo`` CTE is only generated
    when ``n_cells`` is also None — undefined-CTE SQL. The signature now
    derives ⌊√n_cells⌋ in Python (= ``auto_nprobe``); the emitted SQL must
    parse and use that bound."""
    import duckdb

    from data_warehouse_spark.oracle_twins import ann_ivf_sql

    sql = ann_ivf_sql([0, 1], k=3, n_cells=64, nprobe=None, train_iters=0)
    assert "_geo" not in sql
    assert f"rn <= {similarity.auto_nprobe(64)}" in sql
    con = duckdb.connect()
    con.execute(
        "CREATE OR REPLACE VIEW embeddings AS "
        "SELECT range AS vec_id, "
        "list_transform(range(1, 65), i -> CAST((range * 31 + i) % 7 AS FLOAT))"
        " AS embedding FROM range(40)"
    )
    rows = con.execute(sql).fetchall()  # must not raise Binder error
    assert all(r[2] <= 3 for r in rows)
    # fully-auto geometry still routes through the _geo CTE
    assert "_geo" in ann_ivf_sql([0], n_cells=None, nprobe=None, train_iters=0)


def test_auto_geometry_defaults_drive_operators(spark):
    """``n_cells=None`` / ``planes=None`` defaults must derive geometry
    from the corpus count — the 100 TB contract (a pinned cell count is the
    measured quadratic failure mode at scale)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    cents = similarity.ivf_centroids(emb, n_cells=None, train_iters=0)
    assert len(cents) == similarity.auto_n_cells(n)
    mx = similarity.bucketize(emb).agg(F.max("bucket").alias("m")).collect()[0]["m"]
    assert mx < 2 ** similarity.auto_n_planes(n)


def test_ivf_centroids_training_guard_at_large_geometry(spark):
    """When ``n_cells >= n_train`` the driver-side trainer is skipped (you
    cannot estimate more centroids than the bounded sample holds) — the
    centroids must equal the hash-selected init, keeping auto-geometry
    index builds bounded-cost at any corpus size."""
    from data_warehouse_spark.functions.vectors import KMEANS_TRAIN

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_cells = KMEANS_TRAIN  # == the sample bound → guard fires
    trained = similarity.ivf_centroids(emb, n_cells=n_cells, train_iters=4)
    hashed = similarity.ivf_centroids(emb, n_cells=n_cells, train_iters=0)
    assert trained == hashed


def test_assign_cells_join_and_literal_paths_agree(spark):
    """The vectorized Arrow-batch assignment (the arithmetic-intensity
    shape used at auto √N geometry — numpy left-fold accumulation, see
    similarity._assign_cells_vectorized) must reproduce the
    literal-expression assignment bit-for-bit — same IEEE fold, same
    max-cos/max-cell tie rule — since a stored index may be built by
    either shape."""
    import data_warehouse_spark.operators.similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_cells=40, train_iters=0)
    assert len(cents) > sim._LITERAL_ASSIGN_MAX  # → vectorized path
    via_join = sim._assign_cells(emb, cents, "vec_id", "embedding")
    old = sim._LITERAL_ASSIGN_MAX
    sim._LITERAL_ASSIGN_MAX = 10_000  # → literal path for the same centroids
    try:
        via_lit = sim._assign_cells(emb, cents, "vec_id", "embedding")
    finally:
        sim._LITERAL_ASSIGN_MAX = old
    a = {r["neighbor_id"]: (r["cell"], r["_vn"]) for r in via_join.collect()}
    b = {r["neighbor_id"]: (r["cell"], r["_vn"]) for r in via_lit.collect()}
    assert a == b


def test_ivf_fast_assignment_agreement(spark):
    """The BLAS scale-mode index build (ivf_index fast=True) is checked by
    AGREEMENT, not bit-parity — the dgemm reassociates the IEEE dot sum.
    The witness (similarity.ivf_fast_agreement, one map-only Arrow pass
    running both kernels over the same batches) must clear the ≥99.9 %
    floor on the driver fixture; measured agreement there is 100 %, and
    the catalog's ann_recall ``ivf_fast`` arm pins the resulting top-k
    against the parity twin's SQL at rows+hash strength."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    row = similarity.ivf_fast_agreement(emb).collect()[0]
    assert row["agreement_ok"], row
    assert row["n_vectors"] == emb.count()
    # driver fixtures: trained centroids are well-separated → exact match
    assert row["n_agree"] == row["n_vectors"], row


def test_ivf_fast_topk_equals_parity_topk(spark):
    """End-to-end: the fast-built index must serve the same neighbors as
    the parity-built one at pinned geometry (agreement ⇒ identical cells
    ⇒ identical probe candidates ⇒ identical exact-cosine top-k)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    kw = dict(k=5, n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE)
    parity = similarity.ivf_topk(emb, [0, 1, 2], **kw).collect()
    fast = similarity.ivf_topk(emb, [0, 1, 2], fast=True, **kw).collect()
    assert [tuple(r) for r in parity] == [tuple(r) for r in fast]


def test_semantic_dedup_auto_matches_pinned_semantics(spark):
    """Auto geometry changes WHICH cells bound the pair search, not the
    dedup semantics: a planted exact duplicate (cosine 1.0 — same nearest
    centroid by construction) must still dedup to its original under
    corpus-derived geometry."""
    import random

    rng = random.Random(11)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(120)]
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(base)]
    rows.append((500, [float(x) for x in base[7]], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["dup_id"]: r["keep_id"]
        for r in similarity.semantic_dedup(emb, threshold=0.95).collect()
    }
    assert out.get(500) == 7
    assert 7 not in out


def test_minhash_sliced_verify_equals_unsliced(spark):
    """verify_slices=K partitions the verify join into K hash-disjoint
    candidate slices (bounding the pair x hset transient to ~1/K of the
    whole — the sf100 single-volume fix); the result is the exact union:
    same pairs, same jaccard, regardless of K."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = dedup.minhash_lsh_duplicates(docs).collect()
    assert base, "fixture must produce near-dup pairs"
    sliced = dedup.minhash_lsh_duplicates(docs, verify_slices=3).collect()
    key = lambda r: (r["doc_a"], r["doc_b"], r["jaccard_x1000"])
    assert sorted(map(key, sliced)) == sorted(map(key, base))


def test_minhash_hset_is_int32(spark):
    """The stored signature artifact carries hset as array<int> — h31
    values fit 31 bits, and the verify shuffle width is the sf100 disk
    bound (half the int64 form)."""
    sigs = dedup.minhash_signatures(_docs(spark))
    assert dict(sigs.dtypes)["hset"] == "array<int>"


def test_pq_encode_vectorized_equals_expr(spark):
    """The Arrow-batched numpy encode (the hot path — the unrolled
    expression form exceeds Janino's codegen limit and ran interpreted,
    ~82s per 600k vectors) must reproduce the literal-expression encode
    code-for-code: same normalize fold, same left-to-right subspace
    distance chains, same first-argmin tie rule."""
    import data_warehouse_spark.operators.similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    words = similarity.pq_codewords(emb, train_iters=2)
    fast = {r["vec_id"]: list(r["codes"]) for r in similarity.pq_encode(emb, words).collect()}
    spec = {r["vec_id"]: list(r["codes"]) for r in sim._pq_encode_expr(emb, words).collect()}
    assert fast == spec


def test_brute_force_vectorized_equals_expr(spark):
    """The vectorized brute-force scan (local top-k per Arrow batch +
    global ranking window) must reproduce the expression form row-for-row:
    same IEEE cosine folds, same (cosine desc, neighbor_id asc) order,
    same self-exclusion."""
    import data_warehouse_spark.operators.similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    fast = [tuple(r) for r in similarity.brute_force_topk(emb, qids, k=7).collect()]
    spec = [tuple(r) for r in sim._brute_force_topk_expr(emb, qids, k=7).collect()]
    assert fast == spec


def test_bucketize_vectorized_equals_expr(spark):
    """The Arrow-batched bucketize must reproduce the hyperplane_signs
    expression bucket-for-bucket (per-plane IEEE dot folds, bit set iff
    d > 0)."""
    from data_warehouse_spark.functions import vectors as V
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    planes = similarity.hyperplanes()
    fast = {r["vec_id"]: r["bucket"]
            for r in similarity.bucketize(emb, planes=planes).collect()}
    spec = {r["vec_id"]: r["bucket"]
            for r in emb.select(
                F.col("vec_id"),
                V.hyperplane_signs("embedding", planes).alias("bucket"),
            ).collect()}
    assert fast == spec


def test_neardup_zero_norm_vectors_pass_threshold(spark):
    """Bit-parity with the retained expression spec: Spark orders NaN
    greater than any value, so a zero-norm pair's NaN cosine PASSES
    ``cosine >= threshold``. The vectorized pass must apply the same
    NaN→+inf substitution before thresholding (r8 review finding — numpy's
    ``NaN >= t`` is False, which silently dropped zero-norm pairs)."""
    rows = [
        (1, [0.0] * 8),
        (2, [0.0] * 8),
        (3, [1.0] + [0.0] * 7),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = [[1.0 if d == p else 0.0 for d in range(8)] for p in range(4)]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.9, planes=planes
        ).collect()
    }
    assert (1, 2) in pairs


def test_semantic_dedup_zero_norm_vectors_dedup(spark):
    """Same NaN-greatest parity for semantic_dedup's per-cell pass: a
    zero-norm vector's cosine is NaN against EVERY partner, and NaN orders
    greatest, so it must dedup (to its cell's smallest id) rather than
    silently survive (numpy ``NaN >= t`` is False — the r8 finding)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    rows += [(100, [0.0] * 8), (101, [0.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["dup_id"]: r["keep_id"]
        for r in similarity.semantic_dedup(emb, threshold=0.95, n_cells=4).collect()
    }
    # both zero-norm vectors are duplicates of their cell's min id (the
    # NaN cosine passes the threshold against every partner)
    assert 100 in out and 101 in out
    assert out[100] < 100 and out[101] < 100


def test_minhash_sliced_verify_all_slices_empty(spark):
    """Candidates exist but no pair survives an impossible threshold: every
    slice writes zero part files (AQE empty-relation propagation), which
    used to break the union read's schema inference — must return the
    unsliced-style EMPTY result instead (r8 review finding)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup.minhash_lsh_duplicates(
        docs, verify_slices=3, threshold_x1000=1001
    )
    assert out.collect() == []
    assert set(out.columns) >= {"doc_a", "doc_b"}


def test_pair_scoring_salt_split_equals_unsplit(spark, monkeypatch):
    """Skew memory bound (r9): a cell/bucket larger than
    SPARK_GRAFT_MAX_CELL_ROWS splits into hash-salt cross tasks — every
    within-group pair lands in exactly one task, so pairs and dedup
    survivors are IDENTICAL to the unsplit scan while no pandas group
    holds more than ~2×cap rows. Fixture is deliberately skewed: near-
    collinear vectors that all land in one LSH bucket / one cell."""
    import random

    rng = random.Random(7)
    rows = []
    base = [1.0] * 8
    for i in range(300):
        # tiny perturbations: same bucket, same cell, many pairs over 0.95
        v = [b + rng.uniform(-0.02, 0.02) for b in base]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = [[1.0 if d == p else 0.0 for d in range(8)] for p in range(3)]

    def neardup():
        return sorted(
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_duplicates(
                emb, threshold=0.999, planes=planes
            ).collect()
        )

    def semdedup():
        return sorted(
            (r["dup_id"], r["keep_id"])
            for r in similarity.semantic_dedup(
                emb, threshold=0.999, n_cells=2, train_iters=0
            ).collect()
        )

    monkeypatch.setenv("SPARK_GRAFT_MAX_CELL_ROWS", "1000000")
    base_pairs, base_dedup = neardup(), semdedup()
    assert base_pairs, "fixture must produce pairs"
    monkeypatch.setenv("SPARK_GRAFT_MAX_CELL_ROWS", "60")  # forces k>=5
    split_pairs, split_dedup = neardup(), semdedup()
    assert split_pairs == base_pairs
    assert split_dedup == base_dedup


def test_ivfpq_refine_recall_and_limit(spark):
    """The FAISS refine stage, two pins: (1) recall@k of ivfpq_refine is
    >= plain ivfpq at EQUAL nprobe (the refine read can only fix ADC
    mis-rankings inside the candidate set, never lose a hit); (2) in the
    limit refine -> everything-probed, ivfpq_refine IS ivf_topk — same
    candidate set, same exact-cosine fold, same (cos DESC, neighbor_id)
    order — so the refine tail provably converges to IVF-flat."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]

    bf = similarity.brute_force_topk(emb, qids, k=5)
    pq_ref = similarity.ivfpq_refine_topk(
        emb, qids, k=5, refine=4,
        n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE,
        index_cache_key="refine-test",
    )
    pq_plain = similarity.ivfpq_topk(
        emb, qids, k=5,
        n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE,
        index_cache_key="refine-test",
    )
    r_ref = {
        r["query_id"]: r["recall_x1000"]
        for r in similarity.recall_vs_exact(pq_ref, bf, k=5).collect()
    }
    r_plain = {
        r["query_id"]: r["recall_x1000"]
        for r in similarity.recall_vs_exact(pq_plain, bf, k=5).collect()
    }
    assert sum(r_ref.values()) >= sum(r_plain.values())

    # limit pin: a refine cut wider than any cell slice keeps EVERY probed
    # candidate, so the exact re-rank must reproduce IVF-flat bit-for-bit
    n = emb.count()
    wide = similarity.ivfpq_refine_topk(
        emb, qids, k=5, refine=n,
        n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE,
        index_cache_key="refine-test",
    ).collect()
    flat = similarity.ivf_topk(
        emb, qids, k=5,
        n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE,
        index_cache_key="refine-test",
    ).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, flat))


def test_topk_plan_cache_reuses_identical_plan_and_evicts(spark):
    """r12 plan-builder reuse (guide §7.3 / VERDICT r11 item #2): with an
    index_cache_key, a repeat *_topk call returns the SAME DataFrame object
    (construction skipped — no py4j rebuild, no re-analysis), results are
    identical to an uncached build, NO rows are memoized (the plan
    re-executes per action), and clear_ivf_cache evicts plan entries
    alongside the index they reference."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]
    similarity.clear_ivf_cache()
    assert not similarity._TOPK_PLAN_CACHE
    a = similarity.ivf_topk(
        emb, qids, k=5, n_cells=similarity.N_CELLS,
        nprobe=similarity.N_PROBE, index_cache_key="plan-test",
    )
    b = similarity.ivf_topk(
        emb, qids, k=5, n_cells=similarity.N_CELLS,
        nprobe=similarity.N_PROBE, index_cache_key="plan-test",
    )
    assert a is b, "same signature must reuse the built plan"
    # a different signature (query set) builds its own plan
    c = similarity.ivf_topk(
        emb, [0, 1], k=5, n_cells=similarity.N_CELLS,
        nprobe=similarity.N_PROBE, index_cache_key="plan-test",
    )
    assert c is not a
    # no key → no cache entry, and the uncached build's rows match the
    # cached plan's (plan reuse is not result caching)
    fresh = similarity.ivf_topk(
        emb, qids, k=5, n_cells=similarity.N_CELLS, nprobe=similarity.N_PROBE,
    )
    assert fresh is not a
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, fresh.collect()))
    # keyed eviction drops only that key's plans; full eviction drops all
    similarity.lsh_topk(
        emb, qids, k=5, planes=similarity.hyperplanes(),
        index_cache_key="plan-test-other",
    )
    n = len(similarity._TOPK_PLAN_CACHE)
    assert n >= 3
    similarity.clear_ivf_cache("plan-test")
    assert all(k[1] == "plan-test-other" for k in similarity._TOPK_PLAN_CACHE)
    similarity.clear_ivf_cache()
    assert not similarity._TOPK_PLAN_CACHE


def test_topk_plan_cache_is_a_bounded_lru(spark):
    """The plan cache holds at most _TOPK_PLAN_CACHE_MAX plans: past the
    bound the least recently used signature is evicted, a recently read
    one survives, and an immediately repeated *_topk call still returns
    its cached frame."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bound = similarity._TOPK_PLAN_CACHE_MAX
    similarity.clear_ivf_cache()
    keys = [("app", "lru-test", "sig", i) for i in range(bound + 5)]
    for pk in keys[:bound]:
        similarity._plan_cache_put(pk, emb)
    assert similarity._plan_cache_get(keys[0]) is emb  # now most recent
    for pk in keys[bound:]:
        similarity._plan_cache_put(pk, emb)
    assert len(similarity._TOPK_PLAN_CACHE) == bound
    assert keys[0] in similarity._TOPK_PLAN_CACHE
    assert not any(pk in similarity._TOPK_PLAN_CACHE for pk in keys[1:6])
    a = similarity.lsh_topk(
        emb, [0, 1, 2], k=5, planes=similarity.hyperplanes(),
        index_cache_key="lru-test",
    )
    b = similarity.lsh_topk(
        emb, [0, 1, 2], k=5, planes=similarity.hyperplanes(),
        index_cache_key="lru-test",
    )
    assert a is b
    assert len(similarity._TOPK_PLAN_CACHE) == bound
    similarity.clear_ivf_cache("lru-test")
    assert not similarity._TOPK_PLAN_CACHE
