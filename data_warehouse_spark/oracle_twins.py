"""Generated DuckDB SQL twins for the text/dedup/similarity operators.

The Spark implementations and these SQL strings are generated from the SAME
constants (MINHASH_PARAMS, LANG_STOPWORDS, hyperplanes) so the two sides
cannot drift. Shared primitives (documented in functions/text.py):

    h60(s)  : Spark  conv(substring(md5(s), 2, 15), 16, 10)::bigint
              DuckDB CAST('0x' || substr(md5(s), 2, 15) AS BIGINT)
    folds   : Spark  F.aggregate(arr, init, acc+x)  (sequential left fold)
              DuckDB list_reduce(list_prepend(init, arr), (acc, x) -> acc+x)
"""

from __future__ import annotations

from .functions.text import LANG_STOPWORDS, MERSENNE31, MINHASH_PARAMS
from .functions.vectors import KMEANS_ITERS, KMEANS_TRAIN

P = MERSENNE31

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

# normalize(text): lower → non-alnum runs → space → trim
NORM = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"
TOKS = f"string_split({NORM}, ' ')"
H60 = "CAST('0x' || substr(md5({s}), 2, 15) AS BIGINT)"
H31 = f"({H60} % {P})"


def _norm(c: str = "text") -> str:
    return NORM.format(c=c)


def _toks(c: str = "text") -> str:
    return TOKS.format(c=c)


def _h31(s: str) -> str:
    return H31.format(s=s)


def shingles_cte(n: int = 3) -> str:
    """3-word shingle set per doc (matches functions.text.word_shingles)."""
    idx = " , ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
tok AS (SELECT doc_id, {_toks()} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {n}
              THEN list_distinct(list_transform(range(1, len(toks) - {n - 2}),
                                 i -> concat_ws(' ', {idx})))
              ELSE [] END AS shingles
  FROM tok
)"""


def exact_dedup_sql() -> str:
    key = H60.format(s=_norm())
    return f"""
WITH keyed AS (
  SELECT doc_id, {key} AS content_key FROM documents
),
groups AS (
  SELECT content_key, CAST(min(doc_id) AS BIGINT) AS canonical_id,
         CAST(count(*) AS BIGINT) AS n_copies
  FROM keyed GROUP BY content_key
)
SELECT k.doc_id, g.canonical_id, g.n_copies,
       k.doc_id <> g.canonical_id AS is_duplicate
FROM keyed k JOIN groups g USING (content_key)"""


def minhash_lsh_sql(
    bands: int = 8, rows_per_band: int = 2, threshold_x1000: int = 600, shingle_n: int = 3
) -> str:
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS sig_{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS[: bands * rows_per_band])
    )
    band_keys = ", ".join(
        "concat_ws(':', {b}, {sigs})".format(
            b=b,
            sigs=", ".join(f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    # verify runs on the HASHED shingle set (hset) exactly like the Spark
    # side — the same h31, so jaccard_x1000 is bit-identical cross-engine
    # (see dedup.minhash_signatures: int sets keep the verify shuffle small)
    return f"""
WITH {shingles_cte(shingle_n)},
hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> {_h31('s')}) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id, list_sort(list_distinct(hs)) AS hset,
         {sig_exprs}
  FROM hashed
),
keyed AS (
  SELECT s.doc_id, u.band_key
  FROM sig s, unnest([{band_keys}]) AS u(band_key)
  WHERE len(s.hset) > 0
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(floor(len(list_intersect(sa.hset, sb.hset)) * 1000
            / greatest(len(list_distinct(list_concat(sa.hset, sb.hset))), 1))
            AS BIGINT) AS jaccard_x1000
FROM cand
JOIN sig sa ON sa.doc_id = cand.doc_a
JOIN sig sb ON sb.doc_id = cand.doc_b
WHERE floor(len(list_intersect(sa.hset, sb.hset)) * 1000
      / greatest(len(list_distinct(list_concat(sa.hset, sb.hset))), 1))
      >= {threshold_x1000}
ORDER BY doc_a, doc_b"""


SIMHASH_BITS = 60  # keep in lockstep with functions.text.SIMHASH_BITS


def _simhash_bit_terms() -> str:
    """60-bit SimHash from the FULL h60 token hash (not the %P reduction) —
    matches functions.text.simhash60. ``hs`` is a named list column, so the
    expensive md5 runs once per token even though each bit re-walks the list."""
    return " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )


def _simhash_cte() -> str:
    h = H60.format(s="s")
    return f"""tok AS (SELECT doc_id, list_transform({_toks()}, s -> {h}) AS hs
       FROM documents),
sig AS (SELECT doc_id, CAST({_simhash_bit_terms()} AS BIGINT) AS simhash FROM tok)"""


def simhash_sql() -> str:
    return f"""
WITH {_simhash_cte()}
SELECT doc_id, simhash FROM sig"""


def simhash_neardup_sql(max_hamming: int = 3) -> str:
    """Brute-force all-pairs Hamming twin of the banded Spark pipeline —
    banding is exact by pigeonhole, so the result sets must be identical."""
    return f"""
WITH {_simhash_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b"""


def fingerprint_sql() -> str:
    key = H60.format(s=_norm())
    return f"""
WITH tok AS (SELECT doc_id, text, {_toks()} AS toks FROM documents)
SELECT doc_id,
       CAST(list_reduce(list_prepend(CAST(7 AS BIGINT),
                 list_transform(toks, s -> {_h31('s')})),
            (acc, x) -> (acc * 31 + x) % {P}) AS BIGINT) AS fingerprint,
       {key} AS content_key
FROM tok"""


def profile_sql() -> str:
    norm = _norm()
    punct_class = """[.,;:!?'"()\\[\\]{}-]"""
    punct_sql = punct_class.replace("'", "''")
    return f"""
WITH base AS (
  SELECT doc_id, text, {norm} AS norm, {_toks()} AS toks,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
m AS (
  SELECT doc_id, n_chars,
         CAST(CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_pieces,
         CAST(n_chars - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
         CAST(n_chars - length(regexp_replace(text, '{punct_sql}', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(toks, x -> x IN ({_in_list(LANG_STOPWORDS['en'])}))) AS BIGINT) AS n_stop,
         CAST(length(norm) AS BIGINT) AS n_norm_chars
  FROM base
)
SELECT doc_id, n_chars, n_tokens, n_pieces,
       CAST(floor((n_norm_chars - (n_tokens - 1)) * 1000 / greatest(n_tokens, 1)) AS BIGINT) AS mean_token_len_x1000,
       CAST(floor(n_alpha * 1000 / greatest(n_chars, 1)) AS BIGINT) AS alpha_ratio_x1000,
       CAST(floor(n_digit * 1000 / greatest(n_chars, 1)) AS BIGINT) AS digit_ratio_x1000,
       CAST(floor(n_punct * 1000 / greatest(n_chars, 1)) AS BIGINT) AS punct_ratio_x1000,
       CAST(floor(n_stop * 1000 / greatest(n_tokens, 1)) AS BIGINT) AS stopword_ratio_x1000
FROM m"""


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def clean_corpus_sql(rates: dict[str, int], default_pct: int, salt: str) -> str:
    """gate → canonical exact-dedup → stratified sample, composed from the
    same expression templates as doc_quality_gate / exact_dedup /
    doc_hash_sample."""
    norm = _norm()
    ck = H60.format(s="norm")
    bucket = H60.format(s=f"concat(CAST(doc_id AS VARCHAR), '{salt}')")
    whens = " ".join(f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(rates.items()))
    return f"""
WITH base AS (
  SELECT doc_id, text, lang, {norm} AS norm FROM documents
),
m AS (
  SELECT *, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(CASE WHEN length(norm) = 0 THEN 0
              ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
  FROM base
),
gated AS (
  SELECT doc_id, lang, text, norm FROM m
  WHERE n_tokens >= 20 AND n_tokens <= 100000
    AND floor(n_alpha * 1000 / greatest(n_chars, 1)) >= 500
    AND floor(n_digit * 1000 / greatest(n_chars, 1)) <= 300
),
keyed AS (SELECT doc_id, lang, text, {ck} AS ck FROM gated),
canon AS (SELECT ck, MIN(doc_id) AS doc_id FROM keyed GROUP BY ck),
kept AS (
  SELECT k.doc_id, k.lang, k.text FROM keyed k
  JOIN canon c ON k.ck = c.ck AND k.doc_id = c.doc_id
)
SELECT doc_id, lang, text, ({bucket}) % 100 AS sample_bucket
FROM kept
WHERE ({bucket}) % 100 < (CASE lang {whens} ELSE {default_pct} END)
ORDER BY doc_id"""


def corpus_report_sql() -> str:
    """Rollup over the SAME per-doc quality expressions as profile_sql —
    any edit there must be mirrored here (both derive from
    functions/text.py quality_metrics)."""
    norm = _norm()
    return f"""
WITH base AS (
  SELECT lang, source, {norm} AS norm, {_toks()} AS toks,
         CAST(length(text) AS BIGINT) AS n_chars, text
  FROM documents
),
m AS (
  SELECT lang, source,
         CAST(CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS BIGINT) AS n_tokens,
         CAST(n_chars - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(len(list_filter(toks, x -> x IN ({_in_list(LANG_STOPWORDS['en'])}))) AS BIGINT) AS n_stop,
         n_chars
  FROM base
),
per_doc AS (
  SELECT lang, source, n_tokens,
         CAST(floor(n_alpha * 1000 / greatest(n_chars, 1)) AS BIGINT) AS alpha_x1000,
         CAST(floor(n_stop * 1000 / greatest(n_tokens, 1)) AS BIGINT) AS stop_x1000
  FROM m
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(CAST(SUM(alpha_x1000) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_alpha_x1000,
       CAST(CAST(SUM(stop_x1000) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_stop_x1000
FROM per_doc GROUP BY lang, source ORDER BY lang, source"""


def langid_sql() -> str:
    hits = ",\n         ".join(
        f"CAST(len(list_filter(toks, x -> x IN ({_in_list(ws)}))) AS BIGINT) AS hits_{lang}"
        for lang, ws in sorted(LANG_STOPWORDS.items())
    )
    langs = sorted(LANG_STOPWORDS)
    m = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    cases = " ".join(f"WHEN hits_{lang} = m THEN '{lang}'" for lang in langs)
    return f"""
WITH tok AS (SELECT doc_id, lang, {_toks()} AS toks FROM documents),
h AS (
  SELECT doc_id, lang,
         {hits}
  FROM tok
),
mm AS (SELECT *, {m} AS m FROM h)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN m = 0 THEN 'und' {cases} ELSE 'und' END AS detected_lang
FROM mm"""


# ---------------------------------------------------------------------------
# multimodal (media view derived from documents — operators/multimodal.py)
# ---------------------------------------------------------------------------

# payload = unhex(repeat(md5(doc_id), 2 + doc_id % 7)) on the Spark side; the
# twin recomputes header-derived features from the md5 HEX STRING (hex chars
# [1,4] = payload bytes [0,2) big-endian, etc.) — the binary never needs to
# exist in DuckDB
_MEDIA_CTE = """
m AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(16 * (2 + doc_id % 7) AS BIGINT) AS n_bytes
  FROM documents
)"""


def media_features_sql() -> str:
    return f"""
WITH {_MEDIA_CTE}
SELECT media_id,
       CAST(1 + CAST('0x' || substr(h, 1, 4) AS BIGINT) % 2048 AS BIGINT) AS width,
       CAST(1 + CAST('0x' || substr(h, 5, 4) AS BIGINT) % 2048 AS BIGINT) AS height,
       CAST(1 + CAST('0x' || substr(h, 9, 2) AS BIGINT) % 4 AS BIGINT) AS channels,
       n_bytes
FROM m WHERE kind = 'image' ORDER BY media_id"""


def media_stats_sql() -> str:
    return f"""
WITH {_MEDIA_CTE}
SELECT kind, CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
FROM m GROUP BY kind ORDER BY kind"""


def media_frame_counts_sql() -> str:
    return f"""
WITH {_MEDIA_CTE}
SELECT media_id,
       CAST(least(8, greatest(1, n_bytes // 32)) AS BIGINT) AS n_frames
FROM m WHERE kind = 'video' ORDER BY media_id"""


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(range(1, {dim1}), i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
)


def _dot(a: str, b: str, dim: int = 64) -> str:
    return _DOT.format(a=a, b=b, dim1=dim + 1)


def _cos(a: str, b: str, dim: int = 64) -> str:
    return f"({_dot(a, b, dim)} / (sqrt({_dot(a, a, dim)}) * sqrt({_dot(b, b, dim)})))"


def ann_bruteforce_sql(query_ids: list[int], k: int = 5, dim: int = 64) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_cos('q.qv', 'e.v', dim)} AS cos
  FROM e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def _bucket_expr(vec: str, planes: list[list[float]], dim: int = 64) -> str:
    terms = []
    for m, plane in enumerate(planes):
        lits = ", ".join(repr(x) for x in plane)
        d = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE),"
            f" list_transform(range(1, {dim + 1}), i -> {vec}[i] * ([{lits}]::DOUBLE[])[i])),"
            f" (acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN {d} > 0 THEN CAST({2**m} AS BIGINT) ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def ann_lsh_sql(
    planes: list[list[float]],
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    multiprobe: bool = False,
) -> str:
    """Twin of similarity.lsh_topk. ``multiprobe`` widens the bucket match
    to Hamming distance ≤ 1 on the sign bits (xor is 0 or a power of two),
    mirroring the Spark side's exploded probe list."""
    bucket = _bucket_expr("v", planes, dim)
    ids = ", ".join(str(i) for i in query_ids)
    if multiprobe:
        flips = ", ".join(str(1 << i) for i in range(len(planes)))
        match = f"(b.bucket = q.q_bucket OR xor(b.bucket, q.q_bucket) IN ({flips}))"
    else:
        match = "b.bucket = q.q_bucket"
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS q_bucket FROM b
      WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id, {_cos('q.qv', 'b.v', dim)} AS cos
  FROM b JOIN q ON {match} AND b.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def top_ngrams_sql(n: int = 2, k: int = 20) -> str:
    return f"""
WITH {shingles_cte(n)}
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM (SELECT doc_id, unnest(shingles) AS ngram FROM sh)
GROUP BY ngram ORDER BY doc_freq DESC, ngram LIMIT {k}"""


def repetition_sql(n: int = 3) -> str:
    return f"""
WITH tok AS (SELECT doc_id, {_toks()} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(greatest(len(toks) - {n - 1}, 0) AS BIGINT) AS total_ngrams,
         CAST(CASE WHEN len(toks) >= {n}
              THEN len(list_distinct(list_transform(range(1, len(toks) - {n - 2}),
                       i -> concat_ws(' ', {' , '.join(f'toks[i+{j}]' for j in range(n))}))))
              ELSE 0 END AS BIGINT) AS distinct_ngrams
  FROM tok
)
SELECT doc_id, total_ngrams, distinct_ngrams,
       CAST(CASE WHEN total_ngrams > 0
            THEN (1000 * (total_ngrams - distinct_ngrams)) // total_ngrams
            ELSE 0 END AS BIGINT) AS repetition_x1000
FROM m"""


def contamination_sql(bench_mod: int = 97, n: int = 3, k: int = 50) -> str:
    gk = H60.format(s="g")
    return f"""
WITH {shingles_cte(n)},
grams AS (
  SELECT doc_id, {gk} AS gk
  FROM (SELECT doc_id, unnest(shingles) AS g FROM sh)
),
bench AS (SELECT DISTINCT gk FROM grams WHERE doc_id % {bench_mod} = 0),
corpus AS (SELECT * FROM grams WHERE doc_id % {bench_mod} <> 0)
SELECT doc_id, CAST(COUNT(DISTINCT corpus.gk) AS BIGINT) AS n_shared_grams
FROM corpus JOIN bench ON corpus.gk = bench.gk
GROUP BY doc_id ORDER BY n_shared_grams DESC, doc_id LIMIT {k}"""


def media_audio_features_sql() -> str:
    rate = "8000 * (1 + CAST('0x' || substr(h, 9, 2) AS BIGINT) % 6)"
    samples = "greatest(n_bytes - 4, 0) * 4"
    return f"""
WITH {_MEDIA_CTE}
SELECT media_id,
       CAST({rate} AS BIGINT) AS sample_rate,
       CAST({samples} AS BIGINT) AS n_samples,
       CAST(({samples} * 1000) // ({rate}) AS BIGINT) AS duration_ms,
       n_bytes
FROM m WHERE kind = 'audio' ORDER BY media_id"""


def media_resize_sql(target_w: int = 64, target_h: int = 64, pixel_cap: int = 256) -> str:
    channels = "1 + CAST('0x' || substr(h, 9, 2) AS BIGINT) % 4"
    return f"""
WITH {_MEDIA_CTE}
SELECT media_id,
       CAST({target_w} AS BIGINT) AS width,
       CAST({target_h} AS BIGINT) AS height,
       CAST({channels} AS BIGINT) AS channels,
       CAST(5 + least({target_w} * {target_h} * ({channels}), {pixel_cap}) AS BIGINT)
           AS n_bytes
FROM m WHERE kind = 'image' ORDER BY media_id"""


def pack_sequences_sql(max_tokens: int = 512, n_shards: int = 8, salt: str = ":pack") -> str:
    shard = H60.format(s=f"concat(CAST(doc_id AS VARCHAR), '{salt}')")
    norm = _norm()
    return f"""
WITH base AS (
  SELECT doc_id,
         ({shard}) % {n_shards} AS shard,
         CAST(CASE WHEN length({norm}) = 0 THEN 0
              ELSE len({_toks()}) END AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_start
  FROM base
)
SELECT doc_id, shard, n_tokens,
       CAST(tok_start // {max_tokens} AS BIGINT) AS seq_id,
       CAST(tok_start % {max_tokens} AS BIGINT) AS seq_offset
FROM packed"""


# Corpus-derived geometry twin of similarity.auto_n_cells / auto_nprobe:
# exact isqrt (FLOOR(SQRT(double)) with ±1 integer correction — double sqrt
# is IEEE-correctly-rounded, the correction makes the floor exact), then the
# smallest power of two ≥ ⌊√N⌋ via an integer VALUES lookup (no float log2
# anywhere — log-boundary rounding is engine-specific; integers are not),
# clamped to [4, 2^18]; nprobe = ⌊√n_cells⌋ by the same exact-isqrt trick.
_POW2_VALUES = ", ".join(f"({1 << e})" for e in range(0, 19))


def geo_cte(table: str = "embeddings") -> str:
    """``_geo`` CTE: one row (n, n_cells, nprobe) derived from the corpus
    count — the replayable twin of the Python derivation, so auto-sized
    operator arms stay oracle-checkable at ANY scale factor (the c0/probe
    consumers reference it via scalar subqueries in LIMIT / rank bounds)."""
    isq = """CASE WHEN (sa + 1) * (sa + 1) <= {v} THEN sa + 1
                  WHEN sa * sa > {v} THEN sa - 1 ELSE sa END"""
    return f"""_geo AS (
  SELECT n,
         n_cells,
         GREATEST(1, CASE WHEN (pa + 1) * (pa + 1) <= n_cells THEN pa + 1
                          WHEN pa * pa > n_cells THEN pa - 1 ELSE pa END)
           AS nprobe
  FROM (
    SELECT n, n_cells,
           CAST(FLOOR(SQRT(CAST(n_cells AS DOUBLE))) AS BIGINT) AS pa
    FROM (
      SELECT n,
             LEAST(262144, GREATEST(4, coalesce(
               (SELECT min(v) FROM (VALUES {_POW2_VALUES}) pw(v)
                WHERE v >= s), 262144))) AS n_cells
      FROM (
        SELECT n, {isq.format(v='gn')} AS s
        FROM (SELECT n, GREATEST(1, n) AS gn,
                     CAST(FLOOR(SQRT(CAST(GREATEST(1, n) AS DOUBLE))) AS BIGINT) AS sa
              FROM (SELECT count(*) AS n FROM {table})))
    )
  )
)"""


def _ivf_assigned_cte(
    n_cells: int | None = 16,
    dim: int = 64,
    train_iters: int = KMEANS_ITERS,
    n_train: int = KMEANS_TRAIN,
) -> str:
    """Shared IVF prefix: k-means-TRAINED centroids (h60-hash-selected init
    refined by ``train_iters`` unrolled Lloyd iterations over the
    ``n_train`` hash-lowest sample — the bit-exact twin of
    ``similarity.kmeans_refine``: same assignment rule (max cos, ties →
    larger cell id), same element-wise mean (0.0-init sequential fold over
    members ordered by vec_id, one divide), empty cells keep their previous
    centroid) and per-vector cell assignment = max cos with ties to the
    larger cell id (mirrors Spark ``array_max`` over struct<cos,cell>).
    ``train_iters=0`` is the hash-selected baseline. Yields CTEs ``e``
    (double-cast vectors), ``c`` (centroids) and ``assigned``
    (vec_id, v, cell_id).

    ``n_cells=None`` = corpus-derived geometry: the prefix gains the
    ``_geo`` CTE (:func:`geo_cte`) and ``c0`` LIMITs by its scalar
    subquery — the twin of ``similarity.auto_n_cells``. Training is
    untrainable at dynamic geometry (the unrolled-iteration structure
    must be decided at SQL-generation time), so callers pin
    ``train_iters=0``; and mirroring ``similarity.ivf_centroids``'s
    guard, a concrete ``n_cells >= n_train`` also disables training."""
    if n_cells is None:
        assert train_iters == 0, "auto-geometry twin requires train_iters=0"
    elif train_iters and n_cells >= n_train:
        train_iters = 0
    limit = "(SELECT n_cells FROM _geo)" if n_cells is None else str(n_cells)
    cell_hash = H60.format(s="CAST(vec_id AS VARCHAR)")
    parts = []
    if n_cells is None:
        parts.append(geo_cte())
    parts.append(
        f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e
       ORDER BY {cell_hash}, vec_id LIMIT {limit})"""
    )
    prev = "c0"
    if train_iters:
        parts.append(
            f"""s0 AS (SELECT vec_id, v FROM e
       ORDER BY {cell_hash}, vec_id LIMIT {n_train})"""
        )
        for t in range(1, train_iters + 1):
            parts.append(
                f"""asg{t} AS MATERIALIZED (
  SELECT vec_id, v, cell_id FROM (
    SELECT s.vec_id, s.v, c.cell_id,
           row_number() OVER (PARTITION BY s.vec_id
                ORDER BY {_cos('s.v', 'c.cv', dim)} DESC, c.cell_id DESC) AS rn
    FROM s0 s, {prev} c) WHERE rn = 1
),
mean{t} AS MATERIALIZED (
  SELECT cell_id,
         list_transform(range(1, {dim + 1}), i ->
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list_transform(vs, vv -> vv[i])),
                       (a, b) -> a + b) / len(vs)) AS cv
  FROM (SELECT cell_id, list(v ORDER BY vec_id) AS vs
        FROM asg{t} GROUP BY cell_id)
),
c{t} AS MATERIALIZED (
  SELECT p.cell_id, coalesce(m.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN mean{t} m USING (cell_id)
)"""
            )
            prev = f"c{t}"
    parts.append(f"c AS (SELECT cell_id, cv FROM {prev})")
    parts.append(
        f"""ca AS (
  SELECT e.vec_id, e.v, c.cell_id, {_cos('e.v', 'c.cv', dim)} AS cos
  FROM e, c
),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT vec_id, v, cell_id,
           row_number() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, cell_id DESC) AS rn
    FROM ca) WHERE rn = 1
)"""
    )
    return ",\n".join(parts)


def ann_ivf_sql(
    query_ids: list[int],
    k: int = 5,
    n_cells: int | None = 16,
    nprobe: int | None = 4,
    dim: int = 64,
    train_iters: int = KMEANS_ITERS,
) -> str:
    """IVF-flat twin: shared assignment prefix (:func:`_ivf_assigned_cte`),
    probe the ``nprobe`` best cells, exact cosine among candidates.
    ``n_cells=None``/``nprobe=None`` = corpus-derived geometry via the
    ``_geo`` CTE (requires ``train_iters=0`` — see the prefix docstring).
    ``nprobe=None`` with a CONCRETE ``n_cells`` derives ⌊√n_cells⌋ here in
    Python (= ``similarity.auto_nprobe``) — the ``_geo`` CTE only exists
    when ``n_cells`` is also None, so referencing it would emit SQL with
    an undefined CTE."""
    ids = ", ".join(str(i) for i in query_ids)
    if nprobe is None and n_cells is not None:
        import math

        nprobe = max(1, math.isqrt(int(n_cells)))
    probe_bound = "(SELECT nprobe FROM _geo)" if nprobe is None else str(nprobe)
    return f"""
WITH {_ivf_assigned_cte(n_cells, dim, train_iters)},
qc AS (
  SELECT q.vec_id AS query_id, q.v AS qv, c.cell_id,
         {_cos('q.v', 'c.cv', dim)} AS cos
  FROM e q, c WHERE q.vec_id IN ({ids})
),
probed AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT query_id, qv, cell_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, cell_id DESC) AS rn
    FROM qc) WHERE rn <= {probe_bound}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {_cos('p.qv', 'a.v', dim)} AS cos
  FROM assigned a JOIN probed p ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def embedding_neardup_auto_sql(
    threshold: float = 0.95, dim: int = 64, max_planes: int = 18
) -> str:
    """Auto-geometry twin of ``embedding_near_duplicates(planes=None)``.

    The plane COUNT is derived from ``count(*)`` exactly as
    ``similarity.auto_n_planes`` (= log2 of ``auto_n_cells``, an exact
    integer: the ``_geo`` CTE's power-of-two ``n_cells`` is mapped to its
    exponent through an integer VALUES table — no float log anywhere).
    The plane CONSTANTS are the first ``n_planes`` rows of the same seeded
    stream: ``hyperplanes()`` draws row-major from one RandomState, so
    ``hyperplanes(n=k) == hyperplanes(n=max_planes)[:k]`` (prefix
    stability, pinned by ``tests/test_llm_ops.py``).  Bucket bit ``m`` is
    gated on ``m < n_planes``, so ONE static SQL string stays
    hash-checkable at ANY scale factor — the same contract as the
    ``_geo``-derived ANN/SemDeDup twins.  ``max_planes=18`` covers
    ``AUTO_MAX_CELLS = 2^18``, i.e. every derivable geometry."""
    from .operators.similarity import hyperplanes

    planes = hyperplanes(n=max_planes)
    terms = []
    for m, plane in enumerate(planes):
        lits = ", ".join(repr(x) for x in plane)
        d = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE),"
            f" list_transform(range(1, {dim + 1}), i -> v[i] * ([{lits}]::DOUBLE[])[i])),"
            f" (acc, x) -> acc + x)"
        )
        terms.append(
            f"CASE WHEN {m} < (SELECT n_planes FROM _planes) AND {d} > 0"
            f" THEN CAST({2 ** m} AS BIGINT) ELSE 0 END"
        )
    bucket = "(" + " + ".join(terms) + ")"
    pow2_exp = ", ".join(f"({1 << e}, {e})" for e in range(2, 19))
    return f"""
WITH {geo_cte()},
_planes AS (
  SELECT e AS n_planes
  FROM _geo JOIN (VALUES {pow2_exp}) pw(v, e) ON pw.v = _geo.n_cells
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.v AS va, b2.v AS vb
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
SELECT DISTINCT id_a, id_b FROM pairs
WHERE {_cos('va', 'vb', dim)} >= {threshold}
ORDER BY id_a, id_b"""


def semantic_dedup_sql(
    threshold: float = 0.4,
    n_cells: int | None = 16,
    dim: int = 64,
    train_iters: int = KMEANS_ITERS,
) -> str:
    """SemDeDup twin: same IVF cell assignment as ann_ivf_sql, then
    within-cell pairs with cosine ≥ threshold; dup keeps its smallest
    same-cell partner as the canonical survivor. ``n_cells=None`` =
    corpus-derived √N geometry (``_geo`` CTE; requires ``train_iters=0``)."""
    return f"""
WITH {_ivf_assigned_cte(n_cells, dim, train_iters)},
pairs AS (
  SELECT b.vec_id AS dup_id, a.vec_id AS keep_id
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {_cos('a.v', 'b.v', dim)} >= {threshold}
)
SELECT dup_id, CAST(min(keep_id) AS BIGINT) AS keep_id
FROM pairs GROUP BY dup_id ORDER BY dup_id"""


# ---------------------------------------------------------------------------
# PII scrubbing / paragraph dedup — both run over corpora DERIVED
# deterministically from `documents` (the synthetic word-salad text carries
# no PII and no paragraph breaks, so the catalog appends id-derived tokens
# on BOTH engines; the operator itself is generic).
# ---------------------------------------------------------------------------

PII_CORPUS_CTE = """pd AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.0.' || CAST(1 + doc_id % 200 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1415' || CAST(5550000 + doc_id % 10000 AS VARCHAR)
                 ELSE '' END
         AS text
  FROM documents
)"""


def pii_scrub_sql(rules: list[tuple[str, str, str]]) -> str:
    """Twin of text_analysis.pii_scrub over the derived PII corpus. The
    pattern strings are the SAME Python literals the Spark side compiles
    (PII_RULES) — restricted to the Java∩RE2 regex subset."""
    counts = []
    scrub = "text"
    for name, pattern, replacement in rules:
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{pattern}')) AS BIGINT) AS n_{name}"
        )
        scrub = f"regexp_replace({scrub}, '{pattern}', '{replacement}', 'g')"
    key = H60.format(s=scrub)
    return f"""
WITH {PII_CORPUS_CTE}
SELECT doc_id, {", ".join(counts)}, {key} AS clean_key
FROM pd ORDER BY doc_id"""


PARA_CORPUS_CTE = """pd AS (
  SELECT doc_id,
         text || chr(10) || chr(10) || 'Follow us on social media for updates'
              || chr(10) || chr(10) || 'shared promo block '
              || CAST(doc_id % 7 AS VARCHAR)
         AS text
  FROM documents
)"""


def paragraph_dedup_sql() -> str:
    """Twin of dedup.paragraph_dedup over the derived paragraph corpus:
    split on blank lines, first occurrence of each normalized-paragraph
    h60 key (corpus order = (doc_id, position)) survives; per-doc counts +
    h60 of the surviving paragraphs re-joined."""
    pkey = H60.format(s=NORM.format(c="para"))
    sep = "chr(10) || chr(10)"
    joined = f"coalesce(string_agg(para, {sep} ORDER BY pos) FILTER (WHERE keep = 1), '')"
    return f"""
WITH {PARA_CORPUS_CTE},
split AS (
  SELECT doc_id, string_split(text, {sep}) AS ps FROM pd
),
paras AS (
  SELECT doc_id,
         unnest(range(1, len(ps) + 1)) AS pos,
         unnest(ps) AS para
  FROM split
),
flagged AS (
  SELECT doc_id, pos, para,
         CASE WHEN row_number() OVER (PARTITION BY {pkey}
                   ORDER BY doc_id, pos) = 1
              THEN 1 ELSE 0 END AS keep
  FROM paras
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       {H60.format(s=joined)} AS clean_key
FROM flagged GROUP BY doc_id ORDER BY doc_id"""


def mixture_split_sql(
    weights_x1000: dict[str, int],
    default_x1000: int,
    train_x1000: int,
    val_x1000: int,
    split_salt: str,
    mix_salt: str,
) -> str:
    """Twin of text_analysis.mixture_split: salted h60 buckets decide the
    train/val/test split and the per-source mixture keep flag."""
    h_split = H60.format(s=f"concat(CAST(doc_id AS VARCHAR), '{split_salt}')")
    h_mix = H60.format(s=f"concat(CAST(doc_id AS VARCHAR), '{mix_salt}')")
    whens = " ".join(
        f"WHEN '{src}' THEN {w}" for src, w in sorted(weights_x1000.items())
    )
    return f"""
SELECT doc_id, source,
       CASE WHEN ({h_split}) % 1000 < {train_x1000} THEN 'train'
            WHEN ({h_split}) % 1000 < {val_x1000} THEN 'val'
            ELSE 'test' END AS split,
       CAST(CASE WHEN ({h_mix}) % 1000 <
                 (CASE source {whens} ELSE {default_x1000} END)
            THEN 1 ELSE 0 END AS BIGINT) AS mix_kept
FROM documents ORDER BY doc_id"""


def substring_dedup_sql(k: int = 8) -> str:
    """Twin of dedup.substring_duplicate_spans: duplicated k-token grams
    (count > 1 corpus-wide), per-doc position runs merged at gap <= k."""
    gram = " , ".join(f"toks[i+{j}]" for j in range(k))
    gram_h = H60.format(s=f"concat_ws(' ', {gram})")
    return f"""
WITH tok AS (
  SELECT doc_id, {_toks()} AS toks,
         CASE WHEN length({_norm()}) = 0 THEN 0
              ELSE len({_toks()}) END AS n_tokens
  FROM documents
),
g AS (
  SELECT doc_id, n_tokens,
         list_transform(range(1, len(toks) - {k - 2}), i -> {gram_h}) AS grams
  FROM tok WHERE len(toks) >= {k}
),
e AS (
  SELECT doc_id, n_tokens,
         unnest(range(1, len(grams) + 1)) AS pos,
         unnest(grams) AS gram_h
  FROM g
),
c AS (SELECT *, count(*) OVER (PARTITION BY gram_h) AS occ FROM e),
s AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens,
         list_sort(list(pos)) AS ps
  FROM c WHERE occ > 1 GROUP BY doc_id
),
f AS (
  SELECT doc_id, n_tokens, len(ps) AS dup_grams,
         list_transform(range(2, len(ps) + 1), i -> ps[i] - ps[i-1]) AS diffs
  FROM s
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(dup_grams AS BIGINT) AS dup_grams,
       CAST(1 + coalesce(list_sum(list_transform(diffs,
                 d -> CASE WHEN d > {k} THEN 1 ELSE 0 END)), 0) AS BIGINT)
           AS dup_spans,
       CAST({k} + coalesce(list_sum(list_transform(diffs,
                 d -> least(d, {k}))), 0) AS BIGINT) AS dup_tokens,
       CAST(({k} + coalesce(list_sum(list_transform(diffs,
                 d -> least(d, {k}))), 0)) * 1000 // n_tokens AS BIGINT)
           AS dup_permille
FROM f ORDER BY doc_id"""


def table_stats_sql(table: str, cols: list[tuple[str, str]]) -> str:
    """Twin of stats.column_stats: same (name, kind) spec, same ordinal
    domain (ints as-is, doubles as half-up cents, timestamps as epoch us)."""

    def ord_(name: str, kind: str) -> str:
        if kind == "int":
            return f"CAST({name} AS BIGINT)"
        if kind == "cents":
            return f"CAST(round({name} * 100) AS BIGINT)"
        if kind == "ts":
            return f"epoch_us({name})"
        return "NULL"

    aggs = ["CAST(count(*) AS BIGINT) AS n_rows"]
    arms = []
    for name, kind in cols:
        o = ord_(name, kind)
        aggs += [
            f'CAST(count({name}) AS BIGINT) AS "{name}__nn"',
            f'CAST(count(DISTINCT {name}) AS BIGINT) AS "{name}__ndv"',
            f'CAST(min({o}) AS BIGINT) AS "{name}__min_ord"',
            f'CAST(max({o}) AS BIGINT) AS "{name}__max_ord"',
            (
                f'CAST(min({name}) AS VARCHAR) AS "{name}__min_str"'
                if kind == "str"
                else f'CAST(NULL AS VARCHAR) AS "{name}__min_str"'
            ),
            (
                f'CAST(max({name}) AS VARCHAR) AS "{name}__max_str"'
                if kind == "str"
                else f'CAST(NULL AS VARCHAR) AS "{name}__max_str"'
            ),
        ]
        arms.append(
            f"SELECT '{name}' AS col_name, n_rows, \"{name}__nn\" AS n_nonnull, "
            f'"{name}__ndv" AS ndv, "{name}__min_ord" AS min_ord, '
            f'"{name}__max_ord" AS max_ord, "{name}__min_str" AS min_str, '
            f'"{name}__max_str" AS max_str FROM s'
        )
    body = " UNION ALL ".join(arms)
    return f"WITH s AS (SELECT {', '.join(aggs)} FROM {table})\n{body}\nORDER BY col_name"


def temperature_sample_sql(alpha: float = 0.5, salt: str = ":temp") -> str:
    """Twin of text_analysis.temperature_sample: per-lang keep rate
    floor(1000 * (min_n / n_l)^(1-alpha)); salted-h60 threshold keep.
    pow/floor are IEEE-identical across both engines."""
    h = H60.format(s=f"concat(CAST(doc_id AS VARCHAR), '{salt}')")
    return f"""
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
r AS (
  SELECT lang, n_docs,
         CAST(floor(1000 * pow(CAST((SELECT min(n_docs) FROM c) AS DOUBLE) / n_docs,
                               {1.0 - alpha})) AS BIGINT) AS rate_permille
  FROM c
)
SELECT d.lang, any_value(r.n_docs) AS n_docs,
       any_value(r.rate_permille) AS rate_permille,
       CAST(sum(CASE WHEN ({h}) % 1000 < r.rate_permille THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept
FROM documents d JOIN r ON d.lang = r.lang
GROUP BY d.lang ORDER BY d.lang"""


def _l2sq_sub_sql(a: str, b: str, j, sub: int = 8) -> str:
    """Squared L2 over subspace ``j`` (python int or SQL expression), same
    sequential fold and (x−y)·(x−y) form as the Spark expression."""
    base = f"{sub} * {j}"
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(0, {sub}), i -> "
        f"({a}[{base} + i + 1] - {b}[{base} + i + 1]) * "
        f"({a}[{base} + i + 1] - {b}[{base} + i + 1]))), (acc, x) -> acc + x)"
    )


def _pq_ctes(
    query_ids: list[int],
    kc: int,
    m: int,
    sub: int,
    dim: int,
    train_iters: int = KMEANS_ITERS,
    n_train: int = KMEANS_TRAIN,
) -> tuple[str, str, str]:
    """The ONE copy of the PQ twin machinery, shared by ``ann_pq_sql`` and
    ``ann_ivfpq_sql`` (the pattern ``_ivf_assigned_cte`` establishes for
    the IVF half). Returns (ctes, cw_joins, adist): CTEs ``n`` (L2-
    normalized vectors over a caller-provided ``e``), ``cw`` (per-subspace
    k-means-TRAINED codewords — PQ-salted hash-selected init refined by
    ``train_iters`` unrolled Lloyd iterations over the ``n_train``
    hash-lowest normalized sample, the bit-exact twin of
    ``similarity.pq_codewords``: argmin-l2sq assignment with ties to the
    smaller codeword id, 0.0-init sequential-fold slice means over members
    ordered by vec_id, empty (j, c) keeps its previous slice, trained
    slices stitched back into full-dim vectors; ``train_iters=0`` is the
    hash-selected baseline), ``sub``/``kd`` (per-subspace argmin codes,
    ties → smaller codeword id), ``q`` (normalized query vectors); the
    per-subspace codeword joins; and the ADC distance as a FIXED j=0..m-1
    addition chain (grouped SUM would have engine-dependent float order)."""
    ids = ", ".join(str(i) for i in query_ids)
    cw_hash = H60.format(s="CAST(vec_id AS VARCHAR) || '|pq'")
    cw_joins = "\n  ".join(
        f"JOIN cw cw{j} ON cw{j}.c = kd.codes[{j + 1}]" for j in range(m)
    )
    adist = " + ".join(
        f"({_l2sq_sub_sql('q.qv', f'cw{j}.w', j, sub)})" for j in range(m)
    )
    train_parts = []
    prev = "cw0"
    if train_iters:
        train_parts.append(
            f"""ps AS (SELECT vec_id, v FROM n
      ORDER BY {cw_hash}, vec_id LIMIT {n_train})"""
        )
        for t in range(1, train_iters + 1):
            train_parts.append(
                f"""pa{t} AS MATERIALIZED (
  SELECT vec_id, j, c FROM (
    SELECT s.vec_id, jj.j, w.c,
           row_number() OVER (PARTITION BY s.vec_id, jj.j
                ORDER BY {_l2sq_sub_sql('s.v', 'w.w', 'jj.j', sub)}, w.c) AS rn
    FROM ps s, {prev} w, (SELECT unnest(range(0, {m})) AS j) jj) WHERE rn = 1
),
pm{t} AS MATERIALIZED (
  SELECT j, c,
         list_transform(range(1, {sub + 1}), i ->
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(vs, vv -> vv[{sub} * j + i])),
                       (a, b) -> a + b) / len(vs)) AS w8
  FROM (SELECT a.j, a.c, list(s.v ORDER BY s.vec_id) AS vs
        FROM pa{t} a JOIN ps s USING (vec_id) GROUP BY a.j, a.c)
),
cw{t} AS MATERIALIZED (
  SELECT p.c,
         flatten(list(coalesce(m.w8,
           list_slice(p.w, {sub} * jj.j + 1, {sub} * jj.j + {sub}))
           ORDER BY jj.j)) AS w
  FROM {prev} p
  CROSS JOIN (SELECT unnest(range(0, {m})) AS j) jj
  LEFT JOIN pm{t} m ON m.j = jj.j AND m.c = p.c
  GROUP BY p.c
)"""
            )
            prev = f"cw{t}"
    training = (",\n".join(train_parts) + ",\n") if train_parts else ""
    ctes = f"""n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt({_dot('v', 'v', dim)})) AS v
  FROM e
),
cw0 AS (
  SELECT row_number() OVER (ORDER BY {cw_hash}, vec_id) - 1 AS c, v AS w
  FROM n ORDER BY {cw_hash}, vec_id LIMIT {kc}
),
{training}cw AS (SELECT c, w FROM {prev}),
sub AS (
  SELECT n.vec_id, cw.c, j.j,
         {_l2sq_sub_sql('n.v', 'cw.w', 'j.j', sub)} AS d2
  FROM n, cw, (SELECT unnest(range(0, {m})) AS j) j
),
kd AS (
  SELECT vec_id, list(c ORDER BY j) AS codes FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
    FROM sub) WHERE rn = 1
  GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id IN ({ids}))"""
    return ctes, cw_joins, adist


def ann_pq_sql(
    query_ids: list[int],
    k: int = 5,
    kc: int = 16,
    m: int = 8,
    sub: int = 8,
    dim: int = 64,
) -> str:
    """Product-quantization twin: PQ-salted hash-selected codewords over
    L2-NORMALIZED vectors, per-subspace argmin encoding, ADC scoring
    (machinery shared with ``ann_ivfpq_sql`` via :func:`_pq_ctes`), rank
    ascending approximate distance with neighbor-id ties."""
    pq_ctes, cw_joins, adist = _pq_ctes(query_ids, kc, m, sub, dim)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
{pq_ctes},
scored AS (
  SELECT q.query_id, kd.vec_id AS neighbor_id,
         {adist} AS adist
  FROM q CROSS JOIN kd
  {cw_joins}
  WHERE kd.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def bm25_sql(
    queries: dict[int, list[str]], k: int, k1: float, b: float, k1p1: float
) -> str:
    """BM25 top-k twin; float literals arrive as round-trip-safe repr()s of
    the exact doubles the Spark side uses, every float op mirrors
    operators/retrieval.py operand-for-operand, and the per-doc sum is the
    same term-ordered sequential left fold."""
    qterms = sorted({t for ts in queries.values() for t in ts})
    term_list = _in_list(qterms)
    qmap_rows = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(queries.items()) for t in ts
    )
    ntok = "CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END"
    return f"""
WITH base AS (
  SELECT doc_id, {_norm()} AS norm, {_toks()} AS toks FROM documents),
docs AS (
  SELECT doc_id, CAST({ntok} AS BIGINT) AS dl, toks FROM base),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_tokens FROM docs),
post AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
  WHERE term IN ({term_list})
  GROUP BY doc_id, dl, term),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
qmap(query_id, term) AS (VALUES {qmap_rows}),
scored AS (
  SELECT CAST(qmap.query_id AS BIGINT) AS query_id, post.doc_id, post.term,
         ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         * ((CAST(tf AS DOUBLE) * {k1p1!r}) /
            (CAST(tf AS DOUBLE) + ({k1!r} * ((1.0 - {b!r}) +
             ({b!r} * (CAST(dl * n_docs AS DOUBLE)
                       / CAST(total_tokens AS DOUBLE))))))) AS s
  FROM post JOIN dfreq USING (term) JOIN qmap USING (term), stats),
folded AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY term)),
                     (acc, x) -> acc + x) AS score
  FROM scored GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS BIGINT) AS rank
  FROM folded)
SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def phrase_match_sql(phrase: list[str]) -> str:
    """Positional-index phrase match twin (generate_subscripts is 1-based
    where Spark's posexplode is 0-based — only relative offsets appear in
    the join, so the base cancels)."""
    words = _in_list(sorted(set(phrase)))
    joins = "\n".join(
        f"JOIN ptok p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.w = '{w}'"
        f" AND p{i}.pos = p0.pos + {i}"
        for i, w in enumerate(phrase[1:], start=1)
    )
    return f"""
WITH base AS (SELECT doc_id, {_toks()} AS toks FROM documents),
ptok AS (
  SELECT * FROM (
    SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
    FROM base)
  WHERE w IN ({words})),
p0 AS (SELECT doc_id, pos FROM ptok WHERE w = '{phrase[0]}')
SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM p0
{joins}
GROUP BY p0.doc_id ORDER BY p0.doc_id"""


def vocab_oov_sql(k: int) -> str:
    """Top-k vocabulary + OOV permille twin (ties cut by token, both
    integer permille via floor-div on positives)."""
    return f"""
WITH freq AS (
  SELECT w AS token, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_toks()}) AS w FROM documents)
  WHERE w <> '' GROUP BY w),
top AS (SELECT token, freq FROM freq ORDER BY freq DESC, token LIMIT {k}),
t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq),
kp AS (SELECT CAST(SUM(freq) AS BIGINT) AS kept FROM top)
SELECT * FROM (
  SELECT token, 'n_occurrences' AS metric, freq AS value FROM top
  UNION ALL
  SELECT '<oov>', 'oov_permille',
         CAST((1000 * (total - kept)) // total AS BIGINT) FROM t, kp
) ORDER BY token, metric"""


def _ivfpq_scored_prefix(
    query_ids: list[int],
    n_cells: int,
    nprobe: int,
    kc: int,
    m: int,
    sub: int,
    dim: int,
) -> str:
    """The shared WITH-prefix of both IVF+PQ twins, ending at the
    ``scored`` CTE (query_id, neighbor_id, adist): the candidate set is
    EXACTLY ann_ivf_sql's (same assignment prefix via _ivf_assigned_cte,
    same probe ranking, un-normalized space) and the scoring is EXACTLY
    ann_pq_sql's ADC chain (same machinery via _pq_ctes, normalized
    space) restricted to those candidates."""
    ids = ", ".join(str(i) for i in query_ids)
    pq_ctes, cw_joins, adist = _pq_ctes(query_ids, kc, m, sub, dim)
    return f"""
WITH {_ivf_assigned_cte(n_cells, dim)},
qc AS (
  SELECT q.vec_id AS query_id, c.cell_id,
         {_cos('q.v', 'c.cv', dim)} AS cos
  FROM e q, c WHERE q.vec_id IN ({ids})
),
probed AS (
  SELECT query_id, cell_id FROM (
    SELECT query_id, cell_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, cell_id DESC) AS rn
    FROM qc) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM assigned a JOIN probed p ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.query_id
),
{pq_ctes},
scored AS (
  SELECT q.query_id, kd.vec_id AS neighbor_id,
         {adist} AS adist
  FROM q
  JOIN cand ON cand.query_id = q.query_id
  JOIN kd ON kd.vec_id = cand.neighbor_id
  {cw_joins}
)"""


def ann_ivfpq_sql(
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    kc: int = 16,
    m: int = 8,
    sub: int = 8,
    dim: int = 64,
) -> str:
    """Composed IVF+PQ twin — mirroring similarity.ivfpq_topk
    structurally, not by copy (see :func:`_ivfpq_scored_prefix`)."""
    prefix = _ivfpq_scored_prefix(query_ids, n_cells, nprobe, kc, m, sub, dim)
    return f"""{prefix},
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def ann_ivfpq_refine_sql(
    query_ids: list[int],
    k: int = 5,
    refine: int = 4,
    n_cells: int = 16,
    nprobe: int = 4,
    kc: int = 16,
    m: int = 8,
    sub: int = 8,
    dim: int = 64,
) -> str:
    """IVF+PQ + exact re-rank twin (similarity.ivfpq_refine_topk): the
    ADC-ranked survivors (arn <= k*refine, EXACTLY ann_ivfpq_sql's
    ordering) are re-scored with the exact cosine over the raw DOUBLE
    vectors (`e`, un-normalized — the same fold _cos/brute-force use) and
    re-ranked (cos DESC, neighbor_id ASC)."""
    ids = ", ".join(str(i) for i in query_ids)
    prefix = _ivfpq_scored_prefix(query_ids, n_cells, nprobe, kc, m, sub, dim)
    return f"""{prefix},
aranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS arn
  FROM scored
),
survivors AS (
  SELECT query_id, neighbor_id FROM aranked WHERE arn <= {int(k) * int(refine)}
),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
exact AS (
  SELECT s.query_id, s.neighbor_id, {_cos('qq.qv', 'n.v', dim)} AS cos
  FROM survivors s
  JOIN e n ON n.vec_id = s.neighbor_id
  JOIN qv qq ON qq.query_id = s.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank"""
