"""Document text-analysis operators: profiling, language-ID, fingerprints.

Everything is a single narrow projection over the documents table — at
100 TB these run as map-only stages (no shuffle), bounded by parquet scan
throughput; all expressions are JVM-codegen'd (functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X


def profile(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality metrics + token counts (exact integers)."""
    m = X.quality_metrics(text_col)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        X.bpe_ish_token_count(text_col).alias("n_pieces"),
        m["mean_token_len_x1000"].alias("mean_token_len_x1000"),
        m["alpha_ratio_x1000"].alias("alpha_ratio_x1000"),
        m["digit_ratio_x1000"].alias("digit_ratio_x1000"),
        m["punct_ratio_x1000"].alias("punct_ratio_x1000"),
        m["stopword_ratio_x1000"].alias("stopword_ratio_x1000"),
    )


def language_id(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID + agreement with the labeled lang column."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.col("lang").alias("labeled_lang"),
        X.lang_id(text_col).alias("detected_lang"),
    )


def fingerprints(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling-hash fingerprint + order-free content key."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        X.content_fingerprint(text_col).alias("fingerprint"),
        X.h60(X.normalize(text_col)).alias("content_key"),
    )


def quality_filter(
    documents: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_alpha_x1000: int = 500,
    max_digit_x1000: int = 300,
    text_col: str = "text",
) -> DataFrame:
    """The classic pretraining quality gate as one pushed-down filter."""
    m = X.quality_metrics(text_col)
    return documents.filter(
        (m["n_tokens"] >= min_tokens)
        & (m["n_tokens"] <= max_tokens)
        & (m["alpha_ratio_x1000"] >= min_alpha_x1000)
        & (m["digit_ratio_x1000"] <= max_digit_x1000)
    )


def top_ngrams(
    documents: DataFrame,
    n: int = 2,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide n-gram DOCUMENT frequency, top-k.

    Shingles are distinct per doc (word_shingles), so the count is document
    frequency, not raw term frequency — the statistic vocabulary builders
    and contamination checks actually want. Map-side explode → partial agg
    → one shuffle on the ngram key → global top-k (TakeOrderedAndProject,
    never a full sort).
    """
    sh = X.add_shingles(
        documents.select(F.col(text_col).alias("__t")), "__t", n
    ).select(F.explode("shingles").alias("ngram"))
    return (
        sh.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "ngram")
        .limit(k)
    )


# per-language keep-percentages for the stratified sample (downsample the
# high-resource language, keep the rest) — literals shared with the SQL twin
SAMPLE_RATES = {"en": 25, "zh": 80, "es": 80, "de": 80, "fr": 80}
SAMPLE_DEFAULT_PCT = 100
_SAMPLE_SALT = ":sample"


def stratified_hash_sample(
    documents: DataFrame,
    rates: dict[str, int] | None = None,
    default_pct: int = SAMPLE_DEFAULT_PCT,
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic stratified sampling: keep a per-language percentage of
    documents, decided by a salted content-free hash of the id — no RNG, so
    the sample is stable across runs, engines, and partitionings (exactly
    reproducible pipeline slices; ``sampleBy`` is seed+partition dependent).

    Map-only: the keep-decision is a pushed-down filter, zero shuffle.

    Default output is the slim (doc_id, lang, sample_bucket) slice — at
    100 TB the decision column set should stay narrow so the scan prunes
    the text/blob columns; pass ``keep_cols`` (e.g. ``("text",)``) to carry
    payload columns through when the sample IS the deliverable.
    """
    rates = SAMPLE_RATES if rates is None else rates
    bucket = X.h60(F.concat(F.col(id_col).cast("string"), F.lit(_SAMPLE_SALT))) % 100
    keep = F.lit(default_pct)
    for lang, pct in sorted(rates.items()):
        keep = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(keep)
    return documents.select(
        F.col(id_col).alias("doc_id"), "lang", *keep_cols, bucket.alias("sample_bucket")
    ).filter(F.col("sample_bucket") < keep)


def repetition_profile(
    documents: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram repetition ratio — the boilerplate/spam signal
    quality pipelines gate on: 1000·(total n-grams − distinct n-grams) ÷
    total, as exact integer permille (`div`, never float division — a
    correctly-rounded double quotient can truncate across an integer
    boundary and disagree with exact floor). Map-only, zero shuffle."""
    toks = X.tokens("__t")
    total = F.greatest(F.size(toks) - (n - 1), F.lit(0)).cast("bigint")
    base = X.add_shingles(
        documents.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        "__t",
        n,
    )
    return base.select(
        "doc_id",
        total.alias("total_ngrams"),
        F.size("shingles").cast("bigint").alias("distinct_ngrams"),
    ).select(
        "doc_id",
        "total_ngrams",
        "distinct_ngrams",
        F.when(
            F.col("total_ngrams") > 0,
            F.expr("(1000 * (total_ngrams - distinct_ngrams)) div total_ngrams"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("repetition_x1000"),
    )


def benchmark_contamination(
    documents: DataFrame,
    bench_mod: int = 97,
    n: int = 3,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Train/benchmark contamination scan: corpus docs sharing ≥1 distinct
    n-gram with the held-out set (docs whose id ≡ 0 mod ``bench_mod`` —
    stand-in for an external eval suite), top-k by shared-gram count.

    The decontamination plan shape at scale: both sides explode to
    (doc, gram-HASH) — the 60-bit key shrinks the shuffle payload vs
    shipping gram strings — the benchmark side dedups to a gram set
    (small: |bench| ≪ |corpus|), and the join shuffles on the gram key
    where skew is bounded because benchmark grams are distinct.

    ``bloom_prefilter=True`` additionally probes a broadcast Bloom bitmap
    of the benchmark grams BEFORE the join (functions/bloom.py), so the
    corpus-side shuffle carries only probable hits instead of every gram —
    the runtime-filter trade: at 100 TB almost all corpus grams miss, and a
    miss now costs a map-side bit test instead of shuffle bytes. Output is
    bit-identical either way (the exact join still decides membership)."""
    grams = (
        X.add_shingles(
            documents.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
            "__t",
            n,
        )
        .select("doc_id", F.explode("shingles").alias("g"))
        .select("doc_id", X.h60(F.col("g")).alias("gk"))
    )
    bench = grams.filter(F.col("doc_id") % bench_mod == 0).select("gk").distinct()
    corpus = grams.filter(F.col("doc_id") % bench_mod != 0)
    if bloom_prefilter:
        from ..functions import bloom as B

        corpus = B.bloom_gate(corpus, bench, "gk", "gk")
    return (
        corpus.join(bench, "gk")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("gk")).alias("n_shared_grams"))
        .orderBy(F.desc("n_shared_grams"), "doc_id")
        .limit(k)
    )


PACK_SALT = ":pack"


def pack_sequences(
    documents: DataFrame,
    max_tokens: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-sequence packing, concat-and-chunk semantics: within each
    shard, documents are concatenated in deterministic (doc_id) order and
    the token stream is cut every ``max_tokens`` — each doc gets the
    sequence id and offset where its tokens start (docs may straddle a
    boundary, exactly like pretraining packing).

    Shards are salted-hash buckets, so packing is embarrassingly parallel:
    one window per shard (the partition key of the single shuffle), never a
    global single-partition window — the difference between a packing job
    that finishes at 100 TB and one that funnels the corpus through one
    task. All arithmetic is integer (cumsum/div/mod): exact on any engine.
    """
    tok = X.token_count(text_col)
    shard = (
        X.h60(F.concat(F.col(id_col).cast("string"), F.lit(PACK_SALT))) % n_shards
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        shard.cast("bigint").alias("shard"),
        tok.alias("n_tokens"),
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint")
    return base.select(
        "doc_id", "shard", "n_tokens", start.alias("tok_start")
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        # integer `div`/`%`, never float division (a correctly-rounded
        # double quotient can truncate across an integer boundary)
        F.expr(f"tok_start div {max_tokens}").cast("bigint").alias("seq_id"),
        (F.col("tok_start") % max_tokens).cast("bigint").alias("seq_offset"),
    )


def corpus_report(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """The dataset-card rollup: per (lang, source) doc counts, token mass,
    and integer-permille mean quality — the one-page summary a corpus
    release ships with. Single shuffle on the (tiny) group key; all
    measures integer."""
    m = X.quality_metrics(text_col)
    per_doc = documents.select(
        "lang",
        "source",
        m["n_tokens"].alias("n_tokens"),
        m["alpha_ratio_x1000"].alias("alpha_x1000"),
        m["stopword_ratio_x1000"].alias("stop_x1000"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.expr("sum(alpha_x1000) div count(*)").cast("bigint").alias("mean_alpha_x1000"),
            F.expr("sum(stop_x1000) div count(*)").cast("bigint").alias("mean_stop_x1000"),
        )
        .orderBy("lang", "source")
    )


def clean_corpus(
    documents: DataFrame,
    rates: dict[str, int] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full corpus-cleaning pipeline as ONE declarative plan:
    quality gate → exact-dedup (keep the min-id canonical per normalized
    content) → deterministic stratified sample.

    Composition is the point: three operators fuse into gate-filter →
    hash → ONE agg shuffle (``min_by`` keeps the canonical row whole) →
    map-side sample filter, with Catalyst free to push the gate into the
    scan — a user never pays a materialization boundary between stages.
    The canonical-per-key row is selected with ``min_by(struct, id)``
    instead of a min-agg + semi-join back: one scan of the corpus instead
    of two (the gate's regex metrics evaluate once, not once per join
    side) and no join shuffle — at 100 TB that halves the gated-scan cost
    and removes a corpus-sized exchange.
    """
    gated = quality_filter(documents, text_col=text_col)
    slim = gated.select(
        F.col(id_col).alias("doc_id"),
        "lang",
        F.col(text_col).alias(text_col),
        X.h60(X.normalize(text_col)).alias("__ck"),
    )
    # the cleaned corpus IS the deliverable here — carry the text through so
    # consumers don't re-join against documents to recover it
    canon = (
        slim.groupBy("__ck")
        .agg(F.min_by(F.struct("doc_id", "lang", text_col), F.col("doc_id")).alias("__r"))
        .select("__r.*")
    )
    return stratified_hash_sample(canon, rates=rates, id_col="doc_id", keep_cols=(text_col,))


def pii_scrub(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII redaction: emails, IPv4 addresses, +phone numbers (rules in
    functions.text.PII_RULES — the regex subset where Java and RE2 agree,
    so the DuckDB twin runs the identical pattern strings).

    Output is the per-document redaction report: one match count per rule
    (counted on the original text; rules are disjoint by construction) plus
    the cross-engine h60 of the fully scrubbed text, so the oracle
    value-checks the replacement output itself, not just the counts.

    Map-only, zero shuffle; regexes are JVM-codegen'd (no Python in the
    path), so at 100 TB this runs at parquet scan throughput.
    """
    cols = [F.col(id_col).alias("doc_id")]
    scrubbed = F.col(text_col)
    for name, pattern, replacement in X.PII_RULES:
        cols.append(
            F.regexp_count(F.col(text_col), F.lit(pattern))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pattern, replacement)
    cols.append(X.h60(scrubbed).alias("clean_key"))
    return documents.select(*cols)


# mixture / split constants — shared with the SQL twin (oracle_twins)
MIXTURE_WEIGHTS_X1000: dict[str, int] = {f"src{i}": 1000 - 40 * i for i in range(20)}
MIXTURE_DEFAULT_X1000 = 1000
SPLIT_TRAIN_X1000 = 900  # [0, 900) → train
SPLIT_VAL_X1000 = 950  # [900, 950) → val; [950, 1000) → test
_SPLIT_SALT = ":split"
_MIX_SALT = ":mix"


def mixture_split(
    documents: DataFrame,
    weights_x1000: dict[str, int] | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic train/val/test assignment + per-source mixture
    downsampling, both decided by salted content-free hashes of the id.

    Two independent salts: the split hash and the mixture hash must be
    uncorrelated or the mixture filter would bias the split proportions.
    No RNG anywhere — the same document lands in the same split with the
    same keep decision across runs, engines, partitionings, and retries
    (``randomSplit`` is seed+partition dependent and re-deals on retry).

    Map-only, zero shuffle: at 100 TB both decisions are pushed-down
    projections over the id/source columns; the text column is never read
    unless the caller carries it.
    """
    weights = MIXTURE_WEIGHTS_X1000 if weights_x1000 is None else weights_x1000
    h_split = X.h60(F.concat(F.col(id_col).cast("string"), F.lit(_SPLIT_SALT))) % 1000
    h_mix = X.h60(F.concat(F.col(id_col).cast("string"), F.lit(_MIX_SALT))) % 1000
    keep = F.lit(MIXTURE_DEFAULT_X1000)
    for src, w in sorted(weights.items()):
        keep = F.when(F.col(source_col) == src, F.lit(w)).otherwise(keep)
    split = (
        F.when(h_split < SPLIT_TRAIN_X1000, F.lit("train"))
        .when(h_split < SPLIT_VAL_X1000, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        split.alias("split"),
        (h_mix < keep).cast("bigint").alias("mix_kept"),
    )


# --- character-n-gram LM quality scoring -----------------------------------
# The KenLM-style signal every pretraining pipeline runs: score each
# document by its mean gram log-probability under a gram frequency model
# ``(gram, logp_x1000)`` of (a trusted slice of) the corpus; gibberish /
# binary junk / repeated boilerplate score far below natural prose.
# Integer-permille log-probs so scores are exact and comparable across runs.

LM_GRAM_N = 3
LM_UNSEEN_PENALTY_X1000 = -18_000  # ~e^-18 — below any in-vocab gram


def _char_grams(text_col, n: int = LM_GRAM_N):
    """array<string> of character n-grams over the normalized text —
    a pure JVM expression (sequence + transform + substring), map-side."""
    norm = X.normalize(text_col)
    return F.when(
        F.length(norm) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (n - 1)),
            lambda i: norm.substr(i, F.lit(n)),
        )
    )


def lm_quality_score(
    documents: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = LM_GRAM_N,
    unseen_x1000: int = LM_UNSEEN_PENALTY_X1000,
) -> DataFrame:
    """Mean gram log-probability per document — ``(doc_id, n_grams,
    lm_score_x1000)``; out-of-vocabulary grams cost ``unseen_x1000``.
    Gram-less documents (shorter than the gram size) score the full
    penalty rather than vanishing.

    Scale shape: explode is map-side, the model join is a broadcast
    (vocab_k rows), and the only shuffle is the re-agg on ``doc_id`` —
    O(corpus grams) work, no corpus self-join anywhere.
    """
    grams = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(_char_grams(F.col(text_col), gram_n)).alias("gram"),
    )
    scored = grams.join(F.broadcast(model), "gram", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.col("gram")).alias("n_grams"),
            F.coalesce(
                F.floor(F.avg(F.coalesce(F.col("logp_x1000"), F.lit(unseen_x1000)))),
                F.lit(unseen_x1000),
            )
            .cast("bigint")
            .alias("lm_score_x1000"),
        )
        .orderBy("doc_id")
    )


def chunk_documents(
    documents: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks — the
    retrieval/embedding primitive (RAG indexing, context-window prep):
    ``(doc_id, chunk_id, pos, chunk, n_chars)`` with ``pos`` the 1-based
    start offset and ``chunk_id`` dense from 0 per document. Consecutive
    chunks share ``overlap`` characters so no boundary-straddling span is
    lost. Empty documents produce no chunks.

    Map-side only (sequence + posexplode + substr — JVM expressions, zero
    shuffle): at 100 TB this is parquet-scan-bound like the other
    per-document operators, and the output feeds the embedding / packing
    stages without any repartitioning.
    """
    if not 0 <= overlap < chunk_chars:
        raise ValueError("need 0 <= overlap < chunk_chars")
    stride = chunk_chars - overlap
    starts = F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)), F.lit(1)), F.lit(stride))
    return (
        documents.filter(F.length(F.col(text_col)) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(starts).alias("chunk_id", "pos"),
            F.col(text_col).alias("__t"),
        )
        # drop a trailing start that only covers already-emitted overlap:
        # the previous chunk ends at min(pos+overlap-1, len), so this start
        # adds new content iff pos+overlap <= len
        .filter(
            (F.col("chunk_id") == 0)
            | (F.col("pos") + F.lit(overlap) <= F.length("__t"))
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("pos").cast("bigint").alias("pos"),
            F.expr(f"substring(__t, pos, {chunk_chars})").alias("chunk"),
        )
        .withColumn("n_chars", F.length("chunk").cast("bigint"))
    )


# --- URL / domain analysis --------------------------------------------------
# Web-corpus curation staple: extract URLs with their hostnames. Pattern
# kept in the Java∩RE2 regex subset (same discipline as PII_RULES) so a SQL
# twin can run it verbatim.

URL_PATTERN = r"(?i:https?)://(?:[A-Za-z0-9._%+-]+@)?[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\s]*)?"
_DOMAIN_FROM_URL = r"(?i:https?)://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]+)"


def extract_urls(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per URL occurrence: ``(doc_id, url, domain)`` — map-side
    (regexp_extract_all + explode), lowercased domain, port stripped,
    userinfo (``user@host``) skipped, scheme matched case-insensitively."""
    # Column API with a lit pattern — embedding the regex in an F.expr SQL
    # string would re-interpret backslashes ('\s' → 's') and corrupt it
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
    return (
        documents.select(F.col(id_col).alias("doc_id"), F.explode(urls).alias("url"))
        .withColumn(
            "domain",
            F.lower(F.regexp_extract(F.col("url"), _DOMAIN_FROM_URL, 1)),
        )
    )


# --- temperature-based mixture rebalancing ---------------------------------

_TEMP_SALT = ":temp"
TEMP_ALPHA_DEFAULT = 0.5


def temperature_sample(
    documents: DataFrame,
    alpha: float = TEMP_ALPHA_DEFAULT,
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Temperature-based rebalancing of a grouped corpus (multilingual
    training mixtures: sample language l with probability proportional to
    n_l^alpha instead of n_l, so high-resource groups stop drowning out the
    tail — the alpha=0.3-0.7 scheme of mBERT/XLM-R/mT5).

    Per-group keep rate (permille, relative to the smallest group which
    keeps everything):

        rate_l = floor(1000 * (min_n / n_l) ** (1 - alpha))

    The keep decision is a salted content-free hash threshold on the id —
    deterministic across runs/engines/retries, never an RNG (same
    discipline as mixture_split). Returns one row per group::

        lang, n_docs, rate_permille, n_kept

    Scale story: group counts are a map-side-combined agg into a handful of
    rows; rates derive from a window over that tiny relation; the rate joins
    back by group key (broadcast — |groups| rows); the keep filter and the
    final rollup are one more map-side-combined agg. The document text is
    never read.
    """
    counts = documents.groupBy(F.col(group_col).alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy()  # |groups| rows — single tiny partition is the point
    rates = counts.withColumn(
        "rate_permille",
        F.floor(
            1000
            * F.pow(
                F.min("n_docs").over(w).cast("double") / F.col("n_docs"),
                F.lit(1.0 - alpha),
            )
        ).cast("bigint"),
    )
    h = X.h60(F.concat(F.col(id_col).cast("string"), F.lit(_TEMP_SALT))) % 1000
    kept = (
        documents.select(F.col(group_col).alias("lang"), h.alias("h"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("rate_permille").alias("rate_permille"),
            F.sum((F.col("h") < F.col("rate_permille")).cast("bigint"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )
    return kept.orderBy("lang")
