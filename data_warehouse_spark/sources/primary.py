"""Primary-storage readers: the reference's filesystem-as-database, parsed
with native Spark column expressions (no Python UDFs in any parse path).

Layout (reference: PrimaryPersistence.scala:54-96, bbtest fixtures):

    <root>/t_<tenant>/                                      tenant = dir name
    <root>/t_<T>/account/<name>/snapshot/<version %010d>    line 1 of v0 = meta
    <root>/t_<T>/account/<name>/events/<snapVer>/<status>_<hint>_<transaction>
                                                            line 1 = event ver
    <root>/t_<T>/transaction/<txn>                          line 1 = status
                                                            lines 2+ = transfers

Parsing rules pinned by the reference's code/golden tests:
  * account meta line: currency = chars [0,3); format = chars [4, len-2)
    (drops the trailing 2 chars — PrimaryPersistence.scala:186-193; fixture
    ``CZK FORMAT_T`` → (CZK, FORMAT))
  * event filename: split('_', limit 3) → status, ignored hint, transaction
    (transaction may itself contain underscores — PrimaryPersistence.scala:144-154)
  * transaction file: line 1 ``committed``→1 | ``rollbacked``→2 | other→0
    (queued); each further line: 8 space-separated fields
    ``transfer creditTenant creditAccount debitTenant debitAccount
    valueDate(ISO zoned) amount currency`` (PrimaryPersistence.scala:229-259)

Scale notes: every reader is one distributed ``spark.read.text`` over a glob
(Spark's FileIndex does the listing; ``wholetext`` keeps file↔row alignment
since filenames and first lines are data). Only tenant discovery lists a
single directory level driver-side — O(#tenants), the same work Spark's own
file index would do. The parse itself is all codegen'd expressions.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reference parses BigDecimal.exact; (28,10) per the reconstructed DDL
AMOUNT = T.DecimalType(28, 10)

# the reference frames every primary-storage read with
# Framing.delimiter(lineSeparator, maximumFrameLength = 256,
# allowTruncation = true) (PrimaryPersistence.scala:136-142): a line longer
# than 256 BYTES fails the stream (FramingException → the read's Future
# fails → supervisor restart); allowTruncation only permits a FINAL line
# without a trailing delimiter. Spark twin: raise_error inside the parse
# expression — the executor task fails the job at exactly the same point.
MAX_LINE_BYTES = 256


def _framed_file(raw: DataFrame, what: str) -> DataFrame:
    """Apply the frame bound to EVERY line of each file, parsed or not —
    Akka's Framing.delimiter fails the stream on any oversized line, so an
    oversized line the parser never looks at (e.g. meta line 2) must still
    fail the read. One array_max over the split lines per file; the
    downstream parse then re-splits the already-validated value."""
    lines = F.split(F.col("value"), "\n")
    max_len = F.array_max(F.transform(lines, F.octet_length))
    return raw.select(
        "path",
        F.when(
            max_len > MAX_LINE_BYTES,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"FramingException: {what} line exceeds {MAX_LINE_BYTES} bytes in "
                    ),
                    F.col("path"),
                )
            ).cast("string"),
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )


def _empty(spark: SparkSession, schema: T.StructType) -> DataFrame:
    return spark.createDataFrame([], schema)


def tenant_names(root: str) -> list[str]:
    """Tenant names from one scandir of the root level (S1+S2) — driver-side
    so an idle ingest tick can check for new tenants without a Spark job."""
    names: list[str] = []
    try:
        with os.scandir(root) as it:
            for e in it:
                if e.is_dir() and e.name.startswith("t_") and len(e.name) > 2:
                    names.append(e.name[2:])
    except FileNotFoundError:
        pass  # reference: empty stream on missing dir (PrimaryPersistence.scala:27-52)
    return names


def _with_path(df: DataFrame) -> DataFrame:
    return df.withColumn("path", F.input_file_name())


def _read_wholetext(spark: SparkSession, pattern: str) -> DataFrame | None:
    """Distributed wholetext read of a glob; None when nothing matches.

    The driver-side glob existence check mirrors what Spark's FileIndex
    lists anyway and avoids an analysis-time exception (and its JVM log
    spam) on every empty tick.
    """
    if not _glob.glob(pattern):
        return None
    return _with_path(spark.read.text(pattern, wholetext=True))


def read_paths(spark: SparkSession, paths: list[str]) -> DataFrame | None:
    """Distributed wholetext read of an EXPLICIT path list — the pruned-read
    entry point: the ingestion tick lists directories first, applies the
    watermark/count logic to names, and reads content only for the O(new)
    files that survive (the reference reads exactly the selected files —
    PrimaryDataExplorationService.scala:107-178)."""
    if not paths:
        return None
    return _with_path(spark.read.text(list(paths), wholetext=True))


ACCOUNT_META_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("currency", T.StringType(), False),
        T.StructField("format", T.StringType(), False),
    ]
)


def read_account_meta(spark: SparkSession, root: str) -> DataFrame:
    """Account metadata from snapshot version 0, first line (S4)."""
    pattern = os.path.join(root, "t_*", "account", "*", "snapshot", "0000000000")
    return parse_account_meta(spark, _read_wholetext(spark, pattern))


def read_account_meta_paths(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S4 over an explicit snapshot-0 path list (new accounts only)."""
    return parse_account_meta(spark, read_paths(spark, paths))


def read_account_meta_rows(paths: list[str]) -> list[tuple[str, str, str, str]]:
    """Driver-side twin of :func:`read_account_meta_paths` for BOUNDED
    new-account batches: (tenant, name, currency, format) rows.

    A tick's meta batch is one 1-line file per NEW account; spinning a
    Spark text job over a few thousand tiny files cost ~10 s under
    concurrent serving load (GIL-stretched driver coordination) vs ~50 ms
    of direct reads. Semantics identical to the Spark form, pinned by
    test_ingest: same framing bound on EVERY line (FramingException),
    same substring parse, same path-derived tenant/account."""
    import re

    out = []
    for p in paths:
        with open(p, "rb") as fh:
            text = fh.read().decode("utf-8", errors="replace")
        lines = text.split("\n")
        if any(len(line.encode("utf-8")) > MAX_LINE_BYTES for line in lines):
            raise ValueError(
                f"FramingException: account meta line exceeds "
                f"{MAX_LINE_BYTES} bytes in {p}"
            )
        line1 = lines[0]
        tenant = re.search(r"/t_([^/]+)/account/", p)
        name = re.search(r"/account/([^/]+)/snapshot/", p)
        out.append(
            (
                tenant.group(1) if tenant else "",
                name.group(1) if name else "",
                line1[:3],
                line1[4 : 4 + max(len(line1) - 6, 0)],
            )
        )
    return out


def parse_account_meta(spark: SparkSession, raw: DataFrame | None) -> DataFrame:
    if raw is None:
        return _empty(spark, ACCOUNT_META_SCHEMA)
    raw = _framed_file(raw, "account meta")
    line1 = F.split(F.col("value"), "\n").getItem(0)
    return raw.select(
        F.regexp_extract("path", r"/t_([^/]+)/account/", 1).alias("tenant"),
        F.regexp_extract("path", r"/account/([^/]+)/snapshot/", 1).alias("name"),
        F.substring(line1, 1, 3).alias("currency"),
        # chars [4, len-2): substring(pos=5), length = len - 4 - 2
        line1.substr(F.lit(5), F.greatest(F.length(line1) - 6, F.lit(0))).alias(
            "format"
        ),
    )


ACCOUNT_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("account", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("transaction", T.StringType(), False),
        T.StructField("snapshot_version", T.IntegerType(), False),
        T.StructField("version", T.IntegerType(), False),
    ]
)


def read_account_event_paths(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S5 over an explicit event-file path list (watermark/count-selected)."""
    return parse_account_events(spark, read_paths(spark, paths))


def _int_cast(s: str, where: str) -> int:
    """ANSI ``cast('int')`` twin: trimmed integral string, or raise —
    Spark 4 sessions run ANSI mode, where a malformed cast FAILS the job
    (CAST_INVALID_INPUT), and the twins must fail the tick identically."""
    try:
        return int(s.strip())
    except (ValueError, AttributeError):
        raise ValueError(
            f"CAST_INVALID_INPUT: {s!r} is not an INT in {where}"
        ) from None


def read_account_event_rows(paths: list[str]) -> list[tuple]:
    """Driver/executor twin of :func:`read_account_event_paths`:
    (tenant, account, status, transaction, snapshot_version, version)
    rows, exactly the ACCOUNT_EVENT_SCHEMA shape (None where the Spark
    casts yield NULL). Same framing bound, same split('_', 3) semantics
    (hint may be empty; transaction keeps embedded underscores). Exists
    for the same reason as :func:`read_account_meta_rows`: a tick's
    event batch is thousands of 1-line files, and both a Spark text job
    and a GIL-starved driver loop measured seconds under serving load —
    an RDD map over path chunks reads them executor-side."""
    import re

    out = []
    for p in paths:
        with open(p, "rb") as fh:
            text = fh.read().decode("utf-8", errors="replace")
        lines = text.split("\n")
        if any(len(line.encode("utf-8")) > MAX_LINE_BYTES for line in lines):
            raise ValueError(
                f"FramingException: event line exceeds {MAX_LINE_BYTES} "
                f"bytes in {p}"
            )
        fname = p.rsplit("/", 1)[-1]
        tenant = re.search(r"/t_([^/]+)/account/", p)
        account = re.search(r"/account/([^/]+)/events/", p)
        snap = re.search(r"/events/(\d+)/", p)
        status = re.match(r"^([^_]+)_", fname)
        txn = re.match(r"^[^_]+_[^_]*_(.+)$", fname)
        out.append(
            (
                tenant.group(1) if tenant else "",
                account.group(1) if account else "",
                _int_cast(status.group(1) if status else "", p),
                txn.group(1) if txn else "",
                _int_cast(snap.group(1) if snap else "", p),
                _int_cast(lines[0], p),
            )
        )
    return out


def parse_account_events(spark: SparkSession, raw: DataFrame | None) -> DataFrame:
    if raw is None:
        return _empty(spark, ACCOUNT_EVENT_SCHEMA)
    raw = _framed_file(raw, "event")
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return raw.select(
        F.regexp_extract("path", r"/t_([^/]+)/account/", 1).alias("tenant"),
        F.regexp_extract("path", r"/account/([^/]+)/events/", 1).alias("account"),
        # split('_', limit 3): transaction keeps any embedded underscores;
        # the middle (hint) segment may be EMPTY — "1__txn" must still
        # yield transaction='txn' exactly like the reference's split
        F.regexp_extract(fname, r"^([^_]+)_", 1).cast("int").alias("status"),
        F.regexp_extract(fname, r"^[^_]+_[^_]*_(.+)$", 1).alias("transaction"),
        F.regexp_extract("path", r"/events/(\d+)/", 1)
        .cast("int")
        .alias("snapshot_version"),
        F.split(F.col("value"), "\n").getItem(0).cast("int").alias("version"),
    )


TRANSFER_ROW_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("transaction", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("transfer", T.StringType(), False),
        T.StructField("credit_tenant", T.StringType(), False),
        T.StructField("credit_name", T.StringType(), False),
        T.StructField("debit_tenant", T.StringType(), False),
        T.StructField("debit_name", T.StringType(), False),
        T.StructField("value_date", T.TimestampType(), False),
        T.StructField("amount", AMOUNT, False),
        T.StructField("currency", T.StringType(), False),
    ]
)


def read_transactions(spark: SparkSession, root: str) -> DataFrame:
    """Transaction files → transfer rows (S6, the stateful header parse).

    The reference carries the line-1 status through an Akka
    ``statefulMapConcat``; in Spark the whole file is one row (``wholetext``)
    so header + body stay aligned without state: line 1 is the status word,
    every further non-empty line explodes into one transfer row.
    """
    pattern = os.path.join(root, "t_*", "transaction", "*")
    return parse_transactions(spark, _read_wholetext(spark, pattern))


def read_transaction_paths(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S6 over an explicit transaction path list (only transactions named by
    this tick's picked active events)."""
    return parse_transactions(spark, read_paths(spark, paths))


class TwinUnsupported(Exception):
    """The driver-side transaction twin met an input shape it cannot
    mirror bit-for-bit (an exotic timestamp form Spark's to_timestamp
    accepts) — the caller must use the Spark parse for this batch."""


_AMOUNT_RE = None
_TS_RE = None


def _parse_ts_twin(s: str):
    """``F.to_timestamp`` twin for the ISO-8601 shapes the primary format
    uses (UTC session): 'YYYY-MM-DD[T ]HH:MM:SS[.f][Z|±HH[:MM]]' → naive
    UTC datetime, None for unparseable (to_timestamp's NULL), and
    :class:`TwinUnsupported` for anything fromisoformat can't take but
    Spark might (keeps the twin honest — fall back, never guess)."""
    import datetime as _dt
    import re

    global _TS_RE
    if _TS_RE is None:
        _TS_RE = re.compile(
            r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
            r"(\.\d{1,6})?(Z|[+-]\d{2}(:?\d{2})?)?$"
        )
    s = s.strip()
    if not _TS_RE.match(s):
        raise TwinUnsupported(s)
    try:
        dt = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return dt


def read_transaction_rows(paths: list[str]) -> list[tuple]:
    """Driver/executor twin of :func:`read_transaction_paths` (S6:
    header + transfer lines) — TRANSFER_ROW_SCHEMA-shaped tuples.

    Same file-wide strictness as the Spark form: the frame bound on every
    line, the ≥8-token + numeric-amount + parseable-timestamp line gate
    (a malformed line FAILS the read — a silently NULL amount would
    vanish from SUM balances), HALF_UP decimal(28,10) quantization, and
    header → status mapping. Raises :class:`TwinUnsupported` on timestamp
    shapes it cannot mirror exactly; the caller then uses the Spark path
    for the batch. Exists because a tick's transaction batch is hundreds
    of tiny files — the tiny-file tier of the meta/event readers."""
    import decimal
    import re

    global _AMOUNT_RE
    if _AMOUNT_RE is None:
        _AMOUNT_RE = re.compile(r"^[+-]?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$")
    q10 = decimal.Decimal(1).scaleb(-10)
    out: list[tuple] = []
    for p in paths:
        with open(p, "rb") as fh:
            text = fh.read().decode("utf-8", errors="replace")
        lines = text.split("\n")
        if any(len(line.encode("utf-8")) > MAX_LINE_BYTES for line in lines):
            raise ValueError(
                f"FramingException: transaction line exceeds "
                f"{MAX_LINE_BYTES} bytes in {p}"
            )
        header = lines[0].strip()
        status = 1 if header == "committed" else 2 if header == "rollbacked" else 0
        tenant_m = re.search(r"/t_([^/]+)/transaction/", p)
        txn_m = re.search(r"/transaction/([^/]+)$", p)
        tenant = tenant_m.group(1) if tenant_m else ""
        txn = txn_m.group(1) if txn_m else ""
        for line in lines[1:]:
            t = line.strip()
            if not t:
                continue
            parts = t.split(" ")
            ok = (
                len(parts) >= 8
                and _AMOUNT_RE.match(parts[6])
                and _parse_ts_twin(parts[5]) is not None
            )
            if not ok:
                raise ValueError(f"malformed transfer line in {p}: {t}")
            amount = decimal.Decimal(parts[6]).quantize(
                q10, rounding=decimal.ROUND_HALF_UP
            )
            if amount.adjusted() >= 18:
                raise ValueError(
                    f"NUMERIC_VALUE_OUT_OF_RANGE: {parts[6]} overflows "
                    f"DECIMAL(28,10) in {p}"
                )
            out.append(
                (
                    tenant,
                    txn,
                    status,
                    parts[0],
                    parts[1],
                    parts[2],
                    parts[3],
                    parts[4],
                    _parse_ts_twin(parts[5]),
                    amount,
                    parts[7],
                )
            )
    return out


def parse_transactions(spark: SparkSession, raw: DataFrame | None) -> DataFrame:
    if raw is None:
        return _empty(spark, TRANSFER_ROW_SCHEMA)

    raw = _framed_file(raw, "transaction")

    # STRICT line shape, enforced FILE-WIDE like the frame bound: the
    # reference's per-field exact parse (BigDecimal.exact, LocalDateTime —
    # PrimaryPersistence.scala:229-259) fails the read on a malformed line;
    # silently NULL-casting an amount would instead make the row VANISH
    # from SUM-based balances. The check wraps the ``value`` column itself,
    # so ANY downstream consumer (including the relevance filter, which
    # would otherwise prune the bad row before a per-row guard evaluated)
    # forces it. A line is acceptable iff empty or ≥8 tokens with a
    # numeric amount and a parseable timestamp; the predicate never goes
    # NULL (a false conjunct short-circuits the null rlike).
    def _line_ok(l):
        pp = F.split(F.trim(l), " ")
        return (F.length(F.trim(l)) == 0) | (
            (F.size(pp) >= 8)
            & F.get(pp, 6).rlike(r"^[+-]?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$")
            & F.to_timestamp(F.get(pp, 5)).isNotNull()
        )

    all_lines = F.split(F.col("value"), "\n")
    body_slice = F.slice(all_lines, 2, F.greatest(F.size(all_lines) - 1, F.lit(0)))
    first_bad = F.get(F.filter(body_slice, lambda l: ~_line_ok(l)), 0)
    raw = raw.select(
        "path",
        F.when(
            first_bad.isNotNull(),
            F.raise_error(
                F.concat(
                    F.lit("malformed transfer line in "),
                    F.col("path"),
                    F.lit(": "),
                    F.trim(first_bad),
                )
            ).cast("string"),
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )

    lines = F.split(F.col("value"), "\n")
    header = lines.getItem(0)
    status = (
        F.when(F.trim(header) == "committed", F.lit(1))
        .when(F.trim(header) == "rollbacked", F.lit(2))
        .otherwise(F.lit(0))  # reference warns + treats as queued/promised
        .cast("int")
    )
    body = raw.select(
        F.regexp_extract("path", r"/t_([^/]+)/transaction/", 1).alias("tenant"),
        F.regexp_extract("path", r"/transaction/([^/]+)$", 1).alias("transaction"),
        status.alias("status"),
        F.col("path"),  # kept for the frame-bound error message
        F.posexplode(lines).alias("line_no", "line"),
    ).filter((F.col("line_no") >= 1) & (F.length(F.trim(F.col("line"))) > 0))

    p = F.split(F.trim(F.col("line")), " ")
    return body.select(
        "tenant",
        "transaction",
        "status",
        p.getItem(0).alias("transfer"),
        # F.get (NULL out of bounds) stays defensive even though the
        # file-level gate guarantees ≥8 tokens for every surviving line
        F.get(p, 1).alias("credit_tenant"),
        F.get(p, 2).alias("credit_name"),
        F.get(p, 3).alias("debit_tenant"),
        F.get(p, 4).alias("debit_name"),
        # parts(5)=valueDate, parts(6)=amount, parts(7)=currency
        F.to_timestamp(F.get(p, 5)).alias("value_date"),
        F.get(p, 6).cast(AMOUNT).alias("amount"),
        F.get(p, 7).alias("currency"),
    )
