"""Table catalog: testdata loading + derived warehouse views.

The driver's correctness oracle (DuckDB) sees the TPC-H-ish parquet tables as
views. To exercise the *real* warehouse operators (tenants / accounts /
transfers / balance — the reference's whole read surface) under that oracle,
we derive the warehouse tables deterministically from the TPC-H tables, with
byte-identical semantics expressed twice:

  * :func:`warehouse_views` — Spark DataFrames (what the engine runs on)
  * :data:`WAREHOUSE_CTE_SQL` — ANSI-SQL CTE prefix (what DuckDB runs)

Mapping (pure equi-joins on dims — broadcastable at any scale):
  tenant   := nation names
  account  := customer, homed in its nation; currency keyed off nationkey;
              format := market segment
  transfer := lineitem, one transfer per line; transaction = orderkey;
              credit side = ordering customer, debit side = supplier;
              status from o_orderstatus (O→0 queued, F→1 committed,
              P→2 rollbacked); amount = extendedprice as DECIMAL(18,2)
  account_balance_change := committed transfers exploded into
              (+amount @ credit, −amount @ debit) signed rows
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import MONEY, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table.

    Parquet TIMESTAMP(NANOS) columns (events.ts) arrive as long via
    ``spark.sql.legacy.parquet.nanosAsLong``; convert to µs timestamps —
    floor division matches DuckDB's ns→µs truncation.
    """
    mat = _BASE_MATERIALIZED.get((_app_id(spark), sf_dir))
    if mat is not None and name in mat:
        return mat[name]
    # runtime-set so the engine also works on sessions it didn't build (the
    # driver hands entry()/queries() its own SparkSession): UTC is the
    # engine's declared timestamp semantic (the reference UTC-normalizes on
    # write — SecondaryPersistence.scala:105-108)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # plain timestamp[us] (no isAdjustedToUTC) must surface as TIMESTAMP_LTZ,
    # not TIMESTAMP_NTZ: time arithmetic (unix_micros, windows) is typed for
    # TIMESTAMP, and DuckDB reads the same column as naive-UTC, so LTZ in a
    # UTC session gives bit-identical epoch math across engines.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer DIV, not `/`: ns epochs (~1.7e18) overflow double precision
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            # reached only if the session pinned NTZ inference before we got
            # here (conf is read-once per scan in some versions) — the cast
            # is the µs identity under the UTC session timezone
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


class LazyTables(dict):
    """Table dict that defers parquet footer reads until first access —
    a query touching 2 tables must not pay schema resolution for 10."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self:
            self[name] = load_table(self._spark, self._sf_dir, name)
        return super().__getitem__(name)


def load_all(spark: SparkSession, sf_dir: str) -> LazyTables:
    return LazyTables(spark, sf_dir)


# ---------------------------------------------------------------------------
# Derived warehouse tables — Spark side
# ---------------------------------------------------------------------------

_CURRENCY = ["CZK", "EUR", "USD"]


def _currency_expr(nationkey_col: str):
    # nationkey % 3 → {CZK, EUR, USD}; same CASE in the SQL twin below
    c = F.col(nationkey_col) % 3
    return (
        F.when(c == 0, F.lit("CZK")).when(c == 1, F.lit("EUR")).otherwise(F.lit("USD"))
    )


def tenant_view(t: dict[str, DataFrame]) -> DataFrame:
    return t["nation"].select(F.col("n_name").alias("name"))


def account_view(t: dict[str, DataFrame]) -> DataFrame:
    # dim join: nation is tiny — Catalyst broadcasts it (AQE would anyway)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("tenant"),
            F.col("c_name").alias("name"),
            _currency_expr("c_nationkey").alias("currency"),
            F.col("c_mktsegment").alias("format"),
        )
    )


def transfer_view(t: dict[str, DataFrame]) -> DataFrame:
    """One transfer per lineitem; fact-to-fact join on orderkey.

    Broadcast hints go ONLY on the fixed-cardinality dim (nation, 25 rows
    forever). customer and supplier GROW with scale factor — forcing them
    into broadcasts would OOM the driver/executors at high SF — so their
    join strategy is left to the optimizer: at bench SF AQE still picks a
    broadcast from observed sizes; at 100 TB it degrades gracefully to a
    shuffle join instead of falling over.
    """
    li = t["lineitem"]
    o = t["orders"]
    c = t["customer"]
    s = t["supplier"]
    n = t["nation"]
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cn_name")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    status = (
        F.when(F.col("o_orderstatus") == "O", F.lit(0))
        .when(F.col("o_orderstatus") == "F", F.lit(1))
        .otherwise(F.lit(2))
        .cast("int")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.col("cn_name").alias("tenant"),
            F.col("l_orderkey").cast("string").alias("transaction"),
            F.col("l_linenumber").cast("string").alias("transfer"),
            status.alias("status"),
            F.col("cn_name").alias("credit_tenant"),
            F.col("c_name").alias("credit_name"),
            F.col("sn_name").alias("debit_tenant"),
            F.col("s_name").alias("debit_name"),
            F.col("l_extendedprice").cast(MONEY).alias("amount"),
            _currency_expr("c_nationkey").alias("currency"),
            F.col("l_shipdate").alias("value_date"),
        )
    )


def account_balance_change_view(transfers: DataFrame, amount_type=MONEY) -> DataFrame:
    """Committed transfers → signed per-account change rows.

    The reference never writes this table itself (a Postgres-side trigger
    does); semantics pinned by its golden tests: one committed transfer of 1
    ⇒ credit +1, debit −1 (reference bbtest graphql_api.feature:81-131).
    ``amount_type``: DECIMAL(18,2) for the analytics views, DECIMAL(28,10)
    for ingested primary-storage amounts.
    """
    committed = transfers.filter(F.col("status") == 1)
    credit = committed.select(
        F.col("credit_tenant").alias("tenant"),
        F.col("credit_name").alias("name"),
        F.col("value_date"),
        F.col("amount").cast(amount_type).alias("amount"),
    )
    debit = committed.select(
        F.col("debit_tenant").alias("tenant"),
        F.col("debit_name").alias("name"),
        F.col("value_date"),
        (-F.col("amount")).cast(amount_type).alias("amount"),
    )
    return credit.unionByName(debit)


class LazyViews(dict):
    """Warehouse views built on first access — a tenants page must not plan
    the five-way transfer join."""

    _BUILDERS = {
        "tenant": lambda t: tenant_view(t),
        "account": lambda t: account_view(t),
        "transfer": lambda t: transfer_view(t),
        "account_balance_change": lambda t: account_balance_change_view(
            transfer_view(t)
        ),
    }

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir
        self._tables = load_all(spark, sf_dir)

    def __getitem__(self, name: str) -> DataFrame:
        mat = _MATERIALIZED.get(_mat_key(self._spark, self._sf_dir))
        if mat is not None and name in mat:
            return mat[name]
        if name not in self:
            self[name] = self._BUILDERS[name](self._tables)
        return super().__getitem__(name)


# (applicationId, sf_dir) → {table: parquet-backed DataFrame}; populated by
# materialize_warehouse (bench fixture setup — see below). Keyed by Spark
# app so DataFrames from a stopped session are never served to a new one.
_MATERIALIZED: dict[tuple[str, str], dict[str, DataFrame]] = {}
_BASE_MATERIALIZED: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _app_id(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def _mat_key(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    return (_app_id(spark), sf_dir)


def materialize_base_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str] | None = None,
    n_files: int | None = None,
) -> None:
    """Rewrite base testdata tables as multi-file parquet scratch copies and
    serve subsequent ``load_table`` calls from them (bench-session fixture
    normalization, same pattern as :func:`materialize_warehouse`).

    The driver-generated testdata is ONE row group per table; a parquet row
    group is Spark's split unit, so locally every scan — and all the
    map-side work above it (gram hashing, regex profiling, codec parsing) —
    serializes through a single task. Cluster parquet written by any real
    pipeline is many row groups across many files and scans in parallel.
    Splitting the same bytes across ``n_files`` files restores the
    parallelism the operators were designed around; it changes NOTHING
    about the data or the query plans above the scan.
    """
    key = (_app_id(spark), sf_dir)
    if key in _BASE_MATERIALIZED:
        return
    import atexit
    import shutil
    import tempfile

    if n_files is None:
        n_files = spark.sparkContext.defaultParallelism
    root, reuse = _scratch_root(sf_dir, "base", extra=f"n_files={n_files}")
    shared = root is not None
    if root is None:
        root = tempfile.mkdtemp(prefix="dwh-bench-base-")
        atexit.register(shutil.rmtree, root, True)
    out: dict[str, DataFrame] = {}
    with _scratch_write_lock(root if shared else None):
        for name in tables if tables is not None else list(TESTDATA_TABLES):
            if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
                # scale-study fixtures carry only the tables under study
                # (a 5M-doc dedup run doesn't need a 600M-row lineitem on
                # disk next to it); an entry that actually reads a missing
                # table still fails loudly at its own load_table
                continue
            if _source_row_groups(sf_dir, name) >= n_files:
                # already splittable to the target parallelism — the rewrite
                # exists solely for under-split testdata; a source with
                # >= n_files row groups (a scaled fixture, any real pipeline's
                # parquet) scans at full parallelism as-is, and skipping the
                # copy saves a full-dataset rewrite + its disk (20 GB at
                # sf100). A 2-4-row-group file would still cap scan
                # parallelism far below the target, so it IS rewritten.
                continue
            path = os.path.join(root, name)
            if not (reuse and os.path.exists(os.path.join(path, "_SUCCESS"))):
                load_table(spark, sf_dir, name).repartition(n_files).write.mode(
                    "overwrite"
                ).parquet(path)
            out[name] = spark.read.parquet(path)
    _BASE_MATERIALIZED[key] = out


def _source_row_groups(sf_dir: str, name: str) -> int:
    """Row-group count of a source table's parquet file; 1 (= normalize,
    the safe default) when the layout cannot be read."""
    import pyarrow.parquet as pq

    try:
        return pq.read_metadata(
            os.path.join(sf_dir, f"{name}.parquet")
        ).num_row_groups
    except Exception:
        return 1


def materialize_warehouse(spark: SparkSession, sf_dir: str) -> None:
    """Write the four derived warehouse tables to parquet ONCE and serve all
    subsequent ``warehouse_views`` lookups from those files.

    In production these tables ARE stored tables (the ingestion pipeline
    writes them); deriving them per-query is a bench-fixture artifact that
    charges a five-way join to whatever operator runs first. Benchmarks call
    this in setup so ``wh_*`` timings measure the operator."""
    import atexit
    import shutil
    import tempfile

    if _mat_key(spark, sf_dir) in _MATERIALIZED:
        return
    root, reuse = _scratch_root(sf_dir, "wh")
    shared = root is not None
    if root is None:
        root = tempfile.mkdtemp(prefix="dwh-bench-wh-")
        atexit.register(shutil.rmtree, root, True)
    views = LazyViews(spark, sf_dir)
    out: dict[str, DataFrame] = {}
    with _scratch_write_lock(root if shared else None):
        for name in ("tenant", "account", "transfer", "account_balance_change"):
            path = os.path.join(root, name)
            if not (reuse and os.path.exists(os.path.join(path, "_SUCCESS"))):
                views[name].write.mode("overwrite").parquet(path)
            out[name] = spark.read.parquet(path)
    _MATERIALIZED[_mat_key(spark, sf_dir)] = out


def _corpus_fingerprint(sf_dir: str, extra: str = "") -> str:
    """Content identity of an sf_dir for scratch-cache keying: absolute
    path + (name, size, mtime) of every source parquet + any layout knob
    (``extra``, e.g. n_files for base copies). Two corpora whose
    directories share a leaf name, or an sf_dir regenerated in place, get
    DIFFERENT fingerprints — a stale or foreign normalized copy can never
    be served (the failure mode of keying on basename alone)."""
    import hashlib

    h = hashlib.sha1()
    h.update(os.path.abspath(sf_dir).encode())
    h.update(b"\0" + extra.encode())
    try:
        names = sorted(os.listdir(sf_dir))
    except OSError:
        names = []
    for n in names:
        if not n.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, n)
        try:
            st = os.stat(p)
        except OSError:
            continue
        h.update(f"\0{n}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def _scratch_root(
    sf_dir: str, kind: str, extra: str = ""
) -> tuple[str | None, bool]:
    """Bench-scratch location policy. ``SPARK_GRAFT_BENCH_SCRATCH`` names a
    directory SHARED across processes (``bench.py --isolate`` spawns one
    JVM per query — each child must reuse the first child's normalized
    copies, not pay a full rewrite); without it the copies live in a
    process-lifetime temp dir. Returns (root or None-for-tempdir, reuse?);
    reuse checks per-table ``_SUCCESS`` markers, so a partially-written
    shared table (killed child) is rewritten, never trusted. The tag folds
    in a corpus fingerprint (path + source sizes/mtimes + layout knobs),
    so different scale factors, same-leaf-name corpora, and in-place
    regenerations all land in distinct roots. Concurrent writers are
    serialized by the flock in :func:`_scratch_write_lock` — callers hold
    it across check-and-write."""
    env_root = os.environ.get("SPARK_GRAFT_BENCH_SCRATCH")
    if not env_root:
        return None, False
    leaf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    tag = f"{leaf}-{_corpus_fingerprint(sf_dir, extra)}"
    root = os.path.join(env_root, f"{kind}-{tag}")
    os.makedirs(root, exist_ok=True)
    return root, True


@contextlib.contextmanager
def _scratch_write_lock(root: str | None):
    """Cross-process guard for a shared scratch root: an exclusive flock
    held across the check-_SUCCESS-then-write loop, so two ``--isolate``
    children racing the first materialization serialize instead of
    overwriting each other's files mid-read. No-op for private temp
    roots (single process by construction)."""
    if root is None:
        yield
        return
    import fcntl

    fh = open(os.path.join(root, ".write_lock"), "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX)
        yield
    finally:
        fh.close()


def warehouse_views(spark: SparkSession, sf_dir: str) -> LazyViews:
    """The four warehouse tables derived from the testdata star schema,
    built lazily per access."""
    return LazyViews(spark, sf_dir)


# ---------------------------------------------------------------------------
# Derived warehouse tables — SQL twin (DuckDB oracle prefix)
# ---------------------------------------------------------------------------

_CURRENCY_SQL = (
    "CASE CAST({k} % 3 AS INT) WHEN 0 THEN 'CZK' WHEN 1 THEN 'EUR' ELSE 'USD' END"
)

WAREHOUSE_CTE_SQL = f"""
WITH tenant_v AS (
  SELECT n_name AS name FROM nation
),
account_v AS (
  SELECT n.n_name AS tenant,
         c.c_name AS name,
         {_CURRENCY_SQL.format(k='c.c_nationkey')} AS currency,
         c.c_mktsegment AS format
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
transfer_v AS (
  SELECT cn.n_name AS tenant,
         CAST(l.l_orderkey AS VARCHAR) AS transaction,
         CAST(l.l_linenumber AS VARCHAR) AS transfer,
         CASE o.o_orderstatus WHEN 'O' THEN 0 WHEN 'F' THEN 1 ELSE 2 END AS status,
         cn.n_name AS credit_tenant,
         c.c_name AS credit_name,
         sn.n_name AS debit_tenant,
         s.s_name AS debit_name,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS amount,
         {_CURRENCY_SQL.format(k='c.c_nationkey')} AS currency,
         l.l_shipdate AS value_date
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
),
account_balance_change_v AS (
  SELECT credit_tenant AS tenant, credit_name AS name, value_date, amount
  FROM transfer_v WHERE status = 1
  UNION ALL
  SELECT debit_tenant AS tenant, debit_name AS name, value_date,
         CAST(-amount AS DECIMAL(18,2)) AS amount
  FROM transfer_v WHERE status = 1
)
"""
