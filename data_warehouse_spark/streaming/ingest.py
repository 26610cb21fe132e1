"""Incremental ingestion: primary storage → warehouse tables.

The reference's pipeline (PrimaryDataExplorationService.scala:25-36) crawls
the primary-storage tree every 2 s, upserting discoveries into the relational
store, bounded per tick by per-account high-watermarks
(``last_syn_snapshot`` / ``last_syn_event`` — D4/D5/D10 in SURVEY §2.2).

Spark re-expression: one :class:`IngestionPipeline` whose ``run_once`` is a
tick — set-oriented instead of per-entity async loops, and **O(new files)**
in content reads, exactly like the reference:

  listing      snapshot inventory from directory names only (versions are
               file names — zero content reads); event files listed only
               under watermark-selected snapshot dirs
  tenants      discovered dirs            → MERGE insert-missing
  accounts     snapshot-0 metadata read ONLY for accounts not yet in the
               table (anti-join on the listing, O(new) content reads)
  snapshots    high-watermark filter (version ≥ last_syn_snapshot),
               row_number ≤ 2 per account — the reference's bounded
               incremental window (take(2) — :121)
  events       the reference's count-skip: a boundary snapshot dir is read
               only when it holds MORE files than last_syn_event
               (PrimaryDataExplorationService.scala:150-156 — event versions
               are dense 1..N per snapshot, so file count == max version);
               newer snapshots read fully. Version watermark applies only to
               the boundary snapshot (versions restart per snapshot).
  transfers    transaction content read ONLY for transactions named by this
               tick's picked active events (D6 status gate) → relevance
               filter (D7) → invariant status check (D8) → MERGE
               insert-missing on PK (idempotent replay)
  balances     signed changes derived from THIS TICK's transfer batch and
               MERGE-appended on a provenance PK — never a table rebuild
  markers      account watermarks advanced in the same tick (D10), only for
               accounts whose position actually moved

An idle tick (nothing new anywhere) performs directory listings and ZERO
content reads and ZERO table writes — ``TickMetrics.extra["files_read"]``
instruments this.

Round-9 architecture (the O(changed dirs) / driver-side-metadata split):

* :class:`~..sources.listing.ListingCache` tracks per-directory mtimes;
  a steady-state tick examines only changed-or-pending accounts, and a
  fully idle tick runs ZERO Spark jobs (measured 0.0 s at sf10 —
  TICK_ATTRIBUTION_SF10). The soundness argument: a tick is a pure
  function of (tree, account marks); an account whose examination read
  nothing and moved nothing is a fixed point until a tracked mtime moves.
* On a delta, the watermark logic (D4 selection, D5 count-skip, D6/D7/D8
  expansion, D10 marker positions) runs DRIVER-SIDE over the delta's
  local rows (``_tick_body_delta``), with account marks served by the KV
  tier's Arrow reads; tiny primary files (1-line metas/events, small
  transactions) read through driver/executor parse twins
  (``primary.read_*_rows``). Spark does what it is for — the keyed MERGE
  writes. Under 32 concurrent serving clients each Spark action costs
  1.5–3 s of contended scheduling regardless of data size; this split
  took the contended merge tick from 63–103 s to 16–20 s (SCALE_r9).
* The full-scan path (first tick, cache miss, KV refusal) keeps the
  distributed joins — at 100 TB width the delta IS small by definition
  of steady state, and a bootstrap scan wants executors.

Idempotence: every write is keyed MERGE and markers advance LAST; a crash
anywhere replays the tick's reads (watermarks unchanged) and the PK merges
drop the duplicates — the same guarantee the reference gets from ON CONFLICT
DO NOTHING.

``run_forever`` wraps ``run_once`` in the 2 s single-flight cadence
(Trigger.ProcessingTime semantics; the reference's Lock/Free actor gives the
same ≤1-in-flight property — PrimaryDataExplorerActor.scala:34-127).
"""

from __future__ import annotations

import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import balance_view
from ..schemas import (
    ACCOUNT_SCHEMA,
    PRIMARY_KEYS,
    TENANT_SCHEMA,
    TRANSFER_SCHEMA,
)
from ..sources import listing, primary
from ..sources.tables import TableStore


class InvariantViolation(Exception):
    """Transfer status ≠ discovering event status (reference D8 fails the
    pipeline and lets the supervisor restart it)."""


class _StageClock:
    """Per-stage wall attribution for a tick. Each tick stage ends in a
    driver action (collect / MERGE / maintain), so segment boundaries are
    real execution boundaries, not lazy-plan noise. Written into
    ``TickMetrics.extra["stage_sec"]`` — the evidence behind the
    O(new files)-per-tick contract (a stage growing with CORPUS size, not
    batch size, is the bug this exists to catch; see SERVING_BENCH_SF10's
    42 s tick that prompted it)."""

    def __init__(self, metrics: "TickMetrics"):
        self.stages: dict[str, float] = {}
        metrics.extra["stage_sec"] = self.stages
        self._t0 = time.perf_counter()

    def lap(self, stage: str) -> None:
        now = time.perf_counter()
        self.stages[stage] = round(
            self.stages.get(stage, 0.0) + (now - self._t0), 3
        )
        self._t0 = now


@dataclass
class TickMetrics:
    """Discovery counters (the reference's StatsD metrics —
    PrimaryDataExplorationService.scala:58,92,247). ``extra["files_read"]``
    counts CONTENT reads this tick — the O(new files) guarantee is testable."""

    tenants_discovered: int = 0
    accounts_discovered: int = 0
    transfers_discovered: int = 0
    extra: dict = field(default_factory=dict)


# the ingested balance-change table carries provenance columns so the
# incremental MERGE-append has a PK to be idempotent on (the reference's
# Postgres trigger gets this for free from the transfer row it fires on);
# the read surface only aggregates (tenant, name, amount) — extra columns
# are pruned at the parquet scan
def ingest_abc_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("tenant", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("value_date", T.TimestampType(), False),
            T.StructField("amount", T.DecimalType(28, 10), False),  # signed
            T.StructField("src_tenant", T.StringType(), False),
            T.StructField("transaction", T.StringType(), False),
            T.StructField("transfer", T.StringType(), False),
            T.StructField("side", T.StringType(), False),  # 'c' | 'd'
        ]
    )


ABC_PRIMARY_KEYS = ["tenant", "src_tenant", "transaction", "transfer", "side"]

# rollup-maintenance deferral bound (balance_view.maintain
# defer_under_files): a busy tick skips the rollup converge while the
# append-only stale window stays under this many part files — serving
# answers EXACT balances through that window (KV Arrow delta), and the
# first idle tick (or a window overflow) converges N deferred ticks in one
# combined CDC apply
ROLLUP_DEFER_FILES = 24


def _driver_df(spark: SparkSession, rows, schema) -> DataFrame:
    """createDataFrame for a DRIVER-OWNED tick batch as ONE slice.

    The default path parallelizes local rows into ``defaultParallelism``
    (32) python slices; every downstream task evaluation then pays a
    python-worker round trip PER SLICE — a 500-row staging write measured
    1.55 s from a 32-slice source vs 0.74 s from a single slice, and the
    whole anti-join+cache merge plan dropped 2.84 s → 0.97 s (write-probe,
    r11 round 2). One slice = one python eval; these batches are
    O(files per tick) rows by the tick contract, so one task is the right
    parallelism (guide §2.2: fewer, larger map tasks). Delegates to the
    shared :func:`..materialize.driver_df` (one implementation of the
    single-slice rule; the ANN/serving paths use it too)."""
    from ..materialize import driver_df

    return driver_df(spark, rows, schema)


def warehouse_store(spark: SparkSession, root: str) -> TableStore:
    return TableStore(
        spark,
        root,
        {
            "tenant": TENANT_SCHEMA,
            "account": ACCOUNT_SCHEMA,
            "transfer": _ingest_transfer_schema(),
            "account_balance_change": ingest_abc_schema(),
            balance_view.ROLLUP_TABLE: balance_view.ROLLUP_SCHEMA,
        },
        # hot tables partition by tenant: MERGE prunes to touched tenants,
        # GraphQL tenant-filtered reads prune at the scan
        partitions={
            "transfer": ["tenant"],
            "account_balance_change": ["tenant"],
            "account": ["tenant"],
            balance_view.ROLLUP_TABLE: ["tenant"],
        },
        # the FACT tables additionally time-bucket by month(value_date)
        # (derived hive level under each tenant dir): bounds per-directory
        # growth at 100x — a tenant's transfers otherwise accumulate in one
        # flat dir forever — and gives the reference's value_date range
        # filters (GraphQLPersistence.scala:277-316) path-level pruning
        # (queries.transfers adds the month predicate; plan-pinned in
        # tests/test_plan_quality.py)
        month_partitions={
            "transfer": ("value_month", "value_date"),
            "account_balance_change": ("value_month", "value_date"),
        },
        # when compaction rewrites a fragmented tenant partition, cluster
        # the files on the read-path keys: transfers page by
        # (transaction, transfer) — Q5's ORDER BY — and balance reads
        # filter by account name; tight row-group stats skip the rest
        cluster_by={
            "transfer": ["transaction", "transfer"],
            "account_balance_change": ["name", "value_date"],
            # the point-served tables sort by the lookup key so the KV
            # serving tier's row-group stats prune to ~one group per read
            "account": ["name"],
            balance_view.ROLLUP_TABLE: ["name"],
        },
        # ~64 KB row groups on the point-served tables (see
        # TableStore.block_size): the KV tier decodes one small group per
        # lookup instead of a 128 MB file-wide group. Measured at 2 M
        # accounts: 1 MB groups → 4.8 ms point read p50 (decode-bound);
        # 256 KB → 0.93 ms; 64 KB + sorted-key bisect → ~0.2 ms. The
        # decode is the GIL-held cost under 32 concurrent request
        # threads, so group size sets the serving tier's concurrency
        # ceiling; the metadata index stays O(row groups) driver memory
        # (~16× more groups than 1 MB, hundreds of bytes each)
        block_size={
            "account": 64 * 1024,
            balance_view.ROLLUP_TABLE: 64 * 1024,
        },
    )


def _ingest_transfer_schema():
    # transfer schema with the ingestion-grade amount precision (28,10)
    fields = []
    for f in TRANSFER_SCHEMA.fields:
        if f.name == "amount":
            fields.append(T.StructField("amount", primary.AMOUNT, False))
        else:
            fields.append(f)
    return T.StructType(fields)


def _read_tagged_rows(chunk: list[tuple[str, str]]) -> tuple[list, list]:
    """Executor body of the fused meta+event content read: one chunk of
    ('m'|'e', path) pairs → (meta_rows, event_rows) via the same reader
    twins the single-kind tiers use."""
    return (
        primary.read_account_meta_rows([p for k, p in chunk if k == "m"]),
        primary.read_account_event_rows([p for k, p in chunk if k == "e"]),
    )


def _signed_changes(transfers: DataFrame) -> DataFrame:
    """This tick's committed transfer rows → signed per-account change rows
    with provenance PK (semantics of catalog.account_balance_change_view,
    restricted to a batch)."""
    committed = transfers.filter(F.col("status") == 1)
    base = [
        F.col("value_date"),
        F.col("amount").cast(T.DecimalType(28, 10)),
        F.col("tenant").alias("src_tenant"),
        F.col("transaction"),
        F.col("transfer"),
    ]
    credit = committed.select(
        F.col("credit_tenant").alias("tenant"),
        F.col("credit_name").alias("name"),
        *base,
        F.lit("c").alias("side"),
    )
    debit = committed.select(
        F.col("debit_tenant").alias("tenant"),
        F.col("debit_name").alias("name"),
        F.col("value_date"),
        (-F.col("amount")).cast(T.DecimalType(28, 10)).alias("amount"),
        F.col("tenant").alias("src_tenant"),
        F.col("transaction"),
        F.col("transfer"),
        F.lit("d").alias("side"),
    )
    # column order per schema for the credit side too
    credit = credit.select(
        "tenant", "name", "value_date", "amount", "src_tenant", "transaction", "transfer", "side"
    )
    return credit.unionByName(debit)


class IngestionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        primary_root: str,
        store: TableStore,
        listing_cache: bool = True,
    ):
        self.spark = spark
        self.root = primary_root
        self.store = store
        # per-directory mtime watermarks: steady-state ticks examine only
        # changed-or-pending accounts (O(changed dirs), the reference's 2 s
        # cadence target at warehouse width). False = re-walk every tick.
        self._cache = listing.ListingCache() if listing_cache else None
        self._merged_tenants: set[str] = set()
        self._kv = None  # lazy KVTier for driver-side watermark lookups

    # ------------------------------------------------------------------
    def _in_ingest_pool(self, fn, *args, **kwargs):
        """Run a store merge in a worker thread tagged into the FAIR
        'ingest' scheduler pool. Spark local properties are per-Python-
        thread (pinned-thread mode), so pool workers would otherwise
        submit their jobs to the default pool, eroding the serving-vs-
        ingest isolation the Service sets up. Idempotent per call —
        executor threads are reused within one pool."""
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "ingest"
        )
        return fn(*args, **kwargs)

    def run_once(self) -> TickMetrics:
        m = TickMetrics()
        files_read = {"meta": 0, "events": 0, "transactions": 0}
        m.extra["files_read"] = files_read
        clock = _StageClock(m)
        spark, root, store = self.spark, self.root, self.store

        # --- tenants (D3 get-else-insert); names reused for listing -----
        # insert-missing MERGE only when a tenant dir is NEW — the merge
        # reads the table, so skipping it keeps idle ticks Spark-free; the
        # cached set only grows after a SUCCESSFUL merge. The merge runs
        # CONCURRENTLY with the rest of the tick (nothing in the tick body
        # reads the tenant table; it is PK-idempotent and independent of
        # every other merge) and is joined before the tick returns —
        # folding its ~0.8 s contended action under the tick's other work.
        tenant_fut = None
        tenant_pool = None
        tenant_names = primary.tenant_names(root)
        if set(tenant_names) - self._merged_tenants:
            tenants_df = primary.discover_tenants(spark, root)
            tenant_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="tick-tenant"
            )
            tenant_fut = tenant_pool.submit(
                self._in_ingest_pool,
                store.merge_insert_missing,
                "tenant",
                tenants_df.select(F.col("tenant").alias("name")),
                PRIMARY_KEYS["tenant"],
                # the caller's new-names check proves the batch nonempty; a
                # restart-replay batch whose anti-join empties adopts zero
                # files (_adopt_files skips the schema-only 0-row part file
                # an empty non-partitioned write leaves, SPARK-23271) — one
                # wasted action on the rare replay instead of an isEmpty
                # probe + cache on every new-tenant tick
                assume_nonempty=True,
                assume_unique=True,  # scandir names of ONE directory
            )
        clock.lap("tenants")
        try:
            return self._run_once_after_tenants(
                m, files_read, clock, tenant_names
            )
        finally:
            if tenant_fut is not None:
                try:
                    m.tenants_discovered = tenant_fut.result()
                    # only grows after a SUCCESSFUL merge (failure → retry
                    # tick re-merges; DO NOTHING makes the replay a no-op)
                    self._merged_tenants |= set(tenant_names)
                finally:
                    tenant_pool.shutdown(wait=False)
                clock.lap("tenants_join")

    def _run_once_after_tenants(
        self,
        m: TickMetrics,
        files_read: dict,
        clock: "_StageClock",
        tenant_names: list[str],
    ) -> TickMetrics:
        spark, root, store = self.spark, self.root, self.store

        # --- snapshot inventory: directory names only, zero content -----
        # (persist+count materializes the listing ONCE here, so the stage
        # clock attributes it to "listing", not to its first consumer)
        scan_keys: list[tuple[str, str]] | None = None
        if self._cache is not None and self._cache.primed:
            now_ns = time.time_ns()
            scan_keys = self._cache.sweep(root, tenant_names, now_ns)
            if not scan_keys:
                # idle fast-path: no dir changed, no account pending — the
                # tick is a fixed point (pure function of (tree, marks));
                # zero Spark jobs, zero reads, zero writes
                clock.lap("listing")
                balance_view.maintain(store)
                clock.lap("rollup_converge_check")
                return m
            rows: list = []
            ev_rows: list | None = []
            # driver-side watermark path: marks via KV Arrow reads, D4/D5
            # as python set logic — removes ~6 contended Spark actions
            # from the merge tick; falls back to the Spark joins when the
            # KV tier can't serve (foreign layout, mid-swap)
            if len(scan_keys) > 256:
                # wide delta: scan on executors (driver-side scandir loops
                # are GIL-starved under concurrent serving load). The KV
                # marks lookup needs only scan_keys, not the rescan rows —
                # run it concurrently with the rescan Spark job instead of
                # paying the two serially inside the listing stage.
                with ThreadPoolExecutor(
                    max_workers=1, thread_name_prefix="tick-kv"
                ) as kvpool:
                    marks_fut = kvpool.submit(
                        self._kv_marks, sorted(set(scan_keys))
                    )
                    content: dict[str, bytes] = {}
                    for tenant, account, acc_rows, acc_ev, dirs, cbytes in (
                        listing.rescan_accounts_distributed(
                            spark, root, scan_keys, now_ns,
                            read_content=True,
                        )
                    ):
                        self._cache.adopt(tenant, account, dirs)
                        rows.extend(acc_rows)
                        ev_rows.extend(acc_ev)
                        content.update(cbytes)
                    marks = marks_fut.result()
            else:
                content = {}
                for tenant, account in scan_keys:
                    acc_rows, acc_ev = self._cache.rescan_account(
                        root, tenant, account, now_ns
                    )
                    rows.extend(acc_rows)
                    ev_rows.extend(acc_ev)
                marks = self._kv_marks(sorted(set(scan_keys)))
            if marks is not None:
                clock.lap("listing")
                ok = False
                try:
                    result = self._tick_body_delta(
                        m, files_read, rows, ev_rows, marks, clock, scan_keys,
                        content,
                    )
                    ok = True
                    return result
                finally:
                    if ok:
                        self._cache.settle(
                            scan_keys, m.extra.pop("_active_keys", ())
                        )
                    m.extra.pop("_active_keys", None)
                    balance_view.maintain(
                        store, defer_under_files=ROLLUP_DEFER_FILES
                    )
                    clock.lap("rollup_converge_check")
            inv = spark.createDataFrame(
                rows, listing.SNAPSHOT_FILE_SCHEMA
            ).persist()
        else:
            inv = listing.snapshot_inventory(spark, root, tenant_names).persist()
        inv.count()
        clock.lap("listing")
        ok = False
        try:
            result = self._tick_body(
                m, files_read, inv, clock, scan_keys=scan_keys,
                ev_rows=ev_rows if scan_keys is not None else None,
            )
            ok = True
            return result
        finally:
            if self._cache is not None:
                if scan_keys is None:
                    # first (full) scan: every discovered account starts
                    # pending and settles after one examined-idle tick
                    self._cache.prime(
                        (r["tenant"], r["account"])
                        for r in inv.select("tenant", "account").distinct().collect()
                    )
                elif ok:
                    # failed ticks never settle — pending survives, the
                    # supervisor's retry re-examines everything it touched
                    self._cache.settle(scan_keys, m.extra.pop("_active_keys", ()))
            m.extra.pop("_active_keys", None)
            inv.unpersist()
            # convergence check for the serving balance rollup: pure-Python
            # noop when fresh (the idle-tick zero-write contract holds);
            # rebuilds once after a bootstrap (externally loaded change
            # table) or a crash between merge and maintenance. Deferral
            # bound passed through: a busy tick leaves small windows to
            # the first idle tick (which calls maintain BARE and converges).
            balance_view.maintain(store, defer_under_files=ROLLUP_DEFER_FILES)
            clock.lap("rollup_converge_check")

    # ------------------------------------------------------------------
    def _kv_marks(self, keys: list[tuple[str, str]]) -> dict | None:
        """Account watermarks for the delta keys via the KV tier's
        row-group-pruned Arrow reads — no Spark job. {} when the account
        table does not exist yet (nothing is known); None when the tier
        cannot serve (caller falls back to the Spark joins)."""
        try:
            from ..api.kv_tier import KVTier

            if self._kv is None:
                self._kv = KVTier(self.store)
            fp = balance_view.table_fingerprint(self.store, "account")
            if fp is None:
                return {}
            return self._kv.lookup(
                "account",
                fp,
                keys,
                ["currency", "format", "last_syn_snapshot", "last_syn_event"],
            )
        except Exception:
            return None

    def _read_meta_event_rows_fused(
        self,
        meta_paths: list[str],
        ev_paths: list[str],
        content: dict[str, bytes] | None = None,
    ) -> tuple[list, list]:
        """ONE content-read job for the tick's two 1-line-file batches
        (account snapshot-0 meta + event files). The un-fused flow paid
        two sequential tiered jobs; their contents are independent (event
        selection needs only meta KEYS, which come from the listing), so
        a single executor job reads both sets — saving one Spark job
        round trip (~0.3 s at sf1, more under serving contention) on
        every discovery-carrying merge tick. Same per-kind reader twins,
        same tiering rule as the single-kind paths."""
        if content is not None and all(
            p in content for p in meta_paths
        ) and all(p in content for p in ev_paths):
            # wide-delta prefetch: the rescan job already captured every
            # byte — parse here with ZERO file I/O and ZERO Spark jobs
            return (
                primary.read_account_meta_rows(meta_paths, content),
                primary.read_account_event_rows(ev_paths, content),
            )
        if len(meta_paths) + len(ev_paths) <= 256:
            return (
                primary.read_account_meta_rows(meta_paths, content),
                primary.read_account_event_rows(ev_paths, content),
            )
        tagged = [("m", p) for p in meta_paths] + [("e", p) for p in ev_paths]
        chunks = [tagged[i::32] for i in range(32)]
        meta_rows: list = []
        ev_rows: list = []
        for ms, es in (
            self.spark.sparkContext.parallelize(chunks, len(chunks))
            .map(_read_tagged_rows)
            .collect()
        ):
            meta_rows.extend(ms)
            ev_rows.extend(es)
        return meta_rows, ev_rows

    def _tick_body_delta(
        self,
        m: TickMetrics,
        files_read: dict,
        snap_rows: list,
        ev_rows: list,
        marks: dict,
        clock: _StageClock,
        scan_keys: list[tuple[str, str]],
        content: dict[str, bytes] | None = None,
    ) -> TickMetrics:
        """Delta tick with DRIVER-side watermark logic: the listing rows
        and account marks are already small local data (O(changed
        accounts)), so snapshot selection (D4), the count-skip (D5) and
        the picked-event filter run as plain Python set logic instead of
        five Spark jobs of joins/windows/collects — under 32 concurrent
        serving clients each Spark action costs 1.5–3 s of contended
        scheduling regardless of data size, and this path removes ~6 of
        them from the merge tick. Spark keeps what it is for: the content
        reads and the keyed MERGE writes. Semantics are the exact mirror
        of :meth:`_tick_body` (same watermark rules, same boundary
        replay), pinned by the cached≡uncached pipeline test."""
        spark, store = self.spark, self.store
        active_keys: set[tuple[str, str]] = set()
        m.extra["_active_keys"] = active_keys
        # per key: [last_syn_snapshot, last_syn_event, currency, format]
        marks = {
            k: (
                int(v["last_syn_snapshot"]),
                int(v["last_syn_event"]),
                v.get("currency"),
                v.get("format"),
            )
            for k, v in marks.items()
        }

        # --- account discovery (anti-join in python: known = KV marks) --
        new_meta = [
            (t, a, p)
            for (t, a, v, p) in snap_rows
            if v == 0 and (t, a) not in marks
        ]
        files_read["meta"] = len(new_meta)
        pending_discovery: list[tuple] = []
        placeholder_keys: set[tuple[str, str]] = set()
        if new_meta:
            active_keys.update((t, a) for t, a, _ in new_meta)
            # meta CONTENT is not read yet — the snapshot/event selection
            # below needs only the KEY's presence and its (0,0) watermark;
            # currency/format arrive from the FUSED meta+event content
            # read (one executor job where this path used to pay two
            # sequential ones, ~0.3 s of job round-trip each at sf1).
            for t, a, _p in new_meta:
                if (t, a) not in marks:
                    marks[(t, a)] = (0, 0, None, None)
                    placeholder_keys.add((t, a))
        clock.lap("account_discovery")

        # --- snapshot selection (D4) + count-skip (D5), driver-side -----
        by_acct: dict[tuple[str, str], set[int]] = {}
        for t, a, v, _p in snap_rows:
            by_acct.setdefault((t, a), set()).add(v)
        ev_by_dir: dict[tuple[str, str, int], list[str]] = {}
        for t, a, v, _f, p in ev_rows:
            ev_by_dir.setdefault((t, a, v), []).append(p)
        ev_paths: list[str] = []
        for key, versions in by_acct.items():
            mk = marks.get(key)
            if mk is None:
                continue  # undiscoverable (no snapshot 0) — mirror inner join
            last_snap, last_ev = mk[0], mk[1]
            for v in sorted(x for x in versions if x >= last_snap)[:2]:
                fs = ev_by_dir.get((key[0], key[1], v), ())
                if fs and (v > last_snap or len(fs) > last_ev):
                    ev_paths.extend(fs)
                    active_keys.add(key)
        files_read["events"] = len(ev_paths)
        clock.lap("event_listing")

        # --- FUSED content read: this tick's meta + event 1-line files in
        # ONE tiered job. Discovery rows are NOT merged here: the tick
        # body reads watermarks from the local `marks` dict, so the
        # durable write can ride the tick's single fused account MERGE at
        # the end (with the marker advance). The fused merge tags these
        # rows insert-only (DO NOTHING), anti-joined against the account
        # table ITSELF inside the write plan — a KV-tier false negative
        # (a present key missing from `marks`) can therefore never rewind
        # a live account's markers to (0,0); worst case is harmless
        # re-read of already-applied events this tick.
        meta_rows, parsed = self._read_meta_event_rows_fused(
            [p for _, _, p in new_meta], sorted(ev_paths), content
        )
        for t, n, c, f in meta_rows:
            if (t, n) in placeholder_keys:
                placeholder_keys.discard((t, n))
                marks[(t, n)] = (0, 0, c, f)
                pending_discovery.append((t, n, c, f, 0, 0))
        m.accounts_discovered = len(pending_discovery)
        if placeholder_keys:
            # meta content yielded no row for these keys (reader twins
            # normally raise instead — belt-and-braces): mirror the
            # un-fused flow, where such keys never entered `marks` and
            # their events were skipped at selection time
            for k in placeholder_keys:
                del marks[k]
            parsed = [r for r in parsed if (r[0], r[1]) not in placeholder_keys]

        if not ev_paths:
            # idle examination: no content reads; the only write (if any)
            # is the deferred discovery batch — pure DO NOTHING semantics
            # (anti-joined against the table itself, not the KV marks)
            if pending_discovery:
                store.merge_insert_missing(
                    "account",
                    _driver_df(
                        spark, sorted(pending_discovery), ACCOUNT_SCHEMA
                    ),
                    PRIMARY_KEYS["account"],
                    partition_values=[
                        (t,) for t in sorted({r[0] for r in pending_discovery})
                    ],
                    assume_nonempty=True,
                    assume_unique=True,  # marks-gated: one row per new key
                )
                clock.lap("marker_advance")
            return m

        # --- the picked filter (D5 boundary replay) over the fused read -
        picked_rows = []
        for t, a, status, txn, sv, ver in parsed:
            last_snap, last_ev = marks[(t, a)][0], marks[(t, a)][1]
            if sv > last_snap or ver >= last_ev:
                picked_rows.append((t, a, status, txn, sv, ver))
        clock.lap("event_read_pick")
        try:
            self._expand_and_merge_local(
                m, files_read, picked_rows, marks, clock, pending_discovery
            )
        except Exception as e:  # noqa: BLE001 — twin's fall-back signal
            if "TwinUnsupported" not in f"{type(e).__name__}: {e}":
                raise
            # exotic transaction timestamps: run the DataFrame expansion.
            # The Spark form joins the ACCOUNT TABLE for marker currency/
            # format, so the deferred discovery batch must be durable
            # first (TwinUnsupported raises before any merge, so this
            # cannot double-write)
            if pending_discovery:
                store.merge_insert_missing(
                    "account",
                    _driver_df(
                        spark, sorted(pending_discovery), ACCOUNT_SCHEMA
                    ),
                    PRIMARY_KEYS["account"],
                    partition_values=[
                        (t,) for t in sorted({r[0] for r in pending_discovery})
                    ],
                    assume_nonempty=True,
                    assume_unique=True,  # marks-gated: one row per new key
                )
            ev_schema = T.StructType(
                [T.StructField(f.name, f.dataType, True)
                 for f in primary.ACCOUNT_EVENT_SCHEMA.fields]
            )
            picked = spark.createDataFrame(picked_rows, ev_schema).persist()
            accounts = self._accounts_pushdown(scan_keys)
            try:
                self._expand_and_merge(m, files_read, picked, accounts, clock)
            finally:
                picked.unpersist()
        return m

    def _expand_and_merge_local(
        self,
        m: TickMetrics,
        files_read: dict,
        picked_rows: list,
        marks: dict,
        clock: _StageClock,
        pending_discovery: list | tuple = (),
    ) -> None:
        """Delta-path twin of :meth:`_expand_and_merge` with the D6/D7/D8
        logic in PYTHON over the tick's local rows: the relevance filter,
        the status-invariant check and the marker positions are set logic
        over O(batch) tuples — running them as Spark joins cost 3 extra
        contended actions per tick (txn_expand alone measured 13–16 s
        under 32 serving clients at sf10). Spark keeps the keyed MERGE
        writes — the actual durable state changes. Semantics pinned by
        the cached≡uncached pipeline equality test and the golden ingest
        suite; raises TwinUnsupported (via read_transaction_rows) for
        timestamp shapes only the Spark parse can mirror."""
        spark, root, store = self.spark, self.root, self.store

        # D6 status gate: only ACTIVE events name transactions to read
        active: dict[tuple[str, str], list] = {}
        for t, a, status, txn, _sv, _ver in picked_rows:
            if status != 0:
                active.setdefault((t, txn), []).append((a, status))
        txn_paths, missing = [], []
        for t, txn in sorted(active):
            p = os.path.join(root, f"t_{t}", "transaction", txn)
            (txn_paths if os.path.exists(p) else missing).append(p)
        if missing:
            raise InvariantViolation(
                f"event names missing transaction file(s): {missing[:3]}"
            )
        files_read["transactions"] = len(txn_paths)
        if len(txn_paths) <= 64:
            txn_rows = primary.read_transaction_rows(txn_paths)
        else:
            chunks = [txn_paths[i::32] for i in range(32)]
            txn_rows = [
                r
                for rs in spark.sparkContext.parallelize(chunks, len(chunks))
                .map(primary.read_transaction_rows)
                .collect()
                for r in rs
            ]

        # D7 relevance + D8 invariant, then PK-dedupe (both discovering
        # events name the same transfer — the PK merge deduped it before;
        # the dict does now, and the merge still dedupes vs the table)
        new_transfers: dict[tuple, tuple] = {}
        for tenant, txn, status, transfer, ct, cn, dt, dn, vd, amount, cur in txn_rows:
            for account, ev_status in active.get((tenant, txn), ()):
                if not (
                    (ct == tenant and cn == account)
                    or (dt == tenant and dn == account)
                ):
                    continue
                if status != ev_status:
                    raise InvariantViolation(
                        f"transfer {tenant}/{txn}/{transfer} "
                        f"status={status} != event status={ev_status}"
                    )
                new_transfers[(tenant, txn, transfer)] = (
                    tenant, txn, transfer, status,
                    ct, cn, dt, dn, amount, cur, vd,
                )
        clock.lap("txn_expand")

        tschema = T.StructType(
            [T.StructField(f.name, f.dataType, True)
             for f in _ingest_transfer_schema().fields]
        )
        tdf = _driver_df(
            spark, sorted(new_transfers.values(), key=str), tschema
        )
        abc_df = _signed_changes(tdf)

        # fused account MERGE batch, computed FIRST (pure driver logic over
        # picked_rows + marks): marker advances — assignment semantics
        # (`!=`), max lexicographic (snapshot, version) per account,
        # exactly the DataFrame form's rules — PLUS this tick's deferred
        # discovery rows, one write action instead of two
        pos: dict[tuple[str, str], tuple[int, int]] = {}
        for t, a, _status, _txn, sv, ver in picked_rows:
            cur = pos.get((t, a))
            if cur is None or (sv, ver) > cur:
                pos[(t, a)] = (sv, ver)
        advanced = []
        for key, (sv, ver) in sorted(pos.items()):
            mk = marks.get(key)
            if mk is None or (sv, ver) == (mk[0], mk[1]):
                continue
            advanced.append((key[0], key[1], mk[2], mk[3], sv, ver))
        adv_keys = {(t, a) for t, a, *_ in advanced}
        # discovery rows are tagged insert-only (DO NOTHING): merge_upsert
        # anti-joins them against the pruned account table INSIDE the one
        # fused write, so a KV-marks false negative cannot rewind a live
        # account's markers to (0,0). Marker advances keep DO UPDATE.
        pending = sorted(
            r for r in pending_discovery if (r[0], r[1]) not in adv_keys
        )
        if pending:  # mixed batch: flag column distinguishes the two verbs
            batch: list = (
                [r + (True,) for r in pending]
                + [r + (False,) for r in advanced]
            )
            schema = T.StructType(
                list(ACCOUNT_SCHEMA.fields)
                + [T.StructField("__insert_only__", T.BooleanType(), False)]
            )
            ins_col = "__insert_only__"
        else:  # steady state: advances only, zero extra plan nodes
            batch, schema, ins_col = advanced, ACCOUNT_SCHEMA, None
        acct_pvals = [(t,) for t in sorted({r[0] for r in batch})]

        # transfer + balance-change merges AND the account MERGE's staging
        # write run CONCURRENTLY: three different tables, all derived from
        # driver-local rows — under serving contention each Spark action
        # pays 1.5–2.5 s of scheduling latency regardless of batch size,
        # so the trio costs max() instead of sum(). The D10 "markers
        # advance LAST" contract holds because only the account SWAP (the
        # pointer rename — the durability point) is ordered after the
        # transfer/abc merges; the staged snapshot stays invisible until
        # then. Crash anywhere before the swap replays cleanly: markers
        # haven't advanced, insert merges are PK-idempotent, and an
        # orphaned staged dir is pruned at the next account swap.
        prep = None
        committed = False
        try:
            if new_transfers or batch:
                # driver-known-batch hints: the tick owns these rows, so
                # partition value sets (tenant) and non-emptiness are known
                # without Spark actions — saves two contended actions/merge
                t_tenants = sorted({r[0] for r in new_transfers.values()})
                abc_tenants = sorted(
                    {r[4] for r in new_transfers.values() if r[3] == 1}
                    | {r[6] for r in new_transfers.values() if r[3] == 1}
                )
                with ThreadPoolExecutor(
                    max_workers=3, thread_name_prefix="tick-merge"
                ) as pool:
                    fut_prep = (
                        pool.submit(
                            self._in_ingest_pool,
                            store.merge_upsert_prepare,
                            "account",
                            _driver_df(spark, batch, schema),
                            PRIMARY_KEYS["account"],
                            acct_pvals,
                            ins_col,
                            assume_unique=True,  # pos/pending dicts keyed by PK
                        )
                        if batch
                        else None
                    )
                    if new_transfers:
                        fut_t = pool.submit(
                            self._in_ingest_pool,
                            store.merge_insert_missing, "transfer", tdf,
                            PRIMARY_KEYS["transfer"],
                            [(t,) for t in t_tenants], True,
                            assume_unique=True,  # new_transfers keyed by PK
                        )
                        fut_abc = pool.submit(
                            self._in_ingest_pool,
                            store.merge_insert_missing,
                            "account_balance_change",
                            abc_df, ABC_PRIMARY_KEYS,
                            [(t,) for t in abc_tenants], bool(abc_tenants),
                            # one row per (transfer, side): PK carries `side`
                            assume_unique=True,
                        )
                        m.transfers_discovered = fut_t.result()
                        fut_abc.result()
                    if fut_prep is not None:
                        prep = fut_prep.result()
            clock.lap("transfer_abc_merge")
            # rollup maintenance DEFERRED while the append-only window is
            # small: serving answers exact balances through the window (KV
            # Arrow delta), and the first idle tick converges all deferred
            # appends in one combined CDC apply (balance_view.maintain).
            # The tick-final maintain (the rollup_converge_check lap in
            # run_once's finally) is the ONE maintenance call per tick — a
            # second in-body call here paid a redundant stale-window
            # inventory + fingerprint walk that stretched to ~2 s under
            # 32-client GIL contention (r11).
            clock.lap("rollup_maintain")

            if batch:
                if prep is not None:
                    store.merge_upsert_commit(prep)  # one pointer rename
                    committed = True
                else:  # stage preconditions didn't hold — classic path
                    store.merge_upsert(
                        "account",
                        _driver_df(spark, batch, schema),
                        PRIMARY_KEYS["account"],
                        partition_values=acct_pvals,
                        assume_nonempty=True,
                        want_counts=False,
                        insert_only_col=ins_col,
                        assume_unique=True,  # pos/pending dicts keyed by PK
                    )
            clock.lap("marker_advance")
        finally:
            if prep is not None and not committed:
                store.merge_upsert_abort(prep)

    def _accounts_pushdown(self, scan_keys: list[tuple[str, str]] | None) -> DataFrame:
        """Account table restricted to the delta keys: tenant in-list
        prunes partitions; wide key sets use a broadcast semi-join (a
        thousands-literal In bloats every plan re-analysis — measured
        14 s → 25 s on the sf1 merge tick)."""
        spark, store = self.spark, self.store
        df = store.read("account")
        if not scan_keys:
            return df
        df = df.filter(F.col("tenant").isin(sorted({t for t, _ in scan_keys})))
        if len(scan_keys) > 64:
            keys_df = _driver_df(
                spark, sorted(set(scan_keys)), "tenant string, name string"
            )
            df = df.join(F.broadcast(keys_df), ["tenant", "name"], "left_semi")
        else:
            df = df.filter(F.col("name").isin(sorted({a for _, a in scan_keys})))
        return df

    def _tick_body(
        self,
        m: TickMetrics,
        files_read: dict,
        inv: DataFrame,
        clock: _StageClock,
        scan_keys: list[tuple[str, str]] | None = None,
        ev_rows: list | None = None,
    ) -> TickMetrics:
        spark, root, store = self.spark, self.root, self.store
        active_keys: set[tuple[str, str]] = set()
        m.extra["_active_keys"] = active_keys

        # with a listing-cache delta, the inventory covers only the
        # changed/pending accounts — push those keys into every account-
        # table read. The tenant predicate prunes partitions (literal
        # in-list: tenants are few); the name restriction uses a literal
        # in-list only for SMALL deltas (row-group pruning via
        # cluster_by name) and a broadcast semi-join above that — a
        # thousands-literal In bloats every re-analysis of the plan
        # (measured: sf1 merge tick 14 s → 25 s with a 2000-name in-list)
        keys_df = None
        if scan_keys and len(scan_keys) > 64:
            keys_df = _driver_df(
                spark, sorted(set(scan_keys)), "tenant string, name string"
            )

        def _keys_pushdown(df: DataFrame) -> DataFrame:
            if scan_keys is None or not scan_keys:
                return df
            tenants = sorted({t for t, _ in scan_keys})
            df = df.filter(F.col("tenant").isin(tenants))
            if keys_df is None:
                df = df.filter(
                    F.col("name").isin(sorted({a for _, a in scan_keys}))
                )
            else:
                df = df.join(F.broadcast(keys_df), ["tenant", "name"], "left_semi")
            return df

        # --- account discovery: meta content read ONLY for new accounts --
        known = _keys_pushdown(store.read("account")).select(
            "tenant", F.col("name").alias("account")
        )
        new_meta = (
            inv.filter(F.col("version") == 0)
            .join(known, ["tenant", "account"], "left_anti")
            .select("tenant", "account", "path")
            .collect()
        )
        active_keys.update((r["tenant"], r["account"]) for r in new_meta)
        new_meta_paths = [r["path"] for r in new_meta]
        files_read["meta"] = len(new_meta_paths)
        if new_meta_paths:
            # 1-line meta reads via read_account_meta_rows (the semantics
            # twin of the Spark text parse, framing included) — driver-side
            # for small batches, executor-side RDD map for wide ones: both
            # a Spark text JOB over thousands of tiny files (~10 s) and a
            # driver python loop (~7 s GIL-starved) measured far slower
            # under concurrent serving load (stack-sampled serving run)
            if len(new_meta_paths) <= 256:
                meta_rows = primary.read_account_meta_rows(new_meta_paths)
            else:
                chunks = [new_meta_paths[i::32] for i in range(32)]
                meta_rows = [
                    r
                    for rs in spark.sparkContext.parallelize(chunks, len(chunks))
                    .map(primary.read_account_meta_rows)
                    .collect()
                    for r in rs
                ]
            meta = _driver_df(
                spark,
                [(t, n, c, f, 0, 0) for t, n, c, f in meta_rows],
                ACCOUNT_SCHEMA,
            )
            m.accounts_discovered = store.merge_insert_missing(
                "account", meta, PRIMARY_KEYS["account"],
                # driver-known batch: the tenant set is in meta_rows, so
                # the pvals distinct+collect action is skippable
                partition_values=[
                    (t,) for t in sorted({r[0] for r in meta_rows})
                ],
            )
        clock.lap("account_discovery")

        accounts = _keys_pushdown(store.read("account"))
        acc_marks = accounts.select(
            "tenant",
            F.col("name").alias("account"),
            "last_syn_snapshot",
            "last_syn_event",
        )

        # --- snapshot selection (D4): ≥ watermark, ascending, take 2 ----
        marked = inv.join(acc_marks, ["tenant", "account"]).filter(
            F.col("version") >= F.col("last_syn_snapshot")
        )
        w = Window.partitionBy("tenant", "account").orderBy("version")
        selected_snaps = marked.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= 2
        )

        # --- event listing over selected dirs + the reference count-skip
        #     (read a boundary dir only when it holds more files than the
        #     event watermark; newer snapshots read fully) ----------------
        if ev_rows is not None:
            # delta mode: the rescan already listed every version dir of
            # the changed accounts (executor-side) — restrict that superset
            # to the watermark-selected snapshots instead of paying a
            # second RDD listing job
            ev_all = spark.createDataFrame(ev_rows, listing.EVENT_FILE_SCHEMA)
            ev_list = ev_all.join(
                selected_snaps.select(
                    "tenant",
                    "account",
                    F.col("version").alias("snapshot_version"),
                ),
                ["tenant", "account", "snapshot_version"],
                "left_semi",
            )
        else:
            ev_list = listing.event_files(
                spark, root, selected_snaps.select("tenant", "account", "version")
            )
        wcnt = Window.partitionBy("tenant", "account", "snapshot_version")
        qual_files = (
            ev_list.join(acc_marks, ["tenant", "account"])
            .withColumn("n_files", F.count(F.lit(1)).over(wcnt))
            .filter(
                (F.col("snapshot_version") > F.col("last_syn_snapshot"))
                | (F.col("n_files") > F.col("last_syn_event"))
            )
        )
        qual_rows = qual_files.select("tenant", "account", "path").collect()
        active_keys.update((r["tenant"], r["account"]) for r in qual_rows)
        ev_paths = [r["path"] for r in qual_rows]
        files_read["events"] = len(ev_paths)
        clock.lap("event_listing")
        if not ev_paths:
            return m  # idle tick: no content reads, no writes

        # tiny-file event reads: same tiered strategy as the meta batch —
        # driver loop when small, executor RDD map when wide (a Spark text
        # job over thousands of 1-line files and a GIL-starved driver loop
        # both measured ~5 s under concurrent serving load)
        ev_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True)
             for f in primary.ACCOUNT_EVENT_SCHEMA.fields]
        )
        if len(ev_paths) <= 256:
            ev_rows = primary.read_account_event_rows(ev_paths)
        else:
            ev_chunks = [ev_paths[i::32] for i in range(32)]
            ev_rows = [
                r
                for rs in spark.sparkContext.parallelize(ev_chunks, len(ev_chunks))
                .map(primary.read_account_event_rows)
                .collect()
                for r in rs
            ]
        events = spark.createDataFrame(ev_rows, ev_schema)
        snap_keys = selected_snaps.select(
            "tenant",
            "account",
            F.col("version").alias("snapshot_version"),
            "last_syn_snapshot",
            "last_syn_event",
        )
        # the event watermark applies ONLY to the boundary snapshot
        # (lastSynchronizedSnapshot == snapshot.version); event versions
        # restart per snapshot, so a newer snapshot takes ALL its events
        # (PrimaryDataExplorationService.scala:155-178). `>=` on the boundary
        # replays the last event; the PK merge dedupes — the idempotence story
        picked = (
            events.join(snap_keys, ["tenant", "account", "snapshot_version"])
            .filter(
                (F.col("snapshot_version") > F.col("last_syn_snapshot"))
                | (F.col("version") >= F.col("last_syn_event"))
            )
            .persist()
        )
        picked.count()  # materialize here so the clock owns the event reads
        clock.lap("event_read_pick")
        try:
            self._expand_and_merge(m, files_read, picked, accounts, clock)
        finally:
            picked.unpersist()
        return m

    def _expand_and_merge(
        self,
        m: TickMetrics,
        files_read: dict,
        picked: DataFrame,
        accounts: DataFrame,
        clock: _StageClock,
    ) -> None:
        spark, root, store = self.spark, self.root, self.store

        # --- transaction expansion (D6 status gate): content reads only
        #     for transactions the picked active events name ---------------
        active = picked.filter(F.col("status") != 0).select(
            "tenant", "account", "transaction", F.col("status").alias("event_status")
        )
        txn_keys = [
            (r["tenant"], r["transaction"])
            for r in active.select("tenant", "transaction").distinct().collect()
        ]
        txn_paths, missing = [], []
        for tenant, txn in txn_keys:
            p = os.path.join(root, f"t_{tenant}", "transaction", txn)
            (txn_paths if os.path.exists(p) else missing).append(p)
        if missing:
            # reference: the transaction read future fails → stream crash
            raise InvariantViolation(
                f"event names missing transaction file(s): {missing[:3]}"
            )
        files_read["transactions"] = len(txn_paths)

        # tiny-file tier for the transaction batch (S6 twin): driver loop
        # when small, executor RDD map when wide; TwinUnsupported (an
        # exotic timestamp shape) falls back to the Spark text parse.
        # A Spark text job over 1000 tiny files measured 16 s under
        # concurrent serving load — the last tiered read in the tick
        try:
            if len(txn_paths) <= 64:
                txn_rows = primary.read_transaction_rows(sorted(txn_paths))
            else:
                sorted_paths = sorted(txn_paths)
                txn_chunks = [sorted_paths[i::32] for i in range(32)]
                txn_rows = [
                    r
                    for rs in spark.sparkContext.parallelize(
                        txn_chunks, len(txn_chunks)
                    )
                    .map(primary.read_transaction_rows)
                    .collect()
                    for r in rs
                ]
            transfers_raw = spark.createDataFrame(
                txn_rows,
                T.StructType(
                    [T.StructField(f.name, f.dataType, True)
                     for f in primary.TRANSFER_ROW_SCHEMA.fields]
                ),
            )
        except Exception as e:  # noqa: BLE001 — RDD wraps the twin's signal
            # TwinUnsupported arrives verbatim from the driver loop but
            # wrapped in Py4J from executors — match by name; every other
            # failure (malformed line, framing) keeps its strict semantics
            if "TwinUnsupported" not in f"{type(e).__name__}: {e}":
                raise
            transfers_raw = primary.read_transaction_paths(spark, txn_paths)
        joined = transfers_raw.join(
            F.broadcast(active.select("tenant", "account", "transaction", "event_status")),
            ["tenant", "transaction"],
        )

        # D7 relevance: transfer must touch the discovering account
        relevant = joined.filter(
            ((F.col("credit_tenant") == F.col("tenant")) & (F.col("credit_name") == F.col("account")))
            | ((F.col("debit_tenant") == F.col("tenant")) & (F.col("debit_name") == F.col("account")))
        )

        # D8 invariant: transfer status must equal the event's status
        bad = relevant.filter(F.col("status") != F.col("event_status")).limit(1).collect()
        if bad:
            r = bad[0]
            raise InvariantViolation(
                f"transfer {r['tenant']}/{r['transaction']}/{r['transfer']} "
                f"status={r['status']} != event status={r['event_status']}"
            )

        new_transfers = relevant.select(
            "tenant",
            "transaction",
            "transfer",
            "status",
            "credit_tenant",
            "credit_name",
            "debit_tenant",
            "debit_name",
            "amount",
            "currency",
            "value_date",
        )
        new_transfers = new_transfers.persist()
        clock.lap("txn_expand")
        # --- transfer + derived balance-change merges, CONCURRENT ---------
        # (same rationale as the local twin: different tables, both
        # PK-idempotent insert-missing, wall = max not sum). The signed
        # changes derive from this tick's batch PRE-merge, so a
        # crash-replay regenerates them; the persist above keeps the two
        # concurrent plans from re-running the expansion joins twice.
        with ThreadPoolExecutor(
            max_workers=2, thread_name_prefix="tick-merge"
        ) as pool:
            fut_t = pool.submit(
                store.merge_insert_missing, "transfer", new_transfers,
                PRIMARY_KEYS["transfer"],
            )
            fut_abc = pool.submit(
                store.merge_insert_missing, "account_balance_change",
                _signed_changes(new_transfers), ABC_PRIMARY_KEYS,
            )
            m.transfers_discovered = fut_t.result()
            fut_abc.result()
        new_transfers.unpersist()
        clock.lap("transfer_abc_merge")
        # maintain the serving balance rollup from exactly the appended
        # part files (file-level CDC via the stale window); any mismatch —
        # crash replay, compaction — degrades to a recompute, never to a
        # wrong serve. Small windows defer (see _expand_and_merge_local).
        balance_view.maintain(store, defer_under_files=ROLLUP_DEFER_FILES)
        clock.lap("rollup_maintain")

        # --- marker advance (D10), LAST so crash-replay re-reads ----------
        # Assignment semantics, not max: the reference sets
        # (lastSynchronizedSnapshot, lastSynchronizedEvent) := (snapshot,
        # event) per processed event (:180-186), so the final value is the
        # lexicographic max (snapshot, version) pair — and last_syn_event may
        # DECREASE when the snapshot advances (versions restart per snapshot).
        # Only accounts whose position actually moved are rewritten; the
        # watermark selection upstream guarantees picked positions never
        # precede the marker.
        ev_pos = picked.groupBy("tenant", "account").agg(
            F.max(F.struct("snapshot_version", "version")).alias("pos")
        )
        moved = (
            F.col("pos.snapshot_version") != F.col("last_syn_snapshot")
        ) | (F.col("pos.version") != F.col("last_syn_event"))
        advanced = (
            accounts.join(
                ev_pos.withColumnRenamed("account", "name"), ["tenant", "name"]
            )
            .filter(moved)
            .select(
                "tenant",
                "name",
                "currency",
                "format",
                F.col("pos.snapshot_version").cast("int").alias("last_syn_snapshot"),
                F.col("pos.version").cast("int").alias("last_syn_event"),
            )
        )
        self.store.merge_upsert("account", advanced, PRIMARY_KEYS["account"])
        clock.lap("marker_advance")

    # ------------------------------------------------------------------
    def run_forever(self, tick_seconds: float = 2.0, max_ticks: int | None = None):
        """The reference's 2 s single-flight cadence (D12). Ticks never
        overlap; a failed tick is logged and the next one retries (the
        supervisor-restart behavior). :class:`InvariantViolation` (D8) is the
        one fatal case — it propagates so the outer supervisor decides."""
        n = 0
        while max_ticks is None or n < max_ticks:
            started = time.monotonic()
            try:
                yield self.run_once()
            except InvariantViolation:
                raise
            except Exception:  # noqa: BLE001 — supervisor semantics: log, retry next tick
                logging.getLogger(__name__).exception("ingestion tick failed; retrying next tick")
            n += 1
            elapsed = time.monotonic() - started
            if max_ticks is None or n < max_ticks:
                time.sleep(max(0.0, tick_seconds - elapsed))
