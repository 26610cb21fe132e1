"""Parquet-backed warehouse tables with idempotent MERGE semantics and
snapshot-versioned reads.

The reference's consistency mechanism is PostgreSQL ``INSERT … ON CONFLICT``
(SecondaryPersistence.scala:30-127): replays are harmless, discovery is
get-else-insert, and readers never observe a half-applied write. Without
Delta in this image, both halves are emulated:

**MERGE** — anti-join + write:
  * ``merge_insert_missing`` — ON CONFLICT DO NOTHING: left-anti join of the
    batch against current keys, file-level append of only the new rows.
  * ``merge_upsert``        — ON CONFLICT DO UPDATE: copy-on-write — only
    partitions the batch touches are rewritten; untouched partitions'
    files are hard-linked into the new snapshot (O(touched data) I/O +
    O(#files) metadata, the same cost model as Delta/Iceberg MERGE).

Two writers sit behind the verbs. A Spark ``DataFrame`` batch runs the
Spark plan (anti-join, partitioned write). A driver-owned ``pyarrow.Table``
batch — the ingestion tick's — commits with NO Spark job while it and the
hive dirs it touches hold at most :data:`ARROW_COMMIT_MAX_ROWS` rows: a
PK-column probe of the touched dirs (row groups pruned by min/max), part
files written in Spark's exact layout (``arrow_parts``), and the same
staging / ``_adopt_files`` / ``_swap`` / commit machinery. The same
cut-off puts ``overwrite`` (a DataFrame is collected to Arrow once,
capped one row past the cut-off) and ``compact`` (row counts from the
footers) on the Arrow writer. Larger batches and tables stay on Spark.

**Snapshot isolation** — a table directory holds immutable version dirs plus
an atomically-replaced ``_current`` pointer::

    <root>/<table>/_current          # text: "v-<hex>" (os.replace = atomic)
    <root>/<table>/v-<hex>/…parquet  # immutable once pointed at

``read`` resolves the pointer at plan-build time; ``overwrite``/``upsert``
write a NEW version dir and swap the pointer, keeping the PREVIOUS version
on disk so a reader that resolved just before the swap still finds every
file (the GraphQL server and the 2 s ingestion loop share one warehouse —
reference runs both under one Postgres). Versions older than the previous
are pruned at the next swap. On a cluster this is exactly a Delta/Iceberg
snapshot + retention story; file-level appends (insert-missing) go into the
current version dir, which is safe because parquet part files appear
atomically (rename) and readers tolerate additive file sets.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import arrow_parts

# partition-pruned MERGE only engages when the batch touches at most this
# many partition values (an IN-list any optimizer folds into pruning)
MAX_PRUNE_PARTITIONS = 1000

# compaction: a partition dir holding more than this many part files is
# rewritten into ~TARGET_FILE_BYTES files at the next snapshot swap
COMPACT_FILE_THRESHOLD = 16
TARGET_FILE_BYTES = 128 * 1024 * 1024

# a pyarrow.Table batch commits without a Spark job (arrow_parts) while
# the batch plus the rows of the hive dirs it must read — counted from
# the parquet footers — stay at or under this many rows; above it the
# verb hands the batch to its Spark plan. A bound on driver memory, not
# a speed crossover: on a 4-core box, uncontended, the Arrow path beat
# the Spark plan at every touched size measured up to 10^6 rows
# (insert-missing of 60 rows 0.18 s vs 1.7 s, upsert-prepare of 100 rows
# into a 6-column partition 0.86 s vs 3.5 s), while the upsert's peak
# pyarrow allocation grows ~150 MB per 10^6 touched rows; past the
# largest size measured the batch goes to the executors
ARROW_COMMIT_MAX_ROWS = 1_000_000


class TableStore:
    """A directory of named parquet tables with declared schemas.

    ``partitions`` maps table name → hive-partition columns. Partitioned
    tables get partition-pruned MERGE: an insert-missing batch only
    anti-joins against the partitions its keys touch, and an upsert only
    rewrites the partitions its keys touch — O(affected partitions), not
    O(table): the property that matters when ``transfer`` is 100 TB
    partitioned by tenant.

    ``cluster_by`` maps table name → sort columns applied when compaction
    rewrites fragmented files (the Delta OPTIMIZE ZORDER analogue, linear
    order): each compacted file comes out sorted by those columns, so its
    parquet row-group min/max stats become tight disjoint ranges and
    point/range scans skip whole row groups. Append order is whatever the
    stream delivered; clustering restores locality at rewrite time for
    free (the data is being rewritten anyway).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schemas: dict[str, T.StructType],
        partitions: dict[str, list[str]] | None = None,
        compact_threshold: int = COMPACT_FILE_THRESHOLD,
        cluster_by: dict[str, list[str]] | None = None,
        month_partitions: dict[str, tuple[str, str]] | None = None,
        block_size: dict[str, int] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.schemas = schemas
        self.partitions = partitions or {}
        self.compact_threshold = compact_threshold
        self.cluster_by = cluster_by or {}
        # table → parquet row-group bytes (`parquet.block.size`). The
        # 128 MB default makes most part files ONE row group — the right
        # unit for scans, the wrong one for the KV serving tier's
        # row-group-pruned point reads (api/kv_tier.py), which would read
        # the whole file per lookup. Point-served tables (account, the
        # balance rollup) declare ~1 MB groups: with sort-on-write the
        # min/max stats become tight ~16k-row ranges and a lookup decodes
        # one small group. Scan cost is unaffected at this size — Spark
        # splits on row groups, and these tables are dimension-sized.
        self.block_size = block_size or {}
        # table → (derived_col, timestamp_col): a DERIVED second-level
        # hive partition `derived_col=yyyy-MM` computed from the timestamp
        # column at write time. Time-bucketing the fact tables bounds
        # partition-directory growth (a tenant's transfers otherwise
        # accumulate in ONE directory forever) and gives date-ranged
        # queries path-level pruning on top of row-group stats. The
        # derived column is storage layout, not schema: `read` drops it
        # unless asked (`keep_derived=True` — the query layer opts in to
        # prune on it and drops it before results surface).
        self.month_partitions = month_partitions or {}
        for tname, (dcol, src) in self.month_partitions.items():
            declared = {f.name for f in schemas[tname].fields}
            if dcol in declared or src not in declared:
                raise ValueError(
                    f"month_partitions[{tname!r}]: derived column {dcol!r} "
                    f"must NOT be declared; source {src!r} must be declared"
                )
        # destination paths of the most recent _adopt_files call — the
        # per-append change capture ``balance_view.maintain(adopted_files=)``
        # reads (valid until the next merge or a compaction removes them;
        # the consumer re-checks existence)
        self.last_adopted_files: list[str] = []
        # monotonic in-process mutation counter: bumped at the START and
        # END of every content-changing operation (swap, file adopt).
        # The serving tier memoizes its O(dirs) fingerprint walks on this
        # — a steady-state freshness check becomes one integer compare
        # instead of an os.walk over ~2100 hive dirs per request
        # (measured 0.12 s of GIL-bound driver work per walk at sf1 on
        # the (tenant, month) layout). Start+end bumps mean a walk taken
        # MID-write can never be memo-served for the post-write state.
        # In-process only by design: this store has a single writing
        # process (the service owns the warehouse, like the reference's
        # single Postgres); a multi-writer deployment must fall back to
        # raw walks (balance_view.table_fingerprint does so for stores
        # without the attribute).
        self.mutations: int = 0
        # guards the two counters above: the tick now runs independent-table
        # merges CONCURRENTLY (transfer + balance-change in two threads),
        # and a lost `+= 1` under GIL preemption could let a fingerprint
        # memo taken mid-write be believed valid for the post-write state
        self._mut_lock = threading.Lock()
        # per-key single-flight locks for the serving tier's memoized
        # driver-side walks (balance_view.table_fingerprint / stale
        # window). Created HERE, not lazily at first contention: a lazy
        # `store._fp_locks = {}` races — two request threads can each
        # install a fresh dict and mint two distinct locks for the same
        # key, defeating the single-flight exactly in the first-contention
        # case it exists for (duplicate GIL-bound walks; results stay
        # correct).
        self._fp_locks: dict[str, threading.Lock] = {}
        # per-table twin of `mutations` (same start+end bump discipline):
        # keys the read() DataFrame memo below so a write to table A does
        # not force table B's next read to re-list its files
        self.table_mutations: dict[str, int] = {}
        # (name, keep_derived) → (table_mutations at build, DataFrame).
        # A DataFrame's file index is a SNAPSHOT of the listing taken at
        # build — on the (tenant, month) fact layout that listing walks
        # ~2100 hive dirs (~2-4 s of driver work at sf10), and an
        # ingestion tick reads each hot table several times. Memoizing
        # per table-mutation epoch makes repeat reads free while any
        # content change (swap OR in-place file adoption — version dirs
        # are NOT immutable under merge_insert_missing) kills the memo
        # at the counter compare. Single-writer assumption as for
        # `mutations`; multi-writer deployments must read through.
        self._df_memo: dict[tuple, tuple[int, DataFrame]] = {}
        # per-table wall-clock phase laps of the LAST merge call (plan
        # construction / write action / adopt+compact) — the attribution
        # instrument behind the tick-cadence work; read by the profiling
        # harnesses, never by the engine itself
        self.last_merge_laps: dict[str, dict[str, float]] = {}
        # per-table writer of the LAST merge call: "arrow" (driver-owned
        # batch committed by arrow_parts, no Spark job) or "spark"
        self.last_merge_path: dict[str, str] = {}
        # a typo'd or partition-column cluster key would silently disable
        # clustering forever (part files don't carry partition columns) —
        # fail construction instead
        for tname, cols in self.cluster_by.items():
            declared = {f.name for f in schemas[tname].fields}
            parts = set(self.partitions.get(tname, []))
            bad = [c for c in cols if c not in declared or c in parts]
            if bad:
                raise ValueError(
                    f"cluster_by[{tname!r}] columns {bad} must be declared "
                    f"non-partition columns of the table"
                )
        os.makedirs(root, exist_ok=True)

    def _bump(self, tname: str) -> None:
        """Atomic start/end mutation-counter bump (global + per-table)."""
        with self._mut_lock:
            self.mutations += 1
            self.table_mutations[tname] = self.table_mutations.get(tname, 0) + 1

    # ---- version plumbing ---------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_current")

    def _resolve(self, name: str) -> str | None:
        """Current version dir, or None when the table has never been
        written. One retry covers the unobservable window inside
        ``os.replace`` on exotic filesystems."""
        for _ in range(2):
            try:
                with open(self._pointer(name)) as f:
                    v = f.read().strip()
                if v:
                    return os.path.join(self._table_dir(name), v)
            except FileNotFoundError:
                return None
        return None

    def _new_version_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), f"v-{uuid.uuid4().hex[:12]}")

    def _swap(self, name: str, new_version_dir: str) -> None:
        """Atomically point readers at ``new_version_dir``; keep the
        immediately-previous version for in-flight readers, prune older."""
        self._bump(name)  # invalidate fingerprint memos before the swap
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        prev = self._resolve(name)
        tmp = os.path.join(tdir, f"_current.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(os.path.basename(new_version_dir))
        os.replace(tmp, self._pointer(name))  # the atomicity point
        keep = {os.path.basename(new_version_dir)}
        if prev:
            keep.add(os.path.basename(prev))
        for entry in os.listdir(tdir):
            if entry.startswith("v-") and entry not in keep:
                shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)
        self.spark.catalog.refreshByPath(new_version_dir)
        self._bump(name)  # post-swap bump: memos taken mid-swap die too

    # ---- read surface --------------------------------------------------

    def exists(self, name: str) -> bool:
        return self._resolve(name) is not None

    def _read_schema(self, name: str) -> T.StructType:
        """Declared schema extended with the derived month-partition column
        (a string recovered from the hive directory names)."""
        schema = self.schemas[name]
        if name in self.month_partitions:
            dcol = self.month_partitions[name][0]
            schema = T.StructType(
                list(schema.fields) + [T.StructField(dcol, T.StringType(), True)]
            )
        return schema

    def _all_partitions(self, name: str) -> list[str]:
        cols = list(self.partitions.get(name, []))
        if name in self.month_partitions:
            cols.append(self.month_partitions[name][0])
        return cols

    def read(self, name: str, keep_derived: bool = False) -> DataFrame:
        """``keep_derived=True`` keeps the derived month-partition column in
        the result (callers that prune on it — the serving query layer —
        drop it again before output surfaces); default reads present the
        declared schema only.

        Repeat reads within one table-mutation epoch return the SAME
        DataFrame (see ``_df_memo`` in ``__init__``): its file-index
        snapshot is exactly as current as a fresh listing would be,
        because every content change bumps the epoch first."""
        mkey = (name, keep_derived)
        memo = self._df_memo.get(mkey)
        epoch = self.table_mutations.get(name, 0)
        if memo is not None and memo[0] == epoch:
            return memo[1]
        vdir = self._resolve(name)
        if vdir is None:
            df = self.spark.createDataFrame([], self._read_schema(name))
        else:
            reader = self.spark.read
            if self._all_partitions(name):
                # fix partition-column types (hive dirs would infer strings)
                reader = reader.schema(self._read_schema(name))
            df = reader.parquet(vdir)
        # project to declared column order (schema is fixed, never inferred)
        cols = [f.name for f in self.schemas[name].fields]
        if keep_derived and name in self.month_partitions:
            cols.append(self.month_partitions[name][0])
        out = df.select(*cols)
        self._df_memo[mkey] = (epoch, out)
        return out

    # ---- writers -------------------------------------------------------

    def _write_table_parquet(self, name: str, df: DataFrame, dest: str) -> None:
        """The one writer body (schema projection + table partitioning),
        shared by version writes and staging writes."""
        out = df.select(*[f.name for f in self.schemas[name].fields])
        if name in self.month_partitions:
            # derive the month bucket at write time (deterministic from the
            # timestamp column, so rewrites land rows in the same dirs)
            dcol, src = self.month_partitions[name]
            out = out.withColumn(dcol, F.date_format(F.col(src), "yyyy-MM"))
        pcols = self._all_partitions(name)
        if pcols:
            # shuffle each hive partition's rows into ONE task before the
            # partitioned write: without this every task writes a file into
            # every partition dir it sees — tasks × partitions files (a
            # bulk load of (25 tenants × 84 months) on 32 tasks measured
            # ~67k tiny files and minutes of file-open overhead). After:
            # one file per partition dir; compaction re-splits oversized
            # dirs at its usual threshold.
            out = out.repartition(*[F.col(c) for c in pcols])
        sort_cols = [c for c in self.cluster_by.get(name, []) if c in out.columns]
        if sort_cols:
            # cluster on EVERY publish, not only at compaction: the task may
            # hold several hive partitions after the repartition, so lead
            # with the partition columns — each output file then comes out
            # sorted by the cluster key and its row-group min/max stats are
            # tight disjoint ranges from day one (the KV tier's point reads
            # and range scans prune on them; no extra shuffle — the rows
            # are already placed, this only orders them within the task)
            out = out.sortWithinPartitions(*(list(pcols) + sort_cols))
        writer = out.write.mode("overwrite")
        if name in self.block_size:
            writer = writer.option("parquet.block.size", str(self.block_size[name]))
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(dest)

    def _write_version(self, name: str, df: DataFrame) -> str:
        vdir = self._new_version_dir(name)
        self._write_table_parquet(name, df, vdir)
        return vdir

    def overwrite(self, name: str, df: DataFrame | pa.Table) -> None:
        """Full replace as a new snapshot + pointer swap (readers of the
        previous snapshot keep their files until the next swap).

        Rows at or under :data:`ARROW_COMMIT_MAX_ROWS` are written with
        pyarrow in Spark's layout (``arrow_parts``); a DataFrame gets there
        through one collect capped one row past the cut-off. Above it, or
        for a column type Arrow cannot write as Spark does, the Spark
        writer writes the frame. ``last_merge_path[name]`` records which
        writer ran."""
        tbl = self._arrow_overwrite_rows(name, df)
        if tbl is None:
            if isinstance(df, pa.Table):
                df = self._arrow_to_df(name, df)
            self.last_merge_path[name] = "spark"
            vdir = self._write_version(name, df)
        else:
            self.last_merge_path[name] = "arrow"
            vdir = self._new_version_dir(name)
            self._write_arrow(name, tbl, vdir)
        self._swap(name, vdir)

    def _arrow_overwrite_rows(self, name: str, df: DataFrame | pa.Table) -> pa.Table | None:
        """``df``'s declared columns as an Arrow table with the declared
        types and the frame's nullability, or None when the Spark writer
        must write it: an Arrow-unwritable table, a frame whose column
        types differ from the declared ones (the Spark writer keeps the
        frame's), or more than ARROW_COMMIT_MAX_ROWS rows."""
        if not self._arrow_writable(name):
            return None
        cols = [f.name for f in self.schemas[name].fields]
        if isinstance(df, pa.Table):
            return df.select(cols) if df.num_rows <= ARROW_COMMIT_MAX_ROWS else None
        out = df.select(*cols)
        declared = self.schemas[name]
        if [f.dataType for f in out.schema.fields] != [f.dataType for f in declared.fields]:
            return None
        tbl = out.limit(ARROW_COMMIT_MAX_ROWS + 1).toArrow()
        if tbl.num_rows > ARROW_COMMIT_MAX_ROWS:
            return None
        # toArrow hands timestamps over as timestamp[us, tz=UTC]; the files
        # hold the same UTC instants as naive microseconds
        return tbl.cast(arrow_parts.arrow_schema(out.schema))

    # ---- MERGE emulation ----------------------------------------------

    def merge_insert_missing(
        self,
        name: str,
        batch: DataFrame | pa.Table,
        keys: list[str],
        partition_values: list[tuple] | None = None,
        assume_nonempty: bool = False,
        assume_unique: bool = False,
    ) -> int:
        """INSERT … ON CONFLICT DO NOTHING. Returns #rows inserted (the
        discovery metric the reference emits per entity —
        PrimaryDataExplorationService.scala:58,92,247).

        ``partition_values`` / ``assume_nonempty``: driver-known-batch fast
        path. A caller whose batch originates from DRIVER data (the
        ingestion tick's local twin) already knows the partition-column
        value set and that the batch is non-empty; passing them skips two
        Spark actions per merge (the pvals collect and the isEmpty gate)
        — under 32 concurrent serving clients each action costs 1.5–3 s
        of contended scheduling regardless of size, and these two were
        measured inside the 9.9 s contended transfer+abc stage. With
        ``assume_nonempty`` a REPLAYED batch whose anti-join comes up
        empty just writes an empty staging dir and adopts zero files —
        one wasted action on the rare replay instead of one extra action
        on every normal tick.

        ``assume_unique``: the caller vouches the batch is already
        PK-unique (the tick's batches come from driver dicts KEYED by the
        PK), skipping the dropDuplicates — which on a partitioned write
        plan is a full Exchange + two SortAggregate stages per merge even
        for a 1000-row batch (micro-probed ~0.2-0.3 s of the ~1.1 s
        steady merge). A non-unique batch passed with this flag would let
        duplicate PK rows coexist in one snapshot — only set it from
        call sites whose batch is a dict-keyed driver twin.

        A ``pyarrow.Table`` batch (driver-owned rows, declared column
        names) commits with NO Spark job while it and the rows of the hive
        dirs it must probe stay within :data:`ARROW_COMMIT_MAX_ROWS`: the
        key check reads only the PK columns of the touched first-level
        partition dirs (row groups pruned by min/max), the new rows are
        written to staging in Spark's layout (``arrow_parts``), and the
        same adopt/refresh/compact commit as the Spark plan publishes
        them. Above the cut-off the table is handed to the Spark plan."""
        self.last_adopted_files = []  # never carry a previous merge's files
        laps = self.last_merge_laps[name] = {}
        _t0 = time.perf_counter()
        if isinstance(batch, pa.Table):
            fresh_tbl = self._arrow_missing_rows(name, batch, keys, assume_unique)
            if fresh_tbl is not None:
                self.last_merge_path[name] = "arrow"
                laps["plan"] = time.perf_counter() - _t0
                if fresh_tbl.num_rows == 0:
                    laps["write_action"] = laps["adopt"] = 0.0
                    return 0
                staging = f"{self._table_dir(name)}.stage-{uuid.uuid4().hex[:8]}"
                try:
                    _t0 = time.perf_counter()
                    self._write_arrow(name, fresh_tbl, staging)
                    laps["write_action"] = time.perf_counter() - _t0
                    _t0 = time.perf_counter()
                    n = self._commit_staging(name, staging)
                    laps["adopt"] = time.perf_counter() - _t0
                    return n
                finally:
                    shutil.rmtree(staging, ignore_errors=True)
            batch = self._arrow_to_df(name, batch)
        self.last_merge_path[name] = "spark"
        # dedupe the batch itself on PK first (replayed fixtures)
        fresh = batch if assume_unique else batch.dropDuplicates(keys)
        if self.exists(name):
            current = self.read(name)
            # partition-pruned anti-join: only scan partitions the batch
            # touches (O(batch partitions), not O(table))
            pcols = [c for c in self.partitions.get(name, []) if c in keys]
            need_anti = True
            if pcols:
                pvals = (
                    [tuple(r) for r in partition_values]
                    if partition_values is not None
                    else fresh.select(*pcols).distinct().collect()
                )
                if 0 < len(pvals) <= MAX_PRUNE_PARTITIONS:
                    if len(pcols) == 1:
                        # dir-existence pruning: values with no partition
                        # dir cannot conflict — and when NONE exist (the
                        # steady tick's fresh-tenant wave) the anti-join
                        # and its broadcast job disappear from the plan
                        pvals = self._present_partition_values(
                            name, pcols[0], pvals
                        )
                        need_anti = bool(pvals)
                    if need_anti:
                        # only built when the anti-join below consumes it —
                        # on the pruned fresh-partition wave `current` is
                        # dead and filtering it is wasted plan construction
                        for i, c in enumerate(pcols):
                            current = current.filter(
                                self._partition_filter(c, [row[i] for row in pvals])
                            )
            if need_anti:
                # no broadcast hint on current_keys: that side is the TABLE's
                # key set (unbounded at scale — forcing it driver-side is an
                # OOM hazard); AQE picks broadcast itself iff the pruned side
                # is small
                current_keys = current.select(*keys)
                fresh = fresh.join(
                    current_keys,
                    self._key_cond(fresh, current_keys, keys),
                    "left_anti",
                )
        # plan introspection for tests: the physical plan of what gets
        # written (pins the no-forced-broadcast property in CI)
        self.last_insert_plan = fresh
        # empty-batch short-circuit: an idle ingestion tick must not touch
        # the table directory at all (no staging write, no adopt, no refresh).
        # With ``assume_nonempty`` the isEmpty probe is skipped and the
        # staging write is the ONLY action over ``fresh`` — caching for a
        # single consumer is pure block-manager overhead, so skip it too.
        cached = not assume_nonempty
        if cached:
            fresh = fresh.cache()
        # the staging dir is removed on EVERY exit path (a failed write or
        # adopt must not leak '<table>.stage-xxxx' directories tick after
        # tick)
        staging = f"{self._table_dir(name)}.stage-{uuid.uuid4().hex[:8]}"
        laps["plan"] = time.perf_counter() - _t0
        _t0 = time.perf_counter()
        try:
            try:
                if not assume_nonempty and fresh.isEmpty():
                    # keep the laps contract total: profiling consumers may
                    # index write_action/adopt on an idle-tick merge too
                    laps["write_action"] = laps["adopt"] = 0.0
                    return 0
                # materialize to a staging dir FIRST, then move the part
                # files in: appending from a plan that reads the target dir
                # could recompute mid-append (cache eviction) and observe
                # its own output — the classic read-your-own-append
                # duplication hazard
                self._write_table_parquet(name, fresh, staging)
            finally:
                if cached:
                    fresh.unpersist()
            laps["write_action"] = time.perf_counter() - _t0
            _t0 = time.perf_counter()
            n = self._commit_staging(name, staging)
            laps["adopt"] = time.perf_counter() - _t0
            return n
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _commit_staging(self, name: str, staging: str) -> int:
        """Publish an insert-missing batch written to ``staging`` (either
        writer): adopt its part files into the current version — or into a
        first version, swapped in — then refresh and compact the touched
        dirs. Returns the row count adopted."""
        vdir = self._resolve(name)
        if vdir is None:
            vdir = self._new_version_dir(name)
            n, adopted = self._adopt_files(staging, vdir)
            if adopted:
                self._swap(name, vdir)
            else:
                # an ``assume_nonempty`` batch that came up empty: a
                # version dir with no parquet file would make every
                # later read fail schema inference, so the table stays
                # absent and ``read`` serves its empty schema frame
                shutil.rmtree(vdir, ignore_errors=True)
        else:
            n, adopted = self._adopt_files(staging, vdir)
            if n:
                self.spark.catalog.refreshByPath(vdir)
                # a 2 s append cadence accumulates one part-file set per
                # tick; compact over-fragmented partitions before they
                # become the classic small-file problem. Only the dirs
                # THIS adopt touched can newly cross the threshold, so
                # the fragmentation check is O(touched dirs), never a
                # per-tick walk of the whole table (GIL-convoy fodder
                # under concurrent serving; absurd at 100 TB width)
                self.compact(
                    name,
                    dirs={os.path.dirname(p) for p in adopted},
                )
        return n

    # ---- the Arrow (no Spark job) commit path ---------------------------

    def _arrow_writable(self, name: str) -> bool:
        """Every column of ``name`` has a Spark-identical Arrow encoding and
        every partition column decodes from its dir name."""
        schema = self.schemas[name]
        if any(arrow_parts.arrow_type(f.dataType) is None for f in schema.fields):
            return False
        types = {f.name: f.dataType for f in schema.fields}
        return all(
            isinstance(types[c], (T.StringType, T.IntegerType, T.LongType))
            for c in self.partitions.get(name, [])
        )

    def _arrow_files(self, name: str, vdir: str, pvals) -> list[tuple[str, dict]]:
        """(path, typed partition values) of the data files under the
        first-level partition dirs holding ``pvals`` (values of the first
        partition column; None = every file of the version)."""
        pcols = self.partitions.get(name, [])
        if pvals is None or not pcols:
            tops = [vdir]
        else:
            want = {f"{pcols[0]}={self._part_dir_value(v)}" for v in pvals}
            rows = [(v,) for v in pvals]
            tops = [
                os.path.join(vdir, e)
                for e in sorted(os.listdir(vdir))
                if "=" in e
                and (e in want or self._unquoted_match(e, pcols[0], rows))
            ]
        types = {f.name: f.dataType for f in self.schemas[name].fields}
        out = []
        for top in tops:
            for path in arrow_parts.parquet_files(top):
                raw = arrow_parts.dir_values(os.path.relpath(path, vdir))
                out.append((path, {
                    c: arrow_parts.typed_partition_value(raw.get(c), types[c])
                    for c in pcols
                }))
        return out

    def _arrow_scope(
        self, name: str, batch: pa.Table, keys: list[str], assume_unique: bool,
        vdir: str | None, pvals,
    ):
        """``(deduped batch, [(path, partition values, footer)])`` of the
        files under the first-level dirs holding ``pvals`` (None = the whole
        version), or None when the batch must take the Spark plan: a column
        type Arrow cannot write as Spark does, or more than
        ARROW_COMMIT_MAX_ROWS rows in the batch plus those files."""
        if not self._arrow_writable(name):
            return None
        fresh = batch if assume_unique else arrow_parts.dedupe(batch, keys)
        files = [
            (path, fixed, pq.read_metadata(path))
            for path, fixed in (self._arrow_files(name, vdir, pvals) if vdir else [])
        ]
        if fresh.num_rows + sum(md.num_rows for *_, md in files) > ARROW_COMMIT_MAX_ROWS:
            return None
        return fresh, files

    def _arrow_missing_rows(
        self, name: str, batch: pa.Table, keys: list[str], assume_unique: bool
    ) -> pa.Table | None:
        """The rows of ``batch`` whose key the table does not hold yet, or
        None when the batch must take the Spark plan."""
        pcols = self.partitions.get(name, [])
        # partition-pruned key probe, the same scope as the Spark
        # anti-join: the first-level dirs of the batch's partition values
        # when that column is part of the key, else the whole version
        pvals = (
            sorted(set(arrow_parts.column_values(batch, pcols[0])), key=str)
            if pcols and pcols[0] in keys
            else None
        )
        scope = self._arrow_scope(
            name, batch, keys, assume_unique, self._resolve(name), pvals
        )
        if scope is None:
            return None
        fresh, files = scope
        held = arrow_parts.held_rows(
            files, fresh, keys, {c for c in pcols if c in keys}
        )
        return fresh.filter(pc.invert(held))

    def _write_arrow(self, name: str, table: pa.Table, dest: str) -> None:
        """The Arrow twin of :meth:`_write_table_parquet`."""
        arrow_parts.write_parts(
            table,
            dest,
            self.schemas[name],
            list(self.partitions.get(name, [])),
            self.month_partitions.get(name),
            self.cluster_by.get(name, []),
            self.block_size.get(name),
        )

    def _arrow_to_df(self, name: str, table: pa.Table) -> DataFrame:
        """A driver-owned Arrow batch as a one-slice DataFrame with the
        declared types and the batch's nullability (the Spark plan's
        input when the Arrow path declines)."""
        from ..materialize import driver_df

        struct = arrow_parts.spark_struct(table, self.schemas[name])
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        return driver_df(self.spark, rows, struct)

    def compact(
        self,
        name: str,
        threshold: int | None = None,
        dirs: set[str] | None = None,
    ) -> int:
        """Compact over-fragmented partition directories into right-sized
        files — the Delta OPTIMIZE / Iceberg rewrite_data_files story for
        the file-level append path, at snapshot granularity.

        Directories holding more than ``threshold`` parquet files are read
        back and rewritten as ~:data:`TARGET_FILE_BYTES` files in a NEW
        version dir; every healthy directory's files are hard-linked in
        unchanged; the pointer swap publishes the compacted snapshot
        atomically, so in-flight readers keep the previous version's files
        (the same two-snapshot contract as upsert). I/O is O(fragmented
        data) + O(#files) metadata, never O(table). The fragmentation scan
        here walks the version dir — on a real object store this is one
        manifest listing, not a filesystem walk. Returns #dirs compacted.
        """
        threshold = self.compact_threshold if threshold is None else threshold
        vdir = self._resolve(name)
        if vdir is None:
            return 0
        frag: set[str] = set()
        if dirs is not None:
            # caller-scoped fragmentation check (the per-merge path): only
            # the dirs the append touched can have crossed the threshold —
            # O(touched dirs) listdir instead of an O(table) walk per tick
            for dirpath in dirs:
                try:
                    n_pq = sum(
                        1 for f in os.listdir(dirpath) if f.endswith(".parquet")
                    )
                except OSError:
                    continue  # raced with a concurrent swap — next pass sees it
                if n_pq > threshold:
                    frag.add(dirpath)
        else:
            for dirpath, _dn, filenames in os.walk(vdir):
                if sum(1 for f in filenames if f.endswith(".parquet")) > threshold:
                    frag.add(dirpath)
        if not frag:
            return 0
        new_vdir = self._new_version_dir(name)
        staging = f"{self._table_dir(name)}.compact-{uuid.uuid4().hex[:8]}"
        try:
            for dirpath, _dn, filenames in os.walk(vdir):
                rel = os.path.relpath(dirpath, vdir)
                dest_dir = new_vdir if rel == "." else os.path.join(new_vdir, rel)
                os.makedirs(dest_dir, exist_ok=True)
                pq_files = sorted(
                    os.path.join(dirpath, f) for f in filenames if f.endswith(".parquet")
                )
                if dirpath in frag:
                    self._compact_dir(name, pq_files, dest_dir, staging)
                else:
                    for fname in pq_files:
                        d = os.path.join(dest_dir, os.path.basename(fname))
                        try:
                            os.link(fname, d)
                        except OSError:
                            shutil.copy2(fname, d)
            self._swap(name, new_vdir)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return len(frag)

    def _compact_dir(
        self, name: str, pq_files: list[str], dest_dir: str, staging: str
    ) -> None:
        """Rewrite one fragmented hive dir's ``pq_files`` into ``dest_dir``
        as ⌈bytes / TARGET_FILE_BYTES⌉ files sorted by ``cluster_by`` —
        with pyarrow while the files hold at most ARROW_COMMIT_MAX_ROWS
        rows (footer counts), else with Spark (via ``staging``). Either
        writer reads the raw part files back, so every output column is
        nullable; rewriting into the same hive dir keeps the layout."""
        total = sum(os.path.getsize(f) for f in pq_files)
        n_out = max(1, -(-total // TARGET_FILE_BYTES))
        pcols = set(self.partitions.get(name, []))
        data = [f for f in self.schemas[name].fields if f.name not in pcols]
        sort_cols = self.cluster_by.get(name, [])  # non-partition columns
        files = [(p, {}, pq.read_metadata(p)) for p in pq_files]
        if (
            self._arrow_writable(name)
            and sum(md.num_rows for *_, md in files) <= ARROW_COMMIT_MAX_ROWS
        ):
            schema = arrow_parts.arrow_schema(T.StructType(data))
            schema = pa.schema([f.with_nullable(True) for f in schema])
            rows = arrow_parts.sort_rows(arrow_parts.read_rows(files, schema), sort_cols)
            step = max(1, -(-rows.num_rows // n_out))
            tag = uuid.uuid4().hex[:8]
            for i, start in enumerate(range(0, max(1, rows.num_rows), step)):
                arrow_parts.write_file(
                    rows.slice(start, step),
                    os.path.join(
                        dest_dir,
                        f"compact-{tag}-part-{i:05d}-{uuid.uuid4()}.c000.snappy.parquet",
                    ),
                    self.block_size.get(name),
                )
            return
        merged = self.spark.read.parquet(*pq_files).coalesce(n_out)
        if sort_cols:
            # sort WITHIN each output file: tight disjoint row-group
            # min/max stats without a global shuffle
            merged = merged.sortWithinPartitions(*sort_cols)
        cw = merged.write.mode("overwrite")
        if name in self.block_size:
            cw = cw.option("parquet.block.size", str(self.block_size[name]))
        cw.parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(staging, f),
                    os.path.join(dest_dir, f"compact-{uuid.uuid4().hex[:8]}-{f}"),
                )

    def _adopt_files(self, staging: str, target: str) -> tuple[int, list[str]]:
        """Move parquet part files from staging into the version dir
        (file-level append — each part file appears atomically via rename,
        so concurrent readers see whole files or nothing). Returns
        ``(row count adopted, adopted destination paths)``; the paths also
        land in ``last_adopted_files`` (file-level CDC for append-only
        consumers), but callers that may run CONCURRENTLY with another
        table's merge must use the RETURNED list — the shared attribute
        can be overwritten by the other thread between adopt and use."""
        import pyarrow.parquet as pq

        n_rows = 0
        adopted: list[str] = []
        os.makedirs(target, exist_ok=True)
        tname = os.path.relpath(target, self.root).split(os.sep)[0]
        self._bump(tname)  # invalidate fingerprint memos before adopting
        for dirpath, _dirnames, filenames in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            for fname in filenames:
                if not fname.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, fname)
                file_rows = pq.read_metadata(src).num_rows
                if file_rows == 0:
                    # an empty non-partitioned write leaves one schema-only
                    # 0-row part file (SPARK-23271) — e.g. a replayed batch
                    # whose anti-join emptied. Adopting it would litter the
                    # version dir and surface a no-op file via the
                    # file-level CDC; leave it in staging for the caller's
                    # rmtree instead
                    continue
                n_rows += file_rows
                dest_dir = target if rel == "." else os.path.join(target, rel)
                os.makedirs(dest_dir, exist_ok=True)
                dest = os.path.join(dest_dir, f"adopt-{uuid.uuid4().hex[:8]}-{fname}")
                os.rename(src, dest)
                adopted.append(dest)
        self.last_adopted_files = adopted
        self._bump(tname)  # post-adopt bump (see __init__ note)
        return n_rows, adopted

    def _present_partition_values(self, name: str, pcol: str, pvals) -> list:
        """Subset of ``pvals`` whose first-level partition DIRECTORY exists
        in the current version dir. The hive layout is an invariant of every
        write path (partitioned writes, adopt, compaction hard-links, upsert
        hard-links), so a missing ``<pcol>=<value>`` dir PROVES the table
        holds no rows with that value — the MERGE anti-join/copy-on-write
        read can skip those values entirely (the steady ingestion tick's
        batches land under a fresh tenant, where this removes the whole
        current-side subplan: one fewer broadcast job per merge, guide
        §2.4). Conservative in both the quoted and legacy-unquoted dir
        encodings; an EMPTY existing dir counts as present (harmless: the
        pruned read just sees zero rows)."""
        vdir = self._resolve(name)
        if vdir is None:
            return []
        entries = [e for e in os.listdir(vdir) if "=" in e]
        present = []
        for row in pvals:
            d = f"{pcol}={self._part_dir_value(row[0])}"
            if d in entries or any(
                self._unquoted_match(e, pcol, [row]) for e in entries
            ):
                present.append(row)
        return present

    def merge_upsert(
        self,
        name: str,
        batch: DataFrame | pa.Table,
        keys: list[str],
        partition_values: list[tuple] | None = None,
        assume_nonempty: bool = False,
        want_counts: bool = True,
        insert_only_col: str | None = None,
        assume_unique: bool = False,
    ) -> tuple[int, int]:
        """INSERT … ON CONFLICT DO UPDATE. Returns (#inserted, #updated),
        or ``(-1, -1)`` when ``want_counts=False``.

        ``insert_only_col``: name of a BOOLEAN column on ``batch`` marking
        rows that carry DO NOTHING semantics inside this one MERGE — if
        the key already exists in the table, the EXISTING row wins and the
        batch row is dropped (the remaining rows keep DO UPDATE). The
        column itself is never written. This lets one fused write action
        combine marker advances (assignment semantics) with discovery rows
        (insert-if-missing) without trusting any external index for the
        "missing" claim: the anti-join here reads the (partition-pruned)
        table itself, so a false negative upstream can never rewind a live
        row. Keys must not appear in both halves of the batch (the PK
        dedupe would pick one arbitrarily).

        ``partition_values`` / ``assume_nonempty``: the same driver-known-
        batch fast path as :meth:`merge_insert_missing` — skips the pvals
        collect and the isEmpty gate (one contended Spark action each)
        when the caller's batch is driver data with known partition values.

        ``want_counts=False`` skips the THREE count actions whose only
        purpose is the (inserted, updated) return metric (touched, kept,
        batch) — the ingestion tick's account MERGE ignores the return,
        and under 32 serving clients those three actions were most of the
        marker-advance stage's wall.

        Copy-on-write: with a partitioned table whose partition columns are
        part of the PK, only the partitions the batch touches are recomputed
        and rewritten; every other partition's files are hard-linked into
        the new snapshot unchanged — O(touched partitions) I/O, O(#files)
        metadata, never O(table).

        A ``pyarrow.Table`` batch (the ingestion tick's account batch when
        :meth:`merge_upsert_prepare` declines it) runs the same Spark plan;
        ``last_merge_path[name]`` records "spark"."""
        _t0 = time.perf_counter()
        if isinstance(batch, pa.Table):
            batch = self._arrow_to_df(name, batch)
        fresh = (batch if assume_unique else batch.dropDuplicates(keys)).cache()
        try:
            if not assume_nonempty and fresh.isEmpty():
                return 0, 0
            if not self.exists(name):
                if insert_only_col:
                    fresh = fresh.drop(insert_only_col)
                n = fresh.count()
                self.overwrite(name, fresh)
                return n, 0
            pcols = self.partitions.get(name, [])
            # copy-on-write path: single-level partitioning whose column is
            # part of the PK (all warehouse hot tables) — multi-level falls
            # back to the full rewrite
            if len(pcols) == 1 and pcols[0] in keys:
                pvals = (
                    [tuple(r) for r in partition_values]
                    if partition_values is not None
                    else fresh.select(*pcols).distinct().collect()
                )
                if 0 < len(pvals) <= MAX_PRUNE_PARTITIONS:
                    return self._upsert_partitions(
                        name, fresh, keys, pcols, pvals, want_counts,
                        insert_only_col,
                    )
            return self._upsert_full(name, fresh, keys, want_counts,
                                     insert_only_col)
        finally:
            fresh.unpersist()
            # the verb ran its Spark plan, whichever writer a nested
            # overwrite (first version, full rewrite) took
            self.last_merge_path[name] = "spark"
            self.last_merge_laps[name] = {"write_action": time.perf_counter() - _t0}

    def merge_upsert_prepare(
        self,
        name: str,
        batch: DataFrame | pa.Table,
        keys: list[str],
        partition_values: list[tuple],
        insert_only_col: str | None = None,
        assume_unique: bool = False,
    ):
        """Stage a :meth:`merge_upsert`'s new snapshot WITHOUT publishing
        it — the expensive part (the copy-on-write partition rewrite, one
        Spark write action) runs now, possibly CONCURRENTLY with merges to
        OTHER tables; the durability point (the pointer swap) is deferred
        to :meth:`merge_upsert_commit`. This is how the ingestion tick
        keeps the D10 "markers advance LAST" contract while overlapping
        the account MERGE's staging write with the transfer/abc pair:
        ordering is needed on the RENAME, not on the parquet write.

        Driver-known-batch contract only: ``partition_values`` required,
        batch assumed non-empty, no counts. Returns an opaque handle for
        commit/abort, or ``None`` when the fast-stage preconditions don't
        hold (not single-level PK-partitioned, more than
        :data:`MAX_PRUNE_PARTITIONS` partitions) — the caller then falls
        back to plain merge_upsert. An absent table stages its first
        version: the batch itself.

        The caller MUST NOT write ``name`` between prepare and commit
        (commit verifies and refuses). An uncommitted staged dir is
        harmless: invisible to readers, pruned by the next ``_swap`` of
        the table (or by :meth:`merge_upsert_abort`).

        A ``pyarrow.Table`` batch stages with NO Spark job while it and
        the touched partitions (row counts from the parquet footers) stay
        within :data:`ARROW_COMMIT_MAX_ROWS`: the touched partitions are
        read with pyarrow, merged with the same DO UPDATE / insert-only
        rules (vectorized key matches, ``arrow_parts.key_hits``) and
        written in Spark's layout; the untouched partitions are
        hard-linked and the handle commits through the same
        :meth:`merge_upsert_commit`."""
        pcols = self.partitions.get(name, [])
        if not (len(pcols) == 1 and pcols[0] in keys):
            return None
        pvals = [tuple(r) for r in partition_values]
        if not (0 < len(pvals) <= MAX_PRUNE_PARTITIONS):
            return None
        old_vdir = self._resolve(name)
        laps = self.last_merge_laps[name] = {}
        _t0 = time.perf_counter()
        # dir-existence pruning (see _present_partition_values): values with
        # no partition dir hold no rows, so the copy-on-write read restricts
        # to the PRESENT subset — and when none are present (the steady
        # tick's fresh-tenant wave) there is nothing to keep or conflict
        # with: the staged snapshot is exactly the batch, no table read, no
        # anti-joins, one write job over the batch itself
        present = self._present_partition_values(name, pcols[0], pvals)
        merged_tbl = None
        if isinstance(batch, pa.Table):
            merged_tbl = self._arrow_upsert_rows(
                name, batch, keys, present, insert_only_col, assume_unique, old_vdir
            )
            if merged_tbl is None:
                batch = self._arrow_to_df(name, batch)
        if merged_tbl is not None:
            self.last_merge_path[name] = "arrow"
            laps["plan"] = time.perf_counter() - _t0
            _t0 = time.perf_counter()
            new_vdir = self._new_version_dir(name)
            self._write_arrow(name, merged_tbl, new_vdir)
        else:
            self.last_merge_path[name] = "spark"
            fresh = batch if assume_unique else batch.dropDuplicates(keys)
            if present:
                touched = self.read(name)
                for i, c in enumerate(pcols):
                    touched = touched.filter(
                        self._partition_filter(c, [row[i] for row in present])
                    )
                batch_keys, fresh_eff = self._split_insert_only(
                    fresh, touched, keys, insert_only_col
                )
                kept = touched.join(
                    F.broadcast(batch_keys),
                    self._key_cond(touched, batch_keys, keys),
                    "left_anti",
                )
                merged = kept.unionByName(fresh_eff)
            else:
                merged = fresh.drop(insert_only_col) if insert_only_col else fresh
            # the ONE Spark action of the stage: write the merged touched
            # partitions into an unpublished version dir
            laps["plan"] = time.perf_counter() - _t0
            _t0 = time.perf_counter()
            new_vdir = self._write_version(name, merged)
        laps["write_action"] = time.perf_counter() - _t0
        _t0 = time.perf_counter()
        if old_vdir is not None:
            self._link_untouched(old_vdir, new_vdir, pcols[0], pvals)
        laps["adopt"] = time.perf_counter() - _t0
        return (name, old_vdir, new_vdir)

    def _arrow_upsert_rows(
        self, name, batch: pa.Table, keys, present, insert_only_col,
        assume_unique, old_vdir,
    ) -> pa.Table | None:
        """The Arrow body of :meth:`merge_upsert_prepare`: the rows of the
        touched partitions after the MERGE (kept rows + DO UPDATE rows +
        insert-only rows whose key is absent), or None when the batch must
        take the Spark plan."""
        scope = self._arrow_scope(
            name, batch, keys, assume_unique, old_vdir, [row[0] for row in present]
        )
        if scope is None:
            return None
        fresh, files = scope
        cols = [f.name for f in self.schemas[name].fields]
        if insert_only_col:
            flags = arrow_parts.column_values(fresh, insert_only_col)
            ups = fresh.filter(pa.array([not f for f in flags])).select(cols)
            ins = fresh.filter(pa.array(flags)).select(cols)
        else:
            ups, ins = fresh.select(cols), None
        if present:
            # the Spark plan reads the touched partitions back, so every
            # column of its output is nullable; mirror that in the file
            schema = pa.schema([f.with_nullable(True) for f in ups.schema])
            touched = arrow_parts.read_rows(files, schema)
            parts = [
                touched.filter(pc.invert(arrow_parts.key_hits(touched, keys, ups))),
                ups.cast(schema),
            ]
            if ins is not None:
                held = arrow_parts.key_hits(ins, keys, touched)
                parts.append(ins.filter(pc.invert(held)).cast(schema))
            merged = pa.concat_tables(parts)
        else:
            merged = pa.concat_tables([ups, ins]) if ins is not None else ups
        return merged

    def _link_untouched(self, old_vdir: str, new_vdir: str, pcol: str, pvals) -> None:
        """Hard-link every first-level partition dir of ``old_vdir`` the
        batch's ``pvals`` do not touch into ``new_vdir``."""
        touched_dirs = {f"{pcol}={self._part_dir_value(row[0])}" for row in pvals}
        for entry in os.listdir(old_vdir):
            src = os.path.join(old_vdir, entry)
            if not (os.path.isdir(src) and "=" in entry):
                continue
            if entry in touched_dirs or self._unquoted_match(entry, pcol, pvals):
                continue
            self._link_tree(src, os.path.join(new_vdir, entry))

    def merge_upsert_commit(self, prep) -> None:
        """Publish a prepared upsert (the durability point — one pointer
        rename). Refuses if the table was written between prepare and
        commit: the staged snapshot was derived from ``old_vdir`` and
        would silently drop the intervening write."""
        name, old_vdir, new_vdir = prep
        if self._resolve(name) != old_vdir:
            shutil.rmtree(new_vdir, ignore_errors=True)
            raise RuntimeError(
                f"merge_upsert_commit({name}): table changed between "
                f"prepare and commit — staged snapshot discarded"
            )
        self._swap(name, new_vdir)

    def merge_upsert_abort(self, prep) -> None:
        """Discard a prepared-but-uncommitted snapshot (also self-heals
        via _swap's orphan prune if never called)."""
        shutil.rmtree(prep[2], ignore_errors=True)

    def merge_delete(self, name: str, batch: DataFrame, keys: list[str]) -> int:
        """DELETE by key set (the MERGE … WHEN MATCHED THEN DELETE verb —
        GDPR/right-to-be-forgotten over a key list). Returns #rows deleted.

        Same copy-on-write discipline as :meth:`merge_upsert`: on a
        partitioned table whose partition column is in the key, only the
        partitions the key batch touches are rewritten; everything else is
        hard-linked into the new snapshot. Deleting keys that don't exist
        is a no-op (idempotent — a replayed deletion request deletes
        nothing twice). The previous version dir stays on disk for
        in-flight readers until the next write prunes it."""
        doomed = batch.dropDuplicates(keys).select(*keys).cache()
        try:
            if not self.exists(name) or doomed.isEmpty():
                return 0
            pcols = self.partitions.get(name, [])
            if len(pcols) == 1 and pcols[0] in keys:
                pvals = doomed.select(*pcols).distinct().collect()
                if 0 < len(pvals) <= MAX_PRUNE_PARTITIONS:
                    return self._delete_partitions(name, doomed, keys, pcols, pvals)
            current = self.read(name).cache()
            try:
                kept = current.join(
                    F.broadcast(doomed),
                    self._key_cond(current, doomed, keys),
                    "left_anti",
                )
                n_total = current.count()
                n_kept = kept.count()
                if n_kept == n_total:
                    return 0  # nothing matched: don't churn a new version
                self.overwrite(name, kept)
            finally:
                current.unpersist()
            return n_total - n_kept
        finally:
            doomed.unpersist()

    def _delete_partitions(
        self, name: str, doomed: DataFrame, keys: list[str], pcols: list[str], pvals
    ) -> int:
        """Rewrite only the partitions the doomed keys touch; hard-link the
        rest — the deletion twin of :meth:`_upsert_partitions`."""
        old_vdir = self._resolve(name)
        touched = self.read(name)
        for i, c in enumerate(pcols):
            touched = touched.filter(
                self._partition_filter(c, [row[i] for row in pvals])
            )
        touched = touched.cache()
        try:
            kept = touched.join(
                F.broadcast(doomed), self._key_cond(touched, doomed, keys), "left_anti"
            )
            n_touched = touched.count()
            n_kept = kept.count()
            if n_kept == n_touched:
                return 0
            new_vdir = self._write_version(name, kept)
            for entry in os.listdir(old_vdir):
                src = os.path.join(old_vdir, entry)
                if not (os.path.isdir(src) and "=" in entry):
                    continue
                if self._unquoted_match(entry, pcols[0], pvals):
                    continue
                self._link_tree(src, os.path.join(new_vdir, entry))
            self._swap(name, new_vdir)
        finally:
            touched.unpersist()
        return n_touched - n_kept

    def _split_insert_only(
        self, fresh: DataFrame, existing: DataFrame, keys: list[str],
        insert_only_col: str | None,
    ) -> tuple[DataFrame, DataFrame]:
        """Resolve an ``insert_only_col``-tagged batch against the existing
        rows it may conflict with. Returns ``(batch_keys, fresh_eff)``:
        the key set whose existing rows the caller must drop (upsert rows
        only — existing rows WIN against insert-only rows), and the
        effective row set to append (upsert rows + insert-only rows whose
        key is absent from ``existing``, flag column removed). All lazy:
        the extra anti-join rides the caller's single write action."""
        if not insert_only_col:
            return fresh.select(*keys), fresh
        flag = F.col(insert_only_col)
        ups = fresh.filter(~flag).drop(insert_only_col)
        ins = fresh.filter(flag).drop(insert_only_col)
        existing_keys = existing.select(*keys)
        ins = ins.join(
            existing_keys, self._key_cond(ins, existing_keys, keys), "left_anti"
        )
        return ups.select(*keys), ups.unionByName(ins)

    def _upsert_full(
        self, name: str, fresh: DataFrame, keys: list[str],
        want_counts: bool = True, insert_only_col: str | None = None,
    ) -> tuple[int, int]:
        current = self.read(name).cache()
        try:
            batch_keys, fresh_eff = self._split_insert_only(
                fresh, current, keys, insert_only_col
            )
            kept = current.join(
                F.broadcast(batch_keys),
                self._key_cond(current, batch_keys, keys),
                "left_anti",
            )
            n_total = current.count() if want_counts else 0
            n_kept = kept.count() if want_counts else 0
            self.overwrite(name, kept.unionByName(fresh_eff))
            n_new = fresh_eff.count() if want_counts else 0
        finally:
            current.unpersist()
        if not want_counts:
            return -1, -1
        n_updated = n_total - n_kept
        return n_new - n_updated, n_updated

    def _upsert_partitions(
        self, name: str, fresh: DataFrame, keys: list[str], pcols: list[str],
        pvals, want_counts: bool = True, insert_only_col: str | None = None,
    ) -> tuple[int, int]:
        """Rewrite only touched partitions into a new snapshot; hard-link
        the rest (same filesystem → free; falls back to copy)."""
        old_vdir = self._resolve(name)
        touched = self.read(name)
        for i, c in enumerate(pcols):
            touched = touched.filter(
                self._partition_filter(c, [row[i] for row in pvals])
            )
        touched = touched.cache()
        try:
            batch_keys, fresh_eff = self._split_insert_only(
                fresh, touched, keys, insert_only_col
            )
            kept = touched.join(
                F.broadcast(batch_keys),
                self._key_cond(touched, batch_keys, keys),
                "left_anti",
            )
            n_touched = touched.count() if want_counts else 0
            n_kept = kept.count() if want_counts else 0
            merged_touched = kept.unionByName(fresh_eff)
            new_vdir = self._write_version(name, merged_touched)
            # link untouched partitions' files into the new snapshot
            self._link_untouched(old_vdir, new_vdir, pcols[0], pvals)
            self._swap(name, new_vdir)
            n_new = fresh_eff.count() if want_counts else 0
        finally:
            touched.unpersist()
        if not want_counts:
            return -1, -1
        n_updated = n_touched - n_kept
        return n_new - n_updated, n_updated

    @staticmethod
    def _key_cond(left: DataFrame, right: DataFrame, keys: list[str]) -> F.Column:
        """NULL-safe PK equality for the MERGE anti-joins: plain ``join(keys)``
        uses SQL equality, under which a NULL key never equals itself — a
        NULL-keyed row would survive every conflict check (duplicates on
        replay, phantom keeps on upsert). ``eqNullSafe`` (<=>) matches
        Postgres PK semantics where NULLs in the merge key are compared
        IS NOT DISTINCT FROM."""
        cond = None
        for k in keys:
            c = left[k].eqNullSafe(right[k])
            cond = c if cond is None else cond & c
        return cond

    @staticmethod
    def _partition_filter(col: str, vals) -> F.Column:
        """IN-list partition-pruning predicate that is NULL-safe: SQL
        ``isin`` never matches NULL, so a batch touching the
        __HIVE_DEFAULT_PARTITION__ dir needs an explicit isNull arm —
        without it the pruned read misses existing NULL-partition rows
        (phantom inserts, and rows dropped at the copy-on-write rewrite)."""
        non_null = [v for v in vals if v is not None]
        cond = F.col(col).isin(non_null) if non_null else F.lit(False)
        if any(v is None for v in vals):
            cond = cond | F.col(col).isNull()
        return cond

    @staticmethod
    def _part_dir_value(value) -> str:
        """Spark's hive-dir encoding of one partition value (its
        ``escapePathName``; NULL becomes __HIVE_DEFAULT_PARTITION__)."""
        return arrow_parts.escape_path_name(value)

    @staticmethod
    def _unquoted_match(entry: str, pcol: str, pvals) -> bool:
        col, _, raw = entry.partition("=")
        if col != pcol:
            return False
        val = arrow_parts.hive_value(raw)
        if val is None:
            return any(row[0] is None for row in pvals)
        return any(row[0] is not None and str(row[0]) == val for row in pvals)

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        for dirpath, _dirnames, filenames in os.walk(src):
            rel = os.path.relpath(dirpath, src)
            dest_dir = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(dest_dir, exist_ok=True)
            for fname in filenames:
                s = os.path.join(dirpath, fname)
                d = os.path.join(dest_dir, fname)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)
