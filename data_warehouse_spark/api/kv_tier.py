"""KV serving tier: row-group-pruned point reads over the published
parquet artifacts — the documented swap point past the snapshot cache's
driver-memory bound, implemented.

``serving_cache.ServingCache`` answers dimension lookups from
version-pinned in-memory snapshots, and refuses tables above
``max_rows`` (~2 M) because a snapshot is O(table) driver memory; the
round-6 review recorded the fallback — per-request Spark jobs, ~45 s
p95 under 32 clients pre-rollup — as the open scale gap ("beyond ~10 M
accounts a real deployment swaps this tier for a KV store fed by the
same artifacts").  This module IS that KV store, fed by exactly the
same artifacts:

* **The index is parquet metadata, not data.**  Per table version it
  records, for every part file: the hive tenant partition, and per
  row group the row count and the min/max statistics of the ``name``
  key column — O(row groups) driver memory (a few hundred bytes per
  128 MB–4 MB of data), never O(rows).
* **A point lookup reads only the row groups whose [min,max] can
  contain the key** inside the key's tenant partition.  The store
  sorts these tables by ``name`` within each tenant partition at every
  publish (``TableStore.cluster_by`` + sort-on-write), so the ranges
  are tight and disjoint and a lookup touches ~1 row group regardless
  of table size.  Correctness never depends on the sort: statistics
  are conservative bounds, a missing/overlapping stat only widens the
  read (a row group without stats is always a candidate).
* **Freshness is the same witness as everywhere** (the fingerprint /
  ``balance_view.freshness_token`` contract): the index is keyed by
  the fingerprint observed when it was built, and every serve
  re-checks the live fingerprint first — on any mismatch the caller
  gets None and uses the Spark path while the next access rebuilds
  (metadata-only, O(files)).  Part files are immutable
  (copy-on-write store), so a pinned index never reads torn data; a
  file deleted by retention mid-read raises and degrades to the Spark
  path like every other tier here.
* **Pagination** (accounts page per tenant, ordered by name) reads the
  page columns of ONE tenant partition lazily, sorts, and keeps the
  result in a small per-tenant LRU — O(hot tenants × tenant rows)
  bounded memory instead of the snapshot's O(all rows); a tenant above
  ``max_tenant_rows`` falls back to Spark for pages while point
  lookups keep working at any size (point reads are the operation a
  KV tier must never give up).

Reference parity: this serves the same Q3/Q6/Q10-Q11 read surface as
``DWH/persistence/GraphQLPersistence.scala`` (point account / balance
lookups, tenant-scoped account pages); the reference answers them with
per-request PostgreSQL queries — the KV tier is the lakehouse-shaped
equivalent of its indexed point reads.
"""

from __future__ import annotations

import bisect
import collections
import datetime
import decimal
import os
import threading

from ..sources.arrow_parts import hive_value

_TWO_DP = decimal.Decimal("0.01")
_ZERO = decimal.Decimal("0.00")


def _tenant_of(path: str, vdir: str) -> str | None:
    """Hive ``tenant=...`` value from the file's dir chain under vdir,
    or None when the table isn't tenant-partitioned."""
    d = os.path.dirname(path)
    while len(d) > len(vdir):
        base = os.path.basename(d)
        if base.startswith("tenant="):
            return hive_value(base[len("tenant="):])
        d = os.path.dirname(d)
    return None


class _RowGroup:
    __slots__ = ("index", "num_rows", "min_key", "max_key")

    def __init__(self, index: int, num_rows: int, min_key, max_key):
        self.index = index
        self.num_rows = num_rows
        self.min_key = min_key  # None → no stats → always a candidate
        self.max_key = max_key

    def may_contain(self, key: str) -> bool:
        if self.min_key is None or self.max_key is None:
            return True
        return self.min_key <= key <= self.max_key


class _FileEntry:
    __slots__ = ("path", "tenant", "row_groups", "_maxs", "_sorted")

    def __init__(self, path: str, tenant: str | None, row_groups: list[_RowGroup]):
        self.path = path
        self.tenant = tenant
        self.row_groups = row_groups
        # the point-served tables are cluster_by the key, so a file's row
        # groups form non-overlapping ascending key ranges: candidate
        # groups for a name resolve with one bisect over the max-stats
        # instead of an O(row groups) may_contain sweep. At 64 KB groups
        # a 10 M-row table has ~240 k groups (~2.4 k per file) and the
        # linear sweep — pure Python, GIL-held — dominated the lookup.
        # Unsorted/stat-less layouts keep the sweep (correctness first).
        self._maxs = [rg.max_key for rg in row_groups]
        self._sorted = (
            all(
                rg.min_key is not None
                and rg.max_key is not None
                and rg.min_key <= rg.max_key
                for rg in row_groups
            )
            and all(
                row_groups[i].max_key <= row_groups[i + 1].min_key
                for i in range(len(row_groups) - 1)
            )
        )

    def candidates(self, name: str) -> list[_RowGroup]:
        """Row groups that may contain ``name`` — O(log n) on sorted files
        (≤2 groups: boundary keys can close one group and open the next)."""
        if not self._sorted:
            return [rg for rg in self.row_groups if rg.may_contain(name)]
        j = bisect.bisect_left(self._maxs, name)
        out = []
        while j < len(self.row_groups) and self.row_groups[j].min_key <= name:
            out.append(self.row_groups[j])
            j += 1
        return out


class _TableIndex:
    """Metadata index of ONE pinned table version."""

    def __init__(self, fingerprint: str, by_tenant: dict, unpartitioned: list):
        self.fingerprint = fingerprint
        self.by_tenant = by_tenant  # tenant → [_FileEntry]
        self.unpartitioned = unpartitioned  # [_FileEntry] when no tenant dirs

    def files_for(self, tenant: str) -> list[_FileEntry]:
        if self.by_tenant:
            return self.by_tenant.get(tenant, [])
        return self.unpartitioned


def _stat_str(stats, attr: str):
    """min/max as str when present AND exact; pyarrow exposes
    ``has_min_max``; Spark's parquet writer truncates long binary stats
    with correct bounds, which stay conservative — safe either way."""
    if stats is None or not stats.has_min_max:
        return None
    v = getattr(stats, attr)
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return v if isinstance(v, str) else None


class KVTier:
    """Fingerprint-pinned, metadata-indexed point reads for the serving
    tier.  One instance per store; thread-safe; every public method
    returns None on any freshness/shape doubt (caller → Spark path)."""

    def __init__(
        self,
        store,
        key_col: str = "name",
        max_tenant_rows: int = 2_000_000,
        max_tenants_cached: int = 32,
        max_cached_rows: int = 4_000_000,
    ):
        self.store = store
        self.key_col = key_col
        self.max_tenant_rows = max_tenant_rows
        self.max_tenants_cached = max_tenants_cached
        # GLOBAL bound across all cached tenant pages: per-entry bounds
        # alone allow 32 × 2M rows (multi-GB) — past the snapshot memory
        # bound this tier exists to respect (r7 review finding)
        self.max_cached_rows = max_cached_rows
        self._lock = threading.Lock()
        self._indexes: dict[str, _TableIndex] = {}  # table → LIVE index
        # table → the immediately-PREVIOUS generation's index. Version
        # dirs are retained one generation (TableStore's two-snapshot
        # contract), so a request whose pinned fingerprint was outrun by
        # a mid-request ingest adopt can still be served its exact pinned
        # state — snapshot isolation, the read the reference's Postgres
        # gives during a concurrent ingest transaction. Without this,
        # every fact adopt forced an inline index REBUILD (a GIL-bound
        # footer walk) under 32 request threads (stack-sampled serving run,
        # r11: kv_index_build:transfer fired 4x inside one client window).
        self._prev_indexes: dict[str, _TableIndex] = {}
        # (table, tenant) → sorted page rows, valid for one fingerprint
        self._tenant_rows: "collections.OrderedDict[tuple, tuple]" = (
            collections.OrderedDict()
        )
        self._cached_rows_total = 0
        # parsed parquet footers, keyed by path: part files are immutable
        # (copy-on-write store), so a footer never changes under a path —
        # re-parsing it per lookup was the dominant fixed cost of a point
        # read AND a GIL hot-spot under request concurrency (thrift
        # deserialization); entries die with their table's index pin
        self._footers: "collections.OrderedDict[str, object]" = (
            collections.OrderedDict()
        )
        # decoded row-group LRU: (path, rg_index, cols) → pa.Table. The
        # pyarrow decode is the GIL-held cost that sets the 32-thread
        # serving ceiling (KV_BENCH r8: 2748/s at 1 thread vs 1044/s at
        # 32 — a CPython decode convoy, not a tier lock); hot groups now
        # decode ONCE and repeat lookups run GIL-cheap bisect+take over
        # the cached Arrow table. Paths are immutable (copy-on-write
        # store), so entries can never go stale — only cold. Bounded by
        # a global row budget like the tenant pages (64 KB groups ≈
        # 1–2k rows each → the default caps at ~100–200 MB).
        self._rg_cache: "collections.OrderedDict[tuple, object]" = (
            collections.OrderedDict()
        )
        self._rg_rows_total = 0
        self.max_rg_cached_rows = 4_000_000
        # observability: row groups read vs skipped (tests pin pruning).
        # Counter += is read-modify-write — increments happen under
        # _counter_lock (NOT _lock: counters must never serialize reads)
        # so concurrent request threads don't lose updates (r7 review)
        self._counter_lock = threading.Lock()
        self.counters: "collections.Counter[str]" = collections.Counter()

    def _count(self, *pairs: tuple[str, int]) -> None:
        with self._counter_lock:
            for key, n in pairs:
                self.counters[key] += n

    _MAX_FOOTERS = 4096  # ~hundreds of bytes each; safety bound only

    def _parquet_file(self, path: str):
        """ParquetFile with the footer served from the immutable-path
        cache — open cost becomes one file handle, not a footer parse."""
        import pyarrow.parquet as pq

        with self._lock:
            md = self._footers.get(path)
            if md is not None:
                self._footers.move_to_end(path)
        if md is None:
            md = pq.read_metadata(path)
            with self._lock:
                self._footers[path] = md
                while len(self._footers) > self._MAX_FOOTERS:
                    self._footers.popitem(last=False)
        # memory_map: column chunks page in via mmap instead of read()
        # syscalls + userspace copies — less time holding the GIL per
        # decode (the serving tier's concurrency ceiling)
        return pq.ParquetFile(path, metadata=md, memory_map=True)

    def _read_groups_cached(self, path: str, indices: list[int], read_cols):
        """Concatenated rows of the given row groups, each group's decode
        served from the LRU when hot (paths are immutable, so a cached
        decode can never be stale). Returns (table, present_columns)."""
        import pyarrow as pa

        pf = None
        data_cols = None
        parts = []
        misses = 0
        for idx in indices:
            key = (path, idx, tuple(read_cols))
            with self._lock:
                t = self._rg_cache.get(key)
                if t is not None:
                    self._rg_cache.move_to_end(key)
            if t is None:
                if pf is None:
                    pf = self._parquet_file(path)
                    data_cols = [
                        c for c in read_cols if c in pf.schema_arrow.names
                    ]
                # use_threads=False: a 64 KB group gains nothing from
                # Arrow's GLOBAL pool and 32 request threads queueing on
                # it was the r7 6.5× concurrent-p95 blowup
                t = pf.read_row_group(idx, columns=data_cols, use_threads=False)
                misses += 1
                with self._lock:
                    if key not in self._rg_cache:
                        self._rg_cache[key] = t
                        self._rg_rows_total += t.num_rows
                        while (
                            self._rg_cache
                            and self._rg_rows_total > self.max_rg_cached_rows
                        ):
                            _, ev = self._rg_cache.popitem(last=False)
                            self._rg_rows_total -= ev.num_rows
            parts.append(t)
        self._count(
            ("kv_rg_cache_hit", len(indices) - misses),
            ("kv_rg_cache_miss", misses),
        )
        tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
        return tbl, list(tbl.column_names)

    def _match_rows(self, tbl, names: set):
        """Rows of ``tbl`` whose ``key_col`` is in ``names``.

        The point-served tables are written cluster_by the key column, so
        the decoded row groups arrive sorted: each name resolves with an
        O(log rows) bisect + 1-row take instead of an O(rows) ``is_in``
        mask — the mask was ~30% of the GIL-held per-lookup cost, and
        GIL-held time is what sets the 32-thread serving ceiling. A name
        the bisect can't place falls back to the full scan (one mask for
        all names), so sortedness is an optimization, never a correctness
        assumption (a foreign/unsorted layout still answers right).
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        col = tbl.column(self.key_col)
        n = len(col)
        taken: list[int] = []
        for name in names:
            lo, hi = 0, n
            while lo < hi:
                mid = (lo + hi) // 2
                v = col[mid].as_py()
                if v is not None and v < name:
                    lo = mid + 1
                else:
                    hi = mid
            if lo < n and col[lo].as_py() == name:
                # duplicates are adjacent in a sorted column — a flat
                # (unpartitioned) layout holds the SAME name for several
                # tenants, and the lookup loop disambiguates by tenant, so
                # every contiguous equal row must be returned (taking only
                # col[lo] silently dropped the other tenants' rows)
                i = lo
                while i < n and col[i].as_py() == name:
                    taken.append(i)
                    i += 1
            else:
                # absent — or the column isn't sorted; only a scan can
                # tell the difference, so take the correct path
                mask = pc.is_in(col, value_set=pa.array(sorted(names)))
                return tbl.filter(mask)
        return tbl.take(pa.array(sorted(taken), type=pa.int64()))

    # ---- index ---------------------------------------------------------
    def _build_index(self, table: str, fingerprint: str) -> _TableIndex | None:
        import pyarrow.parquet as pq

        vdir = self.store._resolve(table)
        if vdir is None:
            return None
        by_tenant: dict[str, list[_FileEntry]] = {}
        unpart: list[_FileEntry] = []
        partitioned = bool(self.store.partitions.get(table))
        files: list[str] = []
        for dirpath, _dirs, names in os.walk(vdir):
            files.extend(
                os.path.join(dirpath, f) for f in names if f.endswith(".parquet")
            )
        for path in sorted(files):
            md = pq.read_metadata(path)
            # warm the footer cache — lookups then never re-parse.
            # Caller (_index_for) already holds self._lock (non-reentrant).
            self._footers[path] = md
            while len(self._footers) > self._MAX_FOOTERS:
                self._footers.popitem(last=False)
            schema_names = md.schema.to_arrow_schema().names
            if self.key_col not in schema_names:
                return None
            kidx = schema_names.index(self.key_col)
            rgs = []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                stats = rg.column(kidx).statistics
                rgs.append(
                    _RowGroup(
                        i,
                        rg.num_rows,
                        _stat_str(stats, "min"),
                        _stat_str(stats, "max"),
                    )
                )
            tenant = _tenant_of(path, vdir) if partitioned else None
            entry = _FileEntry(path, tenant, rgs)
            if partitioned:
                # files outside a tenant dir (shouldn't happen) poison the
                # partition routing — refuse the table rather than misroute
                if tenant is None:
                    return None
                by_tenant.setdefault(tenant, []).append(entry)
            else:
                unpart.append(entry)
        return _TableIndex(fingerprint, by_tenant, unpart)

    def _index_for(self, table: str, fingerprint: str | None) -> _TableIndex | None:
        if fingerprint is None:
            return None
        idx = self._indexes.get(table)
        if idx is not None and idx.fingerprint == fingerprint:
            return idx
        prev = self._prev_indexes.get(table)
        if prev is not None and prev.fingerprint == fingerprint:
            self._count((f"kv_index_prev_gen:{table}", 1))
            return prev
        with self._lock:
            idx = self._indexes.get(table)
            if idx is not None and idx.fingerprint == fingerprint:
                return idx
            prev = self._prev_indexes.get(table)
            if prev is not None and prev.fingerprint == fingerprint:
                return prev
            # build ONLY for the LIVE fingerprint: _build_index walks the
            # CURRENT version dir, so building under a stale caller's pin
            # would label fresh data with an old witness — the caller
            # falls back instead (pre-r11 this hazard was latent because
            # only live fingerprints ever reached here)
            try:
                from ..operators import balance_view

                if balance_view.table_fingerprint(
                    self.store, table
                ) != fingerprint:
                    return None
            except Exception:
                return None
            try:
                idx = self._build_index(table, fingerprint)
            except Exception:
                idx = None
            if idx is not None:
                old_idx = self._indexes.get(table)
                if old_idx is not None:
                    self._prev_indexes[table] = old_idx
                self._indexes[table] = idx
                self.counters[f"kv_index_build:{table}"] += 1
                # tenant page rows are fingerprint-scoped too
                stale = [k for k in self._tenant_rows if k[0] == table]
                for k in stale:
                    if self._tenant_rows[k][0] != fingerprint:
                        self._cached_rows_total -= self._tenant_rows[k][1].num_rows
                        del self._tenant_rows[k]
                # footers of retired versions: paths are immutable but a
                # superseded version's files will never be read again
                while len(self._footers) > self._MAX_FOOTERS:
                    self._footers.popitem(last=False)
            return idx

    # ---- point reads -----------------------------------------------------
    def lookup(
        self,
        table: str,
        fingerprint: str | None,
        keys: list[tuple[str, str]],
        columns: list[str],
    ) -> dict | None:
        """{(tenant, name): {col: value}} for the keys present; None when
        the tier can't serve (stale/missing/unindexable).  Absent keys are
        simply absent — the Spark path's semantics."""
        idx = self._index_for(table, fingerprint)
        if idx is None:
            self._count((f"kv_fallback:{table}", 1))
            return None
        requested = set(keys)
        by_tenant: dict[str, set] = {}
        for t, n in keys:
            by_tenant.setdefault(t, set()).add(n)
        out: dict = {}
        rg_read = rg_skipped = 0
        # tenant rides along for unpartitioned layouts (hive layouts strip
        # the column from the files; entry.tenant carries it instead)
        read_cols = list(dict.fromkeys([self.key_col, "tenant", *columns]))
        try:
            for tenant, names in by_tenant.items():
                for entry in idx.files_for(tenant):
                    want_by_idx: dict[int, object] = {}
                    here: set = set()
                    for n in names:
                        cand = entry.candidates(n)
                        if cand:
                            here.add(n)
                            for rg in cand:
                                want_by_idx[rg.index] = rg
                    want = [want_by_idx[i] for i in sorted(want_by_idx)]
                    rg_read += len(want)
                    rg_skipped += len(entry.row_groups) - len(want)
                    if not want:
                        continue
                    tbl, data_cols = self._read_groups_cached(
                        entry.path, [rg.index for rg in want], read_cols
                    )
                    tbl = self._match_rows(tbl, here)
                    cols = {c: tbl.column(c).to_pylist() for c in data_cols}
                    n_rows = tbl.num_rows
                    for i in range(n_rows):
                        name = cols[self.key_col][i]
                        # tenant comes from the partition dir (or column)
                        row_tenant = (
                            entry.tenant
                            if entry.tenant is not None
                            else cols.get("tenant", [None] * n_rows)[i]
                        )
                        if (row_tenant, name) not in requested:
                            continue  # same name, other tenant (flat layout)
                        row = {
                            c: (cols[c][i] if c in cols else None)
                            for c in columns
                        }
                        row["tenant"] = row_tenant
                        out[(row_tenant, name)] = row
        except Exception:
            # file retired mid-read, foreign layout, … → Spark path
            self._count(
                (f"kv_fallback:{table}", 1),
                ("kv_rowgroups_read", rg_read),
                ("kv_rowgroups_skipped", rg_skipped),
            )
            return None
        self._count(
            (f"kv_lookup:{table}", 1),
            ("kv_rowgroups_read", rg_read),
            ("kv_rowgroups_skipped", rg_skipped),
        )
        return out

    # ---- append-window delta sums ------------------------------------------
    def delta_sums(
        self, paths: list[str], keys: list[tuple[str, str]], value_col: str
    ) -> dict | None:
        """{(tenant, name): (count, Decimal sum)} of ``value_col`` over the
        given immutable part files, restricted to the requested keys — the
        exact Arrow delta the stale-window balance path adds on top of the
        maintained rollup (balance_view.stale_window). Files are one
        tick's appends (O(batch) rows); each decodes once into the
        row-group LRU. Decimal aggregation is exact (order-free), so
        rollup + delta ≡ the direct Spark SUM bit-for-bit."""
        import pyarrow as pa
        import pyarrow.compute as pc

        by_tenant: dict[str, set] = {}
        for t, n in keys:
            by_tenant.setdefault(t, set()).add(n)
        out: dict = {}
        try:
            for path in paths:
                tenant = None
                for part in path.split(os.sep):
                    if part.startswith("tenant="):
                        tenant = hive_value(part[len("tenant="):])
                        break
                names = by_tenant.get(tenant)
                if tenant is not None and not names:
                    continue  # no requested key in this tenant's files
                md = self._parquet_file(path)
                t, _cols = self._read_groups_cached(
                    path,
                    list(range(md.metadata.num_row_groups)),
                    [self.key_col, "tenant", value_col],
                )
                if tenant is None:
                    # flat layout: tenant rides in the column
                    if "tenant" not in t.column_names:
                        return None
                    want = pa.array(sorted({f"{a}\x00{b}" for a, b in keys}))
                    joint = pc.binary_join_element_wise(
                        pc.cast(t.column("tenant"), pa.string()),
                        pc.cast(t.column(self.key_col), pa.string()),
                        "\x00",
                    )
                    t = t.filter(pc.is_in(joint, value_set=want))
                else:
                    t = t.filter(
                        pc.is_in(
                            t.column(self.key_col),
                            value_set=pa.array(sorted(names)),
                        )
                    )
                if t.num_rows == 0:
                    continue
                nm = t.column(self.key_col).to_pylist()
                tn = (
                    t.column("tenant").to_pylist()
                    if tenant is None
                    else [tenant] * t.num_rows
                )
                vals = t.column(value_col).to_pylist()
                for tt, name, v in zip(tn, nm, vals):
                    c, s = out.get((tt, name), (0, decimal.Decimal(0)))
                    out[(tt, name)] = (c + 1, s + (v or decimal.Decimal(0)))
        except Exception:
            self._count(("kv_delta_fallback", 1))
            return None
        self._count(("kv_delta_sum", 1))
        return out

    # ---- sorted fact pages -----------------------------------------------
    def _file_prefix_cached(self, path, read_cols, eq_filters, need):
        """First ``need`` rows of one (cluster_by-sorted) file that pass the
        eq filters, decoded via STREAMED Arrow batches — a month file holds
        one ~file-sized row group, so a row-group-granular read decoded the
        whole file (measured: 250k rows per cold 1000-row page at sf1,
        enough to blow the LRU budget and saturate the CPU under load).
        Batches stop as soon as ``need`` filtered rows accumulate. The
        bounded prefix is LRU-cached against the immutable path: a merge
        moves the TABLE fingerprint but leaves every untouched tenant's
        file paths alive, so repeat pages across ticks decode nothing."""
        import pyarrow as pa
        import pyarrow.compute as pc

        eq_key = tuple(sorted((eq_filters or {}).items()))
        key = (path, tuple(read_cols), eq_key, need)
        with self._lock:
            hit = self._rg_cache.get(key)
            if hit is not None:
                self._rg_cache.move_to_end(key)
        if hit is not None:
            self._count(("kv_rg_cache_hit", 1))
            return hit
        pf = self._parquet_file(path)
        cols = [c for c in read_cols if c in pf.schema_arrow.names]
        taken = []
        got = 0
        for batch in pf.iter_batches(
            batch_size=max(256, min(need, 4096)), columns=cols, use_threads=False
        ):
            t = pa.Table.from_batches([batch])
            for c, v in (eq_filters or {}).items():
                t = t.filter(pc.equal(t.column(c), pa.scalar(v)))
            if t.num_rows:
                taken.append(t)
                got += t.num_rows
            if got >= need:
                break
        out = (
            pa.concat_tables(taken).slice(0, need)
            if taken
            else pf.schema_arrow.empty_table().select(cols)
        )
        self._count(("kv_rg_cache_miss", 1))
        with self._lock:
            if key not in self._rg_cache:
                self._rg_cache[key] = out
                self._rg_rows_total += out.num_rows
                while self._rg_cache and self._rg_rows_total > self.max_rg_cached_rows:
                    _, ev = self._rg_cache.popitem(last=False)
                    self._rg_rows_total -= ev.num_rows
        return out

    def sorted_page(
        self,
        table: str,
        fingerprint: str | None,
        tenant: str,
        sort_cols: list[str],
        columns: list[str],
        eq_filters: dict | None = None,
        limit: int | None = None,
        offset: int = 0,
        max_page_rows: int = 10_000,
    ) -> list | None:
        """First ``limit`` rows after ``offset`` of one tenant's rows
        ordered by ``sort_cols`` with optional equality filters — the
        fact-table page shape (``transfers(tenant, …, limit, offset)``)
        served by BOUNDED Arrow reads instead of a Spark job.

        Why it exists: every ingest tick moves the fact fingerprint,
        invalidating the page cache; under concurrent load each page
        reload was a Spark job queueing behind the tick's own jobs — the
        measured contention spiral (r9 serving bench: 41 page-load jobs
        stretched the client window 7×). This path reads O(files ×
        (offset+limit)) rows, GIL-light, regardless of fact size.

        Correctness: the table is cluster_by ``sort_cols``, so each
        file's row groups stream in sort order; the global first
        offset+limit matching rows are contained in the union of each
        file's first offset+limit matching rows. The final Arrow sort is
        over that bounded union only. None (→ Spark path) on any doubt:
        unbounded limit, page past ``max_page_rows``, missing index,
        mid-read file retirement."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if limit is None or offset + limit > max_page_rows:
            return None
        idx = self._index_for(table, fingerprint)
        if idx is None:
            self._count((f"kv_fallback:{table}", 1))
            return None
        need = offset + limit
        read_cols = list(dict.fromkeys(
            [*sort_cols, *columns, *(eq_filters or {})]
        ))
        parts = []
        try:
            for entry in idx.files_for(tenant):
                t = self._file_prefix_cached(
                    entry.path, read_cols, eq_filters, need
                )
                if t.num_rows:
                    parts.append(t)
            if not parts:
                self._count((f"kv_page:{table}", 1))
                return []
            merged = pa.concat_tables(parts)
            merged = merged.sort_by([(c, "ascending") for c in sort_cols])
            rows = merged.slice(offset, limit).to_pylist()
        except Exception:
            self._count((f"kv_fallback:{table}", 1))
            return None
        for r in rows:
            # hive layouts strip the partition column from the files
            r.setdefault("tenant", tenant)
            for c in list(r):
                v = r[c]
                # Spark collect() yields session-local NAIVE datetimes;
                # Arrow yields tz-aware — normalize to naive UTC (the
                # store's session runs UTC; equivalence pytest-pinned)
                if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
                    r[c] = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        self._count((f"kv_page:{table}", 1))
        return rows

    # ---- tenant pages ----------------------------------------------------
    def _tenant_table(self, table: str, fingerprint: str | None, tenant: str,
                      columns: list[str]):
        """One tenant's rows as a pyarrow Table SORTED by the key column —
        the LRU-cached page source.  Everything heavy (decode, tenant
        filter on flat layouts, sort) runs in Arrow C++ with the GIL
        released: materializing a 60k-row tenant measured ~1 s as Python
        tuples (GIL-bound, stalling every request thread) vs ~50 ms here.
        None above ``max_tenant_rows`` or on any freshness doubt."""
        assert columns[0] == self.key_col
        idx = self._index_for(table, fingerprint)
        if idx is None:
            self._count((f"kv_fallback:{table}", 1))
            return None
        cache_key = (table, tenant)
        with self._lock:
            hit = self._tenant_rows.get(cache_key)
            if hit is not None and hit[0] == fingerprint:
                self._tenant_rows.move_to_end(cache_key)
                self._count(("kv_page_hit", 1))
                return hit[1]
        entries = idx.files_for(tenant)
        total = sum(rg.num_rows for e in entries for rg in e.row_groups)
        if total > self.max_tenant_rows:
            self._count((f"kv_fallback:{table}", 1))
            return None
        import pyarrow as pa
        import pyarrow.compute as pc

        read_cols = list(dict.fromkeys([*columns, "tenant"]))
        parts = []
        try:
            for entry in entries:
                pf = self._parquet_file(entry.path)
                data_cols = [c for c in read_cols if c in pf.schema_arrow.names]
                tbl = pf.read(columns=data_cols)
                if entry.tenant is None:
                    # flat layout: other tenants share the files
                    if "tenant" not in data_cols:
                        self._count((f"kv_fallback:{table}", 1))
                        return None
                    tbl = tbl.filter(pc.equal(tbl.column("tenant"), tenant))
                # present exactly `columns`, filling hive-stripped ones
                arrays = []
                for c in columns:
                    if c in data_cols:
                        arrays.append(tbl.column(c))
                    elif c == "tenant":
                        arrays.append(pa.array([tenant] * tbl.num_rows))
                    else:
                        arrays.append(pa.nulls(tbl.num_rows))
                parts.append(pa.table(dict(zip(columns, arrays))))
            merged = pa.concat_tables(parts) if parts else pa.table(
                {c: pa.array([], type=pa.string()) for c in columns}
            )
            merged = merged.sort_by([(self.key_col, "ascending")])
        except Exception:
            self._count((f"kv_fallback:{table}", 1))
            return None
        with self._lock:
            old = self._tenant_rows.pop(cache_key, None)
            if old is not None:
                self._cached_rows_total -= old[1].num_rows
            self._tenant_rows[cache_key] = (fingerprint, merged)
            self._cached_rows_total += merged.num_rows
            # evict oldest until BOTH bounds hold: entry count AND the
            # global row budget (per-entry caps alone allowed ~64M cached
            # rows worst case — r7 review finding)
            while self._tenant_rows and (
                len(self._tenant_rows) > self.max_tenants_cached
                or self._cached_rows_total > self.max_cached_rows
            ):
                _, (_, evicted) = self._tenant_rows.popitem(last=False)
                self._cached_rows_total -= evicted.num_rows
        self._count(("kv_page_load", 1))
        return merged

    def tenant_page(
        self,
        table: str,
        fingerprint: str | None,
        tenant: str,
        columns: list[str],
        eq_filters: dict | None = None,
        limit: int | None = None,
        offset: int = 0,
    ) -> list[tuple] | None:
        """OFFSET/LIMIT page of one tenant's rows ordered by the key
        column, with optional equality filters — filters and slicing run
        Arrow-side; only the ≤ limit page rows become Python tuples
        (exactly ``pagination.paginate`` over the sorted unique key, so
        the output is bit-identical to the Spark page)."""
        import pyarrow.compute as pc

        tbl = self._tenant_table(table, fingerprint, tenant, columns)
        if tbl is None:
            return None
        for col, val in (eq_filters or {}).items():
            if val is not None:
                tbl = tbl.filter(pc.equal(tbl.column(col), val))
        if limit is None:
            page = tbl.slice(offset)
        else:
            page = tbl.slice(offset, limit)
        cols = [page.column(c).to_pylist() for c in columns]
        return list(zip(*cols))

    # ---- typed helpers (the two serving shapes) ---------------------------
    @staticmethod
    def quantize_balance(nn, s) -> decimal.Decimal:
        """nn_amount/sum_amount → served Decimal, identical to the snapshot
        loader and Spark's decimal cast (HALF_UP to 2 dp; empty → 0.00)."""
        if not nn or s is None:
            return _ZERO
        return decimal.Decimal(s).quantize(_TWO_DP, rounding=decimal.ROUND_HALF_UP)
