"""Spark-layout parquet part files written and key-probed with pyarrow.

The ingestion tick holds every new row on the driver. Committing a batch of
a few hundred rows through a Spark write job costs a job submission, a
python-worker round trip and a partitioned write task per table — about a
second per tick on a 4-core box, most of the ingest-to-query lag. This
module is the small-batch alternative the ``TableStore`` verbs use instead
(the tick's merges, and the overwrite and compaction of tables up to the
store's row cut-off): a few primitive operators over a ``pyarrow.Table``
(dedupe, key probe, one sort by hive dir and cluster key, a slice per dir,
write), in the spirit of "Building Advanced SQL Analytics From Low-Level
Plan Operators" (SIGMOD 2021).

Every file it writes is laid out the way Spark's partitioned writer lays it
out, so readers (Spark, the KV tier, DuckDB) and the store's own commit
machinery cannot tell the two apart:

* hive dir names use Spark's ``escapePathName`` (:func:`escape_path_name`);
* a derived month level is ``yyyy-MM`` of the UTC timestamp;
* timestamps are INT96, ``decimal(p>18)`` is FIXED_LEN_BYTE_ARRAY, int is
  int32, strings are UTF8 binary; nullability follows the batch schema;
* one ``part-00000-<uuid>.c000.snappy.parquet`` per hive dir, rows sorted
  by the table's ``cluster_by`` columns (nulls first), row groups sized to
  the table's ``parquet.block.size`` when declared.

Only the types listed in :func:`arrow_type` are mirrored; a table with any
other column type stays on the Spark writer.

The footer carries no key-value metadata: not Arrow's ``ARROW:schema``
(Spark's files lack it, and with it pyarrow readers would restore other
column types than they infer for Spark's files), nor Spark's
``org.apache.spark.sql.parquet.row.metadata`` / ``org.apache.spark.version``
(pyarrow writes custom keys only beside ``ARROW:schema``). No reader here
needs them: ``TableStore.read`` passes the declared schema, Spark infers
the same types from these physical and logical types when it does infer,
and it reads a file without a version under
``spark.sql.parquet.int96RebaseModeInRead`` — CORRECTED by default since
Spark 4, the mode it reads its own 4.x files in.

The key probe prunes row groups with their min/max statistics, as the KV
serving tier's row-group index does for point reads; it does not use that
index, because the index lives in the serving layer (``api``, which
depends on this package, not the other way round), is built per published
version for one string key column, and the probe runs on the ingest
thread over the version it is about to append to, with multi-column keys
of any type.
"""

from __future__ import annotations

import bisect
import os
import urllib.parse
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import types as T

# Spark's directory name for a NULL partition value
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# the characters Spark's ExternalCatalogUtils.escapePathName turns into
# %XX in a hive dir name (POSIX set): ASCII controls plus "#%'*/:=?\{[]^
# and DEL. Everything else — space and non-ASCII included — stays literal
_HIVE_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^")
)


def escape_path_name(value) -> str:
    """Spark's hive-dir encoding of one partition value: NULL becomes
    ``__HIVE_DEFAULT_PARTITION__``; the characters in ``_HIVE_ESCAPED``
    become ``%XX``. ``urllib.parse.unquote`` is its exact inverse."""
    if value is None:
        return HIVE_NULL_PARTITION
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in str(value)
    )


def hive_value(raw: str) -> str | None:
    """The partition value the hive dir name ``col=<raw>`` holds: the
    inverse of :func:`escape_path_name` (the NULL sentinel becomes None)."""
    return None if raw == HIVE_NULL_PARTITION else urllib.parse.unquote(raw)


def arrow_type(dt: T.DataType) -> pa.DataType | None:
    """The Arrow type whose parquet encoding equals Spark's for ``dt``, or
    None when pyarrow cannot write Spark's encoding (decimals of precision
    ≤ 18 are int32/int64-backed in Spark's files, for instance)."""
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us")
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.DecimalType) and dt.precision > 18:
        return pa.decimal128(dt.precision, dt.scale)
    return None


def arrow_schema(struct: T.StructType) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, arrow_type(f.dataType), f.nullable) for f in struct.fields]
    )


def arrow_table(rows, struct: T.StructType) -> pa.Table:
    """Driver rows (tuples in ``struct`` order) → a ``pyarrow.Table`` with
    ``struct``'s names, types and nullability."""
    schema = arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [() for _ in struct.fields]
    return pa.Table.from_arrays(
        [pa.array(list(c), f.type) for c, f in zip(cols, schema)], schema=schema
    )


def spark_struct(table: pa.Table, declared: T.StructType) -> T.StructType:
    """Spark schema of an Arrow batch: declared types, the batch's
    nullability; the one undeclared column a batch may carry is a boolean
    MERGE flag (``insert_only_col``)."""
    by_name = {f.name: f.dataType for f in declared.fields}
    return T.StructType([
        T.StructField(f.name, by_name.get(f.name, T.BooleanType()), f.nullable)
        for f in table.schema
    ])


def column_values(table: pa.Table, name: str) -> list:
    return table.column(name).to_pylist()


def key_tuples(table: pa.Table, keys: list[str]) -> list[tuple]:
    return list(zip(*(column_values(table, k) for k in keys)))


def dedupe(table: pa.Table, keys: list[str]) -> pa.Table:
    """First row per key (NULL-safe: a NULL key equals itself, as the
    MERGE key condition does)."""
    seen: set = set()
    mask = []
    for k in key_tuples(table, keys):
        mask.append(k not in seen)
        seen.add(k)
    return table if all(mask) else table.filter(pa.array(mask))


def key_hits(table: pa.Table, keys: list[str], other: pa.Table) -> pa.Array:
    """Boolean mask over ``table``: does the row's key (NULL-safe) occur
    in ``other``? Vectorized ``is_in`` on the key column with the most
    distinct values in the smaller side, whose values form the hash set
    (``is_in`` matches NULL to NULL); key tuples reach Python only for
    rows that hit — a 60-row batch against a 10^6-row partition compares
    the few rows that share a key value, never the partition."""
    small, big = (table, other) if table.num_rows <= other.num_rows else (other, table)
    first = max(keys, key=lambda k: len(pc.unique(small.column(k))))

    def hits(t: pa.Table, o: pa.Table):
        col = t.column(first)
        return pc.is_in(col, value_set=pc.unique(o.column(first)).cast(col.type))

    big_hit = hits(big, small)
    big_sub = big.filter(big_hit)
    small_hit = hits(small, big_sub)
    hit, other_hit = (big_hit, small_hit) if big is table else (small_hit, big_hit)
    if len(keys) == 1:
        return hit.combine_chunks() if isinstance(hit, pa.ChunkedArray) else hit
    idx = np.flatnonzero(hit.to_numpy(zero_copy_only=False))
    want = set(key_tuples(other.filter(other_hit), keys))
    mask = np.zeros(table.num_rows, dtype=bool)
    for i, k in zip(idx, key_tuples(table.take(pa.array(idx, pa.int64())), keys)):
        mask[i] = k in want
    return pa.array(mask)


# ---- reading what the hive dirs hold -----------------------------------

def dir_values(relpath: str) -> dict[str, str | None]:
    """``a=x/b=y/part.parquet`` → {a: 'x', b: 'y'} (unescaped; the NULL
    sentinel becomes None)."""
    out: dict[str, str | None] = {}
    for seg in relpath.split(os.sep)[:-1]:
        col, eq, raw = seg.partition("=")
        if eq:
            out[col] = hive_value(raw)
    return out


def parquet_files(top: str) -> list[str]:
    """Data files under ``top`` (hidden and ``_``-prefixed files are not
    data, as for Spark's file index)."""
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return sorted(out)


def typed_partition_value(raw: str | None, dt: T.DataType):
    if raw is None:
        return None
    return int(raw) if isinstance(dt, (T.IntegerType, T.LongType)) else raw


def _may_hold(stats, values: list, has_null: bool) -> bool:
    """Can a row group whose column statistics are ``stats`` hold one of
    the sorted non-null ``values`` (or a NULL, when ``has_null``)?
    Statistics are conservative bounds, so a group without them always
    can."""
    if stats is None or not stats.has_min_max:
        return True
    if has_null and (stats.null_count is None or stats.null_count > 0):
        return True
    try:
        j = bisect.bisect_left(values, stats.min)
        return j < len(values) and values[j] <= stats.max
    except TypeError:  # a stat type the batch values do not compare with
        return True


def held_rows(
    files: list[tuple[str, dict, pq.FileMetaData]],
    table: pa.Table,
    keys: list[str],
    fixed_cols: set[str],
) -> pa.Array:
    """Mask over ``table``: the rows whose key ``files`` already hold.

    ``files`` holds (path, partition values of its dir, footer); key
    columns in ``fixed_cols`` come from the dir, the others are read —
    only those columns, only from row groups whose min/max statistics can
    hold a batch value (tight ranges on files sorted by the key, i.e.
    every file the store writes for a ``cluster_by`` table) — and matched
    with :func:`key_hits`."""
    data_keys = [k for k in keys if k not in fixed_cols]
    probe: dict[str, tuple[list, bool]] = {}
    for k in data_keys:
        vals = set(column_values(table, k))
        try:
            non_null = sorted(vals - {None})
        except TypeError:  # unorderable values: no pruning on this column
            non_null = None
        probe[k] = (non_null, None in vals)
    held = np.zeros(table.num_rows, dtype=bool)
    for path, fixed, md in files:
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        groups = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            ok = True
            for k in data_keys:
                vals, has_null = probe[k]
                if vals is None or k not in names:
                    continue
                if not _may_hold(rg.column(names.index(k)).statistics, vals, has_null):
                    ok = False
                    break
            if ok and rg.num_rows:
                groups.append(g)
        if not groups:
            continue
        got = pq.ParquetFile(
            path, metadata=md, coerce_int96_timestamp_unit="us"
        ).read_row_groups(groups, columns=data_keys, use_threads=False)
        n = got.num_rows if data_keys else 1
        got = pa.table({
            k: pa.repeat(pa.scalar(fixed[k], table.schema.field(k).type), n)
            if k in fixed_cols else got.column(k)
            for k in keys
        })
        held |= key_hits(table, keys, got).to_numpy(zero_copy_only=False)
    return pa.array(held)


def read_rows(files: list[tuple[str, dict, pq.FileMetaData | None]], schema: pa.Schema) -> pa.Table:
    """Every row of ``files`` (path, dir partition values, footer) as
    ``schema``: partition columns filled from the dir values, the others
    read from the file (only those columns), INT96 read as microseconds."""
    parts = []
    for path, fixed, _md in files:
        t = pq.read_table(
            path,
            columns=[f.name for f in schema if f.name not in fixed],
            use_threads=False,
            coerce_int96_timestamp_unit="us",
        )
        n = t.num_rows
        cols = []
        for f in schema:
            if f.name in fixed:
                cols.append(pa.repeat(pa.scalar(fixed[f.name], f.type), n))
            else:
                cols.append(t.column(f.name).cast(f.type))
        parts.append(pa.Table.from_arrays(cols, schema=schema))
    if not parts:
        return schema.empty_table()
    return pa.concat_tables(parts)


# ---- writing -----------------------------------------------------------

def _plain_bytes(col) -> int:
    """PLAIN-encoded size of a column chunk's values."""
    if pa.types.is_string(col.type):
        return (pc.sum(pc.binary_length(col)).as_py() or 0) + 4 * len(col)
    if pa.types.is_timestamp(col.type):
        return 12 * len(col)  # INT96
    return col.type.bit_width // 8 * len(col)


def _dictionary_columns(part: pa.Table) -> list[str]:
    """The columns parquet-mr's v1 writer keeps dictionary-encoded: not
    decimals (FIXED_LEN_BYTE_ARRAY) or booleans, and only where indices
    plus dictionary undercut PLAIN (its fallback rule) — a small
    all-distinct column would otherwise carry a dictionary page as big as
    its data."""
    out = []
    for name in part.column_names:
        col = part.column(name)
        if pa.types.is_decimal(col.type) or pa.types.is_boolean(col.type):
            continue
        uniq = pc.unique(col)
        index_bytes = len(col) * max(1, (len(uniq) - 1).bit_length()) // 8
        if index_bytes + _plain_bytes(uniq) < _plain_bytes(col):
            out.append(name)
    return out


def sort_rows(table: pa.Table, cols: list[str]) -> pa.Table:
    """``table`` stably sorted by ``cols`` ascending, nulls first (the
    order of Spark's ``sortWithinPartitions``)."""
    if not cols:
        return table
    keys = [(c, "ascending") for c in cols]
    return table.take(pc.sort_indices(table, sort_keys=keys, null_placement="at_start"))


def _run_starts(cols: list[pa.Array], n: int) -> list[int]:
    """Boundaries ``[0, …, n]`` of the runs of equal rows in the sorted
    columns ``cols`` (NULL equals NULL)."""
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for col in cols:
        a, b = col.slice(0, n - 1), col.slice(1)
        neq = pc.not_equal(a, b)
        neq = pc.if_else(pc.is_null(neq), pc.xor(pc.is_null(a), pc.is_null(b)), neq)
        change |= neq.to_numpy(zero_copy_only=False)
    return [0, *(np.flatnonzero(change) + 1).tolist(), n]


def write_file(part: pa.Table, path: str, block_size: int | None) -> None:
    """One part file of ``part``'s rows in Spark's encoding, row groups
    sized to ``block_size`` bytes when given (else one group)."""
    if block_size:
        # parquet-mr closes a row group at parquet.block.size buffered
        # bytes; Arrow sizes groups in rows, so convert at the batch's
        # in-memory row width
        rows = max(1, block_size * part.num_rows // max(1, part.nbytes))
    else:
        rows = max(1, part.num_rows)  # one group, as under Spark's 128 MB
    pq.write_table(
        part,
        path,
        version="1.0",
        compression="snappy",
        use_deprecated_int96_timestamps=True,
        row_group_size=rows,
        use_dictionary=_dictionary_columns(part) or False,
        store_schema=False,
    )


def write_parts(
    table: pa.Table,
    dest: str,
    declared: T.StructType,
    partition_cols: list[str],
    month: tuple[str, str] | None,
    cluster_by: list[str],
    block_size: int | None,
) -> None:
    """Write ``table`` under ``dest`` as Spark's partitioned writer would:
    one part file per hive dir, plus the ``_SUCCESS`` marker. An empty
    table without hive levels still gets its one zero-row part file, as
    from Spark, so a reader can take the schema from it.
    ``partition_cols`` excludes the derived month column, which
    ``month = (derived, timestamp source)`` adds."""
    data_cols = [
        f.name for f in declared.fields if f.name not in partition_cols
    ]
    dirs = table.select(partition_cols)
    if month is not None:
        # yyyy-MM of the stored (UTC) instant
        dirs = dirs.append_column(
            month[0], pc.strftime(table.column(month[1]), format="%Y-%m")
        )
    keyed = table.select(data_cols)
    dir_keys = [f"_dir{i}" for i in range(dirs.num_columns)]
    for key, col in zip(dir_keys, dirs.columns):
        keyed = keyed.append_column(key, col)
    # one stable sort by (hive dir, cluster_by), then a slice per dir: each
    # dir's rows come out in cluster order, ties in batch order
    keyed = sort_rows(keyed, dir_keys + [c for c in cluster_by if c in data_cols])
    dir_cols = [keyed.column(k).combine_chunks() for k in dir_keys]
    data = keyed.drop_columns(dir_keys)
    n = table.num_rows
    if dir_cols:
        bounds = _run_starts(dir_cols, n) if n else [0]  # no rows, no dir
    else:
        bounds = [0, n]  # one file, a zero-row one included
    os.makedirs(dest, exist_ok=True)
    for start, end in zip(bounds, bounds[1:]):
        d = os.path.join(dest, *(
            f"{c}={escape_path_name(col[start].as_py())}"
            for c, col in zip(dirs.column_names, dir_cols)
        ))
        os.makedirs(d, exist_ok=True)
        write_file(
            data.slice(start, end - start),
            os.path.join(d, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"),
            block_size,
        )
    open(os.path.join(dest, "_SUCCESS"), "w").close()
