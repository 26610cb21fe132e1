"""Property-based tests (Hypothesis): parser round-trips and operator
invariants that example-based tests can't sweep.

Spark actions are expensive, so properties are driven data-parallel: one
generated batch → one Spark job → per-row assertions.
"""

from __future__ import annotations

import datetime
import decimal
import os

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_warehouse_spark.operators.pagination import paginate
from data_warehouse_spark.sources import primary

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

name_st = st.text(
    alphabet=st.sampled_from("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"), min_size=1, max_size=12
)
# transaction ids may contain underscores (split('_', 3) semantics)
txn_st = st.text(
    alphabet=st.sampled_from("ABCXYZ_0123456789"), min_size=1, max_size=16
).filter(lambda s: not s.startswith("_") and not s.endswith("_"))
amount_st = st.decimals(
    min_value=decimal.Decimal("0.01"),
    max_value=decimal.Decimal("999999.99"),
    places=2,
)
dt_st = st.datetimes(
    min_value=datetime.datetime(1990, 1, 1),
    max_value=datetime.datetime(2030, 12, 28),
).map(lambda d: d.replace(microsecond=0))


@SLOW
@given(
    rows=st.lists(
        st.tuples(name_st, txn_st, name_st, name_st, dt_st, amount_st, name_st),
        min_size=1,
        max_size=8,
        unique_by=lambda r: r[1],
    ),
    status=st.sampled_from(["committed", "rollbacked", "garbage"]),
)
def test_transaction_parse_roundtrip(spark, tmp_path_factory, rows, status):
    """Writing a transaction file and parsing it recovers every field
    exactly (amounts as exact decimals, value dates to the second)."""
    root = str(tmp_path_factory.mktemp("prim"))
    tdir = os.path.join(root, "t_T1", "transaction")
    os.makedirs(tdir, exist_ok=True)
    expected = {}
    by_txn: dict[str, list] = {}
    for transfer, txn, credit, debit, vd, amount, ccy in rows:
        by_txn.setdefault(txn, []).append((transfer, credit, debit, vd, amount, ccy))
    for txn, transfers in by_txn.items():
        lines = [status]
        for transfer, credit, debit, vd, amount, ccy in transfers:
            iso = vd.strftime("%Y-%m-%dT%H:%M:%SZ")
            lines.append(f"{transfer} T1 {credit} T1 {debit} {iso} {amount} {ccy}")
            expected[(txn, transfer)] = (credit, debit, vd, decimal.Decimal(amount), ccy)
        with open(os.path.join(tdir, txn), "w") as f:
            f.write("\n".join(lines) + "\n")

    got = primary.read_transactions(spark, root).collect()
    status_code = {"committed": 1, "rollbacked": 2}.get(status, 0)
    assert len(got) == len(expected)
    for r in got:
        credit, debit, vd, amount, ccy = expected[(r["transaction"], r["transfer"])]
        assert r["status"] == status_code
        assert r["credit_name"] == credit and r["debit_name"] == debit
        assert r["value_date"] == vd
        assert r["amount"] == amount
        assert r["currency"] == ccy


@SLOW
@given(
    metas=st.lists(
        st.tuples(name_st, st.sampled_from(["CZK", "EUR", "USD"]), name_st),
        min_size=1,
        max_size=6,
        unique_by=lambda r: r[0],
    )
)
def test_account_meta_parse_roundtrip(spark, tmp_path_factory, metas):
    """Snapshot-0 line `CCY <format>XX` → (CCY, format): the parser drops
    the trailing 2 chars of the remainder (pinned reference rule)."""
    root = str(tmp_path_factory.mktemp("prim"))
    for account, ccy, fmt in metas:
        p = os.path.join(root, "t_TX", "account", account, "snapshot", "0000000000")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(f"{ccy} {fmt}_T\n")  # suffix "_T" must be dropped
    got = {r["name"]: r for r in primary.read_account_meta(spark, root).collect()}
    assert set(got) == {m[0] for m in metas}
    for account, ccy, fmt in metas:
        assert got[account]["currency"] == ccy
        assert got[account]["format"] == fmt


@SLOW
@given(
    n=st.integers(min_value=0, max_value=40),
    limit=st.integers(min_value=0, max_value=15),
    offset=st.integers(min_value=0, max_value=45),
)
def test_pagination_partition_invariants(spark, n, limit, offset):
    """Pages are disjoint, ordered, and their concatenation is the ordered
    whole — for every (n, limit, offset)."""
    df = spark.range(n).selectExpr("concat('k', lpad(id, 3, '0')) AS name")
    page = [r["name"] for r in paginate(df, ["name"], limit, offset).collect()]
    all_sorted = sorted(f"k{str(i).zfill(3)}" for i in range(n))
    assert page == all_sorted[offset : offset + limit]


# --- incremental dedup ≡ full recompute on random corpora -------------------

_WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
_doc_st = st.lists(st.sampled_from(_WORDS), min_size=3, max_size=12).map(" ".join)


@SLOW
@given(
    texts=st.lists(_doc_st, min_size=2, max_size=10),
    split_at=st.integers(min_value=1, max_value=9),
)
def test_incremental_dedup_equals_full_on_random_corpora(spark, texts, split_at):
    """For ANY corpus/batch split, probing the corpus signature store must
    find exactly the batch-touching pairs a full-corpus recompute finds —
    same pairs, same Jaccard values."""
    from data_warehouse_spark.operators import dedup

    split_at = min(split_at, len(texts) - 1)
    rows = [(i, t) for i, t in enumerate(texts)]
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = all_docs.filter(F.col("doc_id") < split_at)
    batch = all_docs.filter(F.col("doc_id") >= split_at)
    batch_ids = {i for i, _ in rows if i >= split_at}

    sigs = dedup.minhash_signatures(corpus)
    inc = {
        (r["doc_id"], r["dup_of"], r["jaccard_x1000"])
        for r in dedup.incremental_minhash_dedup(batch, sigs).collect()
    }
    expected = set()
    for r in dedup.minhash_lsh_duplicates(all_docs).collect():
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard_x1000"]
        if a in batch_ids and b in batch_ids:
            expected.add((b, a, j))
        elif b in batch_ids:
            expected.add((b, a, j))
        elif a in batch_ids:
            expected.add((a, b, j))
    assert inc == expected


@SLOW
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("abcxyz "), min_size=0, max_size=200),
        min_size=1,
        max_size=8,
    ),
    chunk_chars=st.integers(min_value=2, max_value=64),
    overlap_frac=st.integers(min_value=0, max_value=99),
)
def test_chunking_tiles_every_document(spark, texts, chunk_chars, overlap_frac):
    """For ANY text and geometry: stride-prefixes reconstruct the document,
    the last chunk reaches the end, every chunk is within size, and empty
    docs emit nothing."""
    from data_warehouse_spark.operators import text_analysis

    overlap = min(chunk_chars - 1, (chunk_chars * overlap_frac) // 100)
    stride = chunk_chars - overlap
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = text_analysis.chunk_documents(
        docs, chunk_chars=chunk_chars, overlap=overlap
    ).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_id"])
        if not t:
            assert chunks == []
            continue
        assert chunks, f"doc {i} ({len(t)} chars) produced no chunks"
        # exact tiling: stride-prefix of every chunk but the last, then the
        # last chunk whole (it alone may be shorter than a full stride span)
        rebuilt = "".join(c["chunk"][:stride] for c in chunks[:-1]) + chunks[-1]["chunk"]
        assert rebuilt == t
        last = chunks[-1]
        assert last["pos"] + last["n_chars"] - 1 == len(t)
        assert all(1 <= c["n_chars"] <= chunk_chars for c in chunks)


# --- TableStore MERGE verbs vs a dict model ----------------------------------

_OPS = st.lists(
    st.tuples(
        st.sampled_from(["insert", "upsert", "delete"]),
        st.lists(
            st.tuples(
                st.sampled_from(["A", "B", "C"]),      # tenant (partition)
                st.sampled_from(["x", "y"]),           # name
                st.integers(min_value=0, max_value=99),
            ),
            min_size=1,
            max_size=4,
            # a batch with duplicate PKs keeps an ARBITRARY row (documented
            # dropDuplicates behavior) — keep batches unambiguous so the
            # dict model is deterministic
            unique_by=lambda r: (r[0], r[1]),
        ),
        # the route of an insert / upsert batch: "arrow" = a pyarrow.Table
        # through insert-missing or upsert prepare/commit; "spark" = a
        # DataFrame through the same verbs; "plain" = a DataFrame through
        # the one-call merge_upsert (insert-missing has no third route)
        st.sampled_from(["arrow", "spark", "plain"]),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=_OPS)
# both prepare/commit routes stage a first version of an absent table
@example(ops=[("upsert", [("A", "x", 1), ("B", "y", 2)], "arrow")])
@example(ops=[
    ("upsert", [("A", "x", 1), ("B", "y", 2)], "spark"),
    ("upsert", [("A", "x", 3)], "arrow"),
])
# every route runs on an existing table in every run, next to the random
# interleavings: the plain verb's copy-on-write upsert, then both
# prepare/commit routes, each moving a row between month dirs of ``f``
@example(ops=[
    ("insert", [("A", "x", 1), ("B", "y", 2)], "arrow"),
    ("upsert", [("A", "x", 3), ("C", "x", 4)], "plain"),
    ("upsert", [("A", "x", 5), ("B", "x", 6)], "spark"),
    ("upsert", [("B", "y", 7), ("C", "y", 8)], "arrow"),
    ("insert", [("A", "y", 9), ("B", "y", 10)], "spark"),
])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tablestore_merge_verbs_match_dict_model(spark, tmp_path_factory, ops):
    """Any interleaving of insert-missing / upsert / delete batches must
    leave the table exactly where the obvious dict model lands: the MERGE
    verbs are the reference semantics (ON CONFLICT DO NOTHING / DO
    UPDATE / WHEN MATCHED DELETE), partition copy-on-write and version
    swaps are implementation detail the model must not observe.

    Each insert batch goes through the DataFrame (Spark) or the
    pyarrow.Table (Arrow) path at random; each upsert through one of three
    routes: merge_upsert with a DataFrame (partition copy-on-write), or
    prepare/commit with a DataFrame or with a pyarrow.Table. Table ``f`` adds a derived
    month partition (from a timestamp that moves with ``v``) and
    ``cluster_by``, so an upsert can move a row between month dirs."""
    import datetime

    from pyspark.sql import types as T

    from data_warehouse_spark.sources.arrow_parts import arrow_table
    from data_warehouse_spark.sources.tables import TableStore

    schema = T.StructType(
        [
            T.StructField("tenant", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("v", T.IntegerType(), False),
        ]
    )
    fschema = T.StructType(
        list(schema.fields) + [T.StructField("ts", T.TimestampType(), False)]
    )

    def ts(v):
        return datetime.datetime(2020, 1 + v % 12, 1 + v % 28, v % 24)

    root = str(tmp_path_factory.mktemp("props-store"))
    store = TableStore(
        spark, root, {"t": schema, "f": fschema},
        partitions={"t": ["tenant"], "f": ["tenant"]},
        month_partitions={"f": ("m", "ts")},
        cluster_by={"f": ["name"]},
    )
    keys = ["tenant", "name"]
    model: dict[tuple[str, str], int] = {}

    for verb, rows, route in ops:
        seen = {(t, n): v for t, n, v in rows}  # PKs unique per batch
        for name, struct, data in (
            ("t", schema, rows),
            ("f", fschema, [(t, n, v, ts(v)) for t, n, v in rows]),
        ):
            batch = (
                arrow_table(data, struct) if route == "arrow" and verb != "delete"
                else spark.createDataFrame(data, struct)
            )
            writer = "arrow" if route == "arrow" else "spark"
            if verb == "insert":
                store.merge_insert_missing(name, batch, keys)
            elif verb == "upsert":
                if route == "plain":
                    store.merge_upsert(name, batch, keys)
                else:
                    # an absent table stages its first version too
                    prep = store.merge_upsert_prepare(
                        name, batch, keys, sorted({(r[0],) for r in rows})
                    )
                    assert prep is not None
                    store.merge_upsert_commit(prep)
            else:
                store.merge_delete(name, batch, keys)
                writer = None
            if writer is not None:
                assert store.last_merge_path[name] == writer
        if verb == "insert":
            for k, v in seen.items():
                model.setdefault(k, v)
        elif verb == "upsert":
            model.update(seen)
        else:
            for k in seen:
                model.pop(k, None)

    got = {
        (r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()
    } if store.exists("t") else {}
    assert got == model
    fgot = {
        (r["tenant"], r["name"]): (r["v"], r["ts"]) for r in store.read("f").collect()
    } if store.exists("f") else {}
    assert fgot == {k: (v, ts(v)) for k, v in model.items()}
    if store.exists("f"):
        # every row sits in the month dir of its own timestamp
        for r in store.read("f", keep_derived=True).collect():
            assert r["m"] == r["ts"].strftime("%Y-%m")


_KEY_ROWS = st.lists(
    st.tuples(st.sampled_from(["x", "y", None]), st.sampled_from([1, 2, None])),
    max_size=12,
)


@given(left=_KEY_ROWS, right=_KEY_ROWS)
@settings(max_examples=200, deadline=None)
def test_key_hits_is_null_safe_key_membership(left, right):
    """The Arrow path's vectorized key match is tuple membership with NULL
    equal to NULL (the MERGE key condition), for one key column and two,
    whichever side is larger."""
    import pyarrow as pa

    from data_warehouse_spark.sources.arrow_parts import key_hits

    schema = pa.schema([("a", pa.string()), ("b", pa.int32())])

    def table(rows):
        return pa.Table.from_pylist([{"a": a, "b": b} for a, b in rows], schema=schema)

    want = set(right)
    assert key_hits(table(left), ["a", "b"], table(right)).to_pylist() == [
        k in want for k in left
    ]
    bs = {b for _a, b in right}
    assert key_hits(table(left), ["b"], table(right)).to_pylist() == [
        b in bs for _a, b in left
    ]


_IVM_OPS = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),           # tenant (group key)
            st.integers(min_value=-50, max_value=99),   # amount_cents
            st.booleans(),                              # try-delete flag
        ),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=5,
)


@given(ops=_IVM_OPS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ivm_maintenance_matches_multiset_model(spark, ops):
    """Any sequence of valid CDC batches (inserts plus deletes of rows that
    exist), applied step-by-step with ivm.maintain_rollup, must land the
    rollup exactly where recomputing over the surviving multiset lands it.
    Delete images are derived from the model so every batch is valid CDC
    (the contract diff_previous provides)."""
    from collections import Counter

    from pyspark.sql import types as T

    from data_warehouse_spark.operators import ivm

    schema = T.StructType(
        [
            T.StructField(ivm.CHANGE_COL, T.StringType(), False),
            T.StructField("tenant", T.StringType(), False),
            T.StructField("amount_cents", T.LongType(), False),
        ]
    )
    base_schema = T.StructType(schema.fields[1:])
    multiset: Counter = Counter()
    rollup = spark.createDataFrame([], base_schema)
    rollup = ivm.compute_rollup(rollup, ["tenant"], ["amount_cents"])

    for batch_ops in ops:
        images = []
        for tenant, amount, try_delete in batch_ops:
            existing = sorted(k for k, n in multiset.items() if n > 0 and k[0] == tenant)
            if try_delete and existing:
                victim = existing[0]
                multiset[victim] -= 1
                images.append(("delete", victim[0], victim[1]))
            else:
                multiset[(tenant, amount)] += 1
                images.append(("insert", tenant, amount))
        cdc = spark.createDataFrame(images, schema)
        rollup = ivm.maintain_rollup(rollup, cdc, ["tenant"], ["amount_cents"])
        # materialize each step (the stored-view contract; also keeps the
        # lineage from compounding across iterations)
        rows = [
            (r["tenant"], r["n_rows"], r["nn_amount_cents"], r["sum_amount_cents"])
            for r in rollup.collect()
        ]
        rollup = spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField("tenant", T.StringType(), False),
                    T.StructField("n_rows", T.LongType(), False),
                    T.StructField("nn_amount_cents", T.LongType(), False),
                    T.StructField("sum_amount_cents", T.LongType(), True),
                ]
            ),
        )

    surviving = [
        (t, a) for (t, a), n in multiset.items() for _ in range(n)
    ]
    expected_df = ivm.compute_rollup(
        spark.createDataFrame(surviving, base_schema)
        if surviving
        else spark.createDataFrame([], base_schema),
        ["tenant"],
        ["amount_cents"],
    )
    expected = {
        r["tenant"]: (r["n_rows"], r["sum_amount_cents"]) for r in expected_df.collect()
    }
    got = {r["tenant"]: (r["n_rows"], r["sum_amount_cents"]) for r in rollup.collect()}
    assert got == expected


_BAND_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user_id
        st.sampled_from(["click", "purchase"]),         # event_type
        # timestamps in whole seconds around bucket boundaries: the band is
        # 60 min, so multiples of 3600 s sit EXACTLY on bucket edges — the
        # off-by-one surface of the bucket rewrite
        st.integers(min_value=0, max_value=4 * 3600),
    ),
    min_size=1,
    max_size=30,
)


@given(evs=_BAND_EVENTS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_band_join_equals_naive_model(spark, evs):
    """The bucketed band join must equal the quadratic Python model on any
    event set, including pairs whose timestamps straddle or sit exactly on
    bucket boundaries and same-instant pairs (dt=0 excluded by > 0)."""
    import datetime as _dt

    from pyspark.sql import types as T

    from data_warehouse_spark.operators import windows as W

    base = _dt.datetime(2020, 1, 1)
    rows = [
        (i, base + _dt.timedelta(seconds=sec), uid, typ, 0.0, "{}")
        for i, (uid, typ, sec) in enumerate(evs)
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
            T.StructField("props", T.StringType(), False),
        ]
    )
    events = spark.createDataFrame(rows, schema)
    got = {
        (r["left_id"], r["right_id"], r["dt_us"])
        for r in W.band_join_pairs(events, band_minutes=60).collect()
    }
    band_us = 3600 * 1_000_000
    expected = set()
    for li, (lu, lt, ls) in enumerate(evs):
        if lt != "click":
            continue
        for ri, (ru, rt, rs) in enumerate(evs):
            if rt != "purchase" or ru != lu:
                continue
            dt_us = (rs - ls) * 1_000_000
            if 0 < dt_us <= band_us:
                expected.add((li, ri, dt_us))
    assert got == expected
