"""The service under test, in its own process.

Boots what ``python -m data_warehouse_spark`` boots — a ``Service`` (Spark
session with FAIR pools, the ingestion loop) and its Flask app on a threaded
werkzeug server — over a warehouse loaded from the seeded fixture. The
load generator (``run.py``) talks to it over HTTP only; this process also
answers a few control commands, one JSON line each, read from stdin and
answered on the file descriptor named by ``--reply-fd``. The load generator
ends it by killing its process group.

  {"cmd": "stats"}                      cache counters, Spark job counts, JVM GC ms
  {"cmd": "trace", "on": bool}          start/stop span recording
  {"cmd": "tick_end"}                   block until the next ingestion tick ends
  {"cmd": "spans", "path": str}         write recorded spans, return tick data
  {"cmd": "analytics", "names": [...]}  one timed pass of catalog entries
  {"cmd": "verify_analytics"}           compare its results with DuckDB twins
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the checkout root
sys.path.insert(0, HERE)

import tracing  # noqa: E402


def load_warehouse(spark, store, sf_dir: str) -> None:
    """The four warehouse tables derived from the fixture star schema
    (``catalog.warehouse_views``), stored through the TableStore with the
    ingest schemas — the serving layout the GraphQL tiers read."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.catalog import warehouse_views

    views = warehouse_views(spark, sf_dir)
    store.overwrite("tenant", views["tenant"])
    store.overwrite("account", views["account"].select(
        "tenant", "name", "currency", "format",
        F.lit(0).cast("int").alias("last_syn_snapshot"),
        F.lit(0).cast("int").alias("last_syn_event"),
    ))
    types = {n: {f.name: f.dataType for f in s.fields} for n, s in store.schemas.items()}
    tr = views["transfer"].withColumn(
        "amount", F.col("amount").cast(types["transfer"]["amount"]))
    store.overwrite("transfer", tr)
    committed = tr.filter(F.col("status") == 1)
    sides = [
        committed.select(
            F.col(ten).alias("tenant"), F.col(nam).alias("name"), "value_date",
            (F.col("amount") * sign).cast(types["account_balance_change"]["amount"]).alias("amount"),
            F.col("tenant").alias("src_tenant"), "transaction", "transfer",
            F.lit(side).alias("side"),
        )
        for side, ten, nam, sign in (("c", "credit_tenant", "credit_name", 1),
                                     ("d", "debit_tenant", "debit_name", -1))
    ]
    store.overwrite("account_balance_change", sides[0].unionByName(sides[1]))


def cold_ingest(pipeline, accounts: int, max_ticks: int = 10) -> int:
    """Tick synchronously until every account of the primary tree has been
    discovered; returns the number of ticks."""
    seen = 0
    for n in range(1, max_ticks + 1):
        seen += pipeline.run_once().accounts_discovered
        if seen >= accounts:
            return n
    raise RuntimeError(f"cold ingest found {seen} of {accounts} accounts in {max_ticks} ticks")


class TickClock:
    """Counts finished ingestion ticks, so the load generator can land a
    write right after one ends and time the next tick's pick-up without
    the random phase of the 2 s cadence."""

    def __init__(self, pipeline):
        self.cond = threading.Condition()
        self.ended = 0
        self.last_s = 0.0
        inner = pipeline.run_once

        def run_once():
            start = time.perf_counter()
            try:
                return inner()
            finally:
                with self.cond:
                    self.ended += 1
                    self.last_s = time.perf_counter() - start
                    self.cond.notify_all()

        pipeline.run_once = run_once

    def wait_next(self, timeout: float) -> float:
        """Block until the next tick ends; returns its duration."""
        with self.cond:
            seen = self.ended
            if not self.cond.wait_for(lambda: self.ended > seen, timeout):
                raise TimeoutError(f"no ingestion tick ended within {timeout:.0f}s")
            return self.last_s


def job_counts(spark) -> dict[str, int]:
    """Spark jobs started so far, in total and per job group the traced
    run sets (job ids are sequential from 0)."""
    tracker = spark.sparkContext.statusTracker()
    ids = {g: tracker.getJobIdsForGroup(g) for g in (None, *tracing.JOB_GROUPS)}
    every = [i for v in ids.values() for i in v]
    out = {"total": max(every) + 1 if every else 0}
    out.update({g: len(ids[g]) for g in tracing.JOB_GROUPS})
    return out


def gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(int(b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())


class Analytics:
    """Times catalog entries on the service's Spark session and keeps the
    result frames for the DuckDB comparison."""

    def __init__(self, spark, sf_dir: str):
        from data_warehouse_spark.queries_catalog import QUERIES

        self.spark, self.sf_dir, self.queries = spark, sf_dir, QUERIES
        self.results: dict = {}

    def timed_pass(self, names: list[str]) -> dict[str, float]:
        walls = {}
        for name in names:
            start = time.perf_counter()
            self.results[name] = self.queries[name].fn(self.spark, self.sf_dir).toPandas()
            walls[name] = time.perf_counter() - start
        return walls

    def verify(self) -> dict[str, str]:
        """Each kept result against its DuckDB twin: row count, column set
        and selfcheck's order-insensitive value hash. Returns mismatches."""
        import duckdb
        import selfcheck

        from data_warehouse_spark.schemas import TESTDATA_TABLES

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = {}
        for name, got in self.results.items():
            want = con.execute(self.queries[name].oracle).df()
            if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                bad[name] = (f"shape {len(got)}x{sorted(got.columns)} != "
                             f"{len(want)}x{sorted(want.columns)}")
            elif selfcheck.value_hash(got) != selfcheck.value_hash(want):
                bad[name] = "value hash differs"
        return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--primary", required=True)
    ap.add_argument("--accounts", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--reply-fd", type=int, required=True)
    args = ap.parse_args()
    reply = os.fdopen(args.reply_fd, "w", buffering=1)

    def send(obj) -> None:
        reply.write(json.dumps(obj) + "\n")

    from werkzeug.serving import make_server

    from data_warehouse_spark.operators import balance_view
    from data_warehouse_spark.service import Service
    from data_warehouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.workdir}/tmp",
        # the traced run counts jobs per group; keep every job's record
        "spark.ui.retainedJobs": "1000000",
    })
    spark_s = time.perf_counter() - t0

    # set-up: warehouse load + balance-rollup bootstrap + cold ingest of the
    # primary tree, the work ``python -m data_warehouse_spark`` does before
    # its first answer (the reference service starts on a warm warehouse)
    start = time.perf_counter()
    svc = Service(spark=spark, primary_root=args.primary,
                  warehouse_root=os.path.join(args.workdir, "warehouse"), http_port=1)
    load_warehouse(spark, svc.store, args.data)
    loaded = time.perf_counter()
    balance_view.maintain(svc.store)
    maintained = time.perf_counter()
    cold_ticks = cold_ingest(svc.pipeline, args.accounts)
    done = time.perf_counter()

    tracer = tracing.Tracer()
    app = svc.build_app()
    if args.trace:
        tracing.install(tracer, app, svc)
    ticks = TickClock(svc.pipeline)
    server = make_server("127.0.0.1", 0, app, threaded=True)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    svc.start_ingestion()
    analytics = Analytics(spark, args.data)
    send({
        "ready": True,
        "port": server.server_port,
        "setup_s": spark_s + done - start,
        "setup_parts_s": {"spark": spark_s, "load": loaded - start,
                          "bootstrap": maintained - loaded, "cold_ingest": done - maintained},
        "cold_ticks": cold_ticks,
        "warehouse": os.path.join(args.workdir, "warehouse"),
    })

    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "stats":
            send({"counters": dict(app.serving_cache.counters),
                  "jobs": job_counts(spark), "gc_ms": gc_ms(spark)})
        elif op == "tick_end":
            send({"tick_s": ticks.wait_next(60)})
        elif op == "trace":
            tracer.on = cmd["on"]
            send({"ok": True})
        elif op == "spans":
            tracer.dump(cmd["path"])
            send({"ticks": tracer.ticks, "examined": tracer.examined,
                  "actions": tracer.actions, "span_cost_s": tracing.span_cost()})
        elif op == "analytics":
            send({"walls": analytics.timed_pass(cmd["names"])})
        elif op == "verify_analytics":
            send({"mismatches": analytics.verify()})
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
