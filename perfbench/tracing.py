"""Span recording for the traced run, patched in from outside the package.

``install(app, svc)`` wraps the public functions of each layer (module
attributes and class methods, looked up the way the package calls them) so
every call records a span ``(name, start, end, parent, request id)`` while
tracing is on. The request id arrives in the ``X-Request-Id`` header and is
bound to the WSGI thread, so spans of one request join the client's record.
Nothing in the package is edited, and only traced runs install the
wrappers. The traced run also tags the Spark jobs of each request and each
ingestion tick with a job group, so jobs can be counted per layer. Functions
that Spark ships to executors inside closures (the
``sources.primary`` parse twins) are not wrapped: a wrapper holding the
tracer cannot be pickled; ``run.py`` times them from outside instead.
"""

from __future__ import annotations

import collections
import json
import threading
import time

_local = threading.local()
REQUEST_GROUP, TICK_GROUP = "perfbench-request", "perfbench-tick"
JOB_GROUPS = (REQUEST_GROUP, TICK_GROUP)


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.spans: list[tuple] = []  # (name, start, end, parent, rid, self_s)
        self._lock = threading.Lock()
        self.ticks: list[dict] = []  # one per ingestion tick
        self.examined: list[int] = []  # accounts per listing sweep
        self.actions: list[str] = []  # balance_view.maintain outcomes

    def span(self, name: str, fn, *args, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        stack = getattr(_local, "stack", None)
        if stack is None:
            stack = _local.stack = []
        parent = stack[-1][0] if stack else None
        frame = [name, 0.0]  # [name, child time]
        stack.append(frame)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            if stack:
                stack[-1][1] += end - start
            rec = (name, start, end, parent, getattr(_local, "rid", None),
                   end - start - frame[1])
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            return tracer.span(name, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str | None = None) -> None:
        setattr(owner, attr, self.wrap(name or attr, getattr(owner, attr)))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def span_cost(n: int = 20_000) -> float:
    """Seconds a recorded span adds to one call, measured on a no-op."""
    probe = Tracer()
    probe.on = True
    start = time.perf_counter()
    for _ in range(n):
        probe.span("probe", int)
    traced = time.perf_counter() - start
    start = time.perf_counter()
    for _ in range(n):
        int()
    return (traced - (time.perf_counter() - start)) / n


def _wsgi(tracer: Tracer, app, sc):
    inner = app.wsgi_app

    def wsgi_app(environ, start_response):
        sc.setJobGroup(REQUEST_GROUP, "")
        _local.rid = environ.get("HTTP_X_REQUEST_ID")
        _local.stack = []
        try:
            return tracer.span("api.http.server", inner, environ, start_response)
        finally:
            _local.rid = None

    app.wsgi_app = wsgi_app


def install(tracer: Tracer, app, svc) -> None:
    """Patch every traced layer of one running service."""
    from data_warehouse_spark.api import http, kv_tier, serving_cache
    from data_warehouse_spark.operators import balance_view
    from data_warehouse_spark.operators import queries as wh
    from data_warehouse_spark.sources import listing, tables

    sc = svc.spark.sparkContext
    _wsgi(tracer, app, sc)
    tracer.patch(http, "execute", "api.graphql_schema.execute")
    for meth in ("tenant_names", "accounts", "balances", "transfers_page",
                 "kv_account_details", "kv_balances", "kv_transfers_page",
                 "kv_accounts_page"):
        tracer.patch(serving_cache.ServingCache, meth, f"api.serving_cache.{meth}")
    tracer.patch(serving_cache.ServingCache, "_get", "api.serving_cache.get")
    for meth in ("lookup", "sorted_page", "delta_sums", "tenant_page"):
        tracer.patch(kv_tier.KVTier, meth, f"api.kv_tier.{meth}")
    for fn in ("tenants", "accounts", "transfers", "account_balances",
               "tenant_by_name", "account_by_name", "accounts_by_names",
               "tenants_by_names", "account_balance"):
        tracer.patch(wh, fn, f"operators.queries.{fn}")
    orig_sweep = listing.ListingCache.sweep

    def sweep(self, *a, **kw):
        keys = tracer.span("sources.listing.sweep", orig_sweep, self, *a, **kw)
        if tracer.on:
            with tracer._lock:
                tracer.examined.append(len(keys))
        return keys

    listing.ListingCache.sweep = sweep
    for meth in ("merge_insert_missing", "merge_upsert", "merge_delete", "compact"):
        orig = getattr(tables.TableStore, meth)

        def merge(self, name, *a, _orig=orig, _meth=meth, **kw):
            return tracer.span(f"sources.tables.{_meth}.{name}", _orig, self, name, *a, **kw)

        setattr(tables.TableStore, meth, merge)
    orig_maintain = balance_view.maintain

    def maintain(*a, **kw):
        action = tracer.span("operators.balance_view.maintain", orig_maintain, *a, **kw)
        if tracer.on:
            with tracer._lock:
                tracer.actions.append(action)
        return action

    balance_view.maintain = maintain
    run_once = svc.pipeline.run_once

    def tick():
        sc.setJobGroup(TICK_GROUP, "")
        start = time.perf_counter()
        m = tracer.span("streaming.ingest.run_once", run_once)
        if tracer.on:
            with tracer._lock:
                tracer.ticks.append({
                    "start": start,
                    "tick_s": time.perf_counter() - start,
                    "files_read": dict(m.extra.get("files_read", {})),
                    "stage_sec": dict(m.extra.get("stage_sec", {})),
                    "transfers": m.transfers_discovered,
                })
        return m

    svc.pipeline.run_once = tick


def load(path: str) -> tuple[dict, dict, dict, int]:
    """Spans written by ``Tracer.dump`` → (self seconds by name, total
    seconds by name, server seconds by request id, spans recorded on
    request threads)."""
    own: dict[str, list[float]] = collections.defaultdict(list)
    total: dict[str, list[float]] = collections.defaultdict(list)
    server: dict[str, float] = {}
    request_spans = 0
    with open(path) as fh:
        for line in fh:
            name, start, end, _parent, rid, self_s = json.loads(line)
            own[name].append(self_s)
            total[name].append(end - start)
            if rid is not None:
                request_spans += 1
                if name == "api.http.server":
                    server[rid] = end - start
    return own, total, server, request_spans
