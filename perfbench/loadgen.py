"""Load generator: the GraphQL read mix, open and closed loop, plus the
freshness poller that watches writes land. Runs in the benchmark's
own process, apart from the service, and speaks HTTP only."""

from __future__ import annotations

import bisect
import decimal
import http.client
import itertools
import json
import random
import threading
import time

SHAPES = ("account_point", "accounts_page", "transfers_nested",
          "transfers_filtered", "tenants_page")
_BAL = "{ name balance }"


def q(text: str) -> str:
    return json.dumps(text)


def build_query(shape: str, a: dict) -> str:
    """GraphQL text for one request; every argument is a literal, so the
    request key the response cache sees is the query text itself."""
    if shape == "account_point":
        return (f"query {{ account(tenant: {q(a['tenant'])}, name: {q(a['name'])}) "
                "{ name currency format balance } }")
    if shape == "accounts_page":
        return (f"query {{ accounts(tenant: {q(a['tenant'])}, limit: {a['limit']}, "
                f"offset: {a['offset']}) {{ name currency format balance }} }}")
    if shape == "transfers_nested":
        return (f"query {{ transfers(tenant: {q(a['tenant'])}, limit: {a['limit']}, "
                f"offset: {a['offset']}) {{ transaction transfer amount status "
                f"credit {_BAL} debit {_BAL} }} }}")
    if shape == "transfers_filtered":
        return (f"query {{ transfers(tenant: {q(a['tenant'])}, status: \"committed\", "
                f"amount_gte: {a['lo']}, amount_lt: {a['hi']}, "
                f"valueDate_gte: {q(a['d0'])}, valueDate_lt: {q(a['d1'])}, "
                f"limit: {a['limit']}, offset: 0) "
                "{ transaction transfer amount valueDate } }")
    if shape == "tenants_page":
        return f"query {{ tenants(limit: {a['limit']}, offset: {a['offset']}) {{ name }} }}"
    raise ValueError(shape)


class Mix:
    """Seeded request stream. Tenants are drawn Zipf-skewed in name order,
    so the same tenant is the hottest in every run and runs differ in their
    draws, not in which tenant's size sets the cost; accounts inside each
    tenant are drawn Zipf-skewed over a seeded order. Offsets, amounts and
    date windows vary, so distinct request keys far outnumber the 128-entry
    response cache and the transfer-page LRU."""

    def __init__(self, seed: int, weights: dict, accounts: dict[str, list[str]],
                 transfers_per_tenant: dict[str, int], n_tenants: int):
        self.rng = random.Random(seed)
        self.shapes = list(weights)
        self.cum = list(itertools.accumulate(weights[s] for s in self.shapes))
        self.tenants = sorted(accounts)
        self.t_cum = list(itertools.accumulate(1 / (r + 1) ** 1.1 for r in range(len(self.tenants))))
        self.accounts = {t: self.rng.sample(v, len(v)) for t, v in sorted(accounts.items())}
        self.a_cum = {t: list(itertools.accumulate(1 / (r + 1) for r in range(len(v))))
                      for t, v in self.accounts.items()}
        self.transfers = transfers_per_tenant
        self.n_tenants = n_tenants

    def _pick(self, cum: list[float]) -> int:
        return bisect.bisect_left(cum, self.rng.random() * cum[-1])

    def next(self) -> tuple[str, dict]:
        r = self.rng
        shape = self.shapes[self._pick(self.cum)]
        tenant = self.tenants[self._pick(self.t_cum)]
        if shape == "account_point":
            accs = self.accounts[tenant]
            return shape, {"tenant": tenant, "name": accs[self._pick(self.a_cum[tenant])]}
        if shape == "accounts_page":
            pages = max(1, len(self.accounts[tenant]) // 20)
            return shape, {"tenant": tenant, "limit": 20, "offset": 20 * r.randrange(pages)}
        if shape == "transfers_nested":
            pages = max(1, self.transfers[tenant] // 20)
            return shape, {"tenant": tenant, "limit": 20, "offset": 20 * r.randrange(pages)}
        if shape == "transfers_filtered":
            lo = r.randrange(1000, 90_000, 500)
            month = r.randrange(1, 6)
            return shape, {"tenant": tenant, "lo": lo, "hi": lo + r.randrange(2000, 20_000, 500),
                           "d0": f"1996-{month:02d}-01T00:00:00Z",
                           "d1": f"1996-{month + 1:02d}-01T00:00:00Z", "limit": 20}
        return shape, {"limit": r.choice((5, 10, 30)), "offset": r.randrange(self.n_tenants)}


class Client:
    """One keep-alive HTTP connection per thread."""

    def __init__(self, port: int):
        self.port = port
        self._local = threading.local()

    def post(self, query: str, rid: str | None = None, timeout: float = 60.0):
        conn = getattr(self._local, "conn", None)
        if conn is None:
            conn = self._local.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=timeout)
        headers = {"Content-Type": "application/json"}
        if rid is not None:
            headers["X-Request-Id"] = rid
        body = json.dumps({"query": query})
        try:
            conn.request("POST", "/graphql", body, headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        except (OSError, http.client.HTTPException):
            conn.close()
            self._local.conn = None
            raise

    def data(self, query: str) -> dict:
        status, body = self.post(query)
        doc = json.loads(body, parse_float=decimal.Decimal)
        if status != 200 or doc.get("errors"):
            raise RuntimeError(f"HTTP {status}: {body[:300]!r}")
        return doc["data"]


def poisson_schedule(rng: random.Random, rate: float, seconds: float) -> list[float]:
    out, t = [], rng.expovariate(rate)
    while t < seconds:
        out.append(t)
        t += rng.expovariate(rate)
    return out


def _record(client: Client, rid: str, shape: str, args: dict, due: float, keep: bool) -> dict:
    send = time.perf_counter()
    try:
        status, body = client.post(build_query(shape, args), rid=rid)
    except Exception as exc:  # noqa: BLE001 - recorded as a failure
        status, body = 0, repr(exc).encode()
    error = status != 200 or b'"errors"' in body
    return {"shape": shape, "args": args, "due": due, "send": send,
            "end": time.perf_counter(), "status": status, "rid": rid,
            "body": body if (keep or error) else None, "error": error}


def open_loop(client: Client, mix: Mix, rate: float, seconds: float, threads: int,
              seed: int, tag: str, sample: float = 0.1) -> list[dict]:
    """Requests on a seeded Poisson schedule, sent by ``threads`` workers;
    each record's latency runs from its due time, so a stalled server or a
    late worker both show up as latency (no coordinated omission). A seeded
    ``sample`` share of the bodies is kept for the answer check; request ids
    are ``tag`` plus the request's index."""
    rng = random.Random(seed)
    due = poisson_schedule(rng, rate, seconds)
    items = [(d, *mix.next(), rng.random() < sample) for d in due]
    records: list[dict] = [None] * len(items)  # type: ignore[list-item]
    it = iter(range(len(items)))
    lock = threading.Lock()
    t0 = time.perf_counter() + 0.05

    def worker() -> None:
        while True:
            with lock:
                i = next(it, None)
            if i is None:
                return
            d, shape, args, keep = items[i]
            wait = t0 + d - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            records[i] = _record(client, f"{tag}{i}", shape, args, t0 + d, keep)

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for th in pool:
        th.start()
    for th in pool:
        th.join()
    return records


def closed_loop(client: Client, mix: Mix, seconds: float, threads: int, seed: int,
                tag: str, sample: float = 0.1) -> tuple[list[dict], float]:
    """``threads`` connections, each sending its next request as soon as the
    last one returns, for ``seconds``; returns (records, wall)."""
    rng = random.Random(seed)
    records: list[dict] = []
    lock = threading.Lock()
    start = time.perf_counter()
    stop = start + seconds

    def worker() -> None:
        while time.perf_counter() < stop:
            with lock:
                i = len(records)
                shape, args = mix.next()
                keep = rng.random() < sample
                records.append(None)
            rec = _record(client, f"{tag}{i}", shape, args, time.perf_counter(), keep)
            records[i] = rec

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for th in pool:
        th.start()
    for th in pool:
        th.join()
    return records, time.perf_counter() - start


class Freshness:
    """Lands transactions through a ``PrimaryWriter`` and polls the loaded
    tenant's transfer tail through GraphQL; a transaction's freshness is the
    time from the write of its last file to the first response that shows
    it. Transaction ids sort in write order, so the tail page starts after
    the longest prefix already seen."""

    def __init__(self, client: Client, writer, interval: float = 0.05):
        self.client, self.writer = client, writer
        self.interval = interval
        self.written: dict[str, float] = {}
        self.visible: dict[str, float] = {}
        self.order: list[str] = []
        self.polls = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def write(self) -> str:
        with self._lock:
            trn = self.writer.transact()
            self.written[trn] = time.perf_counter()
            self.order.append(trn)
        return trn

    def _prefix(self) -> int:
        n = 0
        with self._lock:
            for trn in self.order:
                if trn not in self.visible:
                    break
                n += 1
        return n

    def _poll(self) -> None:
        tenant = self.writer.tenant
        while not self._stop.is_set():
            with self._lock:
                pending = len(self.order) > len(self.visible)
            if pending:
                off = self._prefix()
                try:
                    data = self.client.data(
                        f"query {{ transfers(tenant: {q(tenant)}, limit: 1000, "
                        f"offset: {off}) {{ transaction }} }}")
                    now = time.perf_counter()
                    self.polls += 1
                    with self._lock:
                        for row in data["transfers"]:
                            trn = row["transaction"]
                            if trn in self.written and trn not in self.visible:
                                self.visible[trn] = now
                except Exception:  # noqa: BLE001 - a failed poll is retried
                    pass
            self._stop.wait(self.interval)

    def wait_visible(self, trns, timeout: float) -> bool:
        end = time.perf_counter() + timeout
        while True:
            with self._lock:
                if all(t in self.visible for t in trns):
                    return True
            if time.perf_counter() >= end:
                return False
            time.sleep(0.02)

    def lag(self, trns) -> list[float]:
        return [self.visible[t] - self.written[t] for t in trns if t in self.visible]

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

