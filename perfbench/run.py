"""Benchmark of the data warehouse service, driven from outside.

    python3 perfbench/run.py --workload serve_ingest --seed 7 --seconds 16 --trace 0

Run from the root of a checkout. Each run:

  1. writes the seeded fixture (star schema + text/vector tables) and a
     primary-storage tree for the loaded tenant under ``.perfbench_work/``;
  2. starts the service in its own process (``service_main.py``: Spark with
     FAIR pools, warehouse load, balance-rollup bootstrap, cold ingest of the
     primary tree, the ingestion loop, the threaded Flask server);
  3. drives it from this process over HTTP and the primary tree:
       warm-up    2 s closed loop, not measured;
       window     ``--seconds`` of the open-loop GraphQL read mix at the
                  pinned rate;
       capacity   (traced run) closed loop with one connection per CPU;
       burst      a burst of transactions lands at once in the loaded
                  tenant, right after an ingestion tick ends; the run waits
                  until all of it is visible through GraphQL;
  4. checks every answer: a seeded sample of read responses against DuckDB
     over the same parquet, every written transaction and every balance of
     the loaded tenant against the writer's ground truth, and (traced run)
     each analytics result against its DuckDB twin;
  5. prints one JSON line: end-to-end metrics with ``--trace 0``; with
     ``--trace 1`` per-layer metrics from spans recorded around each layer's
     public functions, plus a timed pass over one catalog entry per
     operator module after the window.

Workloads differ only in when the burst lands:
  serve_read    after the window, so the reads meet idle ingestion
                ticks only and the burst is ingested beside no reads;
  serve_ingest  as the window opens, so its merge tick clears the response
                cache and competes with the reads for the cores, and the
                burst is ingested beside the read mix.

A wrong answer or a failed operation makes the exit code 1. The work
directory and every process started are removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_read", "serve_ingest")
WARM_SECONDS = 2.0


def pct(xs: list[float], p: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class ServiceProc:
    """The service process plus its control channel."""

    def __init__(self, work: str, data: str, primary: str, settings: dict,
                 accounts: int, trace: int):
        read_fd, write_fd = os.pipe()
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(cpus()),
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=os.path.join(work, "tmp"),
            **settings["spark"],
        )
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log = open(os.path.join(work, "service.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "service_main.py"),
             "--workdir", work, "--data", data, "--primary", primary,
             "--accounts", str(accounts),
             "--trace", str(trace), "--reply-fd", str(write_fd)],
            stdin=subprocess.PIPE, stdout=self.log, stderr=self.log,
            pass_fds=(write_fd,), env=env, start_new_session=True, cwd=work)
        os.close(write_fd)
        self.replies = os.fdopen(read_fd)
        self.lock = threading.Lock()
        self.rss_peak = 0.0
        self._sampling = threading.Event()

    def read(self, timeout: float) -> dict:
        ready, _, _ = select.select([self.replies], [], [], timeout)
        line = self.replies.readline() if ready else ""
        if not line:
            raise RuntimeError(f"service gave no reply within {timeout:.0f}s "
                               f"(exit code {self.proc.poll()})")
        return json.loads(line)

    def ctl(self, timeout: float = 120.0, **cmd) -> dict:
        with self.lock:
            self.proc.stdin.write((json.dumps(cmd) + "\n").encode())
            self.proc.stdin.flush()
            return self.read(timeout)

    def rss_mb(self) -> float:
        """Resident memory of the service: its Python process plus the JVM
        (Spark's short-lived Python workers are left out)."""
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    comm, rest = fh.read().rsplit(")", 1)
                if int(rest.split()[2]) != self.proc.pid or not (
                        int(pid) == self.proc.pid or comm.endswith("(java")):
                    continue
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total / 1024

    def sample_rss(self) -> None:
        def loop() -> None:
            while not self._sampling.wait(0.25):
                self.rss_peak = max(self.rss_peak, self.rss_mb())

        threading.Thread(target=loop, daemon=True).start()

    def stop(self) -> None:
        """Kill the service's whole process group (its Python process, the
        JVM, Spark's Python workers) and wait for the service to end; the
        work directory it wrote to is removed by the caller."""
        self._sampling.set()
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.log.close()


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _d, _s, fs in os.walk(path) for f in fs)


def check_ingest(client, writer) -> tuple[int, list[str]]:
    """The loaded tenant's rows and balances, read back through GraphQL,
    against the writer's ground truth: (rows checked, one problem per
    wrong row)."""
    from loadgen import q
    from oracle import norm

    tenant = writer.tenant
    data = client.data(
        f"query {{ transfers(tenant: {q(tenant)}, limit: {len(writer.transactions) + 100}, "
        "offset: 0) { transaction amount credit { name } debit { name } } }")
    got = {r["transaction"]: (r["credit"]["name"], r["debit"]["name"], norm(r["amount"]))
           for r in data["transfers"]}
    want = {t: (c, d, norm(a)) for t, (c, d, a) in writer.transactions.items()}
    bad = [f"{tenant} transfer {t}: got {got.get(t)} want {want.get(t)}"
           for t in sorted(set(got) | set(want)) if got.get(t) != want.get(t)]
    data = client.data(
        f"query {{ accounts(tenant: {q(tenant)}, limit: {len(writer.accounts) + 10}, "
        "offset: 0) { name balance } }")
    got_bal = {r["name"]: norm(r["balance"]) for r in data["accounts"]}
    want_bal = {a: norm(b) for a, b in writer.balance.items()}
    bad += [f"{tenant} balance {a}: got {got_bal.get(a)} want {want_bal.get(a)}"
            for a in sorted(set(got_bal) | set(want_bal)) if got_bal.get(a) != want_bal.get(a)]
    return len(want) + len(want_bal), bad


def run(args, settings: dict, work: str) -> tuple[dict, int]:
    import fixture
    import loadgen
    import oracle

    seconds = float(args.seconds)
    data = os.path.join(work, "data")
    fixture.write_tables(data, args.seed, settings["fixture"])
    pcfg = settings["primary"]
    writer = fixture.PrimaryWriter(os.path.join(work, "primary"), pcfg["tenant"],
                                   pcfg["accounts"], args.seed)

    svc = ServiceProc(work, data, os.path.join(work, "primary"), settings,
                      pcfg["accounts"], args.trace)
    try:
        # the DuckDB twin is built while the service sets up
        truth = oracle.Oracle(data, extra_tenants=[pcfg["tenant"]])
        log("inputs written; waiting for the service")
        ready = svc.read(timeout=170)
        log(f"service ready: set-up {ready['setup_s']:.1f}s {ready['setup_parts_s']}")
        svc.sample_rss()
        client = loadgen.Client(ready["port"])
        mix_args = (settings["mix"], truth.accounts_by_tenant,
                    {t: len(v) for t, v in truth.transfers.items()}, len(truth.tenants))
        if args.trace:
            svc.ctl(cmd="trace", on=True)
        stats0 = svc.ctl(cmd="stats")
        du0, landed0 = du(ready["warehouse"]), writer.bytes_written
        fresh = loadgen.Freshness(client, writer)
        fresh.start()

        warm, _ = loadgen.closed_loop(client, loadgen.Mix(args.seed + 1, *mix_args),
                                      WARM_SECONDS, cpus(), args.seed + 1, "w")

        def land_burst() -> tuple[list[str], float]:
            """The burst, landed right after an ingestion tick ends, so the
            tick that picks it up starts at the same point of every run."""
            svc.ctl(cmd="tick_end")
            return [fresh.write() for _ in range(settings["burst_transactions"])], \
                time.perf_counter()

        mix = loadgen.Mix(args.seed, *mix_args)
        if args.workload == "serve_ingest":
            burst, burst_at = land_burst()
        records = loadgen.open_loop(client, mix, settings["read_rate_rps"], seconds, cpus(),
                                    args.seed + 3, "r")
        log(f"window done: {len(records)} requests")
        cap, cap_wall = [], 0.0
        if args.trace:
            cap, cap_wall = loadgen.closed_loop(client, loadgen.Mix(args.seed + 4, *mix_args),
                                                settings["capacity_seconds"], cpus(),
                                                args.seed + 5, "c")
            log(f"capacity phase: {len(cap)} requests in {cap_wall:.1f}s")
        if args.workload == "serve_read":
            burst, burst_at = land_burst()
        visible = fresh.wait_visible(burst, 90)
        fresh.stop()
        log("burst visible" if visible else "burst still missing")
        # a tick commits the transfer table before the balance changes, so
        # the ingest check waits for the tick that showed the last write
        svc.ctl(cmd="tick_end")
        stats1 = svc.ctl(cmd="stats")
        du1, landed1 = du(ready["warehouse"]), writer.bytes_written

        walls: dict = {}
        if args.trace:
            walls = svc.ctl(cmd="analytics", names=list(settings["analytics_entries"]),
                            timeout=170)["walls"]
            log("analytics pass: " + ", ".join(f"{k} {v:.2f}" for k, v in walls.items()))

        # ---- correctness, outside the timed path ----
        reads = warm + cap + records
        problems = [f"HTTP {r['status']} {r['shape']}: {(r['body'] or b'')[:200]!r}"
                    for r in reads if r["error"]]
        wrong = truth.check(reads)
        problems += [f"wrong answer: {p}" for p in wrong.values()]
        missing = [t for t in burst if t not in fresh.visible]
        problems += [f"{t} never became visible" for t in missing]
        rows_checked, bad_rows = check_ingest(client, writer)
        problems += bad_rows
        if args.trace:
            problems += [f"{n}: {e}" for n, e in
                         svc.ctl(cmd="verify_analytics", timeout=170)["mismatches"].items()]
        spans = None
        if args.trace:
            spans_path = os.path.join(work, "spans.jsonl")
            spans = svc.ctl(cmd="spans", path=spans_path), spans_path
        log("checks done")
        files = {t: parquet_files(os.path.join(ready["warehouse"], t))
                 for t in ("transfer", "account_balance_change")}
    finally:
        svc.stop()

    attempted = len(reads) + len(burst) + rows_checked + len(walls)
    for p in problems[:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    lat_ms = [(r["end"] - r["due"]) * 1000 for r in records]
    slo_met = sum(1 for r, ms in zip(records, lat_ms)
                  if not r["error"] and r["rid"] not in wrong and ms <= settings["slo_ms"])
    lags = fresh.lag(burst)
    burst_s = max(fresh.visible.get(t, float("inf")) for t in burst) - burst_at
    # read latency on a shared 4-core host drifts with the host's load by
    # more than any allowed bound, so the end-to-end read figure is the share
    # of requests answered right within the latency limit (a ratio near 1
    # moves little with that drift); p50/p95 are reported by the traced run
    e2e = {
        "setup_s": (ready["setup_s"], "s"),
        "slo_met_ratio": (slo_met / len(records), "ratio"),
        "fresh_p50_s": (pct(lags, 50), "s"),
        "ingest_tps": (len(burst) / burst_s, "1/s"),
        "rss_peak_mb": (svc.rss_peak, "MB"),
    }
    if args.trace:
        metrics = per_layer(settings, writer, records, cap, cap_wall, lat_ms, stats0, stats1,
                            spans, walls, burst, (du1 - du0) / max(1, landed1 - landed0),
                            files, fresh, len(problems) / attempted)
    else:
        metrics = e2e
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, (0 if not problems else 1)


STAGES = ("listing", "account_discovery", "event_listing", "event_read_pick",
          "txn_expand", "transfer_abc_merge", "rollup_maintain", "marker_advance",
          "rollup_converge_check")


def parse_ms_per_file(writer) -> float:
    """The primary-storage parse twins, timed from outside over every
    event and transaction file the writer landed."""
    from data_warehouse_spark.sources import primary

    files = writer.event_files + writer.transaction_files
    start = time.perf_counter()
    primary.read_account_event_rows(writer.event_files)
    primary.read_transaction_rows(writer.transaction_files)
    return (time.perf_counter() - start) * 1000 / len(files)


def per_layer(settings, writer, records, cap, cap_wall, lat_ms, stats0, stats1, spans, walls,
              landed, bytes_ratio, files, fresh, error_ratio) -> dict:
    """Per-layer metrics of a traced run. Tracing is on from the warm-up
    until the burst is visible, so every tick and request of the measured
    phases is recorded."""
    import tracing

    reply, path = spans
    ticks = reply["ticks"]
    own, total, server, request_spans = tracing.load(path)
    c0, c1 = stats0["counters"], stats1["counters"]

    def delta(key: str) -> int:
        return c1.get(key, 0) - c0.get(key, 0)

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    def p(xs, q) -> float:
        return pct(xs, q) if xs else 0.0

    served = [r for r in records if r["rid"] in server]
    server_ms = [server[r["rid"]] * 1000 for r in served]
    queue_ms = [(r["end"] - r["send"]) * 1000 - server[r["rid"]] * 1000 for r in served]
    n_req = len(records) + len(cap)
    m: dict[str, tuple[float, str]] = {
        "api.http.capacity_rps": (sum(1 for r in cap if not r["error"]) / cap_wall, "1/s"),
        "api.http.server_ms.p99": (p(server_ms, 99), "ms"),
        "api.http.queue_ms.p99": (p(queue_ms, 99), "ms"),
        "api.http.response_cache_hit_ratio": (
            ratio(delta("response_hit"), n_req + fresh.polls), "ratio"),
        "api.graphql_schema.execute_self_ms.p50": (
            p([s * 1000 for s in own.get("api.graphql_schema.execute", [])], 50), "ms"),
        "api.graphql_schema.execute_self_ms.p99": (
            p([s * 1000 for s in own.get("api.graphql_schema.execute", [])], 99), "ms"),
    }
    for key in ("tenant", "account", "balance_rollup"):
        hits = delta(f"{key}_hit")
        m[f"api.serving_cache.hit_ratio.{key}"] = (
            ratio(hits, hits + delta(f"{key}_reload") + delta(f"{key}_fallback")), "ratio")
    page_hits = delta("transfer_page_hit") + delta("transfer_page_stale_served") + \
        delta("transfer_page_coalesced")
    m["api.serving_cache.hit_ratio.transfer_page"] = (
        ratio(page_hits, page_hits + delta("transfer_page_load") + delta("transfer_page_fallback")),
        "ratio")
    reloads = sum(v - c0.get(k, 0) for k, v in c1.items() if k.endswith("_reload"))
    m["api.serving_cache.reloads"] = (reloads, "count")
    m["api.serving_cache.reload_ms"] = (
        ratio(sum(total.get("api.serving_cache.get", [])) * 1000, reloads), "ms")
    kv_calls = 0
    for meth in ("lookup", "sorted_page", "delta_sums"):
        xs = total.get(f"api.kv_tier.{meth}", [])
        kv_calls += len(xs)
        m[f"api.kv_tier.call_ms.{meth}"] = (p([x * 1000 for x in xs], 50), "ms")
    kv_calls += len(total.get("api.kv_tier.tenant_page", []))
    rg_hit, rg_miss = delta("kv_rg_cache_hit"), delta("kv_rg_cache_miss")
    m["api.kv_tier.rowgroups_read_per_call"] = (ratio(rg_hit + rg_miss, kv_calls), "count")
    m["api.kv_tier.rg_cache_hit_ratio"] = (ratio(rg_hit, rg_hit + rg_miss), "ratio")
    n_server = len(total.get("api.http.server", []))
    wh_calls = sum(len(v) for k, v in total.items() if k.startswith("operators.queries."))
    m["operators.queries.calls_per_request"] = (ratio(wh_calls, n_server), "count")

    j0, j1 = stats0["jobs"], stats1["jobs"]
    req_jobs = j1[tracing.REQUEST_GROUP] - j0[tracing.REQUEST_GROUP]
    merge = [t for t in ticks if t["transfers"] or any(t["files_read"].values())]
    idle = [t for t in ticks if t not in merge]
    m["spark.jobs_per_request"] = (ratio(req_jobs, n_server), "count")
    # nothing but requests and ticks runs Spark jobs between the two stats
    m["spark.jobs_per_tick"] = (ratio(j1["total"] - j0["total"] - req_jobs, len(ticks)), "count")
    m["streaming.ingest.ticks"] = (len(ticks), "count")
    m["streaming.ingest.tick_s.merge.p50"] = (p([t["tick_s"] for t in merge], 50), "s")
    m["streaming.ingest.tick_s.idle.p50"] = (p([t["tick_s"] for t in idle], 50), "s")
    for stage in STAGES:
        m[f"streaming.ingest.stage_s.{stage}"] = (
            ratio(sum(t["stage_sec"].get(stage, 0.0) for t in merge), len(merge)), "s")
    files_read = sum(sum(t["files_read"].values()) for t in ticks)
    # every landed transaction writes three files: the transaction and two events
    m["streaming.ingest.files_read_per_landed_file"] = (ratio(files_read, 3 * len(landed)), "ratio")
    examined = sum(reply["examined"])
    changed = {acc for trn in landed for acc in writer.transactions[trn][:2]}
    m["sources.listing.sweep_ms"] = (
        p([x * 1000 for x in total.get("sources.listing.sweep", [])], 50), "ms")
    m["sources.listing.accounts_examined_per_changed"] = (ratio(examined, len(changed)), "ratio")
    m["sources.primary.parse_ms_per_file"] = (parse_ms_per_file(writer), "ms")
    for table in ("transfer", "account_balance_change", "account", "tenant"):
        xs = [x for k, v in total.items() if k.startswith("sources.tables.")
              and k.endswith(f".{table}") for x in v]
        m[f"sources.tables.merge_ms.{table}"] = (ratio(sum(xs) * 1000, len(merge)), "ms")
    m["sources.tables.bytes_written_per_landed_byte"] = (bytes_ratio, "ratio")
    for table, n in files.items():
        m[f"sources.tables.files_per_table.{table}"] = (n, "count")
    m["operators.balance_view.maintain_ms"] = (
        p([x * 1000 for x in total.get("operators.balance_view.maintain", [])], 50), "ms")
    actions = reply["actions"]
    for action in ("recompute", "delta", "deferred", "noop"):
        m[f"operators.balance_view.actions.{action}"] = (actions.count(action), "count")
    module_wall = dict.fromkeys(settings["analytics_entries"].values(), 0.0)
    for name, wall in walls.items():
        module_wall[settings["analytics_entries"][name]] += wall
    for mod, wall in module_wall.items():
        m[f"operators.{mod}.wall_s"] = (wall, "s")
    m["operators.batch_wall_s"] = (sum(walls.values()), "s")
    m["jvm.gc_ms"] = (stats1["gc_ms"] - stats0["gc_ms"], "ms")
    m["bench.generator_late_ms.p99"] = (p([(r["send"] - r["due"]) * 1000 for r in records], 99), "ms")
    m["bench.error_ratio"] = (error_ratio, "ratio")
    # read latency of this run's window, with tracing on
    m["bench.traced.p50_ms"] = (p(lat_ms, 50), "ms")
    m["bench.traced.p95_ms"] = (p(lat_ms, 95), "ms")
    m["bench.traced.fresh_p50_s"] = (p(fresh.lag(landed), 50), "s")
    m["bench.trace_cost_ms_per_request"] = (
        ratio(request_spans, n_server) * reply["span_cost_s"] * 1000, "ms")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 4:
        ap.error("--seconds must be at least 4")
    if not os.path.isfile(os.path.join(ROOT, "data_warehouse_spark", "__init__.py")):
        print(f"perfbench: no data_warehouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    with open(os.path.join(HERE, "settings.json")) as fh:
        settings = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        result, code = run(args, settings, work)
        if code:
            with open(os.path.join(work, "service.log"), errors="replace") as fh:
                tail = [ln for ln in fh if "WARN" not in ln and '"POST /graphql' not in ln][-60:]
            sys.stderr.write("perfbench: service log tail:\n" + "".join(tail))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    raise SystemExit(main())
