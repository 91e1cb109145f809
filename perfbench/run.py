"""perfbench: the engine's three user paths, end to end and per layer.

Workloads (see perfbench/README.md for the full tables):

- ``serve``: 4 closed-loop HTTP clients against ``log.http_server.serve``
  over a frozen 100,000-event log;
- ``tail``: an open-loop generator (20,000-event backlog, then 2,000
  events/s) through ``streaming.ingest.start_ingest`` into a
  ``streaming.watch.watch`` consumer, with one HTTP reader on the live
  sink;
- ``batch_spine``: the frozen 20-query ``bench.SPINE`` at sf0.1.

The program runs in its own process (``perfbench/sut.py``); load,
checks and metrics live in this one. Inputs come from ``--seed`` only.

Usage (from the repository root):
    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is the full
record (host, seed, every measured figure and the check details).
Self-test options: ``--size min`` shrinks every workload and
``--inject body|offset|oracle`` plants one wrong expectation.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import platform
import queue
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: Program files the benchmark drives; without them it refuses to run.
PROGRAM = (
    "vsphere_event_streaming_spark/log/http_server.py",
    "vsphere_event_streaming_spark/streaming/ingest.py",
    "bench.py",
    "tools/selfcheck.py",
)

SIZES = {
    "full": dict(serve_events=100_000, clients=4,
                 backlog=20_000, rate=2000.0, page_cap=5000, scale=0.1),
    "min": dict(serve_events=2_000, clients=2,
                backlog=500, rate=200.0, page_cap=5000, scale=0.001),
}

#: End-to-end metrics: (name, unit, better). Every workload reports all.
#: Peak RSS is a per-layer metric: the JVM's heap growth makes it swing
#: 3-8 GB between runs of one workload, too wide for any bound. The p50
#: is in the full record only: on serve it falls on the edge between the
#: point lookups (55% of requests) and the faster range and page calls,
#: so it jumps between the two from run to run.
E2E = [("setup_s", "s", "lower"), ("ops_per_s", "1/s", "higher"),
       ("p90_ms", "ms", "lower")]

#: The workloads BENCHMARK.json lists. ``tail`` runs the same way but is
#: left out: on the current code it fails its own checks (duplicate
#: offsets from ``start_ingest``), and a listed workload must be one on
#: which no operation fails.
LISTED = ("serve", "batch_spine")

#: The spine's query modules and the functions modules they call into.
SPINE_MODULES = ("log_queries", "relational_queries", "advanced_queries",
                 "pipeline_queries", "dedup", "vectors", "text",
                 "multimodal", "bpe")


def _layer_metrics() -> list[tuple[str, str, str]]:
    from bench import SPINE

    m = [(f"setup.{k}_s", "s", "lower")
         for k in ("session", "log_build", "warm", "inputs")]
    m += [("memory.peak_rss_mb", "MB", "lower")]
    m += [(f"http_server.{k}_ms", "ms", "lower")
          for k in ("range", "event", "events", "bad", "overhead")]
    for call in ("range", "get_event", "get_events"):
        m += [(f"service.{call}_ms", "ms", "lower")]
        m += [(f"service.{call}_{c}", "count", "lower")
              for c in ("jobs", "stages", "tasks")]
    m += [("spine.total_s", "s", "lower"),
          ("spine.one_core_s", "s", "lower")]
    for q in SPINE:
        m += [(f"spine.{q}_s", "s", "lower"),
              (f"spine.{q}_jobs", "count", "lower"),
              (f"spine.{q}_tasks", "count", "lower")]
    m += [(f"spine.{mod}_s", "s", "lower") for mod in SPINE_MODULES]
    m += [("trace_overhead_pct", "%", "lower")]
    return m


#: Per-layer metrics that only ``tail`` reports, after the listed ones.
TAIL_LAYER = [("sources.wait_ms", "ms", "lower"),
              ("sources.backlog_max_events", "count", "lower"),
              ("ingest.batch_ms", "ms", "lower"),
              ("ingest.batch_p95_ms", "ms", "lower"),
              ("ingest.event_batch_ms", "ms", "lower"),
              ("ingest.events_per_batch", "count", "higher"),
              ("ingest.batches", "count", "lower"),
              ("ingest.jobs_per_batch", "count", "lower"),
              ("ingest.tasks_per_batch", "count", "lower"),
              ("ingest.input_rows_per_event", "ratio", "lower"),
              ("ingest.offset_dups", "count", "lower"),
              ("ingest.offset_mismatches", "count", "lower"),
              ("watch.pickup_ms", "ms", "lower"),
              ("watch.batch_ms", "ms", "lower"),
              ("watch.jobs_per_batch", "count", "lower"),
              ("tail.catchup_s", "s", "lower"),
              ("tail.steady_s", "s", "lower"),
              ("tail.api_p50_ms", "ms", "lower"),
              ("tail.api_staleness_ms", "ms", "lower"),
              ("tail.lag_p99_ms", "ms", "lower"),
              ("tail.lag_split_max_err_ms", "ms", "lower")]


# -- small helpers ---------------------------------------------------------


def pct(values, q: float) -> float:
    """The q-quantile (0 < q < 1) by linear interpolation; nan if empty."""
    if not values:
        return float("nan")
    v = sorted(values)
    x = q * (len(v) - 1)
    i = int(x)
    return v[i] if i + 1 >= len(v) else v[i] + (v[i + 1] - v[i]) * (x - i)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def ms(seconds: float) -> float:
    return seconds * 1000.0


class SUT:
    """The program's process: start, messages, peak RSS, stop."""

    def __init__(self, workload: str, work: str, params: dict) -> None:
        env = dict(os.environ)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            # -UsePerfData: no hsperfdata file under /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONPATH=ROOT,
            PYSPARK_PYTHON=sys.executable,
        )
        env.pop("SPARK_GRAFT_CPUS", None)
        if params["trace"]:
            env["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.ui.retainedJobs=100000 "
                "--conf spark.ui.retainedStages=100000 pyspark-shell"
            )
        self.log_path = os.path.join(work, "sut.log")
        self._log = open(self.log_path, "w")
        self.spawned = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), workload, work,
             json.dumps(params)],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, start_new_session=True,
        )
        self.messages: queue.Queue = queue.Queue()
        self.seen: dict[str, dict] = {}
        self.peak_kb = 0
        self._stop = threading.Event()
        threading.Thread(target=self._read, daemon=True).start()
        self._rss = threading.Thread(target=self._sample_rss, daemon=True)
        self._rss.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                msg = json.loads(line[5:])
                msg["at"] = time.time()
                self.seen[msg["kind"]] = msg
                self.messages.put(msg)
            else:
                self._log.write(line)
        self.messages.put({"kind": "exit", "at": time.time()})

    def expect(self, kind: str, timeout: float) -> dict:
        deadline = time.time() + timeout
        while True:
            try:
                msg = self.messages.get(timeout=max(0.01, deadline - time.time()))
            except queue.Empty:
                raise RuntimeError(f"program sent no {kind!r} in {timeout}s")
            if msg["kind"] == kind:
                return msg
            if msg["kind"] == "exit":
                raise RuntimeError(f"program exited before {kind!r}")

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, stack = [], [self.proc.pid]
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(children.get(pid, []))
        return out

    def _sample_rss(self) -> None:
        """Sum the resident set of the whole process tree every 0.5 s."""
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        while not self._stop.is_set():
            kb = 0
            for pid in self._tree():
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        kb += int(fh.read().split()[1]) * page_kb
                except (OSError, IndexError, ValueError):
                    pass
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(0.5)

    def peak_rss_mb(self) -> float:
        return self.peak_kb / 1024.0

    def close(self, timeout: float = 2.0) -> None:
        """Stop the program and every process it started; wait for them.

        The program has written its results by now. Its own Spark stop
        took up to 25 s after a serve window on 4 cores, which is run
        time and nothing else, so after ``timeout`` the group is
        terminated."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        self._stop.set()
        self._rss.join(timeout=5)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not self._signal_group(sig):
                break
            for _ in range(100):  # up to 10 s for the group to end
                time.sleep(0.1)
                self.proc.poll()  # reap the program's own process
                if not self._signal_group(0):
                    break
        self.proc.wait()
        self._log.close()

    def _signal_group(self, sig: int) -> bool:
        """Send ``sig`` to the program's process group; False once the
        group is gone."""
        try:
            os.killpg(self.proc.pid, sig)
            return True
        except ProcessLookupError:
            return False


class Checks:
    """Failures counted against attempts, with the first few reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.by_kind: dict[str, list[int]] = {}
        self.examples: list[str] = []
        self.lock = threading.Lock()

    def record(self, kind: str, ok: bool, why: str = "") -> None:
        with self.lock:
            self.attempted += 1
            tally = self.by_kind.setdefault(kind, [0, 0])
            tally[0] += 1
            if not ok:
                self.failed += 1
                tally[1] += 1
                if len(self.examples) < 5:
                    self.examples.append(f"{kind}: {why}")


# -- HTTP client -------------------------------------------------------------


class Client:
    def __init__(self, address: str) -> None:
        host, port = address.split("//", 1)[1].rsplit(":", 1)
        self.host, self.port = host, int(port)
        self.conn = None

    def get(self, path: str) -> tuple[int, bytes]:
        if self.conn is None:
            self.conn = http.client.HTTPConnection(self.host, self.port, timeout=60)
        try:
            self.conn.request("GET", path)
            resp = self.conn.getresponse()
            return resp.status, resp.read()
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = None
            raise

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()


# -- serve -------------------------------------------------------------------


def read_log_values(log_dir: str) -> dict[int, bytes]:
    import pyarrow.parquet as pq

    t = pq.read_table(log_dir, columns=["offset", "value"])
    return {
        o: v.encode()
        for o, v in zip(t.column("offset").to_pylist(), t.column("value").to_pylist())
    }


#: One cycle of the serve mix: 20% range, 20% page, 55% point lookup,
#: 5% bad request. Each client walks its own seeded shuffles of it, so
#: every run carries the same mix and the seed picks the order, the
#: offsets and the bad requests.
MIX = ["range"] * 4 + ["events"] * 4 + ["event"] * 11 + ["bad"]
#: Untimed requests before the window opens. The JVM keeps compiling the
#: concurrent request path for about 20 s of load: after 16 warm-up
#: requests the first fifth of a window read up to 2x its last fifth;
#: after 120 the fifths are flat (``p50_by_fifth_ms`` in the record).
SERVE_WARM_REQUESTS = 120


def serve_requests(rng: random.Random, k0: int, n: int):
    """Endless (kind, path) stream of the serve mix."""
    while True:
        cycle = MIX[:]
        rng.shuffle(cycle)
        for kind in cycle:
            if kind == "range":
                yield kind, "/api/v1/range"
            elif kind == "events":
                yield kind, "/api/v1/events"
            elif kind == "event":
                yield kind, f"/api/v1/events/{k0 + rng.randrange(n)}"
            else:
                bad = rng.choice([
                    "abc", "1_000", "%2012", "-1", f"-{1 + rng.randrange(n)}",
                    str(k0 + n + rng.randrange(n)),
                ])
                yield kind, f"/api/v1/events/{bad}"


def drive_serve(args, size, work, trace) -> dict:
    k0 = 1_000_000 + random.Random(args.seed).randrange(1_000_000)
    n = size["serve_events"]
    params = dict(k0=k0, events=n)
    sut = run_program("serve", work, params, trace, args)
    try:
        ready = sut.expect("ready", 150)
        values = read_log_values(ready["log_dir"])
        want_range = (json.dumps({"earliest": k0, "latest": k0 + n - 1}) + "\n").encode()
        want_page = b"[" + b",".join(values[o] for o in range(k0 + n - 50, k0 + n)) + b"]"
        if args.inject == "body":
            want_page = bytes([want_page[0] ^ 1]) + want_page[1:]
        checks, lat = Checks(), []
        window = {}  # "start": when the warm-up requests are done
        opened = threading.Event()

        def client(i: int) -> None:
            requests = serve_requests(random.Random(f"{args.seed}-{i}"), k0, n)
            c = Client(ready["address"])
            try:
                while not opened.is_set() or time.time() < window["start"] + args.seconds:
                    kind, path = next(requests)
                    started = time.time()
                    t = time.perf_counter()
                    try:
                        status, body = c.get(path)
                    except (OSError, http.client.HTTPException) as e:
                        checks.record(kind, False, repr(e))
                        continue
                    dt = time.perf_counter() - t
                    if kind == "range":
                        ok = status == 200 and body == want_range
                    elif kind == "events":
                        ok = status == 200 and body == want_page
                    elif kind == "event":
                        ok = status == 200 and body == values.get(int(path.rsplit("/", 1)[1]))
                    else:
                        ok = status == 400
                    checks.record(kind, ok, f"{path} -> {status} {body[:80]!r}")
                    if opened.is_set() and started >= window["start"]:
                        lat.append((kind, dt, started - window["start"]))
                    elif checks.attempted >= SERVE_WARM_REQUESTS and not opened.is_set():
                        with checks.lock:
                            window.setdefault("start", time.time())
                        opened.set()
            finally:
                c.close()

        threads = [threading.Thread(target=client, args=(i,)) for i in range(size["clients"])]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        elapsed = time.time() - window["start"]
        sut.send("stop")
        sut.expect("done", 60)
        out = load_sut_json(work)
    finally:
        sut.close()
    times = [dt for _, dt, _ in lat]
    e2e = dict(
        setup_s=ready["at"] - sut.spawned,
        peak_rss_mb=sut.peak_rss_mb(),
        ops_per_s=len(times) / elapsed,
        p90_ms=ms(pct(times, 0.90)),
    )
    layer = {
        "setup.session_s": out["session_s"],
        "setup.log_build_s": out["log_build_s"],
        "setup.warm_s": out["warm_s"],
    }
    for kind in ("range", "event", "events", "bad"):
        layer[f"http_server.{kind}_ms"] = ms(median([dt for k, dt, _ in lat if k == kind]))
    layer.update(service_layers(out.get("spans", []), [(k, dt) for k, dt, _ in lat]))
    # p50 per fifth of the window: shows warm-up drift inside a run.
    fifths = [ms(median([dt for _, dt, at in lat if int(5 * at / elapsed) == i]))
              for i in range(5)]
    report = dict(requests=len(times), req_per_s=e2e["ops_per_s"],
                  p50_ms=ms(median(times)), p95_ms=ms(pct(times, 0.95)),
                  p50_by_fifth_ms=fifths, k0=k0, events=n)
    return finish(checks, e2e, layer, report, out)


SERVICE_FOR = {"range": "service.range", "event": "service.get_event",
               "events": "service.get_events"}


def service_layers(spans: list[dict], lat) -> dict:
    """service.<method>_ms/_jobs/_stages/_tasks, the HTTP layer's share
    and the cost of tracing itself (traced vs timed-only calls)."""
    out = {}
    over, extra = [], []
    for kind, name in SERVICE_FOR.items():
        short = name.split(".", 1)[1]
        mine = [s for s in spans if s["name"] == name]
        durs = [s["t1"] - s["t0"] for s in mine]
        out[f"{name}_ms"] = ms(median(durs))
        traced = [s for s in mine if s.get("jobs") is not None]
        for c in ("jobs", "stages", "tasks"):
            out[f"service.{short}_{c}"] = median([s[c] for s in traced])
        client = [dt for k, dt in lat if k == kind]
        if client and durs:
            over.append(median(client) - median(durs))
        plain = [s["t1"] - s["t0"] for s in mine if s["group"] is None]
        with_groups = [s["t1"] - s["t0"] for s in mine if s["group"]]
        if plain and with_groups:
            extra.append((median(with_groups) - median(plain)) / median(plain))
    out["http_server.overhead_ms"] = ms(median(over)) if over else float("nan")
    out["trace_overhead_pct"] = 100 * median(extra) if extra else float("nan")
    return out


# -- tail --------------------------------------------------------------------


def due_time(key: int, t0: float, k0: int, backlog: int, rate: float) -> float:
    i = key - k0 - backlog
    return t0 if i < 0 else t0 + (i + 1) / rate


def parse_ts(s: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _key_of(offset) -> int | None:
    if offset is None:
        return None
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["key"])


def drive_tail(args, size, work, trace) -> dict:
    import pyarrow.parquet as pq

    rng = random.Random(args.seed)
    k0 = 1_000_000 + rng.randrange(1_000_000)
    backlog, rate = size["backlog"], size["rate"]
    params = dict(k0=k0, backlog=backlog, rate=rate, page_cap=size["page_cap"],
                  seconds=args.seconds, lead_s=0.5, drain_s=30.0,
                  max_catchup_s=90.0, drain_limit_s=25.0)
    sut = run_program("tail", work, params, trace, args)
    checks, api = Checks(), []
    try:
        t0 = sut.expect("ready", 150)["t0"]
        address = sut.expect("api", params["max_catchup_s"])["address"]
        c = Client(address)
        try:
            i = 0
            # The reader runs until the offered load stops: catch-up, the
            # drain of the restart queue, then the timed window.
            while time.time() < sut.seen.get("steady", {}).get("stop_at", t0 + 1e9):
                if time.time() > t0 + params["max_catchup_s"] + args.seconds:
                    raise RuntimeError("ingest never drained the restart backlog")
                kind = ("range", "events")[i % 2]
                i += 1
                t = time.time()
                try:
                    status, body = c.get(f"/api/v1/{kind}")
                except (OSError, http.client.HTTPException) as e:
                    checks.record(f"api_{kind}", False, repr(e))
                    continue
                api.append((kind, t, time.time(), status, body))
        finally:
            c.close()
        sut.expect("done", 90)
        out = load_sut_json(work)
    finally:
        sut.close()
    total = out["total"]

    expected = pq.read_table(os.path.join(work, "expected.parquet"))
    want = dict(zip(expected.column("key").to_pylist(),
                    (v.encode() for v in expected.column("value").to_pylist())))
    # Reader checks: /range is well formed and inside the written keys;
    # every page element is the stored envelope of its id.
    stale = []
    for kind, t_sent, t_recv, status, body in api:
        if kind == "range":
            ok = status == 200
            if ok:
                rng_ = json.loads(body)
                ok = rng_["earliest"] == k0 and k0 <= rng_["latest"] < k0 + total
                stale.append(t_recv - due_time(rng_["latest"], t0, k0, backlog, rate))
            checks.record("api_range", ok, f"{status} {body[:80]!r}")
        else:
            ok = status == 200
            if ok:
                ids = [int(e["id"]) for e in json.loads(body)]
                ok = 0 < len(ids) <= 50 and body == (
                    b"[" + b",".join(want.get(i, b"?") for i in ids) + b"]")
            checks.record("api_events", ok, f"{status} {body[:80]!r}")

    got = pq.read_table(os.path.join(work, "delivered.parquet")).to_pylist()
    first: dict[int, dict] = {}
    copies: dict[int, int] = {}
    for r in got:
        copies[r["key"]] = copies.get(r["key"], 0) + 1
        first.setdefault(r["key"], r)
    verdicts = delivery_verdicts(want, {k: k for k in want}, first, copies)
    report_inject = {}
    if args.inject == "offset":
        # Shift the expected offset of the first key that passed: the
        # self-test needs exactly one more failure, whatever the defects.
        key = next(k for k in sorted(want) if verdicts[k] is None)
        verdicts = delivery_verdicts(want, {k: k + (k == key) for k in want}, first, copies)
        report_inject = dict(shifted_key=key, caught=verdicts[key] is not None)
    for key, why in verdicts.items():
        checks.record("event", why is None, why or "")

    # Per-event lag split: read (source) -> batch commit (ingest) -> arrival.
    reads = []
    with open(os.path.join(work, "reads.txt")) as fh:
        for line in fh:
            lo, hi, t, released = line.split()
            reads.append((int(lo), int(hi), float(t), int(released)))
    batches = []
    for p in out["progress"]:
        lo = _key_of(p["sources"][0]["startOffset"]) or k0
        hi = _key_of(p["sources"][0]["endOffset"])
        if hi is None or hi <= lo:
            continue
        start = parse_ts(p["timestamp"])
        batches.append(dict(lo=lo, hi=hi, commit=start + p["durationMs"]["triggerExecution"] / 1000,
                            ms=p["durationMs"]["triggerExecution"],
                            rows=p["numInputRows"]))

    read_at = {}
    for lo, hi, t, _ in reads:
        for k in range(lo, hi):
            read_at.setdefault(k, t)
    commit_at = {}
    for b in batches:
        for k in range(b["lo"], b["hi"]):
            commit_at.setdefault(k, b["commit"])
    arrival = {k: r["arrival"] for k, r in first.items()}
    backlog_keys = [k for k in range(k0, k0 + backlog) if k in arrival]
    catchup = (max(arrival[k] for k in backlog_keys) - t0) if len(backlog_keys) == backlog else float("nan")
    lag, wait, batch_part, pickup, split_err = [], [], [], [], 0.0
    # Lag is counted for events due in the timed window, which opens once
    # the consumer has caught up and the source has drained the queue.
    for k in range(k0 + backlog, k0 + total):
        due = due_time(k, t0, k0, backlog, rate)
        if k not in arrival or k not in read_at or k not in commit_at or due <= out["steady_at"]:
            continue
        parts = (read_at[k] - due, commit_at[k] - read_at[k], arrival[k] - commit_at[k])
        total_lag = arrival[k] - due
        split_err = max(split_err, abs(sum(parts) - total_lag))
        lag.append(total_lag)
        wait.append(parts[0])
        batch_part.append(parts[1])
        pickup.append(parts[2])
    last = max(arrival.values()) if arrival else t0 + 1
    e2e = dict(
        setup_s=t0 - params["lead_s"] - sut.spawned,
        peak_rss_mb=sut.peak_rss_mb(),
        ops_per_s=len(arrival) / (last - t0),
        p90_ms=ms(pct(lag, 0.90)),
    )
    api_lat = [t_recv - t_sent for _, t_sent, t_recv, _, _ in api]
    sink = out["sink"]
    watch_b = [(p["durationMs"].get("triggerExecution", 0)) for p in out["watch_progress"] if p["numInputRows"]]
    layer = {
        "setup.session_s": out["session_s"],
        "sources.wait_ms": ms(median(wait)),
        "sources.backlog_max_events": max(
            (rel - hi for lo, hi, t, rel in reads if t > out["steady_at"]), default=0),
        "ingest.batch_ms": median([b["ms"] for b in batches]),
        "ingest.batch_p95_ms": pct([b["ms"] for b in batches], 0.95),
        "ingest.event_batch_ms": ms(median(batch_part)),
        "ingest.events_per_batch": median([b["hi"] - b["lo"] for b in batches]),
        "ingest.batches": len(batches),
        "ingest.input_rows_per_event": sum(b["rows"] for b in batches) / max(1, sum(b["hi"] - b["lo"] for b in batches)),
        "ingest.offset_dups": sink["rows"] - sink["offsets"],
        "ingest.offset_mismatches": sink["mismatch"],
        "watch.pickup_ms": ms(median(pickup)),
        "watch.batch_ms": median(watch_b),
        "tail.catchup_s": catchup,
        "tail.steady_s": out["steady_at"] - t0,
        "tail.api_p50_ms": ms(median(api_lat)),
        "tail.api_staleness_ms": ms(median(stale)),
        "tail.lag_p99_ms": ms(pct(lag, 0.99)),
        "tail.lag_split_max_err_ms": ms(split_err),
    }
    for kind in ("range", "events"):
        layer[f"http_server.{kind}_ms"] = ms(median(
            [tr - ts for k, ts, tr, _, _ in api if k == kind]))
    jobs = out.get("jobs")
    if jobs:
        layer["ingest.jobs_per_batch"] = jobs["ingest_run_id"]["jobs"] / max(1, len(batches))
        layer["ingest.tasks_per_batch"] = jobs["ingest_run_id"]["tasks"] / max(1, len(batches))
        layer["watch.jobs_per_batch"] = jobs["watch_run_id"]["jobs"] / max(1, len(watch_b))
    layer.update(service_layers(out.get("spans", []), [(k, tr - ts) for k, ts, tr, _, _ in api]))
    report = dict(
        k0=k0, events=total, catchup_s=catchup, lag_p50_ms=ms(median(lag)),
        lag_p99_ms=ms(pct(lag, 0.99)), lag_samples=len(lag),
        api_p50_ms=layer["tail.api_p50_ms"], api_staleness_ms=layer["tail.api_staleness_ms"],
        api_requests=len(api), sink=sink, inject=report_inject,
        drained=out["drained"],
        known_defects={
            "duplicate_offsets": layer["ingest.offset_dups"],
            "offset_not_key": layer["ingest.offset_mismatches"],
            "stale_listing_latest": max((json.loads(b)["latest"] for k, _, _, s, b in api if k == "range" and s == 200), default=None),
        },
    )
    return finish(checks, e2e, layer, report, out)


def delivery_verdicts(want, want_offset, first, copies) -> dict:
    """Per key: None when it was delivered exactly once at offset ==
    key with the envelope bytes, else why not. Keys never offered but
    delivered are failures too."""
    out = {}
    for key in want:
        r = first.get(key)
        if r is None:
            out[key] = f"key {key} never delivered"
        elif copies[key] != 1:
            out[key] = f"key {key} delivered {copies[key]}x"
        elif r["offset"] != want_offset[key]:
            out[key] = f"key {key} at offset {r['offset']}"
        elif r["value"].encode() != want[key]:
            out[key] = f"key {key} value differs"
        else:
            out[key] = None
    for key in copies.keys() - want.keys():
        out[key] = f"unexpected key {key}"
    return out


# -- batch_spine -------------------------------------------------------------


def drive_spine(args, size, work, trace) -> dict:
    import datagen

    t = time.time()
    sf_dir = datagen.write(os.path.join(work, "sf"), args.seed, size["scale"])
    warm_dir = datagen.write(os.path.join(work, "warm"), args.seed, 0.001)
    inputs_s = time.time() - t
    params = dict(sf_dir=sf_dir, warm_dir=warm_dir, seconds=args.seconds)
    sut = run_program("batch_spine", work, params, trace, args)
    try:
        ready = sut.expect("ready", 170)
        sut.expect("done", 170)
        out = load_sut_json(work)
    finally:
        sut.close()
    checks = Checks()
    for name, verdict in out["oracle"].items():
        if verdict != "no oracle":
            checks.record(f"oracle:{name}", verdict == "ok", verdict)
    per_query = {}
    for p in out["passes"]:
        for name, secs in p.items():
            checks.record("query", True)
            per_query.setdefault(name, []).append(secs)
    # Over every timed execution, as serve's latency is over every
    # request. The p90 of the 20 per-query medians instead sat on the one
    # query at that rank and spread 0.24 over ten seeds; this 0.08-0.09.
    all_times = [s for ts in per_query.values() for s in ts]
    pass_s = [sum(p.values()) for p in out["passes"]]
    e2e = dict(
        setup_s=ready["at"] - sut.spawned,
        peak_rss_mb=sut.peak_rss_mb(),
        ops_per_s=len(all_times) / sum(all_times),
        p90_ms=ms(pct(all_times, 0.90)),
    )
    layer = {
        "setup.session_s": out["session_s"],
        "setup.warm_s": out["warm_s"],
        "setup.inputs_s": inputs_s,
        "spine.total_s": median(pass_s),
    }
    spans = out.get("spans", [])
    for name, ts in per_query.items():
        layer[f"spine.{name}_s"] = median(ts)
        traced = [s for s in spans if s["name"] == f"spine.{name}" and s.get("jobs") is not None]
        for c in ("jobs", "stages", "tasks"):
            if traced:
                layer[f"spine.{name}_{c}"] = traced[-1][c]
    for name, mods in out.get("modules", {}).items():
        for m in set(mods) & set(SPINE_MODULES):
            key = f"spine.{m}_s"
            layer[key] = layer.get(key, 0.0) + median(per_query[name])
    if "one_core_s" in out:
        layer["spine.one_core_s"] = out["one_core_s"]
        ratios = []
        for name in per_query:
            mine = [s for s in spans if s["name"] == f"spine.{name}"]
            plain = [s["t1"] - s["t0"] for s in mine if s["group"] is None]
            with_groups = [s["t1"] - s["t0"] for s in mine if s["group"]]
            if plain and with_groups:
                ratios.append(median(with_groups) / median(plain) - 1)
        layer["trace_overhead_pct"] = 100 * median(ratios)
    report = dict(spine_s=median(pass_s), p50_ms=ms(median(all_times)),
                  passes=pass_s, query_s_by_pass=out["passes"],
                  inputs_s=inputs_s, oracle=out["oracle"])
    return finish(checks, e2e, layer, report, out)


# -- common ------------------------------------------------------------------


def run_program(workload, work, params, trace, args) -> SUT:
    params = dict(params, cpus=args.cpus, trace=trace, inject=args.inject)
    return SUT(workload, work, params)


def load_sut_json(work: str) -> dict:
    with open(os.path.join(work, "sut.json")) as fh:
        return json.load(fh)


def finish(checks: Checks, e2e: dict, layer: dict, report: dict, out: dict) -> dict:
    return dict(checks=checks, e2e=e2e, layer=layer, report=report,
                host=out.get("host", {}))


WORKLOADS = {"serve": drive_serve, "tail": drive_tail, "batch_spine": drive_spine}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--inject", choices=("none", "body", "offset", "oracle"), default="none")
    args = ap.parse_args()
    # A terminated run still stops the program's processes: SystemExit
    # unwinds through every ``finally`` that closes them.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    args.cpus = len(os.sched_getaffinity(0))
    host = dict(nproc=args.cpus, loadavg_start=os.getloadavg()[0],
                cpu_probe_ms=cpu_probe_ms(),
                python=platform.python_version(), seed=args.seed)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = WORKLOADS[args.workload](args, SIZES[args.size], work, args.trace)
    except Exception as e:  # the run is void; say why and fail
        print(f"perfbench: {args.workload} failed: {e!r}", file=sys.stderr)
        log = os.path.join(work, "sut.log")
        if os.path.exists(log):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    host.update(res["host"])
    # The guard keys off the parallelism Spark measured, not an env string.
    host["valid"] = host.get("default_parallelism") == host["nproc"]
    checks: Checks = res["checks"]
    e2e = res["e2e"]
    res["layer"]["memory.peak_rss_mb"] = e2e.pop("peak_rss_mb")
    unmeasured = [k for k, v in e2e.items() if not finite(v)]
    if unmeasured:
        print(f"perfbench: {args.workload} measured no {unmeasured}", file=sys.stderr)
        return 1
    if args.trace:
        # Every per-layer metric in every workload: a layer the workload
        # does not use reports 0 (listed under "idle" in the record).
        names = _layer_metrics() + (TAIL_LAYER if args.workload == "tail" else [])
        layer = {name: (unit, res["layer"].get(name)) for name, unit, _ in names}
        idle = sorted(k for k, (_, v) in layer.items() if not finite(v))
        metrics = {k: {"value": v if finite(v) else 0, "unit": u} for k, (u, v) in layer.items()}
    else:
        idle = []
        metrics = {k: {"value": e2e[k], "unit": u} for k, u, _ in E2E}
    full = dict(
        workload=args.workload, host=host, trace=args.trace,
        end_to_end=e2e, per_layer=res["layer"], idle=idle,
        report=res["report"],
        checks=dict(by_kind=checks.by_kind, examples=checks.examples),
    )
    print(json.dumps(full, default=str, allow_nan=False, cls=NanAsNull))
    print(json.dumps(dict(
        correct=checks.failed == 0 and host["valid"],
        attempted=checks.attempted,
        failed=checks.failed,
        metrics=metrics,
    )))
    return 0


def cpu_probe_ms() -> float:
    """A fixed single-thread loop, timed: how fast this host is right
    now. Recorded beside the load average so runs on a contended host
    can be told apart; no metric is scaled by it."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return ms(time.perf_counter() - t)


def finite(v) -> bool:
    return isinstance(v, (int, float)) and v == v and abs(v) != float("inf")


class NanAsNull(json.JSONEncoder):
    def iterencode(self, o, _one_shot=False):
        return super().iterencode(_nan_to_none(o), _one_shot)


def _nan_to_none(o):
    if isinstance(o, float) and not finite(o):
        return None
    if isinstance(o, dict):
        return {k: _nan_to_none(v) for k, v in o.items()}
    if isinstance(o, (list, tuple)):
        return [_nan_to_none(v) for v in o]
    return o


if __name__ == "__main__":
    sys.exit(main())
