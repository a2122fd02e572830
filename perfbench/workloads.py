"""The workloads. Each is a closed loop: a client sends its next
request only after the previous answer arrived; one op is one answer.

- ``dedup``: one client, the 7 pipeline queries over a directory never
  seen before per batch (one untimed warm-up batch first); one op is
  one batch. Whole batches run until the window is spent.
- ``serve``: ``tools/serve.py`` as a subprocess over a generated sf0.01
  catalog, four client threads sending the seeded request mix.

Each returns a ``Window``: per-op records plus what the checker needs.
This module imports nothing of the program, Spark, NumPy, pandas or
DuckDB at load time: ``InProcess`` does the program's imports inside
its set-up clock, so ``setup_s`` counts them.
"""

from __future__ import annotations

import json
import os
import signal
import socket
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from perfbench.tracing import Tracer, p50

HEADLINERS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_top3_orders_per_cust",
    "events_sessionize_30m",
    "events_tumbling_1h",
    "docs_token_counts",
    "emb_topk_cosine",
]
DEDUP_QUERIES = [
    "l01_exact_dedup",
    "l02_minhash_neardup",
    "l02_simhash_neardup",
    "l04_simjoin_lsh",
    "l06_tfidf_top_terms",
    "l20_bm25_search",
    "l02_embedding_neardup",
]


@dataclass
class Op:
    kind: str  # registry query name, "query", "run" or "upload"
    start: float
    end: float
    error: str | None = None
    key: str = ""  # what the correctness check is keyed on
    nbytes: int = 0
    payload: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class Window:
    ops: list[Op] = field(default_factory=list)
    parts: list[Op] = field(default_factory=list)  # query calls inside batch ops
    start: float = 0.0
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return max(1e-9, self.end - self.start)

    @property
    def ops_per_s(self) -> float:
        return len(self.ops) / self.seconds


# --------------------------------------------------------------------------
# in-process workloads (dedup, and the serve replay)
# --------------------------------------------------------------------------


class InProcess:
    """The program as a library in this process: session, registry and
    catalog set up through their public calls, then ops timed one by one."""

    def __init__(self, app: str, tracer_on: bool) -> None:
        t0 = time.time()
        from hetnetdb_spark import api, registry
        from hetnetdb_spark.session import get_spark

        self.spark = get_spark(app)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        registry.load_all()
        t2 = time.time()
        self.api, self.registry = api, registry
        self.layers = {"session.start_s": t1 - t0, "registry.load_all_s": t2 - t1,
                       "catalog.register_views_s": 0.0}
        self.setup_s = t2 - t0
        self.tracer = Tracer(self.spark) if tracer_on else None
        if self.tracer:
            self.tracer.span("session.start", t0, t1, None, None)
            self.tracer.span("registry.load_all", t1, t2, None, None)

    def register_views(self, data_dir: str) -> None:
        from hetnetdb_spark.catalog import register_views

        t0 = time.time()
        register_views(self.spark, data_dir)
        t1 = time.time()
        self.layers["catalog.register_views_s"] = t1 - t0
        self.setup_s += t1 - t0
        if self.tracer:
            self.tracer.span("catalog.register_views", t0, t1, None, None)

    def op(self, op_id: str, name: str, build, traced: bool, registry_op: bool):
        """Run one op: ``build()`` returns the DataFrame, ``toPandas``
        fetches it. Returns (Op, pandas frame or None)."""
        tr = self.tracer if traced else None
        n_cached = len(self.registry._PLAN_CACHE) if tr and registry_op else 0
        t0 = time.time()
        try:
            if tr:
                tr.begin(op_id, name)
            df = build()
            t1 = time.time()
            pdf = df.toPandas()
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            if tr:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            return Op(name, t0, time.time(), error=f"{type(exc).__name__}: {str(exc)[:300]}"), None
        if tr:
            miss = len(self.registry._PLAN_CACHE) > n_cached if registry_op else None
            tr.end(op_id, name, df, t0, t1, t2, len(pdf), miss)
        return Op(name, t0, t2), pdf

    def run_named(self, op_id: str, data_dir: str, name: str, traced: bool):
        return self.op(op_id, name, lambda: self.api.run(self.spark, data_dir, name),
                       traced, registry_op=True)

    def close(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def dedup(lib: InProcess, batches: list[str], seconds: float, traced: bool,
          results: dict, tag: str) -> Window:
    """Whole batches, each a directory never seen before: at least one,
    and another only while it should end inside ``seconds`` (judged by
    the last batch), so a window does not flip between one batch and two
    when a batch takes about ``seconds``. One op is one batch: the 7
    queries over it, in pipeline order (the seed varies the batch
    contents, not the order); the query calls are kept in ``parts`` and
    every frame is kept for the check, keyed ``batch|query``."""
    win = Window(start=time.time())
    while batches and (not win.ops or time.time() - win.start + win.ops[-1].ms / 1e3 <= seconds):
        batch = batches.pop(0)
        t0 = time.time()
        errors = []
        for name in DEDUP_QUERIES:
            op, pdf = lib.run_named(f"{tag}{len(win.parts)}", batch, name, traced)
            op.key = f"{batch}|{name}"
            win.parts.append(op)
            if pdf is not None:
                results[op.key] = pdf
            if op.error:
                errors.append(op.error)
        win.ops.append(Op("batch", t0, time.time(), error=errors[0] if errors else None,
                          key=batch))
    win.end = time.time()
    return win


# --------------------------------------------------------------------------
# serve-mixed: the HTTP service as a subprocess
# --------------------------------------------------------------------------


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def http(base: str, method: str, path: str, body: str = "", timeout: float = 120.0):
    """One request; returns (status, parsed JSON payload, response bytes)."""
    data = body.encode() if method == "POST" else None
    req = urllib.request.Request(base + path, data=data, method=method)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw), len(raw)
    except urllib.error.HTTPError as exc:
        raw = exc.read()
        try:
            payload = json.loads(raw)
        except ValueError:
            payload = {"error": raw[:300].decode(errors="replace")}
        return exc.code, payload, len(raw)


class Server:
    """``tools/serve.py`` in its own process group, so that stopping it
    also stops the JVM it starts."""

    def __init__(self, root: str, data_dir: str, log_path: str) -> None:
        self.port = _free_port()
        self.base = f"http://127.0.0.1:{self.port}"
        self.log_path = log_path
        self.log = open(log_path, "wb")
        self.t0 = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join("tools", "serve.py"), "--port", str(self.port),
             "--sf-dir", data_dir],
            cwd=root, stdout=self.log, stderr=subprocess.STDOUT, start_new_session=True)
        self.setup_s = 0.0

    def wait_healthy(self) -> None:
        """Poll ``/health``; ``setup_s`` is process start to first 200."""
        while True:
            if self.proc.poll() is not None:
                with open(self.log_path, "rb") as fh:
                    tail = fh.read()[-2000:].decode(errors="replace")
                raise RuntimeError(f"serve.py exited with {self.proc.returncode}:\n{tail}")
            try:
                status, _, _ = http(self.base, "GET", "/health", timeout=5)
                if status == 200:
                    break
            except OSError:
                pass
            if time.time() - self.t0 > 150:
                raise RuntimeError("serve.py did not become healthy in 150 s")
            time.sleep(0.05)
        self.setup_s = time.time() - self.t0

    def spark_info(self) -> dict:
        """Master and defaultParallelism of the service's session, asked
        through ``/query``: ``SET spark.master``, and the partition count
        of a ``range`` scan, which gets defaultParallelism partitions."""
        _, conf, _ = http(self.base, "POST", "/query", "SET spark.master")
        _, parts, _ = http(self.base, "POST", "/query",
                           "SELECT MAX(pid) + 1 AS p FROM "
                           "(SELECT spark_partition_id() AS pid FROM range(0, 100000))")
        return {"master": conf["rows"][0]["value"], "defaultParallelism": parts["rows"][0]["p"]}

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
        # the JVM shares the process group; make sure it is gone too
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        deadline = time.time() + 30
        while time.time() < deadline and _group_alive(self.proc.pid):
            time.sleep(0.1)
        self.log.close()


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if os.getpgid(int(entry)) == pgid:
                    return True
            except ProcessLookupError:
                continue
    return False


def serve_window(base: str, requests: list[tuple[str, str, str]], seconds: float,
                 clients: int) -> Window:
    """``clients`` threads take requests in list order and send each only
    after their previous answer; no request starts after ``seconds``."""
    win = Window(start=time.time())
    lock = threading.Lock()
    cursor = [0]
    records: list[tuple[int, Op]] = []

    def client() -> None:
        while True:
            with lock:
                i = cursor[0]
                if i >= len(requests) or time.time() - win.start >= seconds:
                    return
                cursor[0] += 1
            kind, path, body = requests[i]
            t0 = time.time()
            try:
                status, payload, nbytes = http(base, "POST", path, body)
                err = None if status in (200, 201) else f"HTTP {status}: {payload.get('error', '')[:300]}"
            except OSError as exc:
                status, payload, nbytes, err = 0, {}, 0, f"{type(exc).__name__}: {exc}"
            op = Op(kind, t0, time.time(), error=err, key=str(i), nbytes=nbytes, payload=payload)
            with lock:
                records.append((i, op))

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    win.end = time.time()
    win.ops = [op for _, op in sorted(records, key=lambda r: r[0])]
    return win


def serve_metrics(win: Window) -> dict[str, float]:
    """Client-side per-route numbers; a read overlapping any upload
    counts as ``during_write``."""
    ups = [(o.start, o.end) for o in win.ops if o.kind == "upload"]
    reads = [o for o in win.ops if o.kind != "upload"]
    during = [o.ms for o in reads if any(a < o.end and o.start < b for a, b in ups)]
    clear = [o.ms for o in reads if not any(a < o.end and o.start < b for a, b in ups)]
    by = lambda kind: [o.ms for o in win.ops if o.kind == kind]  # noqa: E731
    return {
        "serve.query_p50_ms": p50(by("query")),
        "serve.run_p50_ms": p50(by("run")),
        "serve.upload_p50_ms": p50(by("upload")),
        "serve.response_bytes_p50": p50([float(o.nbytes) for o in win.ops]),
        "serve.read_p50_ms_during_write": p50(during),
        "serve.read_p50_ms_clear": p50(clear),
    }


def check_serve(win: Window, requests: list[tuple[str, str, str]], data_dir: str,
                work: str, oracle_sql: dict[str, str], initial: dict[str, str]) -> dict[str, str]:
    """Check every op of the window; returns {request index: reason}
    for each op that failed. Reads of an uploaded table accept the
    answer of any upload of that table that could have been current."""
    from perfbench import check, gen

    failures: dict[str, str] = {}
    oracle = check.Oracle(data_dir, os.path.join(work, "duck"))
    csv_paths: dict[str, str] = {}

    def csv_of(key: str, body: str) -> str:
        if key not in csv_paths:
            csv_paths[key] = os.path.join(work, f"upload-{key}.csv")
            with open(csv_paths[key], "w") as fh:
                fh.write(body)
        return csv_paths[key]

    run_expected: dict[str, object] = {}
    uploads = {t: [(f"init-{t}", 0.0, 0.0, initial[t])] for t in gen.UPLOAD_TABLES}
    for op in win.ops:
        if op.kind == "upload" and op.error is None:
            kind, path, body = requests[int(op.key)]
            uploads[path.rsplit("/", 1)[1]].append((op.key, op.start, op.end, body))
    try:
        for op in win.ops:
            if op.error is not None:
                failures[op.key] = op.error
                continue
            kind, path, body = requests[int(op.key)]
            payload = op.payload
            if kind == "upload":
                want = body.count("\n") - 1
                if payload.get("rows") != want:
                    failures[op.key] = f"upload rows {payload.get('rows')} != {want}"
                continue
            if payload.get("truncated"):
                failures[op.key] = "result truncated at the row cap"
                continue
            if kind == "run":
                name = path.rsplit("/", 1)[1]
                if name not in run_expected:
                    run_expected[name] = check.json_wire(oracle.frame(oracle_sql[name]))
                want = run_expected[name]
                err = check.compare(check.from_json_rows(payload["rows"], want), want, name)
                if err:
                    failures[op.key] = err
                continue
            table = check.upload_table_of(body)
            versions = [None]
            if table is not None:
                hist = uploads[table]
                before = [v for v in hist if v[2] <= op.start]
                current = max(before, key=lambda v: v[2]) if before else hist[0]
                versions = [current] + [v for v in hist if v[1] < op.end and op.start < v[2]]
            errors = []
            for v in versions:
                if v is not None:
                    check.load_upload(oracle, table, csv_of(v[0], v[3]))
                want = check.json_wire(oracle.frame(body))
                err = check.compare(check.from_json_rows(payload["rows"], want), want, "query")
                if err is None:
                    break
                errors.append(err)
            else:
                failures[op.key] = f"{body[:120]} -> {errors[0]}"
    finally:
        oracle.close()
    return failures


def warmup_requests(seed: int) -> list[tuple[str, str, str]]:
    """Untimed warm-up: both upload tables, each SQL template, each
    headliner once (a stream seeded apart from the timed one)."""
    import numpy as np

    from perfbench import gen

    rng = np.random.default_rng([seed, 5])
    reqs = [("upload", f"/tables/{t}", gen.upload_csv(rng)) for t in gen.UPLOAD_TABLES]
    reqs += [("query", "/query", gen.sql_statement(rng, kind)) for kind in range(6)]
    reqs += [("run", f"/run/{name}", "") for name in HEADLINERS]
    return reqs
