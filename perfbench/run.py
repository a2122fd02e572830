"""Benchmark entry point.

    python3 perfbench/run.py --workload dedup-batches --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the program up
through its public calls, measures for ``--seconds``, checks every
answer against DuckDB and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones. The line
before it is the full record (context block, per-route and per-query
detail), which is also written with the trace spans under
``.perfbench/results/``. ``--smoke`` shrinks the inputs for a quick
self-test. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dedup-batches", "serve-mixed")
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "rss_peak_mb": "MB"}
#: The program's files the benchmark drives; without them it refuses to run.
PROGRAM = ("hetnetdb_spark/registry.py", "hetnetdb_spark/api.py", "tools/serve.py",
           "tests/oracle_compare.py")
SERVE_CLIENTS = 4
#: The program's driver heap (-Xms and -Xmx) in every run.
DRIVER_MEM = "2g"
_T0 = time.time()


def note(phase: str) -> None:
    """Progress on stderr: seconds since start, then the phase begun."""
    print(f"# perfbench {time.time() - _T0:7.2f}s {phase}", file=sys.stderr, flush=True)


class RssPeak:
    """Peak summed RSS of process trees, sampled from /proc every 100 ms.

    Processes younger than a second are skipped: a child the JVM spawns
    shares its address space until it execs, and would count the JVM's
    resident set twice."""

    def __init__(self, roots) -> None:
        self.roots = roots  # callable -> list of root pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _tree_kb(roots: list[int]) -> int:
        with open("/proc/uptime") as fh:
            born_before = (float(fh.read().split()[0]) - 1.0) * os.sysconf("SC_CLK_TCK")
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                ppid, started = int(fields[1]), int(fields[19])
            except (OSError, IndexError, ValueError):
                continue
            if started <= born_before:
                children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, list(roots)
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb(self.roots()))
            self._stop.wait(0.1)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, self._tree_kb(self.roots()))
        return self.peak_kb / 1024.0


def _context(seed: int, load_before: list[float], spark_info: dict) -> dict:
    digest = hashlib.sha256()
    for base in ("hetnetdb_spark", "tools"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        digest.update(fh.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": spark_info["master"],
        "defaultParallelism": spark_info["defaultParallelism"],
        "driver_memory": DRIVER_MEM,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "loadavg_before": load_before,
        "loadavg_after": list(os.getloadavg()),
        "commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "seed": seed,
    }


def _generate(seed: int, sf: float, out: str, batch_root: str = "", batches: int = 0,
              docs: int = 0) -> None:
    """Inputs in a process of their own; ``docs`` 0 is the generator's
    batch size."""
    cmd = [sys.executable, "-m", "perfbench.gen", str(seed), str(sf), out]
    if batches:
        cmd += [batch_root, str(batches)] + ([str(docs)] if docs else [])
    subprocess.run(cmd, cwd=ROOT, check=True)


def _latency_metrics(ops) -> dict[str, float]:
    from perfbench.tracing import p50, p90

    ms = [o.ms for o in ops]
    return {"p50_ms": p50(ms), "p90_ms": p90(ms)}


def _per_query(ops) -> dict[str, float]:
    from perfbench.tracing import p50

    names = sorted({o.kind for o in ops})
    return {f"query.{n}.p50_ms": p50([o.ms for o in ops if o.kind == n]) for n in names}


def run_dedup(args, work: str) -> dict:
    """dedup-batches: the program as a library in this process."""
    from perfbench import workloads as wl  # loads nothing of the program

    data = os.path.join(work, "data")
    windows = 2 if args.trace else 1
    # a batch takes 15-20 s on 4 cores; one spare per window for faster boxes
    n_batches = 1 + windows * (math.ceil(args.seconds / 15) + 1)
    note("generate inputs")
    _generate(args.seed, 0.001 if args.smoke else 0.1, data, os.path.join(work, "batches"),
              n_batches, 100 if args.smoke else 0)
    batches = [os.path.join(work, "batches", f"b{i:03d}") for i in range(n_batches)]

    rss = RssPeak(lambda: [os.getpid()])
    note("set up")
    lib = wl.InProcess(f"perfbench-{args.workload}", tracer_on=bool(args.trace))
    results: dict = {}
    try:
        note("warm-up")
        wl.dedup(lib, batches, 0, False, {}, "w")  # one batch
        note("timed window")
        win = wl.dedup(lib, batches, args.seconds, False, results, "u")
        rss_mb = rss.stop()
        traced_win, layers = None, {}
        if args.trace:
            traced_win = wl.dedup(lib, batches, args.seconds, True, results, "t")
            layers = lib.tracer.summarize(win.ops_per_s, traced_win.ops_per_s,
                                          traced_win.seconds)
            layers["registry.plan_cache_entries_end"] = float(len(lib.registry._PLAN_CACHE))
            layers.update(lib.layers)
            layers.update(wl.serve_metrics(wl.Window()))  # not exercised: 0
        spark_info = {"master": lib.spark.sparkContext.master,
                      "defaultParallelism": lib.spark.sparkContext.defaultParallelism}
        spans = lib.tracer.spans if lib.tracer else []
    finally:
        note("stop")
        lib.close()

    # correctness, untimed: every distinct op once
    note("check against DuckDB")
    from perfbench import check

    oracle = check.Oracle(data, os.path.join(work, "duck"))
    failures: dict[str, str] = {}
    try:
        for key, got in results.items():
            ddir, name = key.split("|")
            oracle.point(ddir)
            err = check.compare(got, oracle.frame(lib.registry.ORACLE[name]), name)
            if err:
                failures[ddir] = err
    finally:
        oracle.close()
    all_ops = win.ops + (traced_win.ops if traced_win else [])
    for op in all_ops:
        if op.error:
            failures.setdefault(op.key, op.error)
    return {
        "setup_s": lib.setup_s, "window": win, "rss_peak_mb": rss_mb,
        "layers": layers, "failures": failures, "attempted": len(all_ops),
        "failed": sum(1 for op in all_ops if op.key in failures),
        "spark_info": spark_info, "spans": spans,
        "detail": _per_query(win.parts),
    }


def run_serve(args, work: str) -> dict:
    """serve-mixed: tools/serve.py as a subprocess, four client threads."""
    from perfbench import gen, workloads as wl

    sf = 0.001 if args.smoke else 0.01
    data = os.path.join(work, "data")
    note("generate inputs")
    _generate(args.seed, sf, data)
    # far more requests than a window can send (about 6/s on 4 cores)
    requests = gen.serve_requests(args.seed, int(50 * args.seconds) + 100, wl.HEADLINERS)
    warm = wl.warmup_requests(args.seed)
    initial = {path.rsplit("/", 1)[1]: body for kind, path, body in warm if kind == "upload"}

    srv = wl.Server(ROOT, data, os.path.join(work, "serve.log"))
    rss = RssPeak(lambda: [srv.proc.pid])
    try:
        note("set up")
        srv.wait_healthy()
        spark_info = srv.spark_info()
        note("warm-up")
        uploads = [r for r in warm if r[0] == "upload"]
        warm_win = wl.serve_window(srv.base, uploads, math.inf, 1)
        warm_win.ops += wl.serve_window(srv.base, warm[len(uploads):], math.inf,
                                        SERVE_CLIENTS).ops
        bad = [op.error for op in warm_win.ops if op.error]
        if bad:
            raise RuntimeError(f"serve.py failed its warm-up: {bad[0]}")
        note("timed window")
        win = wl.serve_window(srv.base, requests, args.seconds, SERVE_CLIENTS)
        rss_mb = rss.stop()
    finally:
        note("stop")
        srv.stop()
    layers, spans, replayed, replay_failed = {}, [], 0, 0
    if args.trace:
        note("in-process replay")
        layers, spans, replayed, replay_failed = _serve_replay(
            args, work, data, warm, requests[:len(win.ops)])
    note("check against DuckDB")
    from hetnetdb_spark import registry

    registry.load_all()
    oracle_sql = {n: registry.ORACLE[n] for n in wl.HEADLINERS}
    failures = wl.check_serve(win, requests, data, work, oracle_sql, initial)
    attempted, failed = len(win.ops) + replayed, len(failures) + replay_failed
    detail = wl.serve_metrics(win)
    layers.update(detail)
    detail["serve.read_p90_ms"] = _latency_metrics([o for o in win.ops if o.kind != "upload"])["p90_ms"]
    return {
        "setup_s": srv.setup_s, "window": win, "rss_peak_mb": rss_mb,
        "layers": layers, "failures": failures, "failed": failed, "attempted": attempted,
        "spark_info": spark_info, "spans": spans, "detail": detail,
        "latency_ops": [o for o in win.ops if o.kind != "upload"],
    }


def _serve_replay(args, work, data, warm, dispatched):
    """Traced run of serve-mixed: the dispatched request sequence again,
    in this process through api.sql / api.run / api.ingest_csv, first
    untraced then traced (the overhead comparison), one client."""
    from perfbench import workloads as wl

    lib = wl.InProcess("perfbench-serve-replay", tracer_on=True)
    try:
        lib.register_views(data)
        api, spark = lib.api, lib.spark
        csv_files: dict[str, str] = {}  # written before the windows, not in them
        for kind, _, body in warm + dispatched:
            if kind == "upload" and body not in csv_files:
                csv_files[body] = os.path.join(work, f"replay-{len(csv_files)}.csv")
                with open(csv_files[body], "w") as fh:
                    fh.write(body)

        def replay(reqs, seconds, traced, tag):
            win = wl.Window(start=time.time())
            for i, (kind, path, body) in enumerate(reqs):
                if time.time() - win.start >= seconds:
                    break
                op_id = f"{tag}{i}"
                if kind == "query":
                    op, _ = lib.op(op_id, "query", lambda b=body: api.sql(spark, data, b),
                                   traced, registry_op=False)
                elif kind == "run":
                    op, _ = lib.run_named(op_id, data, path.rsplit("/", 1)[1], traced)
                    op.kind = "run"
                else:
                    op, _ = lib.op(op_id, "upload",
                                   lambda c=csv_files[body], t=path.rsplit("/", 1)[1]:
                                   api.ingest_csv(spark, c, t),
                                   traced, registry_op=False)
                op.key = f"{tag}{i}"
                win.ops.append(op)
            win.end = time.time()
            return win

        replay(warm, math.inf, False, "w")
        plain = replay(dispatched, args.seconds, False, "u")
        traced = replay(dispatched, args.seconds, True, "t")
        layers = lib.tracer.summarize(plain.ops_per_s, traced.ops_per_s, traced.seconds)
        layers["registry.plan_cache_entries_end"] = float(len(lib.registry._PLAN_CACHE))
        layers.update(lib.layers)
        ops = plain.ops + traced.ops
        return layers, lib.tracer.spans, len(ops), sum(1 for o in ops if o.error)
    finally:
        lib.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    args = ap.parse_args(argv)

    # A SIGTERM unwinds like an error, so the finally blocks below stop
    # the service and the JVM and remove the inputs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    load_before = list(os.getloadavg())
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    for d in ("tmp", "spark-local", "duck"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Keep every file the program and its JVM write inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    # A 2 GB driver heap (the program's default is 8 GB) keeps the box's
    # shared memory small; starting the heap at that size stops the
    # collector from resizing it run by run, so the RSS is comparable.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    try:
        res = run_serve(args, work) if args.workload == "serve-mixed" else run_dedup(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    win = res["window"]
    lat = _latency_metrics(res.get("latency_ops", win.ops))
    end_to_end = {"setup_s": res["setup_s"], "ops_per_s": win.ops_per_s, "p50_ms": lat["p50_ms"],
                  "rss_peak_mb": res["rss_peak_mb"]}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    per_layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if args.trace:
        missing = sorted(set(per_layer_units) - set(res["layers"]))
        if missing:
            raise RuntimeError(f"traced run did not measure {missing}")
        metrics = {k: {"value": float(res["layers"][k]), "unit": u}
                   for k, u in per_layer_units.items()}
    else:
        metrics = {k: {"value": float(end_to_end[k]), "unit": END_TO_END[k]} for k in END_TO_END}
    result = {"correct": not res["failures"], "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "context": _context(args.seed, load_before, res["spark_info"]),
        "window": {"ops": len(win.ops), "seconds": win.seconds, "p90_ms": lat["p90_ms"],
                   "fail_frac": res["failed"] / max(1, res["attempted"])},
        "end_to_end": end_to_end, "layers": res["layers"], "detail": res["detail"],
        "failures": dict(list(res["failures"].items())[:20]),
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if res["spans"]:
        with open(os.path.join(out_dir, stem + ".spans.jsonl"), "w") as fh:
            for s in res["spans"]:
                fh.write(json.dumps(s, default=str) + "\n")
    note("done")
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
