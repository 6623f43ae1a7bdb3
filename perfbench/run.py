"""Benchmark of the federated SPARQL engine and its pipeline operators.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The program under
test runs in a host process of its own (``host.py``); this process is
the load: one client that sends blocking ``/sparql`` requests to the
host's HTTP endpoints, or asks the host to run pipeline rows, one at a
time. Every response is checked against the ground truth the host
recorded from the DuckDB oracle.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A human-readable summary goes
to stderr. Generated data, fixtures and logs live in
``perfbench/.work`` inside the checkout. See README.md for the metric
definitions.
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import queue
import random
import statistics
import subprocess
import sys
import threading
import time
import uuid
from urllib.parse import urlencode

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

DRIVER_MEM = "3g"  # fits a 15 GB box next to the client and the OS
READY_TIMEOUT_S = 120
REPLY_TIMEOUT_S = 60


class Failed(Exception):
    """An operation that failed, was refused or returned a wrong answer."""


class HostError(Exception):
    """The host replied to a command with an error."""


def pct(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# --- host process ---------------------------------------------------------


class HostProcess:
    def __init__(self, root: str, work: str, workload: str, sf_dir: str):
        env = dict(os.environ)
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        env.update({
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "ONTARIO_ORACLE_CACHE": os.path.join(work, "oracle-cache"),
            "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONUNBUFFERED": "1",
            # keep the JVM's temp files (and its perf-data file, which
            # otherwise goes to /tmp) inside the checkout
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        })
        self.log_path = os.path.join(work, f"host-{workload}.log")
        self._log = open(self.log_path, "w")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), "--workload", workload,
             "--work", work, "--sf-dir", sf_dir],
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, bufsize=1,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def read(self, timeout: float) -> dict:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"host gave no reply within {timeout:.0f} s") from None
        if line is None:
            raise RuntimeError("host exited")
        msg = json.loads(line)
        if "error" in msg:
            raise HostError(msg["error"])
        return msg

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.read(REPLY_TIMEOUT_S)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call(op="stop")
            except (HostError, RuntimeError, OSError, ValueError):
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        self._log.close()

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


# --- SPARQL client ----------------------------------------------------------


class Client:
    """Keep-alive connections to the host's servers, one per catalog kind."""

    def __init__(self, ports: dict[str, int], truth: dict):
        self.ports = ports
        self.truth = truth
        self.conns: dict[str, http.client.HTTPConnection] = {}

    def close(self) -> None:
        for c in self.conns.values():
            c.close()

    def run(self, shape: str, want_hash: bool) -> dict:
        """One blocking ``/sparql`` request, checked against the truth."""
        t = self.truth[shape]
        kind = t["kind"]
        try:
            return self._blocking(kind, t, want_hash)
        except (OSError, http.client.HTTPException, ValueError, Failed) as ex:
            c = self.conns.pop(kind, None)
            if c is not None:
                c.close()
            raise Failed(f"{shape}: {type(ex).__name__}: {ex}") from None

    def _blocking(self, kind: str, t: dict, want_hash: bool) -> dict:
        conn = self.conns.get(kind)
        if conn is None:
            conn = http.client.HTTPConnection(
                "127.0.0.1", self.ports[kind], timeout=REPLY_TIMEOUT_S)
            self.conns[kind] = conn
        t0 = time.perf_counter()
        conn.request("POST", "/sparql", urlencode({"query": t["text"]}), {
            "Content-Type": "application/x-www-form-urlencoded",
            "X-Request-Id": uuid.uuid4().hex,
        })
        resp = conn.getresponse()
        if resp.status != 200:
            raise Failed(f"HTTP {resp.status}: {resp.read()[:200]!r}")
        # the body streams as chunks: the head ('{"vars": [...], "result": [')
        # first, then one binding per chunk
        parts, first, head = [], None, b""
        while True:
            data = resp.read1(1 << 16)
            if not data:
                break
            parts.append(data)
            if first is None:
                head += data
                i = head.find(b'"result": [')
                if i >= 0 and len(head) > i + 11 and head[i + 11:i + 12] != b"]":
                    first = time.perf_counter()
        t1 = time.perf_counter()
        payload = json.loads(b"".join(parts))
        if "error" in payload or payload.get("truncated"):
            raise Failed(f"server error: {payload.get('error')}")
        result = payload["result"]
        if len(result) != t["count"]:
            raise Failed(f"{len(result)} bindings, oracle has {t['count']}")
        if want_hash and wl.multiset_hash(map(wl.canon_binding, result)) != t["hash"]:
            raise Failed("binding multiset differs from the engine's checked answer")
        return {
            "latency_s": t1 - t0,
            "first_s": (first or t1) - t0,
            "server_overhead_s": (t1 - t0) - payload["execTime"],
        }


# --- the run ------------------------------------------------------------------


class Run:
    def __init__(self, args, root: str, work: str):
        self.args = args
        self.spec = wl.WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.root, self.work = root, work
        self.ops: list[dict] = []  # timed operations
        self.warm_ops: list[dict] = []
        self.failures: list[str] = []
        self.inputs_seen: list[str] = []  # every operation's input, in order
        self.hashed: set[str] = set()
        self.calib: list[float] = []

    def items(self) -> list[str]:
        return self.spec["shapes"] if self.spec["kind"] == "sparql" else self.spec["rows"]

    def run_pass(self, host: HostProcess, client: Client, traced_parity=None) -> list[dict]:
        """Every shape or row once, in an order drawn from the seed. In a
        traced run, every other item is traced (``traced_parity``
        alternates between passes, so each item is traced in one pass
        and untraced in the next)."""
        items = self.items()
        traced = {n for i, n in enumerate(items) if i % 2 == traced_parity}
        order = list(items)
        self.rng.shuffle(order)
        # collect garbage at a fixed point, outside any timed operation,
        # so that Spark's cleaner drops unreferenced cached data here
        # rather than at a moment that differs from run to run
        host.call(op="gc")
        return [self.one(host, client, name, name in traced) for name in order]

    def one(self, host: HostProcess, client: Client, name: str, traced: bool) -> dict:
        op = {"name": name, "traced": traced}
        self.inputs_seen.append(self.truth[name].get("text", name))
        if traced:
            host.call(op="trace", on=True)
        try:
            if self.spec["kind"] == "pipeline":
                try:
                    r = host.call(op="pipeline", row=name)
                except HostError as ex:
                    raise Failed(str(ex)) from None
                expected = self.truth[name]["count"]
                if r["rows"] != expected:
                    raise Failed(f"{name}: {r['rows']} rows, oracle has {expected}")
                op.update(latency_s=r["latency_s"], first_s=r["plan_s"])
            else:
                want_hash = name not in self.hashed
                self.hashed.add(name)
                op.update(client.run(name, want_hash))
        except Failed as ex:
            op["failed"] = str(ex)
            self.failures.append(str(ex))
        if traced:
            op["spark"] = host.call(op="trace", on=False)
        return op

    def execute(self) -> dict:
        a, spec = self.args, self.spec
        import datagen

        sf_dir = datagen.ensure(os.path.join(self.work, "data"), spec["sf"])
        host = HostProcess(self.root, self.work, a.workload, sf_dir)
        client = None
        try:
            ready = host.read(READY_TIMEOUT_S)
            timings = ready["timings"]
            self.truth = ready["truth"]
            for name, t in self.truth.items():
                if "oracle_error" in t:
                    self.failures.append(f"{name}: {t['oracle_error']}")
            client = Client(ready["ports"], self.truth)
            # the host ran every item once; this pass warms the path the
            # timed passes use (HTTP for SPARQL): without it the first
            # timed pass runs 10-35% slower. Checked, not timed.
            self.warm_ops = self.run_pass(host, client)
            t_ready = time.perf_counter()
            reps = timings["program_reps_s"]
            setup_s = (
                (t_ready - host.t_spawn) - timings["discarded_s"]
                - sum(reps) + statistics.median(reps)
            )
            window0 = time.perf_counter()
            passes = 0
            # at least two passes: every item gets a median of two, and a
            # traced run traces each item once and leaves it untraced once.
            # After that, the window closes at the pass boundary nearest
            # to --seconds.
            while passes < 2 or (time.perf_counter() - window0) * (1 + 0.5 / passes) < a.seconds:
                if a.trace:
                    self.calib.append(host.call(op="calib")["calib_s"])
                self.ops += self.run_pass(host, client, passes % 2 if a.trace else None)
                passes += 1
            window_s = time.perf_counter() - window0
            report = host.call(op="report")
        except (HostError, RuntimeError, OSError, ValueError, KeyError) as ex:
            sys.stderr.write(f"benchmark aborted: {ex}\n--- host log tail ---\n{host.log_tail()}\n")
            raise SystemExit(1) from None
        finally:
            if client is not None:
                client.close()
            host.close()
        return {"setup_s": setup_s, "timings": timings, "window_s": window_s,
                "passes": passes, "report": report}

    # --- metrics -----------------------------------------------------------

    def end_to_end(self, res: dict) -> tuple[dict, dict]:
        """The end-to-end metrics, and the per-item latency percentiles
        that are printed for reference only: over a handful of unequal
        items a median jumps between neighbouring items from run to run,
        so the typical latency is reported as a geometric mean."""
        done = [o for o in self.ops if "failed" not in o]
        lat = per_item_medians(done, "latency_s")
        first = per_item_medians(done, "first_s")
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "latency_geomean_s": (geomean(lat), "s"),
            "latency_p90_s": (pct(lat, 90), "s"),
            "first_result_geomean_s": (geomean(first), "s"),
            "ops_per_s": (len(done) / res["window_s"], "1/s"),
        }
        reference = {
            "latency_p50_s": (pct(lat, 50), "s"),
            "first_result_p50_s": (pct(first, 50), "s"),
            "first_result_p90_s": (pct(first, 90), "s"),
        }
        return metrics, reference

    def per_layer(self, res: dict) -> dict:
        rep = res["report"]
        traced = [o for o in self.ops if o["traced"] and "failed" not in o]
        untraced = [o for o in self.ops if not o["traced"] and "failed" not in o]
        n = max(len(traced), 1)
        reqs = rep["layers"]

        def total(key):
            return sum(r.get(key, 0.0) for r in reqs.values())

        def spark(key, ops=traced):
            return sum(o["spark"][key] for o in ops) / max(len(ops), 1)

        fetched = max(total("fetched"), 1)
        prune_before = total("prune_before")
        out = {
            "sparql.parse_s": (total("parse_s") / n, "s"),
            "planner.select_sources_s": (total("select_sources_s") / n, "s"),
            "planner.stars": (total("stars") / n, "count"),
            "planner.branches_selected": (total("branches_selected") / n, "count"),
            "planner.branches_kept": (
                total("prune_after") / prune_before if prune_before else 0.0, "ratio"),
            "catalog.build_s": (res["timings"]["catalog_build_s"], "s"),
            "compiler.compile_s": (total("compile_self_s") / n, "s"),
            "compiler.eager_jobs": (total("eager_jobs") / n, "count"),
            "sources.remote_calls": (total("remote_calls") / n, "count"),
            "sources.remote_rows": (total("remote_rows") / n, "count"),
            "sources.remote_s": (total("remote_s") / n, "s"),
            "spark.first_row_s": (total("first_row_s") / fetched, "s"),
            "spark.drain_s": (total("drain_s") / fetched, "s"),
            "spark.jobs": (spark("jobs"), "count"),
            "spark.tasks": (spark("tasks"), "count"),
            "spark.executor_cpu_s": (spark("cpu_s"), "s"),
            "spark.shuffle_write_bytes": (spark("shuffle_write_bytes"), "bytes"),
            "spark.spill_bytes": (spark("spill_bytes"), "bytes"),
            "spark.calib_s": (statistics.median(self.calib), "s"),
            "server.wait_s": (total("wait_s") / n, "s"),
            "server.serialize_s": (total("serialize_s") / fetched, "s"),
            "server.bindings": (total("bindings") / fetched, "count"),
            "server.overhead_s": (_mean(o.get("server_overhead_s") for o in untraced), "s"),
        }
        pipeline = self.spec["kind"] == "pipeline"
        for fam in wl.FAMILIES + ("streaming",):
            rows = [o for o in traced if pipeline and wl.family(o["name"]) == fam]
            prefix = "streaming" if fam == "streaming" else f"operators.{fam}"
            out[f"{prefix}.wall_s"] = (_mean(o["latency_s"] for o in rows), "s")
            out[f"{prefix}.jobs"] = (spark("jobs", rows), "count")
            if fam != "streaming":
                out[f"{prefix}.shuffle_write_bytes"] = (spark("shuffle_write_bytes", rows), "bytes")
                out[f"{prefix}.spill_bytes"] = (spark("spill_bytes", rows), "bytes")
                out[f"{prefix}.executor_cpu_s"] = (spark("cpu_s", rows), "s")
        out["operators.persisted_after"] = (rep["persisted_after"], "count")
        out["peak_rss_mb"] = (rep["peak_rss_mb"], "MB")
        out["workload.distinct_text_share"] = (
            len(set(self.inputs_seen)) / len(self.inputs_seen), "ratio")
        out["trace.overhead_s"] = (_overhead(traced, untraced), "s")
        return out


def per_item_medians(ops: list[dict], key: str) -> list[float]:
    """One value per shape or row: the median of its timed
    operations. Every pass runs each item once, so each weighs the
    same; taking the median per item first keeps a percentile from
    jumping between items when one run has a pass more than another."""
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o[key])
    return [statistics.median(v) for v in by.values()]


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _mean(values) -> float:
    vals = [v for v in values if v is not None]
    return sum(vals) / len(vals) if vals else 0.0


def _overhead(traced: list[dict], untraced: list[dict]) -> float:
    """Mean over items of (traced latency - untraced latency)."""
    diffs = []
    for name in {o["name"] for o in traced}:
        a = [o["latency_s"] for o in traced if o["name"] == name]
        b = [o["latency_s"] for o in untraced if o["name"] == name]
        if a and b:
            diffs.append(statistics.mean(a) - statistics.mean(b))
    return statistics.mean(diffs) if diffs else 0.0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("ontario_spark/server.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            sys.stderr.write(f"{need} not found: run from the repository root\n")
            raise SystemExit(2)
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    run = Run(args, root, work)
    res = run.execute()
    if args.trace:
        metrics, reference = run.per_layer(res), {}
    else:
        metrics, reference = run.end_to_end(res)
    # attempted: every checked operation, warm-up passes included, plus
    # each shape or row whose warm-up answer already missed the oracle
    oracle_misses = sum(1 for t in run.truth.values() if "oracle_error" in t)
    attempted = len(run.ops) + len(run.warm_ops) + oracle_misses
    failed = len(run.failures)
    for f in run.failures[:10]:
        sys.stderr.write(f"FAILED {f}\n")
    sys.stderr.write(
        f"{args.workload} seed={args.seed} passes={res['passes']} ops={len(run.ops)} "
        f"failed={failed} window={res['window_s']:.2f}s "
        f"error_rate={failed / attempted:.4f}\n"
    )
    sys.stderr.write(f"  host set-up phases: {json.dumps(res['timings'])}\n")
    with open(os.path.join(work, f"ops-{args.workload}.json"), "w") as fh:
        json.dump(run.ops, fh)
    for k, (v, unit) in metrics.items():
        sys.stderr.write(f"  {k:36s} {v:14.6f} {unit}\n")
    for k, (v, unit) in reference.items():
        sys.stderr.write(f"  {k:36s} {v:14.6f} {unit}  (reference only)\n")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
