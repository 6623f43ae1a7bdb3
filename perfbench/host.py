"""Benchmark host: the program under test, in a process of its own.

Starts one SparkSession on ``local[nproc]`` through the engine's own
session factory, seeds the on-disk fixtures the workload needs, builds
one ``SparqlEngine`` and one ``SparqlHTTPServer`` per catalog kind the
workload's SPARQL shapes use (or, for a pipeline workload, nothing but
the session), runs one warm-up pass that also records the ground truth
every timed response is checked against, and then serves commands from
the load client (``run.py``): one JSON object per line on stdin, one
JSON reply per line on the protocol pipe (the process's original
stdout; everything else the process or its JVM prints goes to stderr).

Run by ``run.py``; not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads as wl  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402

SETUP_REPS = 3
GC_SETTLE_S = 0.2


class SparkCounters:
    """Job, stage, task, CPU, shuffle and spill totals read from the
    scheduler's id counters and the application status store (which
    Spark keeps with the UI disabled)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._stage_seen = self._dag.nextStageId()
        self._tot = dict(tasks=0, cpu_s=0.0, shuffle_write_bytes=0, spill_bytes=0)

    def jobs(self) -> int:
        return self._dag.numTotalJobs()

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        top = self._dag.nextStageId()
        for sid in range(self._stage_seen, top):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped or evicted stage: no data
                continue
            self._tot["tasks"] += st.numCompleteTasks()
            self._tot["cpu_s"] += st.executorCpuTime() / 1e9
            self._tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            self._tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._stage_seen = top
        return dict(self._tot, jobs=self.jobs())


class _Collected:
    """Collected rows in the shape ``tests.oracle.assert_match`` reads:
    a pandas frame built locally with the dtypes Arrow gives
    ``toPandas`` (nullable ints as floats, timestamps as datetime64),
    without running the query a second time."""

    def __init__(self, rows, columns):
        self._rows, self._columns = rows, columns

    def toPandas(self):
        import pandas as pd

        return pd.DataFrame.from_records(
            [tuple(r) for r in self._rows], columns=self._columns
        )


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child."""

    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    me = os.getpid()
    total = hwm(me)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            total += hwm(name)
    return total / 1024.0


class Host:
    def __init__(self, workload: str, work: str, sf_dir: str):
        self.name = workload
        self.spec = wl.WORKLOADS[workload]
        self.work = work
        self.sf_dir = sf_dir
        self.tracer = tracing.Tracer()
        self.servers: dict[str, object] = {}
        self.engines: dict[str, object] = {}
        self.ports: dict[str, int] = {}
        self.timings: dict[str, float] = {}
        self.persisted_after = 0

    # --- set-up ---------------------------------------------------------

    def start_session(self) -> None:
        from ontario_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)

    def seed_fixtures(self) -> None:
        """The nested-JSON mirror the ``nested`` catalog reads. The
        engine seeds it once per data directory and reuses it after."""
        if self.spec["kind"] == "sparql" and "nested" in self._kinds():
            from ontario_spark.catalog.tpch_rdf import nested_fixture_path

            nested_fixture_path(self.spark, self.sf_dir)

    def _kinds(self) -> set[str]:
        shapes = wl.sparql_shapes()
        return {shapes[s][2] for s in self.spec["shapes"]}

    def _service_executor(self):
        import duckdb

        region = os.path.join(self.sf_dir, "region.parquet")

        def endpoint(query: str):
            con = duckdb.connect()
            try:
                rows = con.execute(
                    f"SELECT r_regionkey, r_name FROM '{region}'"
                ).fetchall()
            finally:
                con.close()
            return [{"r": f"http://ex.org/tpch/region/{k}", "rname": n} for k, n in rows]

        return endpoint

    def build_program(self) -> float:
        """Catalogs, engines and HTTP servers for every catalog kind the
        workload uses. Returns the catalog build time."""
        from ontario_spark.catalog.tpch_rdf import tpch_catalog
        from ontario_spark.compiler.query import SparqlEngine
        from ontario_spark.queries import sparql_suite
        from ontario_spark.server import SparqlHTTPServer

        factories = dict(sparql_suite._CATALOGS)
        factories["service"] = lambda spark, sf: tpch_catalog(sf)
        t_cat = 0.0
        for kind in sorted(self._kinds()):
            t0 = time.perf_counter()
            cat = factories[kind](self.spark, self.sf_dir)
            t_cat += time.perf_counter() - t0
            cat.executors = {
                k: tracing.wrap_executor(v, self.tracer, k)
                for k, v in cat.executors.items()
            }
            services = None
            if kind == "service":
                services = {
                    wl.SERVICE_ENDPOINT: tracing.wrap_executor(
                        self._service_executor(), self.tracer, "service"
                    )
                }
            engine = SparqlEngine(self.spark, cat, service_executors=services)
            proxy = tracing.EngineProxy(engine, self.tracer, self.counters.jobs)
            srv = SparqlHTTPServer(proxy)
            self._trace_requests(srv)
            self.servers[kind] = srv.start()
            self.ports[kind] = srv.port
            self.engines[kind] = engine
        return t_cat

    def _trace_requests(self, srv) -> None:
        tracer = self.tracer
        base = srv._httpd.RequestHandlerClass

        class Traced(base):
            def _traced(self, handle):
                if not tracer.enabled:
                    return handle()
                tracer.begin_request(self.headers.get("X-Request-Id") or uuid.uuid4().hex)
                with tracer.span("server.request", path=self.path.split("?")[0]):
                    handle()

            def do_GET(self):
                self._traced(super().do_GET)

            def do_POST(self):
                self._traced(super().do_POST)

        srv._httpd.RequestHandlerClass = Traced

    def stop_program(self) -> None:
        for srv in self.servers.values():
            srv.stop()
        self.servers.clear()

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.seed_fixtures()
        t2 = time.perf_counter()
        reps, cats, discarded = [], [], 0.0
        if self.spec["kind"] == "sparql":
            tracing.install_module_wrappers(self.tracer)
            for i in range(SETUP_REPS):
                if i:
                    s0 = time.perf_counter()
                    self.stop_program()
                    discarded += time.perf_counter() - s0
                r0 = time.perf_counter()
                cats.append(self.build_program())
                reps.append(time.perf_counter() - r0)
        else:
            from ontario_spark.data import load_tables

            r0 = time.perf_counter()
            load_tables(self.spark, self.sf_dir)
            reps.append(time.perf_counter() - r0)
        t3 = time.perf_counter()
        truth = self.warm_up()
        t4 = time.perf_counter()
        self.timings = {
            "boot_s": t0 - T_START,
            "session_s": t1 - t0,
            "fixtures_s": t2 - t1,
            "program_reps_s": reps,
            "discarded_s": discarded,
            "catalog_build_s": statistics.median(cats) if cats else 0.0,
            "warmup_s": t4 - t3,
        }
        # set-up charged once per run: everything up to ready, with the
        # repeated program set-up counted at its median
        self.timings["setup_s"] = (
            (t4 - T_START) - discarded - sum(reps) + statistics.median(reps)
        )
        return truth

    # --- ground truth -----------------------------------------------------

    def warm_up(self) -> dict:
        """One untimed pass: each shape or row runs once, is checked
        against the DuckDB oracle, and its expected answer is recorded
        for the client's per-response checks. SPARQL shapes warm up on
        ``nproc`` threads, the way the server runs them; pipeline rows
        run one at a time, the way they are timed."""
        from tests.oracle import assert_match, run_oracle

        if self.spec["kind"] == "sparql":
            from concurrent.futures import ThreadPoolExecutor

            from ontario_spark.cli import binding_of

            shapes = wl.sparql_shapes()

            def one(name):
                text, sql, kind = shapes[name]
                df = self.engines[kind].query(text)
                rows = df.collect()
                oracle = run_oracle(sql, self.sf_dir)
                canon = [wl.canon_binding(binding_of(r, df.columns)) for r in rows]
                t = {
                    "count": len(oracle),
                    "hash": wl.multiset_hash(canon),
                    "kind": kind,
                    "text": text,
                }
                try:
                    assert_match(_Collected(rows, df.columns), oracle, name)
                except AssertionError as ex:
                    t["oracle_error"] = str(ex)[:300]
                return t

            names = sorted(self.spec["shapes"])
            with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
                truth = dict(zip(names, pool.map(one, names)))
        else:
            from ontario_spark.queries import all_queries, all_oracle_sql

            self.rows = all_queries()
            oracles = all_oracle_sql()
            truth = {}
            for name in sorted(self.spec["rows"]):
                w0 = time.perf_counter()
                df = self.rows[name](self.spark, self.sf_dir)
                truth[name] = {"family": wl.family(name)}
                if name in oracles:
                    oracle = run_oracle(oracles[name], self.sf_dir)
                    truth[name]["count"] = len(oracle)
                    try:
                        assert_match(df, oracle, name)
                    except AssertionError as ex:
                        truth[name]["oracle_error"] = str(ex)[:300]
                else:
                    truth[name]["count"] = df.count()
                sys.stderr.write(f"warm-up {name}: {time.perf_counter() - w0:.3f}s\n")
        return truth

    # --- commands -----------------------------------------------------------

    def run_row(self, name: str) -> dict:
        """One pipeline operation: call the registry function, then run
        the noop write; the row count comes from an observed metric of
        that same write."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if self.tracer.enabled:
            self.tracer.begin_request(uuid.uuid4().hex)
        with self.tracer.span(f"operators.{wl.family(name)}", row=name):
            t0 = time.perf_counter()
            df = self.rows[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            t2 = time.perf_counter()
        self.persisted_after = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return {"latency_s": t2 - t0, "plan_s": t1 - t0, "rows": obs.get["n"]}

    def set_trace(self, on: bool) -> dict:
        """Turn tracing on or off around one operation. Turning it off
        returns the Spark counter deltas since it was turned on."""
        snap = self.counters.snapshot()
        self.tracer.enabled = on
        if on:
            self._trace_start = snap
            return {}
        return {k: snap[k] - self._trace_start[k] for k in snap}

    def collect_garbage(self) -> None:
        """Python and JVM garbage collection, then a pause for Spark's
        ContextCleaner to drop what the collections released."""
        import gc

        gc.collect()
        self.spark._jvm.System.gc()
        time.sleep(GC_SETTLE_S)

    def calib(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(0, 4_000_000, numPartitions=os.cpu_count() or 1).selectExpr(
            "sum(hash(id) % 1000)"
        ).collect()
        return time.perf_counter() - t0

    def report(self) -> dict:
        path = os.path.join(self.work, f"spans-{self.name}.jsonl")
        self.tracer.dump(path)
        return {
            "layers": aggregate(self.tracer.spans),
            "persisted_after": self.persisted_after,
            "peak_rss_mb": peak_rss_mb(),
        }

    def stop(self) -> None:
        """Stop the servers, the session and the JVM, and wait for the
        JVM to exit (it exits when its stdin closes)."""
        from pyspark import SparkContext

        self.stop_program()
        jvm = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)


def aggregate(spans: list[tuple]) -> dict:
    """Per-request totals of every traced layer, keyed by request id."""
    reqs: dict[str, dict] = {}
    by_id = {s[0]: s for s in spans}

    def top_compile(parent):
        """Id of the outermost compile span enclosing ``parent``."""
        found = None
        while parent is not None:
            p = by_id.get(parent)
            if p is None:
                break
            if p[3] == "compiler.compile":
                found = p[0]
            parent = p[2]
        return found

    for sid, rid, parent, name, t0, t1, attrs in spans:
        rid = attrs.get("rid", rid)
        if rid is None:
            continue
        r = reqs.setdefault(rid, {})
        dur = t1 - t0

        def add(key, v):
            r[key] = r.get(key, 0.0) + v

        if name == "sparql.parse":
            add("parse_s", dur)
        elif name == "planner.select_sources":
            add("select_sources_s", dur)
            add("stars", 1)
            add("branches_selected", attrs["branches"])
        elif name == "planner.prune":
            add("select_sources_s", dur)
            add("prune_before", attrs["before"])
            add("prune_after", attrs["after"])
        elif name == "sources.remote":
            add("remote_calls", 1)
            add("remote_rows", attrs.get("rows", 0))
            add("remote_s", dur)
        elif name == "compiler.compile" and attrs.get("top"):
            add("compile_s", dur)
            add("eager_jobs", attrs.get("eager_jobs", 0))
        elif name == "server.wait":
            add("wait_s", dur)
        elif name == "spark.fetch":
            add("first_row_s", attrs["first_row_s"])
            add("drain_s", attrs["drain_s"])
            add("serialize_s", attrs["serialize_s"])
            add("bindings", attrs["bindings"])
            add("fetched", 1)
        if name in ("planner.select_sources", "planner.prune", "sources.remote"):
            top = top_compile(parent)
            if top is not None:
                r["_children"] = r.get("_children", 0.0) + dur
    for r in reqs.values():
        if "compile_s" in r:
            r["compile_self_s"] = r["compile_s"] - r.pop("_children", 0.0)
        r.pop("_children", None)
    return reqs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # the JVM and any library print go to stderr

    def send(obj) -> None:
        proto.write(json.dumps(obj) + "\n")
        proto.flush()

    host = Host(args.workload, args.work, args.sf_dir)
    try:
        truth = host.setup()
    except Exception as ex:
        import traceback

        traceback.print_exc()
        send({"error": f"set-up failed: {type(ex).__name__}: {ex}"})
        return
    send({"ready": True, "ports": host.ports, "truth": truth, "timings": host.timings})

    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        try:
            if op == "pipeline":
                send(host.run_row(cmd["row"]))
            elif op == "trace":
                send(host.set_trace(bool(cmd["on"])))
            elif op == "gc":
                host.collect_garbage()
                send({})
            elif op == "calib":
                send({"calib_s": host.calib()})
            elif op == "report":
                send(host.report())
            elif op == "stop":
                host.stop()
                send({"stopped": True})
                return
            else:
                send({"error": f"unknown op {op!r}"})
        except Exception as ex:
            import traceback

            traceback.print_exc()
            send({"error": f"{op}: {type(ex).__name__}: {ex}"})
    host.stop()  # the load process went away without a stop command


if __name__ == "__main__":
    main()
