"""Benchmark of the lake-discovery flow through the package's public API.

Run from the repository root:

    python3 perfbench/run.py --workload {ingest,enrich} --seed N --seconds S --trace {0,1}

Workloads (closed loop, one client, Spark ``local[4]``):

- ``ingest``: each op is one full public index build of the generated lake
  (``build_index`` over ``spark.read.parquet`` tables, ``LakeIndex.cache``,
  every member materialised); caches are dropped between builds.
- ``enrich``: each op is one ``enrich_dataset`` call on a distinct seeded
  probe against the cached index, followed by a noop write of the enriched
  frame.

Every op's result is checked against the package's DuckDB oracle twins
outside the timed region; a wrong result or an error counts as failed and
the run goes on.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1``
its per-layer metrics, measured by spans around the public calls
(tracer.py).  A line before it carries the run's detail (op latencies,
set-up parts, failures).

It can be started from any working directory.  It writes only under
``.perfbench_work/`` in the repository root, removes its run directory
when it ends, and writes no bytecode caches.
"""

from __future__ import annotations

import time

_T_PROCESS = time.time()  # taken before any heavy import

import sys  # noqa: E402

# write no bytecode caches into the repository (Spark's Python workers get
# the same through PYTHONDONTWRITEBYTECODE below)
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import lake  # noqa: E402
import probes  # noqa: E402
from tracer import Tracer, held_storage  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datalake_indexes_spark"

LAKE_SCALE = 0.001   # TPC-H scale factor of the generated lake
MIN_OPS = 1          # a run makes at least one op, whatever --seconds says
SPARK_MASTER = "local[4]"
WORKLOADS = ("ingest", "enrich")


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM, Spark and DuckDB at
    the run directory, and make the package importable in Spark's Python
    workers (they do not inherit ``sys.path``)."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local", "warehouse", "duckdb", "lake")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # the package defaults to an 8 GB JVM heap; the lake needs far less
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)
    return dirs


class Run:
    def __init__(self, args, dirs: dict[str, str]):
        self.args = args
        self.dirs = dirs
        self.latencies: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.failed_ops: set[int] = set()
        self.cache_mb = None
        self.check_s = 0.0

    # ---------------------------------------------------------------- set-up
    def setup(self):
        t = time.time()
        self.lake_paths = lake.write_lake(self.dirs["lake"], LAKE_SCALE)
        self.lake_gen_s = time.time() - t

        # these import the package, which _isolate put on sys.path
        from datalake_indexes_spark.session import get_spark

        import checks
        import layers

        self.layers = layers
        self.spark = get_spark("perfbench", master=SPARK_MASTER)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr = Tracer(self.spark, enabled=bool(self.args.trace))
        self.session_s = time.time() - _T_PROCESS - self.lake_gen_s
        self.tr.record("session.start_s", self.session_s)
        self.oracle = checks.Oracle(self.lake_paths, self.dirs["duckdb"])

        # on ingest the builder spans come from the timed builds only, not
        # from this cold one
        t = time.time()
        with self.tr.paused(self.args.workload == "ingest"):
            self.index, self.n_cells = layers.build_cached_index(
                self.spark, self.lake_paths, probes.LAKE_TABLES, self.tr
            )
        self.cold_build_s = time.time() - t
        mb, rdds = self._held()
        self.tr.record("lake_index.cache_mb", mb)
        self.tr.record("lake_index.rdds", rdds)
        if self.args.trace:
            layers.build_layers(self.spark, self.lake_paths, self.index, self.tr)
        self.setup_s = time.time() - _T_PROCESS - self.lake_gen_s

    def _held(self) -> tuple[float, int]:
        return held_storage(self.spark.sparkContext)

    # ---------------------------------------------------------------- ops
    def _before_op(self):
        if self.args.workload == "ingest" and self.index is not None:
            self.layers.drop_index(self.spark, self.index)
            self.index = None

    def _op(self, op):
        if self.args.workload == "ingest":
            self.index, _ = self.layers.build_cached_index(
                self.spark, self.lake_paths, op.table_order, self.tr
            )
            return self.index
        return self.layers.enrich_once(self.spark, self.lake_paths, self.index, op, self.tr)

    def _check(self, op, result) -> list[str]:
        if self.args.workload == "ingest":
            return self.oracle.check_index(result, self.args.seed)
        return self.oracle.check_enrichment(result, op)

    def measure(self):
        """Run ops until their summed time reaches ``--seconds``."""
        if self.args.workload == "ingest":
            ops = probes.ingest_ops(self.args.seed)
        else:
            ops = probes.enrich_ops(self.args.seed)
        spent = 0.0
        for i, op in enumerate(ops[:-1]):  # the last one is kept for query_layers
            if i >= MIN_OPS and spent >= self.args.seconds:
                break
            self._before_op()
            mark = self.tr.mark()
            self.attempted += 1
            t = time.time()
            try:
                result = self._op(op)
            except Exception:  # an op that raises is a failed op; the run goes on
                traceback.print_exc(file=sys.stderr)
                result = None
            dt = time.time() - t
            spent += dt
            if i == MIN_OPS - 1:
                self.cache_mb = self._held()[0]
            if result is None:
                self.failures.append(f"op {i}: raised")
                self.failed_ops.add(i)
                continue
            self.latencies.append(dt)
            # the tracing overhead is this minus op_p50_s of untraced runs
            self.tr.record("trace.op_wall_s", dt)
            self.tr.record("trace.coverage", self.tr.wall_since(mark) / dt)
            t = time.time()
            try:
                errors = self._check(op, result)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                errors = ["check raised"]
            self.check_s += time.time() - t
            if errors:
                self.failures += [f"op {i}: {e}" for e in errors]
                self.failed_ops.add(i)
        self.spare_op = ops[-1]

    def trace_queries(self):
        """Traced runs only: the query-side layers on one probe no op used
        (and, on ingest, one enrich op, so both workloads report every
        layer)."""
        if self.index is None:
            return
        enrich_ops = probes.enrich_ops(self.args.seed)
        if self.args.workload == "ingest":
            self.layers.enrich_once(self.spark, self.lake_paths, self.index, enrich_ops[0], self.tr)
            probe = enrich_ops[1]
        else:
            probe = self.spare_op
        self.layers.query_layers(self.spark, self.lake_paths, self.index, probe, self.tr)

    def close(self):
        t = time.time()
        try:
            self._close()
        finally:
            self.close_s = time.time() - t

    def _close(self):
        oracle = getattr(self, "oracle", None)
        if oracle is not None:
            oracle.close()
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; its Python workers with it
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args, dirs: dict[str, str]) -> dict:
    declared = _declared_metrics()
    r = Run(args, dirs)
    try:
        r.setup()
        r.measure()
        if args.trace:
            r.trace_queries()
    finally:
        r.close()
    if not r.latencies:
        raise RuntimeError("no op completed")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "lake_cells": r.n_cells, "lake_gen_s": round(r.lake_gen_s, 3),
        "session_s": round(r.session_s, 3), "cold_build_s": round(r.cold_build_s, 3),
        "check_s": round(r.check_s, 3), "close_s": round(r.close_s, 3),
        "latencies_s": [round(x, 4) for x in r.latencies],
        "failures": r.failures,
    }
    print(json.dumps({"detail": detail}))
    if args.trace:
        values = r.tr.summary()
        specs = declared["per_layer"]
    else:
        values = {
            "setup_s": r.setup_s,
            "op_p50_s": statistics.median(r.latencies),
            "cache_mb": r.cache_mb,
        }
        specs = declared["end_to_end"]
    missing = [m["name"] for m in specs if values.get(m["name"]) is None]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failed_ops),
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    try:
        result = run(args, _isolate(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
