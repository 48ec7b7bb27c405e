#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one local[N] Spark session.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner generates the workload's input
from the seed (perfbench/gen.py), starts and provisions one session, runs
one untimed pass, then times whole passes over the workload's queries
(perfbench/workloads.json) for ``--seconds``. One invocation is
``QUERIES[name](spark, dir)`` followed by ``.toPandas()`` inside its own
``scoped_caches()`` scope; a raised exception is a failure, and every
result is compared with its DuckDB oracle
(``dask_cuml_spark.oracle.compare``). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics (from
alternating traced and untraced passes) with ``--trace 1``; their names
and units are the ones BENCHMARK.json lists. A record of the run, with
every span in a traced run, is written to ``.perfbench-out/`` even when
the run fails partway.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(HERE, "workloads.json")
BENCH_PATH = os.path.join(ROOT, "BENCHMARK.json")
OUT_DIR = os.path.join(ROOT, ".perfbench-out")
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def metric_units(section: str) -> dict[str, str]:
    """{name: unit} of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(BENCH_PATH) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _seed(text: str) -> int:
    if not text.isdigit() or int(text) >= 2**63:
        raise argparse.ArgumentTypeError(f"seed must be an integer in [0, 2^63): {text!r}")
    return int(text)


def _seconds(text: str) -> int:
    if not text.isdigit() or not 1 <= int(text) <= 3600:
        raise argparse.ArgumentTypeError(f"seconds must be an integer in [1, 3600]: {text!r}")
    return int(text)


def parse_args(argv: list[str], spec: dict) -> argparse.Namespace:
    """Validate the command line before anything heavy is imported; a bad
    workload or seed exits with a usage error."""
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    p.add_argument("--seed", required=True, type=_seed)
    p.add_argument("--seconds", type=_seconds, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, never below p90. Below 100 samples the ten-beyond
    rule would fall toward the median, so p90 is interpolated instead."""
    xs = sorted(samples)
    if len(xs) >= 100:
        i = len(xs) - 11
        return 100.0 * (i + 1) / len(xs), xs[i]
    if len(xs) == 1:
        return 90.0, xs[0]
    return 90.0, statistics.quantiles(xs, n=10, method="inclusive")[-1]


def query_p50(passes: list[dict]) -> float:
    """Median per-invocation wall, pooled over every query of every pass.
    When two queries sit near the middle rank, their samples share the
    median, which is steadier than picking one query's median."""
    return statistics.median(w for p in passes for _, w in p["query_walls"])


class Tally:
    """Attempts and failures of one run. Failures are invocations that
    raised, results that differ from their oracle, and failed ingest
    consistency checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[dict] = []

    def fail(self, name: str, kind: str, detail: str) -> None:
        self.failures.append({"name": name, "kind": kind, "detail": detail[:2000]})
        print(f"perfbench: FAILED {name} ({kind}): {detail[:500]}", file=sys.stderr)

    def check(self, name: str, result, expected) -> bool:
        """Count one invocation and compare its result with the oracle's."""
        from dask_cuml_spark.oracle import compare

        self.attempted += 1
        ok, report = compare(result, expected)
        if not ok:
            self.fail(name, "mismatch", report)
        return ok

    @property
    def failed_ratio(self) -> float:
        return len(self.failures) / self.attempted if self.attempted else 0.0


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per table under ``sf_dir``; a
    table stored as a directory of part files is read as a glob."""
    import duckdb

    from dask_cuml_spark.io import TABLES, table_path

    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.isfile(path):
            continue
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self, args: argparse.Namespace, spec: dict, work: str, cpus: int) -> None:
        self.args = args
        self.spec = spec
        self.wl = spec["workloads"][args.workload]
        self.work = work
        self.cpus = cpus
        self.rng = random.Random(args.seed)
        self.tally = Tally()
        self.input_dir = os.path.join(work, "input")
        self.corpus = None
        self.spark = None
        self.tracer = None
        self.oracles: dict[tuple, object] = {}
        self.invocations: list[dict] = []
        self.setup: dict = {}
        self.passes: list[dict] = []
        self.ingested = 0
        self.n_streams = 0

    # -- input ---------------------------------------------------------
    def generate(self) -> None:
        import gen

        import dask_cuml_spark.queries  # noqa: F401 — populates the registry
        from dask_cuml_spark.registry import ORACLES

        missing = [n for n in self.wl["queries"] if n not in ORACLES]
        if missing:
            raise SystemExit(f"perfbench: no registered oracle-checked query {missing}")

        # the ingest stream appends part files, so its corpus tables are
        # directories; each provisioning round streams into its own copy
        appendable = ("documents", "embeddings") if "layouts" in self.wl else ()
        self.input_rows = gen.generate(
            self.input_dir, self.args.seed, self.spec["sizes"], directory_tables=appendable
        )

    def oracle(self, name: str, sf_dir: str, version: int = 0):
        from dask_cuml_spark.registry import ORACLES

        key = (name, sf_dir, version)
        if key not in self.oracles:
            con = duckdb_views(sf_dir)
            try:
                self.oracles[key] = con.execute(ORACLES[name]).df()
            finally:
                con.close()
        return self.oracles[key]

    # -- one invocation --------------------------------------------------
    def invoke(self, name: str, sf_dir: str, traced: bool, version: int = 0) -> float | None:
        """Time one invocation; return its wall time, or None if it raised."""
        from dask_cuml_spark.plans.cost import scoped_caches
        from dask_cuml_spark.registry import QUERIES

        tr = self.tracer if traced else None
        group = f"{name}#{len(self.invocations)}"
        if tr:
            before = tr.persisted()
            tr.set_group(group + ":construct")
        t0_epoch = time.time()
        t0 = time.perf_counter()
        try:
            with scoped_caches():
                df = QUERIES[name](self.spark, sf_dir)
                t1 = time.perf_counter()
                if tr:
                    tr.set_group(group + ":action")
                pdf = df.toPandas()
                t2 = time.perf_counter()
                if tr:
                    frames = tr.persisted() - before
                    cached_mb = tr.stored_mb(frames)
                    phases = tr.phases(df)
        except Exception:  # noqa: BLE001 — a failed invocation is counted, never retried
            self.tally.attempted += 1
            self.tally.fail(name, "raised", traceback.format_exc())
            return None
        finally:
            if tr:
                tr.clear_group()
        if tr:
            from layers import invocation_record

            rec = invocation_record(
                name,
                t0_epoch,
                t1 - t0,
                t2 - t1,
                tr.jobs(group + ":construct"),
                tr.jobs(group + ":action"),
                phases,
                len(pdf),
                float(pdf.memory_usage(deep=True).sum()) / 1e6,
                len(frames),
                cached_mb,
                self.cpus,
            )
        else:
            rec = {"query": name, "wall_s": t2 - t0, "construct_s": t1 - t0, "action_s": t2 - t1}
        rec["traced"] = traced
        self.invocations.append(rec)
        self.tally.check(name, pdf, self.oracle(name, sf_dir, version))
        return t2 - t0

    # -- passes ----------------------------------------------------------
    def run_pass(self, traced: bool, timed: bool) -> dict:
        queries = list(self.wl["queries"])
        self.rng.shuffle(queries)
        first = len(self.invocations)
        walls: list[float] = []
        stream = None
        sf_dir, version = self.input_dir, 0
        if "layouts" in self.wl:
            stream = self.stream()
            walls.append(stream["wall_s"])
            sf_dir, version = self.corpus, self.n_streams
        for name in queries:
            wall = self.invoke(name, sf_dir, traced, version)
            if wall is not None:
                walls.append(wall)
        rec = {
            "traced": traced,
            "timed": timed,
            "wall_s": sum(walls),
            "query_walls": [(r["query"], r["wall_s"]) for r in self.invocations[first:]],
            "stream": stream,
        }
        if traced:
            from layers import pass_layers

            rec["layers"] = pass_layers(self.invocations[first:], self.cpus)
        self.passes.append(rec)
        return rec

    def stream(self) -> dict:
        """Stream one seeded set of micro-batches into the corpus through
        ``run_ingest_stream``; check that every batch landed and refreshed
        every layout."""
        import gen

        from dask_cuml_spark.streaming.ingest import run_ingest_stream

        k = self.n_streams = self.n_streams + 1
        n_b, n_r = self.wl["batches_per_stream"], self.wl["rows_per_batch"]
        staging = os.path.join(self.work, f"staging-{k}")
        # ids continue after every corpus id, as the pack layout requires
        start = max(self.input_rows["documents"], self.input_rows["embeddings"]) + self.ingested
        gen.write_staging(staging, self.args.seed, k, n_b, n_r, start)
        self.ingested += n_b * n_r
        layouts = tuple(self.wl["layouts"])
        self.tally.attempted += 1
        t0 = time.perf_counter()
        try:
            stats = run_ingest_stream(
                self.spark, self.corpus, staging, os.path.join(self.work, f"ckpt-{k}"), layouts
            )
        except Exception:  # noqa: BLE001 — counted, the run goes on
            self.tally.fail("ingest_stream", "raised", traceback.format_exc())
            return {"wall_s": time.perf_counter() - t0, "batches": []}
        wall = time.perf_counter() - t0
        landed = sum(s["rows"] for s in stats)
        refreshed = all(set(s["refresh_sec"]) == set(layouts) for s in stats)
        con = duckdb_views(self.corpus)
        try:
            n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
            n_vecs = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        finally:
            con.close()
        want = (self.input_rows["documents"] + self.ingested, self.input_rows["embeddings"] + self.ingested)
        if len(stats) != n_b or landed != n_b * n_r or not refreshed or (n_docs, n_vecs) != want:
            self.tally.fail(
                "ingest_stream",
                "consistency",
                f"batches={len(stats)}/{n_b} rows={landed}/{n_b * n_r} "
                f"layouts_refreshed={refreshed} documents={n_docs} embeddings={n_vecs} "
                f"expected={want}",
            )
        return {"wall_s": wall, "rows": landed, "batches": stats}

    # -- set-up ------------------------------------------------------------
    def set_up(self) -> None:
        """Session start, table-cache fill, layout provisioning (ingest),
        then one untimed pass at the benchmark input, which fills the
        session-lived memos and warms the JVM and Python workers."""
        from dask_cuml_spark import io
        from dask_cuml_spark.session import get_spark

        if "layouts" in self.wl:
            # the stream appends to a copy; the input stays the oracle's base
            self.corpus = os.path.join(self.work, "corpus")
            shutil.copytree(self.input_dir, self.corpus)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        rec = self.setup
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        rec["session_start_s"] = time.perf_counter() - t0
        rec["app_id"] = self.spark.sparkContext.applicationId
        # ingest lists no cached tables: it mutates its corpus, and the scan
        # cache is for immutable inputs
        cached = self.wl.get("cached_tables", [])
        io.enable_table_cache(False)
        t1 = time.perf_counter()
        if cached:
            io.enable_table_cache(True)
            for t in cached:
                io.load_table(self.spark, self.input_dir, t)
        rec["cache_fill_s"] = time.perf_counter() - t1
        rec["cached_tables"] = len(cached)
        if "layouts" in self.wl:
            from dask_cuml_spark.layouts import ensure_layouts

            rec["layout_build_s"] = ensure_layouts(self.spark, self.corpus, tuple(self.wl["layouts"]))
        rec["provision_s"] = time.perf_counter() - t0
        if self.args.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark, self.cpus)
        rec["warm_pass_s"] = self.run_pass(traced=False, timed=False)["wall_s"]
        # the oracle checks of the untimed pass are the benchmark's, not set-up
        rec["setup_s"] = rec["provision_s"] + rec["warm_pass_s"]

    # -- measurement ---------------------------------------------------------
    def measure(self) -> None:
        """Whole passes until ``--seconds`` is spent, at least three, so
        every median has a middle sample; a traced run alternates untraced
        and traced passes, so the untraced median brackets the traced ones."""
        start = time.perf_counter()
        n = 0
        while True:
            traced = bool(self.args.trace) and n % 2 == 1
            rec = self.run_pass(traced=traced, timed=True)
            n += 1
            elapsed = time.perf_counter() - start
            if n >= 3 and elapsed + rec["wall_s"] / 2 >= self.args.seconds:
                break

    def end_to_end(self) -> dict:
        timed = [p for p in self.passes if p["timed"] and not p["traced"]]
        walls = [w for p in timed for _, w in p["query_walls"]]
        pct, tail_value = tail(walls)
        self.tail_percentile = pct
        values = {
            "setup_s": self.setup["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in timed),
            "query_p50_s": query_p50(timed),
            "query_tail_s": tail_value,
            "peak_rss_mb": self.peak_rss_mb(),
        }
        return {k: (values[k], unit) for k, unit in metric_units("end_to_end").items()}

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the Spark JVM, which pyspark's
        launch scripts exec into the gateway's child process."""
        from pyspark import SparkContext

        from layers import vm_hwm_mb

        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(SparkContext._gateway.proc.pid)

    def per_layer(self, steal: float) -> dict:
        from layers import median_of

        spec_units = metric_units("per_layer")
        traced = [p for p in self.passes if p["timed"] and p["traced"]]
        untraced = [p for p in self.passes if p["timed"] and not p["traced"]]
        out = dict(median_of([p["layers"] for p in traced]))
        out["session.start_s"] = self.setup["session_start_s"]
        out["io.cache_fill_s"] = self.setup["cache_fill_s"]
        out["io.cached_tables"] = self.setup["cached_tables"]
        out["host.steal_pct"] = steal
        out["trace_overhead"] = statistics.median(p["wall_s"] for p in traced) / statistics.median(
            p["wall_s"] for p in untraced
        )
        streams = [p["stream"] for p in traced if p["stream"] and p["stream"]["batches"]]
        batches = [b for s in streams for b in s["batches"]]
        for metric in spec_units:
            if metric.startswith("layouts.build_s."):
                layout = metric.rsplit(".", 1)[1]
                out[metric] = self.setup.get("layout_build_s", {}).get(layout, 0.0)
            elif metric.startswith("layouts.refresh_s."):
                layout = metric.rsplit(".", 1)[1]
                refresh = [b["refresh_sec"][layout] for b in batches]
                out[metric] = statistics.median(refresh) if refresh else 0.0
        if batches:
            out["layouts.stored_per_source"] = self.stored_per_source()
            out["streaming.append_s"] = statistics.median(b["append_sec"] for b in batches)
            out["streaming.batch_p50_s"] = statistics.median(
                b["append_sec"] + sum(b["refresh_sec"].values()) for b in batches
            )
            out["streaming.rows_per_s"] = statistics.median(s["rows"] / s["wall_s"] for s in streams)
            out["streaming.batch_overhead_s"] = statistics.median(
                s["wall_s"] - sum(b["append_sec"] + sum(b["refresh_sec"].values()) for b in s["batches"])
                for s in streams
            )
        else:
            for k in ("layouts.stored_per_source", "streaming.append_s", "streaming.batch_p50_s",
                      "streaming.rows_per_s", "streaming.batch_overhead_s"):
                out[k] = 0.0
        return {k: (out[k], spec_units[k]) for k in spec_units}

    def stored_per_source(self) -> float:
        """Bytes of every stored layout table per byte of source corpus."""
        warehouse = os.path.join(self.work, "warehouse")
        source = sum(dir_bytes(os.path.join(self.corpus, f"{t}.parquet")) for t in ("documents", "embeddings"))
        return dir_bytes(warehouse) / source

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        self.spark = None


def prepare_env(work: str, cpus: int) -> None:
    """Point every temporary file, the executors' Python path and the
    session's core count at this checkout, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def session_cpus() -> int:
    """N of local[N]: $SPARK_GRAFT_CPUS if set, else 2, never above nproc."""
    nproc = os.cpu_count() or 1
    return max(1, min(nproc, int(os.environ.get("SPARK_GRAFT_CPUS") or 2)))


def main(argv: list[str]) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    if not os.path.isfile(os.path.join(ROOT, "dask_cuml_spark", "__init__.py")):
        print(f"perfbench: no dask_cuml_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = session_cpus()
    host = {
        "nproc": os.cpu_count(),
        "cpus": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work, cpus)
    from layers import steal_counters, steal_pct

    bench = Bench(args, spec, work, cpus)
    record: dict = {"args": vars(args), "host": host}
    result = None
    steal0 = steal_counters()
    try:
        bench.generate()
        bench.set_up()
        bench.measure()
        host["steal_pct"] = steal_pct(steal0, steal_counters())
        metrics = bench.per_layer(host["steal_pct"]) if args.trace else bench.end_to_end()
        record["query_tail_percentile"] = getattr(bench, "tail_percentile", None)
        result = {
            "correct": not bench.tally.failures,
            "attempted": bench.tally.attempted,
            "failed": len(bench.tally.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        host.setdefault("steal_pct", steal_pct(steal0, steal_counters()))
        record.update(
            failed_ratio=bench.tally.failed_ratio,
            failures=bench.tally.failures,
            setup=bench.setup,
            passes=bench.passes,
            invocations=bench.invocations,
            result=result,
        )
        os.makedirs(OUT_DIR, exist_ok=True)
        out = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as f:
            json.dump(record, f, indent=1, default=str)
        try:
            bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass  # another run's work dir is still there
    print(
        f"perfbench: {args.workload} seed={args.seed} cpus={cpus} nproc={host['nproc']} "
        f"steal={host['steal_pct']:.2f}% failed_ratio={bench.tally.failed_ratio:.4f} "
        f"tail_percentile={record['query_tail_percentile']} record={out}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
