"""MeerTRAP end-to-end benchmark: raw candidate trees -> 9 tables -> sink.

One process per run. The session comes from ``engine.get_spark`` with the
engine defaults (only the console progress bar is turned off), and each
load makes the public calls the ``meertrap`` CLI makes with
``--no-validate``: ``meertrap_run`` with ``output_dir`` (fresh parquet
output), or ``meertrap_run`` then ``incremental_load`` (``--incremental``).

Run from the repository root::

    python3 perfbench/run.py --workload meertrap_many_dirs --seed 1 --seconds 10 --trace 0

``--trace 0`` times the loads untraced and prints the end-to-end metrics;
``--trace 1`` also traces loads layer by layer and prints the per-layer
metrics. Human-readable lines come first; the last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
See perfbench/README.md for the workloads and every metric.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "ska_src_maltopuft_etl_spark"
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
from spans import RETENTION_CONF, Tracer, layer_table  # noqa: E402

#: A run must end within this many seconds.
RUN_LIMIT_S = 170.0


class Workload:
    """One benchmark workload: inputs made from a seed, the timed load,
    and the output check."""

    name = ""
    why = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.loads = 0

    def identity(self) -> dict:
        raise NotImplementedError

    def before_load(self) -> None:
        """Untimed work before every load but the first."""

    def load(self, spark, tracer=None) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    @property
    def candidates(self) -> int:
        return self.tree.candidates

    @property
    def input_bytes(self) -> int:
        return self.tree.input_bytes


class ManyDirs(Workload):
    name = "meertrap_many_dirs"
    why = "sources-heavy: per-directory listing and parsing of many small files"
    # 12 directories per run summary, as with a few thousand directories
    # over tens of observations
    spec = gen.TreeSpec(n_dirs=480, n_obs=5)

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.tree = gen.generate(os.path.join(work, "raw"), self.spec, seed)
        self.out = None
        self.bytes_written = self.rows_appended = 0

    def identity(self):
        t = self.tree
        return {"dirs": t.n_dirs, "files": t.n_files, "input_bytes": t.input_bytes,
                "dirs_per_summary": round(t.n_dirs / t.unique_summaries, 3),
                "warehouse_overlap": 0.0, "candidates": t.candidates,
                "partition_rows": sum(t.expected.values()), "expected": t.expected}

    def load(self, spark, tracer=None):
        from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run

        self.loads += 1
        self.out = os.path.join(self.work, f"out{self.loads}")
        if tracer is None:
            meertrap_run(spark, self.tree.path, output_dir=self.out, validate=False)
            return
        tables = traced_tables(tracer, spark, self.tree.path)
        # meertrap_run's own write loop (plans/meertrap/pipeline.py:54-58)
        for name, df in tables.items():
            with tracer.span(f"write:{name}", "sinks"):
                df.write.mode("overwrite").option("compression", "gzip").parquet(
                    f"{self.out}/{name}.parquet"
                )

    def check(self):
        self.bytes_written = checks.dir_bytes(self.out)
        counts, problems = checks.check_warehouse(self.out, self.tree.expected)
        self.rows_appended = sum(counts.values())
        shutil.rmtree(self.out)
        return problems


class Incremental(Workload):
    name = "meertrap_incremental"
    why = "sinks-heavy: natural-key matching and id reconciliation against a warehouse"
    spec = gen.TreeSpec(n_dirs=192, n_obs=2)  # 12 directories per run summary
    prior_days = 3

    def __init__(self, work, seed):
        super().__init__(work, seed)
        day = self.prior_days
        half = (0, self.spec.n_obs // 2)
        # earlier full days plus the first half of today's partition,
        # delivered before the rest of it arrived
        parts = [(d, None) for d in range(day)] + [(day, half)]
        self.out = os.path.join(work, "warehouse")
        self.prior = gen.write_warehouse(self.out, self.spec, seed, parts)
        self.counts = self.prior.counts()
        self.tree = gen.generate(os.path.join(work, "raw"), self.spec, seed, day=day)
        self.expected = self.prior.union(self.tree.entities).counts()
        self.bytes_total = checks.dir_bytes(self.out)
        self.bytes_written = self.rows_appended = 0
        self.hashes = None

    def before_load(self):
        # a re-load of the partition follows: fingerprint the warehouse
        self.hashes = checks.content_hashes(self.out)

    def identity(self):
        t = self.tree
        overlap = len(t.entities.candidate & self.prior.candidate) / t.candidates
        return {"dirs": t.n_dirs, "files": t.n_files, "input_bytes": t.input_bytes,
                "dirs_per_summary": round(t.n_dirs / t.unique_summaries, 3),
                "warehouse_overlap": round(overlap, 3),
                "warehouse_rows": sum(self.prior.counts().values()),
                "candidates": t.candidates, "partition_rows": sum(t.expected.values()),
                "expected": self.expected}

    def load(self, spark, tracer=None):
        from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run
        from ska_src_maltopuft_etl_spark.sinks import MEERTRAP_TARGETS, incremental_load

        self.loads += 1
        if tracer is None:
            tables = meertrap_run(spark, self.tree.path, validate=False)
            incremental_load(spark, tables, MEERTRAP_TARGETS, self.out)
        else:
            tables = traced_tables(tracer, spark, self.tree.path)
            with tracer.span("incremental_load", "sinks"):
                incremental_load(spark, tables, MEERTRAP_TARGETS, self.out)

    def check(self):
        total = checks.dir_bytes(self.out)
        self.bytes_written, self.bytes_total = total - self.bytes_total, total
        counts, problems = checks.check_warehouse(self.out, self.expected)
        self.rows_appended = sum(counts.values()) - sum(self.counts.values())
        self.counts = counts
        if self.hashes is not None:
            hashes = checks.content_hashes(self.out)
            changed = [t for t in hashes if hashes[t] != self.hashes[t]]
            if changed:
                problems.append(f"re-run changed the content of {changed}")
        return problems


class Parity(Workload):
    """Registry queries over a generated ``orders``/``nation`` tier into
    the noop sink. Not in BENCHMARK.json: no file sink, so it has no
    output bytes, and its loads do not fit the run budget beside the two
    file workloads. Run it by name."""

    name = "meertrap_parity"
    why = "plans-heavy: surrogate keys, interval/as-of joins and dedup at fact size"
    orders = 150_000
    queries = ("meertrap_observation", "meertrap_sp_candidate")

    def __init__(self, work, seed):
        import random

        import pyarrow as pa
        import pyarrow.parquet as pq

        super().__init__(work, seed)
        rng = random.Random(seed)
        keys = sorted(rng.sample(range(1, 4 * self.orders), self.orders))
        self.sf = os.path.join(work, "sf")
        os.makedirs(self.sf)
        pq.write_table(pa.table({"o_orderkey": pa.array(keys, pa.int64())}),
                       f"{self.sf}/orders.parquet")
        pq.write_table(pa.table({"n_nationkey": pa.array(range(25), pa.int64())}),
                       f"{self.sf}/nation.parquet")
        self.parquet_bytes = sum(os.path.getsize(f"{self.sf}/{t}.parquet")
                                 for t in ("orders", "nation"))
        self.n_candidates = self.orders + sum(k % 10 == 0 for k in keys)
        self.bytes_written = self.rows_appended = 0
        self.spark = None

    @property
    def candidates(self):
        return self.n_candidates

    @property
    def input_bytes(self):
        return self.parquet_bytes

    def identity(self):
        return {"dirs": 0, "files": 2, "input_bytes": self.input_bytes,
                "fact_rows": self.orders, "candidates": self.candidates}

    def load(self, spark, tracer=None):
        from ska_src_maltopuft_etl_spark.plans import QUERIES
        from ska_src_maltopuft_etl_spark.sources import load_table

        self.spark = spark
        self.loads += 1
        if tracer is None:
            for q in self.queries:
                QUERIES[q].fn(spark, self.sf).write.format("noop").mode("overwrite").save()
            return
        with tracer.span("load_table", "sources"):
            for t in ("orders", "nation"):
                load_table(spark, self.sf, t)
        for q in self.queries:
            with tracer.span(q, "plans"):
                df = QUERIES[q].fn(spark, self.sf)
            with tracer.span(f"noop:{q}", "sinks"):
                df.write.format("noop").mode("overwrite").save()

    def check(self):
        if self.loads > 1:
            return []  # the oracle check runs once, on the first load
        import duckdb

        from ska_src_maltopuft_etl_spark.plans import QUERIES
        from tools.check_correctness import frame_hash

        problems = []
        with duckdb.connect() as con:
            for t in ("orders", "nation"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            for q in self.queries:
                sdf = QUERIES[q].fn(self.spark, self.sf)
                res = con.execute(QUERIES[q].oracle)
                ocols = [d[0] for d in res.description]
                if frame_hash(sdf.columns, [tuple(r) for r in sdf.collect()]) != frame_hash(
                    ocols, res.fetchall()
                ):
                    problems.append(f"{q}: result hash differs from the DuckDB oracle")
        return problems


WORKLOADS = {w.name: w for w in (ManyDirs, Incremental, Parity)}


def traced_tables(tracer, spark, data_dir: str) -> dict:
    """``meertrap_run``'s body (plans/meertrap/pipeline.py:41-53), one
    span per layer call; test_perfbench pins that body, so a change to it
    fails a test until this copy follows. Each source frame is materialized by a ``count`` inside
    its own span, so parsing lands in ``sources`` rather than in
    whichever later job first reads the cache; the extra count job is
    part of the tracing overhead."""
    from pyspark import StorageLevel

    from ska_src_maltopuft_etl_spark.plans.meertrap import transform_observation, transform_spccl
    from ska_src_maltopuft_etl_spark.sources.run_summary import read_run_summaries
    from ska_src_maltopuft_etl_spark.sources.spccl import read_spccl

    raw = {}
    for name, reader in (("read_run_summaries", read_run_summaries), ("read_spccl", read_spccl)):
        with tracer.span(f"{name}:list", "sources") as s:
            df = reader(spark, data_dir)
            # counted before persist: a cached plan no longer names its files
            s.stats["files"] = len(df.inputFiles())
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        with tracer.span(f"{name}:parse", "sources") as s:
            s.stats["rows"] = df.count()
        raw[name] = df
    with tracer.span("transform_observation", "plans"):
        obs_tables = transform_observation(raw["read_run_summaries"], validate=False)
    with tracer.span("transform_spccl", "plans"):
        cand_tables = transform_spccl(
            raw["read_spccl"], obs_tables.beam_obs,
            partition_key=os.path.basename(data_dir.rstrip("/")), validate=False,
        )
    return {**obs_tables.as_dict(), **cand_tables.as_dict()}


# ---------------------------------------------------------------------------
# process, session and environment
# ---------------------------------------------------------------------------

def environment(spark=None) -> dict:
    def meminfo(key):
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) // 1024
        return None

    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "mem_total_mb": meminfo("MemTotal"),
        "loadavg": os.getloadavg()[0],
    }
    try:
        env["git_commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=ROOT, timeout=10
        ).stdout.strip() or None
    except OSError:
        env["git_commit"] = None
    if spark is not None:
        import pyspark

        env["spark_master"] = spark.sparkContext.master
        env["spark.driver.memory"] = spark.conf.get("spark.driver.memory", None)
        env["pyspark"] = pyspark.__version__
        env["java"] = spark._jvm.java.lang.System.getProperty("java.version")  # noqa: SLF001
        env["java.io.tmpdir"] = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")  # noqa: SLF001
    return env


def jvm_status(spark, key: str) -> float:
    """A ``/proc/<jvm>/status`` field of the driver JVM, in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{key} not in /proc/{pid}/status")


def pinned(spark) -> tuple[float, int]:
    """(MB, RDD count) the session keeps persisted right now."""
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    infos = sc.getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return mb, len(spark.sparkContext._jsc.getPersistentRDDs())  # noqa: SLF001


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------

LAYERS = ("sources", "plans", "sinks")
#: Per-layer metrics also reported for the warm traced loads.
WARM_KEYS = ("sources.wall_s", "plans.wall_s", "sinks.wall_s", "sinks.checkpoints",
             "sinks.rows_appended", "trace.gap_s")
LAYER_KEYS = ("wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_mb", "shuffle_write_mb", "core_util", "gc_s", "spill_mb")
#: Traced figures fixed by the inputs and the output check, not by how the
#: work runs: printed in the per-layer table, left out of the JSON metrics.
COUNT_KEYS = ("sources.files", "sources.summary_dedup_ratio", "sinks.rows_appended",
              "warm.sinks.rows_appended", "warm.loads", "warm.traced_loads")


class Run:
    """Loads of one process, with their failures and per-load counters."""

    def __init__(self, workload: Workload, tracer: Tracer | None):
        self.w = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer_rows: list[dict] = []

    def load(self, spark, traced: bool = False) -> float:
        """One load, timed from the pipeline call until the sink returns;
        then checked, counted and released outside the timing."""
        from ska_src_maltopuft_etl_spark.engine import release_all_persisted

        if self.attempted:
            self.w.before_load()
        self.attempted += 1
        tracer = self.tracer if traced else None
        root = None
        t0 = time.perf_counter()
        try:
            if tracer is None:
                self.w.load(spark)
            else:
                with tracer.span(f"load{self.attempted}") as root:
                    self.w.load(spark, tracer)
            elapsed = time.perf_counter() - t0
            pinned_mb, pinned_rdds = pinned(spark)
            problems = self.w.check()
        except Exception as e:  # noqa: BLE001 - a failed load counts in failed_ratio
            elapsed = time.perf_counter() - t0
            pinned_mb, pinned_rdds = pinned(spark)
            problems = [f"raised {type(e).__name__}: {str(e).splitlines()[0]}"]
        if problems:
            self.failed += 1
            self.problems += [f"load {self.attempted}: {p}" for p in problems]
        if root is not None:
            tracer.collect(root)
            self.layer_rows.append(
                self.flat(root, {"engine.pinned_mb": pinned_mb,
                                 "engine.pinned_rdds": pinned_rdds})
            )
        release_all_persisted(spark)
        return elapsed

    def flat(self, root, extra: dict) -> dict:
        """Per-layer metrics of one traced load. A load that raised may
        lack some spans or counters; their figures read 0."""
        layers = layer_table(self.tracer, root)
        m = {f"{layer}.{k}": layers.get(layer, {}).get(k, 0.0)
             for layer in LAYERS for k in LAYER_KEYS}
        kids = self.tracer.children(root)

        def total(layer, suffix, key):
            return sum(s.wall if key == "wall" else s.stats.get(key, 0)
                       for s in kids if s.layer == layer and s.name.endswith(suffix))

        files = total("sources", ":list", "files")
        summaries = {s.name: s.stats for s in kids if s.name.startswith("read_run_summaries:")}
        summary_rows = summaries.get("read_run_summaries:parse", {}).get("rows", 0)
        summary_files = summaries.get("read_run_summaries:list", {}).get("files", 0)
        m.update({
            "sources.list_s": total("sources", ":list", "wall"),
            "sources.list_tasks": total("sources", ":list", "tasks"),
            "sources.parse_s": total("sources", ":parse", "wall"),
            "sources.files": files,
            "sources.summary_dedup_ratio": summary_rows / summary_files if summary_files else 0.0,
            "sinks.checkpoints": total("sinks", "", "checkpoints"),
            "sinks.rows_appended": self.w.rows_appended,
            "sinks.bytes_written_mb": self.w.bytes_written / 2**20,
            "trace.load_s": root.wall,
            "trace.gap_s": root.wall - sum(s.wall for s in kids),
        })
        m.update(extra)
        return m


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def start_session(trace: bool, tmp: str):
    """``get_spark`` with the engine defaults, then the first job. Returns
    the session and the ``get_spark`` call's own seconds. Scratch files go
    to ``tmp`` so a run writes only inside its checkout; traced runs also
    keep more jobs and stages in the status store."""
    from ska_src_maltopuft_etl_spark.engine import get_spark

    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        **(RETENTION_CONF if trace else {}),
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.range(4).count()
    return spark, get_spark_s


def bench(name: str, seed: int, seconds: float, trace: bool) -> int:
    work = os.path.join(ROOT, ".perfbench", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = environment()
    spark, get_spark_s = start_session(trace, os.path.join(work, "tmp"))
    setup_s = time.perf_counter() - T_PROCESS
    warm, traced = [], []
    try:
        w = WORKLOADS[name](work, seed)
        run = Run(w, Tracer(spark, f"{name}:{seed}") if trace else None)
        cold = run.load(spark, traced=trace)
        cold_bytes = w.bytes_written
        t_warm = time.perf_counter()

        def fits() -> bool:  # a warm load takes 0.55-0.7 x the cold one
            return time.perf_counter() - T_PROCESS + 0.9 * cold < RUN_LIMIT_S

        # traced runs: warm loads for --seconds, untraced then traced, each
        # only if it still ends in time. The untraced one goes first, as
        # its time (load_s, rerun_s) is the one users see.
        while trace and fits() and (not traced or time.perf_counter() - t_warm < seconds):
            warm.append(run.load(spark))
            if not fits():
                break
            traced.append(run.load(spark, traced=True))
        peak_rss_mb = jvm_status(spark, "VmHWM")
        loadavg_start = env.pop("loadavg")
        env.update(environment(spark))
        env["loadavg_start"], env["loadavg_end"] = loadavg_start, env.pop("loadavg")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"env {json.dumps(env)}")
    print(f"workload {name} ({w.why}) seed={seed} {json.dumps(w.identity())}")
    for p in run.problems:
        print(f"CHECK FAILED {p}")
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_load_s": (cold, "s"),
        "cands_per_s": (w.candidates / cold, "1/s"),
        "out_bytes_per_in_byte": (cold_bytes / w.input_bytes, "ratio"),
    }
    if trace:
        print("  (tracing on: the cold load below includes the tracing overhead)")
    for k, (v, unit) in e2e.items():
        print(f"  {k:<24} {v:12.4f} {unit}")
    # printed, not in the JSON: peak RSS varies too much between runs to
    # bound (G1 heap growth), and failed_ratio is 0 when all is well
    print(f"  {'peak_rss_mb':<24} {peak_rss_mb:12.4f} MB")
    print(f"  {'failed_ratio':<24} {run.failed / run.attempted:12.4f} "
          f"({run.failed} of {run.attempted} loads)")

    if trace:
        metrics = dict(run.layer_rows[0])
        metrics["engine.get_spark_s"] = get_spark_s
        metrics["engine.peak_rss_mb"] = peak_rss_mb
        warm_rows = run.layer_rows[1:]
        metrics["warm.loads"] = len(warm)
        metrics["warm.traced_loads"] = len(traced)
        metrics["warm.load_s"] = median(warm)
        metrics["warm.traced_load_s"] = median(traced)
        metrics["warm.overhead_s"] = median(traced) - median(warm) if traced else 0.0
        for k in WARM_KEYS:
            metrics[f"warm.{k}"] = median([r[k] for r in warm_rows])
        stem = os.path.join(ROOT, ".perfbench", "traces", f"{name}-{seed}")
        os.makedirs(os.path.dirname(stem), exist_ok=True)
        run.tracer.write(f"{stem}-spans.jsonl", env)
        report = layer_report(name, seed, metrics)
        with open(f"{stem}-layers.md", "w") as f:
            f.write(report)
        print(report)
        print(f"spans: {stem}-spans.jsonl")
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())
               if k not in COUNT_KEYS}
    else:
        out = {k: {"value": v, "unit": unit} for k, (v, unit) in e2e.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0 if run.failed == 0 else 1


def unit_of(metric: str) -> str:
    tail = metric.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail in ("core_util", "summary_dedup_ratio"):
        return "ratio"
    return "count"


def layer_report(name: str, seed: int, metrics: dict) -> str:
    """Markdown table of the traced run's per-layer metrics."""
    lines = [f"### {name} seed {seed}: per-layer split of the cold load", "",
             "| metric | value | unit |", "|---|---|---|"]
    lines += [f"| {k} | {v:.4f} | {unit_of(k)} |" for k, v in sorted(metrics.items())
              if k not in COUNT_KEYS]
    lines += ["", "Counts fixed by the inputs and the output check (not in the JSON "
              "metrics):", "", "| count | value | unit |", "|---|---|---|"]
    lines += [f"| {k} | {metrics[k]:.4f} | {unit_of(k)} |" for k in COUNT_KEYS]
    lines += ["", "Sink executor time includes the deferred transform stages its "
              "writes trigger (lazy evaluation); `plans` holds only the eager side "
              "jobs the transforms run while building their plans. `warm.*` rows "
              "are medians over the warm loads; a figure of a warm load that "
              "did not fit in the run reads 0.", ""]
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="MeerTRAP end-to-end benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print(f"perfbench: run from the repository root ({PACKAGE}/ and tools/ "
              f"not found under {ROOT})", file=sys.stderr)
        return 2
    return bench(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
