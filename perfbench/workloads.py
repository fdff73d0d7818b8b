"""The benchmark workloads.

Each workload drives the engine's public surface directly
(``EntityPipelines``, ``Warehouse``, ``REGISTRY[...].build``) on inputs
from ``gen``, builds a fresh warehouse per unit, and never calls the
memoized ``plans.backfill`` entry points.

* ``pipeline``: a fresh warehouse with ``fact_mode="incremental"``
  takes the initial load of the landing CSVs (the backfill: CSV ingest
  and the initial-load MERGE fast paths), then weekly wake-ups that
  each land one week of held-back orders with ~1% customer and item
  upserts (new keys included), late corrections to older months and
  resends. A wake-up is dominated by per-cycle fixed cost: changelog
  gates, Spark job count, the partition-pruned raw MERGE and the dim
  MERGE against a non-empty target (the real SCD-1 join).
* ``query_mix``: analyst reads. Registry entries are built and their
  results collected, with no warehouse writes: plan
  construction, source binding, dialect lowering, the LSH/dedup
  operators and core join/aggregate execution, and no pipeline layer.
  Each workload is the control for changes aimed at the other.

A run sets up, then measures untraced units until ``seconds`` have
passed (at least one), or with tracing on exactly one unit with the
tracer installed around its timed part. There is no warm-up: the first
unit is the first engine work of the JVM (see the README). Every
operation and unit is timed twice: wall time, and the CPU time of the
engine's process tree (this process, the JVM and its Python workers).
The JVM's peak resident memory is reset after set-up and read after
the last timed unit, before the output checks run.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import gen
import tracing

# input scale of each workload, as a fraction of TPC-H sf1
PIPELINE_SF = 0.005
PIPELINE_WEEKS = 2
QUERY_SF = 0.01

QUERY_MIX = (
    "flagship_fact_rebuild",
    "q5_local_supplier_volume",
    "w1_dedup_latest_per_key",
    "e2_sessionize",
    "sql55_session_variables",
    "sql57_sql_udf",
    "k10_tdigest_sketch_path",
    "d14_dedup_lsh_bucket_cap",
)
# the LSH entry's DuckDB oracle takes minutes at 500 vectors, so its
# check is the exact cosine of every returned pair
LSH_ENTRIES = ("d14_dedup_lsh_bucket_cap",)
LSH_THRESHOLD = 0.5


def _clock() -> datetime:
    return datetime(2021, 6, 1, tzinfo=timezone.utc)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live process
    below it (the JVM, its Python workers), reaped children included."""
    tck = os.sysconf("SC_CLK_TCK")
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.getpid()
    below = 0
    for pid in parent:
        p = parent[pid]
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            below += ticks[pid]
    t = os.times()
    return below / tck + t.user + t.system + t.children_user + t.children_system


@dataclass
class Samples:
    """``units`` are the workload's unit of work (the backfill plus the
    weekly wake-ups; one pass over the query mix); ``ops`` its single
    operations (a weekly wake-up; one entry's build plus collect). Each
    has its wall time and its CPU time (``tree_cpu_s``)."""

    units: list[float] = field(default_factory=list)
    ops: list[float] = field(default_factory=list)
    unit_cpu: list[float] = field(default_factory=list)
    op_cpu: list[float] = field(default_factory=list)


class Clock:
    """Wall and CPU time of one timed section."""

    def __enter__(self):
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.cpu0


def _link_tree(src: str, dst: str) -> int:
    """Land files: hardlink every file of ``src`` under ``dst``;
    returns the bytes landed."""
    size = 0
    for root, _dirs, files in os.walk(src):
        d = os.path.join(dst, os.path.relpath(root, src))
        os.makedirs(d, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(d, f))
            size += os.path.getsize(os.path.join(root, f))
    return size


class Workload:
    def __init__(self, spark, work: str, seed: int, tracer_factory=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer_factory = tracer_factory
        self.tracer = None
        self.setup_s: dict[str, float] = {}
        self.samples = Samples()
        self.attempted = 0
        self.errors: list[str] = []
        self.input_bytes = 0  # bytes landed during the traced unit
        self.jvm_peak_rss_mb = 0.0  # over the timed units

    # -- bookkeeping -------------------------------------------------------
    def fail(self, what: str) -> None:
        self.errors.append(what)

    def timed_setup(self, name: str, fn):
        t = time.perf_counter()
        r = fn()
        self.setup_s[name] = time.perf_counter() - t
        return r

    @contextlib.contextmanager
    def traced_section(self):
        """Installs the tracer, when this unit is the traced one."""
        if self.tracer is None:
            yield
            return
        self.tracer.install()
        try:
            yield
        finally:
            self.tracer.uninstall()

    @contextlib.contextmanager
    def op(self, name: str):
        """One timed operation: the root span of the traced unit."""
        if self.tracer is not None:
            self.tracer.begin_root(name)
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.end_root()

    @contextlib.contextmanager
    def span(self, layer: str):
        """A harness-level layer span inside an operation."""
        if self.tracer is None:
            yield
            return
        s = self.tracer.open(layer)
        try:
            yield
        finally:
            self.tracer.close(s)

    def check(self) -> None:
        """Checks left for the end of the run, untimed."""

    def run(self, seconds: float) -> None:
        self.setup()
        jvm = self.spark.sparkContext._gateway.proc.pid
        tracing.reset_peak_rss(jvm)
        deadline = time.perf_counter() + seconds
        if self.tracer_factory is not None:
            # one unit, as cold as the first untraced one
            self.tracer = self.tracer_factory(self.spark)
            self.unit()
        else:
            while not self.samples.units or time.perf_counter() < deadline:
                self.unit()
        self.jvm_peak_rss_mb = tracing.peak_rss_mb(jvm)


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------


class Pipeline(Workload):
    """A unit: a fresh warehouse in ``fact_mode="incremental"``, the
    initial load (the backfill wake-up), then ``PIPELINE_WEEKS``
    wake-ups that each land one week of held-back orders with upserts,
    late corrections and resends. The ops are those weekly wake-ups."""

    def setup(self) -> None:
        spec = gen.LandingSpec.at_scale(PIPELINE_SF, weeks=PIPELINE_WEEKS)
        inputs = os.path.join(self.work, "inputs")
        self.batches = self.timed_setup(
            "generate_s", lambda: gen.write_landing(inputs, self.seed, spec)
        )
        self.oracle = gen.landing_oracle(self.batches, self.work)

    def unit(self) -> None:
        from end_to_end_etl_using_snowflake_spark.pipelines.entities import EntityPipelines
        from end_to_end_etl_using_snowflake_spark.plans.catalog import Warehouse

        base = os.path.join(self.work, "unit")  # removed when the unit ends
        landing = os.path.join(base, "landing")
        wh = Warehouse(self.spark, os.path.join(base, "warehouse"))
        pipelines = EntityPipelines(
            self.spark, wh, landing, clock=_clock, fact_mode="incremental"
        )
        wall = cpu = 0.0
        self.input_bytes = 0
        with self.traced_section():
            for i, batch in enumerate(self.batches):
                self.input_bytes += _link_tree(batch, landing)
                with self.op("backfill" if i == 0 else "wake"), Clock() as c:
                    self.wake(pipelines)
                wall += c.wall
                cpu += c.cpu
                if i > 0:
                    self.samples.ops.append(c.wall)
                    self.samples.op_cpu.append(c.cpu)
        self.samples.units.append(wall)
        self.samples.unit_cpu.append(cpu)
        try:
            self.verify(pipelines)
        except Exception as e:  # noqa: BLE001 - an unreadable warehouse is a failure
            self.fail(f"verify raised {e!r}")
        self.spark.catalog.clearCache()
        shutil.rmtree(base)

    def wake(self, pipelines) -> None:
        """One wake-up; an exception or a FAILED task run is a failed
        operation."""
        self.attempted += 1
        try:
            runs = pipelines.run_all()
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            self.fail(f"run_all raised {e!r}")
            return
        for entity, rs in runs.items():
            for r in rs:
                if r.state == "FAILED":
                    self.fail(f"{entity}.{r.task_name} FAILED: {r.error}")

    def verify(self, pipelines) -> None:
        """Compare the engine's warehouse audit and the dims' upserted
        values with the oracle; a mismatch is a failed operation."""
        from pyspark.sql import functions as F

        from end_to_end_etl_using_snowflake_spark.plans.backfill import _audit

        got = {k: int(v) for k, v in _audit(pipelines).collect()[0].asDict().items()}
        cust = pipelines.dim_customer.read().filter(F.col("email_address").contains("@w"))
        row = cust.agg(
            F.count(F.lit(1)),
            F.sum(F.regexp_extract("email_address", "@w([0-9]+)", 1).cast("long")),
        ).first()
        got["n_customer_upserted"], got["customer_upsert_weeks"] = row[0], row[1] or 0
        item = pipelines.dim_item.read().filter(F.col("item_class").startswith("Upd#"))
        row = item.agg(
            F.count(F.lit(1)), F.sum(F.substring("item_class", 5, 8).cast("long"))
        ).first()
        got["n_item_upserted"], got["item_upsert_weeks"] = row[0], row[1] or 0
        bad = {k: (got.get(k), v) for k, v in self.oracle.items() if got.get(k) != v}
        if bad:
            self.fail(f"oracle mismatch (got, want): {bad}")


# ---------------------------------------------------------------------------
# query mix
# ---------------------------------------------------------------------------


class QueryMix(Workload):
    def setup(self) -> None:
        def registry():
            import __spark_entry__  # noqa: F401  (populates the registry)
            from end_to_end_etl_using_snowflake_spark.plans.registry import REGISTRY

            return REGISTRY

        self.registry = self.timed_setup("import_s", registry)
        self.sf_dir = os.path.join(self.work, "tables")
        self.timed_setup(
            "generate_s", lambda: gen.write_tables(self.sf_dir, self.seed, QUERY_SF)
        )
        # per entry of the traced pass: (build_s, exec_s)
        self.per_query: dict[str, tuple[float, float]] = {}
        self.results = {}  # the last pass's collected result per entry

    def unit(self) -> None:
        wall = cpu = 0.0
        with self.traced_section():
            for name in QUERY_MIX:
                self.attempted += 1
                with self.op(f"query.{name}"), Clock() as c:
                    try:
                        t0 = time.perf_counter()
                        with self.span("plans.build"):
                            df = self.registry[name].build(self.spark, self.sf_dir)
                        t1 = time.perf_counter()
                        with self.span("plans.exec"):
                            result = df.toPandas()
                        t2 = time.perf_counter()
                    except Exception as e:  # noqa: BLE001 - a failed op is a result
                        self.fail(f"{name} raised {e!r}")
                        result = None
                if result is None:
                    continue
                self.results[name] = result
                if self.tracer is not None:
                    self.per_query[name] = (t1 - t0, t2 - t1)
                self.samples.ops.append(c.wall)
                self.samples.op_cpu.append(c.cpu)
                wall += c.wall
                cpu += c.cpu
        self.samples.units.append(wall)
        self.samples.unit_cpu.append(cpu)

    def check(self) -> None:
        """Untimed, once per run: strict parity of every entry's collected
        result against its DuckDB oracle, and exact cosine for the LSH
        entries. ``compare`` builds and collects the entry itself, so
        for the call the registry entry hands it the result the timed
        pass collected instead of running the query again."""
        from dataclasses import replace

        from tools.strict_parity import compare, duck_con

        con = duck_con(self.sf_dir)
        try:
            for name in QUERY_MIX:
                if name not in self.results:
                    continue  # its failure is counted
                if name in LSH_ENTRIES:
                    self._check_lsh(name)
                    continue
                spec = self.registry[name]
                self.registry[name] = replace(spec, build=_Collected(self.results[name]))
                try:
                    r = compare(name, self.spark, con, self.sf_dir)
                finally:
                    self.registry[name] = spec
                if not r.get("ok"):
                    self.fail(f"{name} parity: {r.get('err') or r.get('errors')}")
        finally:
            con.close()

    def _check_lsh(self, name: str) -> None:
        """Every pair the LSH entry returns is distinct, ordered, at or
        above the threshold, and carries the exact float64 cosine of
        the two stored vectors (the fold order the engine documents).
        Recall is not checked: LSH may miss pairs, and random unit
        vectors, like the test data's, hold only one or two pairs at
        cosine 0.5 or more per 500 vectors."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"))
        vecs = dict(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))

        def dot(a, b):
            s = 0.0
            for x, y in zip(a, b):
                s += float(x) * float(y)
            return s

        rows = self.results[name].itertuples(index=False)
        seen = set()
        for a, b, cos in rows:
            va, vb = vecs[a], vecs[b]
            want = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
            if not (a < b and (a, b) not in seen and cos == want and cos >= LSH_THRESHOLD):
                self.fail(f"{name}: bad pair ({a}, {b}, {cos!r}), exact cosine {want!r}")
                return
            seen.add((a, b))


class _Collected:
    """Stands in for a registry entry's ``build``: returns a frame whose
    ``toPandas`` is an already collected result."""

    def __init__(self, result):
        self.result = result

    def __call__(self, spark, sf_dir):
        return self

    def toPandas(self):
        return self.result
