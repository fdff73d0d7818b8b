"""Self-contained pipeline wake-ups: landing CSVs written by the test,
a backfill plus two weekly wake-ups with customer/item upserts (new
keys included), late order corrections and a resent file.

Pins the per-cycle commit paths of the entity pipeline without the
reference fixtures:

- the incremental fact equals the rebuild fact on business columns;
- the fact's newest changelog version holds exactly the rows (and the
  very files) of the month partitions the wake-up rewrote;
- a stream read launches no Spark job and opens only the unconsumed
  ``_version`` directories;
- a weekly wake-up stays within its measured Spark job count;
- a crash between the fact's changelog commit and its partition swap
  converges, on re-run, to the crash-free warehouse.
"""

from __future__ import annotations

import csv
import os
import shutil
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_using_snowflake_spark.pipelines.entities import EntityPipelines
from end_to_end_etl_using_snowflake_spark.plans.backfill import _audit
from end_to_end_etl_using_snowflake_spark.plans.catalog import Warehouse
from end_to_end_etl_using_snowflake_spark.plans.tables import parquet_files
from end_to_end_etl_using_snowflake_spark.sources import csv_format as CF
from end_to_end_etl_using_snowflake_spark.streaming.changelog import Changelog

# Spark jobs of one weekly wake-up (run_all: three pipe ingests and
# three task chains) on this data, incremental fact mode, measured on
# the write-once partitioned commit path. A regression that brings
# back a schema-inference job, a second fact write or a history
# listing raises it.
WAKE_JOBS_MAX = 69

CUSTOMERS, ITEMS, MONTHS, ORDERS_PER_MONTH = 30, 12, 5, 24
CLOCKS = [datetime(2022, 7, 1 + 7 * i, tzinfo=timezone.utc) for i in range(3)]


def _customer(k: int, email: str) -> list:
    return [
        f"C{k}", "Mr." if k % 2 == 0 else "Ms.", "Customer", f"{k:09d}",
        str(1 + k % 28), str(1 + k % 12), str(1950 + k % 50),
        f"NATION_{k % 25}", email, "N" if k % 10 == 0 else "Y",
    ]


def _item(k: int, price: str, cls: str) -> list:
    return [f"I{k}", f"part {k}", "2020-01-01", "", price, cls, "STANDARD", "Y"]


def _order(n: int, month: int, day: int, qty: int, c: int, k: int) -> list:
    """Order ``n``; (date, time, item) is its composite business key."""
    cents = 1000 + 37 * n
    money = lambda pct: f"{cents * pct // 100 / 100:.2f}"  # noqa: E731
    return [
        f"2022-{month:02d}-{day:02d}", f"{n // 60 % 24:02d}:{n % 60:02d}:00",
        f"I{k}", f"part {k}", f"C{c}", "Mr.", "Customer",
        f"{n:09d}", str(n % 10), f"Store {n % 10}", str(qty), money(100),
        money(10), money(2), money(88), money(95), money(12),
    ]


def _write(path, header, rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow([h.upper() for h in header])
        w.writerows(rows)


def write_batches(root) -> list[str]:
    """initial/ then wake_<w>/ directories of ``<entity>/*.csv``."""
    cust_cols = CF.CUSTOMER_STAGE.names
    item_cols = CF.ITEM_STAGE.names
    order_cols = CF.ORDER_STAGE.names
    init = os.path.join(root, "initial")
    _write(
        os.path.join(init, "customer", "customer_0.csv"), cust_cols,
        [_customer(k, f"c{k}@example.com") for k in range(CUSTOMERS)],
    )
    _write(
        os.path.join(init, "item", "item_0.csv"), item_cols,
        [_item(k, f"{10 + k}.50", f"Brand#{k % 5}") for k in range(ITEMS)],
    )
    def initial_order(n: int, qty: int) -> list:
        month, i = divmod(n, ORDERS_PER_MONTH)
        return _order(n, month + 1, 1 + i % 28, qty, n * 7 % CUSTOMERS, n % ITEMS)

    orders = [initial_order(n, 1 + n % 7) for n in range(MONTHS * ORDERS_PER_MONTH)]
    _write(os.path.join(init, "order", "order_0.csv"), order_cols, orders)
    batches = [init]
    for w in range(2):
        d = os.path.join(root, f"wake_{w}")
        # upserts: two existing keys change, one brand-new key arrives
        new_c, new_i = CUSTOMERS + w, ITEMS + w
        _write(
            os.path.join(d, "customer", f"customer_w{w}.csv"), cust_cols,
            [_customer(k, f"c{k}@w{w}.example.com") for k in (w, 5 + w, new_c)],
        )
        _write(
            os.path.join(d, "item", f"item_w{w}.csv"), item_cols,
            [_item(k, f"{20 + k}.25", f"Upd#{w}") for k in (w, 3 + w, new_i)],
        )
        # this week's orders (the last initial month, then a new one)
        # also reference the new keys; late corrections re-send
        # initial orders of older months with a new quantity
        week = [
            _order(
                1000 * (w + 1) + i, MONTHS + w, 1 + i, 2,
                new_c if i % 2 == 0 else i, new_i if i % 3 == 0 else i % ITEMS,
            )
            for i in range(10)
        ]
        _write(os.path.join(d, "order", f"order_w{w}.csv"), order_cols, week)
        late = [initial_order(n, 20 + w) for n in (3 + 30 * w, 50 + 30 * w)]
        _write(os.path.join(d, "order", f"order_w{w}_late.csv"), order_cols, late)
        if w == 1:  # at-least-once delivery: last week's file re-sent
            shutil.copyfile(
                os.path.join(root, "wake_0", "order", "order_w0.csv"),
                os.path.join(d, "order", "order_w0_resend.csv"),
            )
        batches.append(d)
    return batches


def _land(batch: str, landing: str) -> None:
    for entity in os.listdir(batch):
        os.makedirs(os.path.join(landing, entity), exist_ok=True)
        for f in os.listdir(os.path.join(batch, entity)):
            shutil.copyfile(os.path.join(batch, entity, f), os.path.join(landing, entity, f))


def _max_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _new_pipelines(spark, base, mode: str):
    for e in ("customer", "item", "order"):
        os.makedirs(os.path.join(base, "landing", e), exist_ok=True)
    state = {"step": 0}
    p = EntityPipelines(
        spark, Warehouse(spark, os.path.join(base, "wh")), os.path.join(base, "landing"),
        clock=lambda: CLOCKS[state["step"]], fact_mode=mode,
    )
    return p, state


def _assert_ok(runs) -> None:
    for entity, rs in runs.items():
        for r in rs:
            assert r.state != "FAILED", f"{entity}.{r.task_name}: {r.error}"


@pytest.fixture(scope="module")
def batches(tmp_path_factory):
    return write_batches(str(tmp_path_factory.mktemp("wakeup_inputs")))


@pytest.fixture(scope="module")
def runs(spark, batches, tmp_path_factory):
    """Backfill + two wake-ups per fact mode; Spark jobs per wake-up."""
    out = {}
    for mode in ("rebuild", "incremental"):
        base = str(tmp_path_factory.mktemp(f"wakeup_{mode}"))
        p, state = _new_pipelines(spark, base, mode)
        jobs = []
        for step, batch in enumerate(batches):
            state["step"] = step
            _land(batch, os.path.join(base, "landing"))
            j0 = _max_job(spark)
            _assert_ok(p.run_all())
            jobs.append(_max_job(spark) - j0)
        out[mode] = {"p": p, "jobs": jobs}
    return out


def _fact_rows(p, with_key: bool):
    cols = [c for c in p.fact_order.schema.names if with_key or c != "order_fact_key"]
    return sorted(tuple(r) for r in p.fact_order.read().select(*cols).collect())


def test_incremental_fact_equals_rebuild(runs):
    inc, reb = runs["incremental"]["p"], runs["rebuild"]["p"]
    got = _fact_rows(inc, with_key=False)
    assert got == _fact_rows(reb, with_key=False)
    # every order survived: initial + 2 weeks of 10 (the resend and the
    # late corrections update existing keys); inner joins drop none
    n_orders = sum(r.order_count for r in inc.fact_order.read().collect())
    assert n_orders == MONTHS * ORDERS_PER_MONTH + 20
    keys = [r.order_fact_key for r in inc.fact_order.read().collect()]
    assert len(keys) == len(set(keys)) and None not in keys
    # the upserts and the late corrections landed
    dim_c = {r.customer_id: r.email_address for r in inc.dim_customer.read().collect()}
    assert dim_c["C1"] == "c1@w1.example.com" and dim_c[f"C{CUSTOMERS + 1}"]
    dim_i = {r.item_id: r.item_class for r in inc.dim_item.read().collect()}
    assert dim_i["I4"] == "Upd#1" and len(dim_i) == ITEMS + 2
    assert inc.fact_order.read().agg(F.max("order_quantity")).first()[0] >= 21


def test_fact_changelog_version_is_the_rewritten_partitions(spark, runs, batches):
    p = runs["incremental"]["p"]
    log, storage = p.fact_order.changelog, p.fact_order.storage
    v = log.version
    vdir = os.path.join(log.log_path, f"_version={v}")
    # the months the last wake-up's order files carry
    order_dir = os.path.join(batches[-1], "order")
    touched = set()
    for f in os.listdir(order_dir):
        with open(os.path.join(order_dir, f)) as fh:
            touched |= {row[0][:7] for row in list(csv.reader(fh))[1:]}
    assert len(touched) == 4  # this week, the resend's week, two corrections
    linked = {os.stat(f).st_ino for f in parquet_files(vdir)}
    part_files = {
        os.stat(f).st_ino
        for m in touched
        for f in parquet_files(os.path.join(storage.path, f"__month={m}"))
    }
    assert linked == part_files  # the version IS those partitions' files
    changes = spark.read.option("basePath", log.log_path).parquet(vdir)
    assert changes.columns == p.fact_order.schema.names + ["_version", "_action"]
    got = sorted(tuple(r) for r in changes.drop("_version", "_action").collect())
    want = sorted(
        tuple(r)
        for r in p.fact_order.read()
        .filter(F.date_format("order_date", "yyyy-MM").isin(*touched))
        .collect()
    )
    assert got == want and len(got) > 0
    assert log._read_meta()["rows"][str(v)] == len(got)


def test_stream_read_runs_no_job_and_reads_only_unconsumed_versions(spark, tmp_path):
    log = Changelog(spark, str(tmp_path / "t"))
    assert log.stream_read("c") == (None, 0)  # nothing committed yet
    schema = "k int, s string"
    for i in range(3):
        log.record(spark.createDataFrame([(i, f"v{i + 1}")], schema), "INSERT")
    log.stream_commit("c", 2)
    # decoys: a directory at the offset, one below it, and one above
    # the committed head (an uncommitted write); none may be read
    v3 = parquet_files(os.path.join(log.log_path, "_version=3"))[0]
    for v in (2, 0, 4):
        d = os.path.join(log.log_path, f"_version={v}", "_action=INSERT")
        os.makedirs(d, exist_ok=True)
        os.link(v3, os.path.join(d, "part-decoy.parquet"))
    j0 = _max_job(spark)
    df, version = log.stream_read("c")
    assert _max_job(spark) == j0  # no schema inference, no listing job
    assert version == 3
    assert df.columns == ["k", "s", "_version", "_action"]
    assert [tuple(r) for r in df.collect()] == [(2, "v3", 3, "INSERT")]
    # fully consumed: an empty frame with the same columns, still no job
    log.stream_commit("c", 3)
    j0 = _max_job(spark)
    df, _ = log.stream_read("c")
    assert _max_job(spark) == j0 and df.columns == ["k", "s", "_version", "_action"]
    assert df.count() == 0


def test_weekly_wakeup_job_budget(runs):
    jobs = runs["incremental"]["jobs"]
    assert max(jobs[1:]) <= WAKE_JOBS_MAX, jobs


def test_crash_between_fact_changelog_and_swap_converges(spark, runs, batches, tmp_path):
    """The fact's changelog version commits, then the partition swap
    dies. Re-running the fact task with its offset uncommitted must
    leave the fact table, its changelog and the audit equal to the
    crash-free run: the re-run rolls the unapplied version back instead
    of committing a second copy of it."""
    ref = runs["incremental"]["p"]
    p, state = _new_pipelines(spark, str(tmp_path), "incremental")
    landing = str(tmp_path / "landing")
    for step, batch in enumerate(batches):
        state["step"] = step
        _land(batch, landing)
        if step != 1:
            _assert_ok(p.run_all())
            continue

        def crash(tmp):
            raise RuntimeError("injected crash before the partition swap")

        p.fact_order.storage.swap_partitions = crash
        try:
            out = p.run_all()
        finally:
            del p.fact_order.storage.swap_partitions
        (failed,) = [r for r in out["order"] if r.state == "FAILED"]
        assert failed.task_name == "fact_order_tsk" and "injected crash" in failed.error
        raw_log = p.raw["order"].changelog
        assert raw_log.offset("fact_tsk") < raw_log.version  # offset uncommitted
        # the version is committed, its temp dir was never swapped in
        linked = p.fact_order.changelog._read_meta()["linked"]
        assert linked["version"] == p.fact_order.changelog.version
        assert os.path.isdir(linked["src"])
        dag = p.dags["order"]
        for name in ("fact_order_tsk", "truncate_staging_table_order", "play_pipe_order"):
            dag._get(name).body()
        assert raw_log.offset("fact_tsk") == raw_log.version
    assert _fact_rows(p, with_key=True) == _fact_rows(ref, with_key=True)
    log, ref_log = p.fact_order.changelog, ref.fact_order.changelog
    meta, ref_meta = log._read_meta(), ref_log._read_meta()
    assert meta["version"] == ref_meta["version"] and meta["rows"] == ref_meta["rows"]
    for v in range(1, meta["version"] + 1):
        read = lambda lg: sorted(  # noqa: E731
            tuple(r)
            for r in spark.read.option("basePath", lg.log_path)
            .parquet(os.path.join(lg.log_path, f"_version={v}"))
            .collect()
        )
        assert read(log) == read(ref_log), f"version {v}"
    assert _audit(p).collect() == _audit(ref).collect()
    parent = os.path.dirname(p.fact_order.path)
    assert not [d for d in os.listdir(parent) if "__tmp_" in d]  # no stale temp dir
