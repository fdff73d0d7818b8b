"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The last test runs the traced pipeline twice (a few minutes)."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

import gen
from tracing import Span

HERE = os.path.dirname(os.path.abspath(__file__))


def _digests(root: str) -> dict[str, str]:
    out = {}
    for r, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    gen.write_tables(os.path.join(root, "tables"), seed, 0.002)
    gen.write_landing(os.path.join(root, "landing"), seed, gen.LandingSpec.at_scale(0.002, 2))


def test_generator_is_byte_identical_per_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _generate(str(tmp_path / name), seed)
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b
    # another seed: other values (and other resends)
    assert a["tables/orders.parquet"] != c["tables/orders.parquet"]
    assert a["landing/initial/order/order_0.csv"] != c["landing/initial/order/order_0.csv"]


def test_landing_oracle_counts_upserts_and_corrections(tmp_path):
    spec = gen.LandingSpec.at_scale(0.002, weeks=2)
    batches = gen.write_landing(str(tmp_path), 3, spec)
    assert len(batches) == 3
    got = gen.landing_oracle(batches, str(tmp_path))
    # every wake-up adds new_keys brand-new customers and items
    assert got["n_dim_customer"] == spec.customers + 2 * spec.new_keys
    assert got["n_dim_item"] == spec.items + 2 * spec.new_keys
    assert got["n_raw_order"] == spec.orders
    assert got["n_customer_upserted"] >= 2 * spec.new_keys
    # corrections raise quantities by at least 10, and resends change nothing
    base = gen.landing_oracle(batches[:1], str(tmp_path))
    assert got["total_quantity"] > base["total_quantity"]


def test_self_time_subtracts_the_union_of_children():
    root = Span("root", 0.0, 10.0)
    # two overlapping children on different threads, one nested inside
    root.children = [Span("a", 1.0, 4.0), Span("b", 3.0, 6.0), Span("c", 8.0, 9.0)]
    assert root.self_time() == pytest.approx(10.0 - 5.0 - 1.0)


def _traced_pipeline(seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "pipeline",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, cwd=os.path.dirname(HERE), timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], p.stderr[-3000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_counts_repeat_exactly_for_one_seed():
    first, second = _traced_pipeline(5), _traced_pipeline(5)
    for name in ("spark.jobs_per_cycle", "sources.rows_loaded", "sources.files_loaded",
                 "spark.jobs", "changelog.versions", "catalog.files_written"):
        assert first[name] == second[name], name
    assert first["spark.jobs_per_cycle"] > 0 and first["sources.rows_loaded"] > 0
