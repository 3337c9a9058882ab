"""Self-test of the benchmark: every workload at the smallest input size.

    python -m pytest perfbench/test_smoke.py -q

Each workload case runs ``run.py --smoke``: sf0.001 inputs and one timed
pass (two in a traced run, which needs a plain and a traced pass). It
checks that the last stdout line is the result object, that every metric
BENCHMARK.json names for that mode is printed with its unit, and that no
operation failed. The generator cases check FIXTURES.md's invariants and
that two seeds give different rows.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
        "--smoke",
    ]  # fmt: skip
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0, proc.stdout
    assert result["correct"] is True
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    for metric in wanted:
        got = result["metrics"].get(metric["name"])
        assert got is not None, f"{metric['name']} missing"
        assert got["unit"] == metric["unit"], metric["name"]
        assert isinstance(got["value"], (int, float)), metric["name"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}


def test_fails_without_the_package(tmp_path) -> None:
    """Given only the benchmark's own files, the run exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )  # fmt: skip
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_generator_keeps_fixture_invariants() -> None:
    import gen
    import pyarrow.parquet as pq

    from ls_hadoop_3_0_spark.tables import TABLES

    t = {name: table.to_pydict() for name, table in gen.build(3, 0.001).items()}
    assert set(t) == set(TABLES)
    for table, pk in [
        ("region", "r_regionkey"), ("nation", "n_nationkey"), ("customer", "c_custkey"),
        ("supplier", "s_suppkey"), ("part", "p_partkey"), ("orders", "o_orderkey"),
        ("events", "event_id"), ("documents", "doc_id"), ("embeddings", "vec_id"),
    ]:  # fmt: skip
        assert len(set(t[table][pk])) == len(t[table][pk]), f"{table}.{pk} not unique"
    for table, fk, parent, pk in [
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]:
        assert set(t[table][fk]) <= set(t[parent][pk]), f"{table}.{fk} dangles"
    docs = t["documents"]
    assert docs["n_chars"] == [len(s) for s in docs["text"]]
    assert {len(v) for v in t["embeddings"]["embedding"]} == {64}
    assert set(t["events"]["event_type"]) == {"click", "error", "purchase", "signup", "view"}
    assert t["events"]["ts"] == sorted(t["events"]["ts"])
    for name, cols in t.items():
        fixture = os.path.join(gen.FIXTURES, "sf0.001", f"{name}.parquet")
        want = pq.read_metadata(fixture).num_rows if os.path.exists(fixture) else gen.POOL[name][1]
        assert abs(len(next(iter(cols.values()))) - want) <= 0.05 * want, name


def test_seeds_give_different_rows() -> None:
    import gen

    a, b = gen.build(1, 0.001), gen.build(2, 0.001)
    for name in ("customer", "orders", "lineitem", "events", "documents"):
        rows_a = set(zip(*a[name].to_pydict().values()))
        rows_b = set(zip(*b[name].to_pydict().values()))
        # keys map onto the fixture's key range, so a row may recur by chance
        assert len(rows_a & rows_b) <= len(rows_a) // 20, name
