"""Tests of the benchmark's own parts: the generator and the collector.

    python3 -m pytest perfbench/test_perfbench.py -q

The collector tests start a local Spark session with one slot per core.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), path)] = fh.read()
    return out


def test_same_seed_same_tree(tmp_path):
    spec = gen.TreeSpec(n_dirs=100, n_obs=4)
    a = gen.generate(str(tmp_path / "a"), spec, seed=7)
    b = gen.generate(str(tmp_path / "b"), spec, seed=7)
    c = gen.generate(str(tmp_path / "c"), spec, seed=8)
    assert _tree_bytes(a.path) == _tree_bytes(b.path)
    assert _tree_bytes(a.path) != _tree_bytes(c.path)
    assert a.expected == b.expected


def test_tree_identity(tmp_path):
    spec = gen.TreeSpec(n_dirs=100, n_obs=4)
    t = gen.generate(str(tmp_path), spec, seed=1)
    assert t.n_dirs == 100 and t.n_files == 200
    assert t.unique_summaries == 4 * gen.N_HOSTS
    assert t.expected["candidate"] == 100 - 100 // gen.DUP_EVERY  # duplicates dedup away
    assert t.expected["beam"] == 4 * gen.N_HOSTS * gen.BEAMS_PER_HOST
    assert t.expected["host"] == gen.N_HOSTS
    assert t.input_bytes == sum(len(b) for b in _tree_bytes(t.path).values())
    # summaries of one (observation, host) are byte-identical
    summaries = {k: v for k, v in _tree_bytes(t.path).items() if k.endswith("run_summary.json")}
    assert len(set(summaries.values())) == t.unique_summaries


def test_partial_delivery_is_a_subset(tmp_path):
    spec = gen.TreeSpec(n_dirs=100, n_obs=4)
    full = gen.generate(str(tmp_path / "full"), spec, seed=3, day=1)
    half = gen.generate(str(tmp_path / "half"), spec, seed=3, day=1, obs_range=(0, 2))
    fb, hb = _tree_bytes(full.path), _tree_bytes(half.path)
    assert hb and all(fb[k] == v for k, v in hb.items())
    assert half.entities.candidate < full.entities.candidate


def test_warehouse_matches_entities(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    spec = gen.TreeSpec(n_dirs=100, n_obs=4)
    parts = [(0, None), (1, (0, 2))]
    ent = gen.write_warehouse(str(tmp_path), spec, 5, parts)
    for table, n in ent.counts().items():
        assert pq.read_table(str(tmp_path / f"{table}.parquet")).num_rows == n


def test_spark_round_is_half_up_on_the_decimal_string():
    assert gen._spark_round(0.125, 2) == 0.13  # noqa: SLF001
    assert gen._spark_round(2.5, 0) == 3.0  # noqa: SLF001
    assert gen._spark_round(-43.5525049, 5) == -43.5525  # noqa: SLF001


#: sha256 of ``meertrap_run``'s source when run.traced_tables last matched it.
MEERTRAP_RUN_SHA256 = "e7d8addf3daf2caaa18889afec5ec5764db8963b30b02d1b62ab5e33eb33d7eb"


def test_traced_tables_follows_meertrap_run():
    from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run

    digest = hashlib.sha256(inspect.getsource(meertrap_run).encode()).hexdigest()
    assert digest == MEERTRAP_RUN_SHA256, (
        "meertrap_run changed: the traced run copies its body "
        "(perfbench/run.py traced_tables and ManyDirs.load's write loop). "
        "Bring that copy back in step, then update MEERTRAP_RUN_SHA256."
    )


@pytest.fixture(scope="module")
def spark():
    from ska_src_maltopuft_etl_spark.engine import get_spark

    s = get_spark(app_name="perfbench-test", master=f"local[{len(os.sched_getaffinity(0))}]",
                  conf={"spark.ui.enabled": "false",
                        "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _probe(spark, partitions: int, rows: int = 40_000_000) -> dict:
    """A CPU-bound job of ``rows`` rows split into ``partitions`` tasks,
    traced by the collector."""
    from spans import Tracer

    tr = Tracer(spark, "probe")
    with tr.span("probe") as root:
        with tr.span("burn", "probe"):
            (spark.range(0, rows, 1, partitions)
             .selectExpr("sum(hash(id, id * 7, id * 13)) AS h").collect())
    tr.collect(root)
    return tr.children(root)[0].stats | {"wall": tr.children(root)[0].wall}


def test_executor_time_tracks_cores_on_a_parallel_probe(spark):
    cores = spark.sparkContext.defaultParallelism
    _probe(spark, cores * 4)  # JIT warm-up
    st = _probe(spark, cores * 4, rows=400_000_000)
    busy = st["executor_run_s"] / st["wall"]
    print(f"parallel probe: executor_run/wall = {busy:.2f} on {cores} cores")
    assert busy == pytest.approx(cores, rel=0.35), st


def test_executor_time_tracks_wall_on_a_serial_probe(spark):
    _probe(spark, 1)
    st = _probe(spark, 1)
    busy = st["executor_run_s"] / st["wall"]
    print(f"serial probe: executor_run/wall = {busy:.2f}")
    assert 0.6 < busy < 1.2, st
