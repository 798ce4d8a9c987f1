"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The generator and checksum tests need no Spark. The two session tests run
the ``hydro`` workload once traced and once with a corrupted output on a
``local[2]`` session (about a minute).
"""

from __future__ import annotations

import collections
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from check import checksum  # noqa: E402
from tracing import metric_value  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_is_deterministic_per_seed(workload):
    a = gen.make_documents(workload, 3)
    assert a.equals(gen.make_documents(workload, 3))
    assert a.num_rows == gen.SIZES[workload]


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_rows_differ_across_seeds(workload):
    a, b = gen.make_documents(workload, 3), gen.make_documents(workload, 4)
    assert a.column("doc_id").to_pylist() != b.column("doc_id").to_pylist()
    if workload == "corpus":
        assert set(a.column("text").to_pylist()) \
            .isdisjoint(b.column("text").to_pylist())


def test_corpus_every_curation_gate_drops_and_keeps():
    docs = gen.make_documents("corpus", 5).to_pylist()
    toks = {d["doc_id"]: re.split(r"\s+", d["text"].strip().lower())
            for d in docs}
    shingles = {i: {tuple(t[j:j + 3]) for j in range(len(t) - 2)}
                for i, t in toks.items()}
    bench = set().union(*(shingles[i] for i in toks if i % gen.BENCH_MOD == 0))
    seen: set[str] = set()
    dup = short = rep = contam = kept = 0
    for d in docs:
        t = toks[d["doc_id"]]
        is_dup = d["text"] in seen
        seen.add(d["text"])
        is_short = len(t) < 10
        is_rep = max(collections.Counter(t).values()) * 5 > len(t)
        is_contam = bool(shingles[d["doc_id"]] & bench)
        dup += is_dup
        short += is_short
        rep += is_rep
        contam += is_contam
        kept += not (is_dup or is_short or is_rep or is_contam)
    assert min(dup, short, rep, contam) > 0.02 * len(docs)
    assert kept > 0.5 * len(docs)


def test_checksum_is_order_free_and_engine_neutral():
    a = pa.table({"id": pa.array([3, 1, 2], pa.int64()),
                  "v": pa.array([0.5, -0.0, 2.0])})
    b = pa.table({"v": pa.array([2.0, 0.0, 0.5]),
                  "id": pa.array([2, 1, 3], pa.int32())})
    assert checksum(a) == checksum(b)


def test_checksum_sees_a_dropped_or_changed_row():
    a = pa.table({"id": pa.array([1, 2, 2]), "s": ["x", "y", "y"]})
    assert checksum(a) != checksum(a.slice(0, 2))
    changed = pa.table({"id": pa.array([1, 2, 2]), "s": ["x", "y", "z"]})
    assert checksum(a) != checksum(changed)


def test_metric_value_parses_spark_formats():
    assert metric_value("18,150") == 18150
    assert metric_value("total (min, med, max (stageId: taskId))\n"
                        "1.5 MiB (0.0 B, 0.5 MiB, 1.0 MiB (stage 3.0: "
                        "task 7))") == 1.5 * (1 << 20)


# -- session tests -----------------------------------------------------

@pytest.fixture(scope="module")
def hydro(tmp_path_factory):
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("local"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cache = str(tmp_path_factory.mktemp("cache"))
    out = gen.input_dir(cache, "hydro", 7)
    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        meta = gen.generate("hydro", 7, out)
    finally:
        os.chdir(cwd)
    import __spark_entry__  # noqa: F401
    from tracing import StatusReader, Tracer
    from workloads import Hydro

    from bdtopo2refhydro_spark.session import get_spark

    tracer = Tracer(enabled=True)
    tracer.install()
    spark = get_spark("perfbench-test", cores=2)
    tracer.sc = spark.sparkContext
    wl = Hydro(spark, out, meta, tracer)
    yield spark, wl, tracer, StatusReader(spark)
    tracer.uninstall()
    spark.stop()


def test_every_job_of_a_traced_iteration_has_one_layer(hydro):
    from run import Iterations
    from tracing import LAYERS, jobs_of

    spark, wl, tracer, reader = hydro
    rec = Iterations(spark, wl, tracer, reader, 2).run_one("t0")
    assert rec["ok"], rec
    jobs, _ = reader.jobs_and_stages()
    n_jobs = len(jobs_of(jobs, "t0"))
    assert n_jobs > 0
    assert rec["layers"]["unattributed"]["jobs"] == 0
    assert sum(rec["layers"][layer]["jobs"] for layer in LAYERS) == n_jobs
    graph_orders = (rec["layers"]["operators.graph"]["jobs"]
                    + rec["layers"]["operators.orders"]["jobs"])
    assert graph_orders > 0
    assert rec["layers"]["operators.text"]["jobs"] == 0


def test_a_dropped_output_row_counts_as_a_failure(hydro, monkeypatch):
    from run import Iterations

    spark, wl, tracer, reader = hydro
    real = wl.force

    def drop_one(name, df):
        t = real(name, df)
        return t.slice(1) if t.num_rows else t

    monkeypatch.setattr(wl, "force", drop_one)
    rec = Iterations(spark, wl, tracer, reader, 2).run_one("t1")
    assert not rec["ok"]
    assert rec["bad"] == ["reference_network"]
    assert np.isfinite(rec["wall_s"])
