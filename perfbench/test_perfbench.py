"""Smoke tests of the benchmark itself, at sf0.001.

    python3 -m pytest perfbench -q

Every workload runs once untraced and once traced in one shared Spark
session, and must pass its own output checks and report exactly the
metrics ``BENCHMARK.json`` names, each from samples it took (a metric with
no sample fails a check).
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
WORKLOADS = ("precompute", "precompute_dist", "serve")
SEED = 7


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, len(os.sched_getaffinity(0)))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from graph_database_application_for_recommendations_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def outcomes(spark, tmp_path_factory):
    import run

    cache = {}

    def get(workload: str, trace: bool):
        if (workload, trace) not in cache:
            work = str(tmp_path_factory.mktemp(f"{workload}-{int(trace)}"))
            cache[workload, trace] = run.execute(spark, work, workload, SEED, 0, trace, smoke=True)
        return cache[workload, trace]

    return get


def _declared(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_passes_checks_and_reports_declared_metrics(outcomes, workload, trace):
    import run

    out = outcomes(workload, trace)
    line = run.result_line(out, trace)
    assert out.check_failures == []
    assert line["correct"] and line["attempted"] >= 1 and line["failed"] == 0
    assert set(line["metrics"]) == _declared("per_layer" if trace else "end_to_end")
    if trace:
        # every layer is measured on every workload
        for layer in ("plans.louvain", "sources.write_back", "serve.knn.recommend_books",
                      "serve.community.get_graph_data"):
            assert line["metrics"][f"{layer}.jobs"]["value"] > 0
    if workload == "serve":
        assert 0 <= out.knn_nonempty_share <= 1


def test_serve_digest_repeats_across_runs(outcomes):
    # the traced run times the operators.recommend builders inside each
    # recommender call; same seed, same answers
    assert outcomes("serve", False).digest == outcomes("serve", True).digest


def test_batch_checks_flag_bad_outputs(spark, tmp_path):
    import workloads as wl

    ctx = wl.Context(spark, str(tmp_path), SEED, wl.SMOKE_SF, trace=False)
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "user_id bigint, embedding array<double>")
    sim = spark.createDataFrame([(1, 1, 1.0), (2, 1, 0.1)], "src bigint, dst bigint, similarity double")
    comm = spark.createDataFrame([(1, 1)], "user_id bigint, community bigint")
    out = wl.Outcome(sf=wl.SMOKE_SF)
    wl.check_batch(ctx, wl.Tables(emb, sim, comm, -0.5), out)
    joined = "\n".join(out.check_failures)
    for problem in ("self-pairs", "below the cutoff", "have no community", "not positive"):
        assert problem in joined


def test_inputs_depend_only_on_seed():
    import datagen

    a, b, c = (datagen.make_tables(0.001, s) for s in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_cli_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode != 0
    assert res.stdout.strip() == ""
