"""The benchmark's own tests, at a tiny input scale.

    python3 -m pytest perfbench -q

Each end-to-end run is a subprocess, as the benchmark is run for real: it
owns its SparkSession and stops its JVM on exit."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}


def bench(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


def check_metrics(result: dict, names: list[str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert sorted(result["metrics"]) == sorted(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == UNITS[name]
        assert isinstance(m["value"], float)


@pytest.mark.parametrize("seed", [1, 2])
def test_end_to_end_metrics_for_two_seeds(seed):
    result, text = bench("extract_mixed", seed, trace=0)
    check_metrics(result, [m["name"] for m in BENCH["end_to_end"]])
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for name in run.REPORTED:  # the report names every metric, n/a or not
        assert f"\n{name} " in text


@pytest.mark.parametrize("workload,seed", [
    ("extract_mixed", 1), ("extract_book", 2), ("resume_write", 1), ("curation_loops", 2)])
def test_per_layer_metrics_every_workload(workload, seed):
    result, _ = bench(workload, seed, trace=1)
    check_metrics(result, [m["name"] for m in BENCH["per_layer"]])
    value = {k: m["value"] for k, m in result["metrics"].items()}
    assert value["stage.jobs"] > 0 and value["engine.us_per_doc.book"] > 0
    # the write path is measured on the extraction workloads too (by probe)
    assert (value["write.s"] > 0 and value["resume.s"] > 0) == (workload != "curation_loops")
    assert (value["pagerank.jobs"] > 0) == (workload == "curation_loops")
    trace = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-s{seed}.json")
    with open(trace) as f:
        spans = json.load(f)["spans"]
    assert {"op", "spark.job", "spark.stage"} <= {s["name"] for s in spans}


def test_inputs_follow_the_seed(tmp_path):
    import gen
    import pyarrow.parquet as pq

    a, b = gen.family_samples(7, 3, 4), gen.family_samples(7, 3, 4)
    assert a.doc_ids == b.doc_ids and a.spans == b.spans
    assert sorted(set(a.families)) == sorted(gen.FAMILIES)
    assert gen.family_samples(8, 3, 4).doc_ids != a.doc_ids

    def curation(seed: int, name: str):
        gen.curation_table(seed, 80, str(tmp_path / name))
        return pq.read_table(tmp_path / name / "documents.parquet")

    tables = [curation(3, "a"), curation(3, "b"), curation(4, "c")]
    assert tables[0].equals(tables[1]) and not tables[0].equals(tables[2])
    # the seed shifts the ids, never the texts
    assert sorted(tables[0]["text"].to_pylist()) == sorted(tables[2]["text"].to_pylist())
    books = [gen.books(s, 9, 200, 100, 60, 5) for s in (1, 2)]
    pages = [[sum(sp["kind"] == "page_break" for sp in spans) for _, spans in c] for c in books]
    # the seed moves which filing is how long, not the total
    assert pages[0] != pages[1] and abs(sum(pages[0]) - sum(pages[1])) <= 9


def test_corrupted_output_counts_as_failed_op(monkeypatch):
    import workloads
    from pyspark.sql import functions as F

    work = os.path.join(ROOT, ".perfbench_work", "test-corrupt")
    spark = run.start_spark("perfbench-test", probes.cores(), work)
    try:
        wl = workloads.ExtractMixed(1, work, 0.02)
        wl.generate(spark, os.path.join(work, "input"))
        wl.reference(spark)
        assert run.run_op(wl, spark, 0, False).ok

        real = workloads.run_extraction
        monkeypatch.setattr(workloads, "run_extraction", lambda *a, **k: real(*a, **k).withColumn(
            "raw_text", F.concat(F.col("raw_text"), F.lit("!"))))
        res = run.run_op(wl, spark, 1, False)
        assert not res.ok and "want" in res.why

        monkeypatch.setattr(workloads, "run_extraction", lambda *a, **k: 1 / 0)
        res = run.run_op(wl, spark, 2, False)
        assert not res.ok and "ZeroDivisionError" in res.why
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        assert probes.wait_for_children() == []


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 10) is None
    pct, value = run.tail([float(i) for i in range(1, 12)])
    assert value == 1.0 and pct == pytest.approx(100 / 11)
    pct, value = run.tail([float(i) for i in range(100)])
    assert value == 89.0 and pct == 90.0


def test_self_time_subtracts_covered_child_time():
    t = probes.Tracer(True)
    root = t.add("op", 0.0, 10.0, None)
    t.add("spark.job", 1.0, 4.0, root)
    t.add("spark.job", 3.0, 6.0, root)  # overlaps the first: counted once
    assert t.self_times() == {"op": 5.0, "spark.job": 6.0}
