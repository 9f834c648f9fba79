"""Tests of the benchmark's own checks (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _write(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))


def _job_output(tmp_path, rows: list[dict]) -> str:
    """A run_job_df-shaped output root holding `rows`."""
    out = str(tmp_path / "out")
    _write(os.path.join(out, "extracted", "batch=b-1", "bucket=12"), rows)
    _write(os.path.join(out, "metrics"), [{"docs_in": len(rows)}])
    _write(os.path.join(out, "checkpoint"), [{"url": r["url"]} for r in rows])
    return out


def _expected(n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "url": [f"https://s.example/{i}" for i in range(n)],
        "expected_text": [f"text {i}" for i in range(n)],
        "expected_title": [f"title {i}" for i in range(n)],
        "expected_status": ["ok"] * n,
    }).set_index("url")


def _rows(exp: pd.DataFrame) -> list[dict]:
    return [{"url": u, "cleaned_text": r.expected_text, "title": r.expected_title,
             "status": r.expected_status} for u, r in exp.iterrows()]


def test_verify_fresh_passes_matching_output(tmp_path):
    exp = _expected(5)
    assert workloads.verify_fresh(_job_output(tmp_path, _rows(exp)), exp) == 0


def test_corrupted_golden_counts_as_failed(tmp_path):
    exp = _expected(5)
    out = _job_output(tmp_path, _rows(exp))
    bad = exp.copy()
    bad.iloc[2, bad.columns.get_loc("expected_text")] = "corrupted"
    assert workloads.verify_fresh(out, bad) == 1


def test_missing_and_duplicate_docs_count(tmp_path):
    exp = _expected(5)
    rows = _rows(exp)
    out = _job_output(tmp_path, rows[:3] + [rows[0]])
    # 2 missing + 1 duplicate; METRICS and checkpoint agree with the 4 rows
    # written, but the checkpoint holds one url twice
    assert workloads.verify_fresh(out, exp) == 4


def test_metrics_miscount_counts(tmp_path):
    exp = _expected(4)
    out = _job_output(tmp_path, _rows(exp))
    shutil.rmtree(os.path.join(out, "metrics"))
    _write(os.path.join(out, "metrics"), [{"docs_in": 3}])
    assert workloads.verify_fresh(out, exp) == 1


def test_row_diff_is_multiset_symmetric_difference():
    a = pd.DataFrame({"id_a": [1, 1, 2], "jaccard": [0.5, 0.5, 0.9]})
    b = pd.DataFrame({"jaccard": [0.5, 0.8], "id_a": [1, 2]})
    assert workloads._row_diff(a, b) == 3


def test_stratified_ids_are_seeded_and_never_giant():
    rng = lambda s: __import__("random").Random(s)  # noqa: E731
    a = gen.stratified_doc_ids(rng(1), 300)
    assert a == gen.stratified_doc_ids(rng(1), 300)
    assert a != gen.stratified_doc_ids(rng(2), 300)
    assert len(set(a)) == 300
    assert all(i % 250 for i in a)
    ranks = sorted(i * 2654435761 % 1000 for i in a)
    assert ranks == sorted(ranks) and ranks[0] < 10 and ranks[-1] > 990


def test_tracer_self_time_excludes_children():
    tr = tracing.Tracer("t")
    tr.spans = [
        {"name": "a", "start": 0.0, "end": 10.0, "parent": None, "run_id": "t"},
        {"name": "b", "start": 1.0, "end": 4.0, "parent": 0, "run_id": "t"},
        {"name": "b", "start": 5.0, "end": 6.0, "parent": 0, "run_id": "t"},
    ]
    assert tr.self_s() == {"a": 6.0, "b": 4.0}


@pytest.fixture(scope="module")
def pages(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("pages"))
    return pq.read_table(
        gen.build_fresh_articles(work, "test", 12)["pages"]).to_pandas()


def test_stage_replay_matches_extract_one(pages):
    m = tracing.gooselite_pass(tracing.Tracer("t"), pages)
    assert m["trace.stage_coverage"] >= 0.95
    assert m["gooselite.pipeline.docs_per_s_1core"] > 0
    assert sum(m[k.removesuffix("_ms") + "_share"]
               for k in tracing.STAGES) == pytest.approx(1.0)


def test_stage_replay_rejects_a_divergent_replay(pages, monkeypatch):
    real = tracing.replay_extract_one

    def off_by_title(tr, html, lang, url):
        r = real(tr, html, lang, url)
        return {**r, "title": r["title"] + "!"}

    monkeypatch.setattr(tracing, "replay_extract_one", off_by_title)
    with pytest.raises(ValueError, match="differs from extract_one"):
        tracing.gooselite_pass(tracing.Tracer("t"), pages)


def test_udf_pass_counts_batches(pages):
    m = tracing.udf_pass(tracing.Tracer("t"), pages, partitions=3, max_records=2)
    assert m["goose_spark.udf.batches"] >= len(pages) // 2


def test_event_log_metrics(tmp_path):
    def task(stage, launch, finish, gc=0, shuffle_w=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {
                    "JVM GC Time": gc, "Memory Bytes Spilled": 0,
                    "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": shuffle_w}}}

    def stage(sid, scope):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "RDD Info": [{"Scope": json.dumps({"name": scope})}]}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        stage(0, "Exchange"), stage(1, "MapInPandas"), stage(2, "MapInPandas"),
        task(0, 0, 500, gc=100, shuffle_w=2**20),
        task(1, 0, 1000), task(1, 0, 3000), task(2, 0, 9000),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    m = tracing.event_log_metrics(str(path), "g")
    assert m["spark.udf_stage.tasks"] == 2
    assert m["spark.udf_stage.task_s.max"] == 3.0
    assert m["spark.shuffle_write_mb"] == 1.0
    assert m["spark.jvm_gc_s"] == 0.1


def test_run_fails_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fresh_articles",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_benchmark_json_names_what_run_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert ({m["name"]: m["unit"] for m in bench["per_layer"]}
            == run._per_layer_units())
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
