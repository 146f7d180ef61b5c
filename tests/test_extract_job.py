"""Resume + lineage semantics: a second run after partial completion
processes exactly the complement; final results equal a one-shot run;
metrics cover every result partition."""

from __future__ import annotations

import os

import pytest

from bb_ocr_spark import datagen
from bb_ocr_spark.plans.extract_job import (
    read_metrics,
    read_results,
    run_extract_job,
)

N = 80


def test_resume_and_lineage(spark, tmp_path):
    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    half = full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'")

    s1 = run_extract_job(spark, half, out, run_id="r1")
    assert s1["n_docs"] == N // 2 and s1["resumed_skipped"] == 0

    s2 = run_extract_job(spark, full, out, run_id="r2")
    assert s2["n_docs"] == N - N // 2, "resume must process exactly the complement"
    assert s2["resumed_skipped"] == N // 2

    res = read_results(spark, out)
    assert res.count() == N
    assert res.select("doc_id").distinct().count() == N, "no doc processed twice"

    # one-shot run elsewhere must produce identical (doc_id, checksum) pairs
    out2 = str(tmp_path / "oneshot")
    run_extract_job(spark, full, out2, run_id="r1")
    a = {(r["doc_id"], r["checksum"]) for r in res.select("doc_id", "checksum").collect()}
    b = {
        (r["doc_id"], r["checksum"])
        for r in read_results(spark, out2).select("doc_id", "checksum").collect()
    }
    assert a == b

    # lineage: metrics rows exist per (run, partition); totals reconcile
    m = read_metrics(spark, out)
    agg = m.groupBy().sum("n_docs").collect()[0][0]
    assert agg == N
    runs = {r["run_id"] for r in m.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}
    # xor of partition checksums == xor of per-doc checksums
    total_ck = res.selectExpr("bit_xor(checksum)").collect()[0][0]
    m_ck = m.selectExpr("bit_xor(checksum)").collect()[0][0]
    assert total_ck == m_ck
    # per-task wall time from the status store: present on every lineage
    # row in local mode, positive, and no larger than the run-level clock
    tk = m.select("task_wall_ms", "wall_time_ms").collect()
    assert all(r["task_wall_ms"] is not None for r in tk)
    assert all(0 < r["task_wall_ms"] <= r["wall_time_ms"] for r in tk)


def test_noop_rerun(spark, tmp_path):
    out = str(tmp_path / "job")
    df = datagen.generate_df(spark, 20, partitions=2)
    run_extract_job(spark, df, out, run_id="a")
    s = run_extract_job(spark, df, out, run_id="b")
    assert s["n_docs"] == 0, "fully-completed input must be a no-op"
    assert read_results(spark, out).count() == 20


def test_snapshot_time_travel(spark, tmp_path):
    from bb_ocr_spark.plans.snapshots import current_snapshot, read_results_as_of

    out = str(tmp_path / "job")
    df = datagen.generate_df(spark, 60, partitions=4)
    s1 = run_extract_job(spark, df.limit(40), out, run_id="a")
    s2 = run_extract_job(spark, df, out, run_id="b")
    assert (s1["snapshot_id"], s2["snapshot_id"]) == (1, 2)
    cur = current_snapshot(out)
    assert cur["snapshot_id"] == 2 and cur["run_ids"] == ["a", "b"]
    assert cur["n_docs_total"] == 60
    # time travel: snapshot 1 sees only run a's docs
    assert read_results_as_of(spark, out, 1).count() == s1["n_docs"]
    assert read_results_as_of(spark, out, 2).count() == 60
    # a crashed (uncommitted) run directory is invisible to snapshot reads
    os.makedirs(os.path.join(out, "results", "run_id=crashed"))
    assert read_results_as_of(spark, out, 2).count() == 60


def test_jsonl_ingestion(spark, tmp_path):
    import json

    from bb_ocr_spark.sources.tables import load_documents_jsonl

    p = tmp_path / "corpus.jsonl"
    lines = [
        json.dumps({"doc_id": "a", "text": "hello world", "lang": "en", "source": "web"}),
        json.dumps({"doc_id": "b", "text": "zweite zeile", "lang": "de", "source": "web"}),
        '{"doc_id": "c", "text": BROKEN',  # corrupt line -> NULL columns, no crash
    ]
    p.write_text("\n".join(lines))
    df = load_documents_jsonl(spark, str(p))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows["a"]["text"] == "hello world" and rows["b"]["lang"] == "de"
    assert df.count() == 3 and df.filter("text IS NULL").count() == 1


def _rows_and_ids(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    return tuple(df.agg(F.count("*"), F.countDistinct("doc_id")).collect()[0])


class _Crash(RuntimeError):
    pass


def _inject_crash(monkeypatch, job, point: str) -> None:
    """Make the next run_extract_job die at `point` of its commit."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    write, commit = DataFrameWriter.parquet, job.commit_snapshot
    write_table = pq.write_table

    def metrics_table(table, where, *a, **kw):
        write_table(table, where, *a, **kw)
        raise _Crash(where)  # results dir complete, metrics file not published

    def parquet(self, path, *a, **kw):
        write(self, path, *a, **kw)
        if point == "mid_results":  # some part files landed, no _SUCCESS
            os.remove(os.path.join(path, "_SUCCESS"))
            part = min(f for f in os.listdir(path) if f.startswith("part-"))
            os.remove(os.path.join(path, part))
            raise _Crash(path)

    def commit_snapshot(*a, **kw):
        if point == "after_metrics":
            raise _Crash(point)
        commit(*a, **kw)
        raise _Crash(point)  # after_snapshot: dies right after the commit

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(job, "commit_snapshot", commit_snapshot)
    if point == "after_results":
        monkeypatch.setattr(pq, "write_table", metrics_table)


@pytest.mark.parametrize(
    "point", ["mid_results", "after_results", "after_metrics", "after_snapshot"]
)
def test_crash_window_resume(spark, tmp_path, monkeypatch, point):
    """A run that dies at any point of its commit, then a resume with a
    new run_id: every doc exactly once in both the resume view and the
    snapshot view, lineage sums to N, and the resume accounts for all N."""
    from pyspark.sql import functions as F

    from bb_ocr_spark.plans import extract_job as job
    from bb_ocr_spark.plans.snapshots import current_snapshot, read_results_as_of

    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    half = full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'")
    run_extract_job(spark, half, out, run_id="r1")

    with monkeypatch.context() as m:
        _inject_crash(m, job, point)
        with pytest.raises(_Crash):
            run_extract_job(spark, full, out, run_id="r2")

    s = run_extract_job(spark, full, out, run_id="r3")
    assert _rows_and_ids(read_results(spark, out)) == (N, N)
    cur = current_snapshot(out)
    assert _rows_and_ids(read_results_as_of(spark, out, cur["snapshot_id"])) == (N, N)
    assert read_metrics(spark, out).agg(F.sum("n_docs")).collect()[0][0] == N
    assert s["n_docs"] + s["resumed_skipped"] == N
    assert cur["n_docs_total"] == N


def test_no_listener_leak(spark, tmp_path):
    """Per-task timing registers nothing on the listener bus."""
    df = datagen.generate_df(spark, 20, partitions=2)
    run_extract_job(spark, df, str(tmp_path / "warm"), run_id="w")
    bus = spark.sparkContext._jsc.sc().listenerBus()
    before = bus.listeners().size()
    for i in range(2):
        run_extract_job(spark, df, str(tmp_path / f"job{i}"), run_id="r")
    assert bus.listeners().size() == before


def test_stream_epoch_and_batch_run_share_a_dir(spark, tmp_path):
    """A streaming epoch (results, no metrics dir) and a batch run commit
    into one output dir: resume and read_results see both, read_metrics
    reads the batch run's lineage only."""
    from pyspark.sql import functions as F

    from bb_ocr_spark.streaming.extract_stream import commit_batch, extract_stream

    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    half = full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'")
    commit_batch(spark, out, extract_stream(half), "stream-000000")

    s = run_extract_job(spark, full, out, run_id="b")
    assert (s["n_docs"], s["resumed_skipped"]) == (N - N // 2, N // 2)
    assert _rows_and_ids(read_results(spark, out)) == (N, N)
    m = read_metrics(spark, out)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == s["n_docs"]
    assert {r["run_id"] for r in m.select("run_id").distinct().collect()} == {"b"}


def test_fresh_run_bookkeeping(spark, tmp_path):
    """A fresh run is three Spark jobs: the results write and the lineage
    aggregate's map and result jobs. The driver-written metrics file reads
    back with the declared schema, and its span counts add up."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DataType

    from bb_ocr_spark.plans.extract_job import _METRICS_SCHEMA
    from bb_ocr_spark.plans.task_metrics import _GROUP_PROPS

    out = str(tmp_path / "job")
    df = datagen.generate_df(spark, N, partitions=4)
    sc = spark.sparkContext
    sc.setJobGroup("bookkeeping-probe", "fresh run_extract_job")
    try:
        run_extract_job(spark, df, out, run_id="bookkeeping")
        assert sc.getLocalProperty("spark.jobGroup.id") == "bookkeeping-probe"
    finally:
        for k in _GROUP_PROPS:
            sc.setLocalProperty(k, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = [
        j
        for g in ("bookkeeping-probe", "extract-commit-bookkeeping")
        for j in sc.statusTracker().getJobIdsForGroup(g)
    ]
    assert len(jobs) == 3, jobs

    metrics_dir = os.path.join(out, "metrics", "run_id=bookkeeping")
    assert os.listdir(metrics_dir) == ["part-00000.parquet"]  # no temp file left
    m = read_metrics(spark, out)
    want = DataType.fromDDL(_METRICS_SCHEMA)
    got = [(f.name, f.dataType) for f in m.schema.fields if f.name != "run_id"]
    assert got == [(f.name, f.dataType) for f in want.fields]
    n_spans = read_results(spark, out).agg(F.sum(F.size("spans"))).collect()[0][0]
    assert m.agg(F.sum("n_spans")).collect()[0][0] == n_spans > 0
