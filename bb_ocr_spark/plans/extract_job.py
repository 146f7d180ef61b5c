"""The production extraction job: resume → extract → commit → lineage.

North-rule semantics (BASELINE.json): every run commits per-partition
lineage and metrics (doc ranges, checksums, span counts, wall time) to a
metrics table, and resumes from the last snapshot via anti-join on
completed doc_ids. Reference analogs: batch summary sink
(batch_processor_enhanced.py:233-270), audit append (google_sheets.py:
111-203), has_output resume check (i2j_ui/app/main.py:851-858).

Layout (plain parquet standing in for Iceberg — jars not in this image;
`sources.tables.have_iceberg` gates a real catalog):

    <output_dir>/results/run_id=<run>/   doc_id, spans, checksum, part_id
    <output_dir>/metrics/run_id=<run>/   per-partition lineage rows
    <output_dir>/snapshots/              manifest chain (plans/snapshots.py)

Commit protocol: a run writes its results dir, then its metrics dir, then
appends its run_id to the snapshot manifest. That append is the ONE commit
point: resume, read_results, read_metrics and the time-travel readers all
read exactly the runs the current manifest lists. A run that crashes
before the append is invisible to all of them and the next run
re-extracts its docs; its directories stay behind as orphans.

Lineage is one per-partition aggregate over the committed results files,
collected to the driver; the run's doc count and checksum fold from its
rows, and the driver writes them as the run's metrics file. Per-task wall
time is the write stage's task durations from Spark's status store
(plans/task_metrics.py), next to the run-level clock. A fresh run is three
Spark jobs: the results write and the aggregate's map and result jobs.
"""

from __future__ import annotations

import datetime
import functools
import operator
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import checksum_spans_col, extract_inline
from .snapshots import commit_snapshot, current_snapshot
from .task_metrics import per_task_durations

RESULTS = "results"
METRICS = "metrics"

_METRICS_SCHEMA = (
    "part_id int, doc_id_min string, doc_id_max string, n_docs bigint, "
    "n_spans bigint, checksum bigint, wall_time_ms int, "
    "committed_at timestamp, task_wall_ms bigint"
)


def _read_committed(
    spark: SparkSession, output_dir: str, table: str, snap: dict | None
) -> DataFrame:
    """The `table` run dirs the manifest `snap` lists, with `run_id` kept
    as a column (basePath). Listed runs without a dir of this table are
    skipped: streaming epochs and runs with no new docs write no metrics.
    Raises AnalysisException when no dir is left."""
    root = os.path.join(output_dir, table)
    dirs = [os.path.join(root, f"run_id={r}") for r in (snap or {}).get("run_ids", [])]
    return spark.read.option("basePath", root).parquet(
        *[d for d in dirs if os.path.isdir(d)]
    )


def _write_metrics(run_metrics: str, rows: list[dict]) -> None:
    """The run's lineage rows as one parquet file, written on the driver
    (a few rows: no Spark job). Like the snapshot manifest, the file is
    written under a hidden temp name, which Spark readers skip, and
    os.replace-d into place. run_id comes from the directory on read-back."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import DataType  # noqa: PLC0415

    schema = to_arrow_schema(DataType.fromDDL(_METRICS_SCHEMA))
    os.makedirs(run_metrics)  # a second metrics write for a run_id fails
    tmp = os.path.join(run_metrics, ".part-00000.parquet")
    # a few rows: dictionary pages and an embedded Arrow schema (Spark reads
    # the Parquet one) would only add bytes
    table = pa.Table.from_pylist(rows, schema)
    pq.write_table(table, tmp, use_dictionary=False, store_schema=False)
    os.replace(tmp, os.path.join(run_metrics, "part-00000.parquet"))


def completed_doc_ids(spark: SparkSession, output_dir: str) -> DataFrame | None:
    """doc_ids of every run the current snapshot lists (None if none)."""
    snap = current_snapshot(output_dir)
    if snap is None:
        return None
    return _read_committed(spark, output_dir, RESULTS, snap).select("doc_id")


def run_extract_job(
    spark: SparkSession,
    documents_interleaved: DataFrame,
    output_dir: str,
    run_id: str | None = None,
) -> dict:
    """Extract all not-yet-completed docs; commit results + lineage.

    Returns run stats {run_id, n_docs, wall_ms, resumed_skipped,
    snapshot_id}; resumed_skipped is the doc count already committed.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.monotonic()

    parent = current_snapshot(output_dir)
    remaining = documents_interleaved
    if parent is not None:
        # resume: left-anti on completed ids (J6 / north_rule)
        done = _read_committed(spark, output_dir, RESULTS, parent).select("doc_id")
        remaining = documents_interleaved.join(done, "doc_id", "left_anti")

    extracted = (
        extract_inline(remaining)
        .withColumn("checksum", checksum_spans_col(F.col("spans")))
        .withColumn("part_id", F.spark_partition_id())
    )

    run_results = os.path.join(output_dir, RESULTS, f"run_id={run_id}")
    with per_task_durations(spark, f"extract-commit-{run_id}") as task_ms:
        extracted.write.mode("errorifexists").parquet(run_results)

    # lineage from the COMMITTED files, read with the schema just written
    # (no footer-inference job); size(spans.kind) lets nested-column
    # pruning decode one leaf instead of every span's text. xor is
    # order-insensitive and cannot overflow
    parts = (
        spark.read.schema(extracted.schema)
        .parquet(run_results)
        .groupBy("part_id")
        .agg(
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans.kind")).alias("n_spans"),
            F.expr("bit_xor(checksum)").alias("checksum"),
        )
        .collect()
    )
    if parts:  # a run with no new docs has no lineage rows
        run = {
            "wall_time_ms": int((time.monotonic() - t0) * 1000),
            "committed_at": datetime.datetime.now(datetime.timezone.utc),
        }
        _write_metrics(
            os.path.join(output_dir, METRICS, f"run_id={run_id}"),
            [
                {**p.asDict(), **run, "task_wall_ms": task_ms.get(p["part_id"])}
                for p in parts
            ],
        )

    n_docs = sum(p["n_docs"] for p in parts)
    run_ck = functools.reduce(operator.xor, (p["checksum"] for p in parts), 0)
    snap = commit_snapshot(output_dir, run_id, n_docs, run_ck)
    return {
        "run_id": run_id,
        "n_docs": n_docs,
        "wall_ms": int((time.monotonic() - t0) * 1000),
        "resumed_skipped": parent["n_docs_total"] if parent else 0,
        "snapshot_id": snap["snapshot_id"],
    }


def read_results(spark: SparkSession, output_dir: str) -> DataFrame:
    """Every committed run's results (the current snapshot's runs)."""
    return _read_committed(spark, output_dir, RESULTS, current_snapshot(output_dir))


def read_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """Lineage rows of every committed run that wrote them."""
    return _read_committed(spark, output_dir, METRICS, current_snapshot(output_dir))
