"""The benchmark's workloads. Each one prepares its inputs and oracle
outside timing, then runs repetitions: the timed step (one batch call into
the engine's public functions) followed by untimed output checks.

Sizes are chosen so that every run the benchmark contract asks for (each a
fresh JVM on a 4-core host) fits its time budget; perfbench/NOTES.md gives
the reasoning per workload.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.trace import Tracer

N_EXTRACT = 10_000  # interleaved docs (extract_fresh)
N_ASSEMBLE = 3_000  # interleaved docs exploded into span rows (frontends)
N_REGIONS = 600  # region-box pages (frontends)
N_HTML = 3_000  # raw HTML docs (frontends)
N_CURATE_DOCS = 800  # of the 5,000 sf0.1 documents
N_CURATE_VECS = 400  # of the 2,000 sf0.1 embeddings
SAMPLE = 200  # ordinary docs compared with the oracle, plus every mega-doc
MINHASH_CHECK_DOCS = 200  # extra docs in minhash_lsh's pair-local oracle sample

CURATE_QUERIES = {
    "ngram_jaccard": "dedup",
    "minhash_lsh": "dedup",
    "dup_clusters": "dedup",
    "substring_dedup": "dedup",
    "ivf_topk": "similarity",
    "host_dedup": "scrub",
}


@dataclass
class Ctx:
    spark: object
    seed: int
    work: Path  # per-run scratch directory
    cache: Path  # input cache shared by runs in one checkout
    tracer: Tracer


@dataclass
class Rep:
    wall_s: float
    written_bytes: int
    checked: int = 0
    matched: int = 0
    ok: bool = True
    spans: dict = field(default_factory=dict)  # traced reps: name -> span
    info: dict = field(default_factory=dict)


# -- helpers ---------------------------------------------------------------


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def dir_files(path: Path) -> int:
    return sum(1 for p in Path(path).rglob("*") if p.is_file())


class StageBytes:
    """Shuffle-write plus spill bytes of the Spark stages run since the last
    call, read from Spark's always-on status store (no listener)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.seen = self._max_stage()

    def _stages(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        it = self.store.stageList(None, False, False, self.quantiles, None).iterator()
        while it.hasNext():
            yield it.next()

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def take(self) -> int:
        total, top = 0, self.seen
        for s in self._stages():
            if s.stageId() > self.seen:
                total += s.shuffleWriteBytes() + s.diskBytesSpilled()
                top = max(top, s.stageId())
        self.seen = top
        return total


def sample_indices(seed: int, n: int, tag: str) -> list[int]:
    """SAMPLE ordinary doc indices plus every mega-doc of the corpus."""
    start = inputs.id_start(seed)
    mega = [i for i in range(start, start + n) if i % 1000 == 7]
    rng = random.Random(f"perfbench-sample:{tag}:{seed}")
    rest = rng.sample(range(start, start + n), SAMPLE + len(mega))
    return mega + [i for i in rest if i % 1000 != 7][:SAMPLE]


def span_oracle(idx: list[int]) -> dict[str, list[tuple]]:
    from bb_ocr_spark import datagen, oracle

    return {
        datagen.doc_id_of(i): oracle.extract_doc(datagen.gen_doc(i)[1]) for i in idx
    }


def compare_spans(df, want: dict[str, list[tuple]]) -> int:
    """Number of sampled docs whose span sequence equals the oracle (a doc
    absent from df counts as an empty sequence)."""
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in df.filter(F.col("doc_id").isin(list(want))).collect()
    }
    return sum(got.get(d, []) == seq for d, seq in want.items())


def in_span(tracer: Tracer, name: str, rep: Rep, fn):
    """Run fn inside a span named name, recording the span on rep."""
    with tracer.span(name) as sp:
        out = fn()
    if sp is not None:
        rep.spans[name] = sp
    return out


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- workloads -------------------------------------------------------------


class Workload:
    name = ""
    docs = 0  # input docs submitted per step
    input_bytes = 1
    # after the one untimed warm-up step, step times keep falling for several
    # repetitions (the first timed one up to ~40% slower than the third)
    min_reps = 3

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.bytes = StageBytes(ctx.spark)

    def prepare(self) -> None:
        raise NotImplementedError

    def rep(self, k: int) -> Rep:
        raise NotImplementedError

    def finish(self, reps: list[Rep]) -> None:
        """Checks deferred until all repetitions ran (none by default)."""

    def layers(self, traced: list[Rep]) -> dict:
        """Per-layer metrics from traced reps plus untimed probes."""
        raise NotImplementedError


class ExtractFresh(Workload):
    """run_extract_job over the corpus into an empty output directory:
    resume scan, extraction, results write, lineage, snapshot commit."""

    name = "extract_fresh"

    def prepare(self) -> None:
        c = self.ctx
        self.corpus = inputs.spans_corpus(c.spark, c.cache, c.seed, N_EXTRACT)
        self.input_bytes = inputs.parquet_bytes(self.corpus)
        self.docs = N_EXTRACT
        self.want = span_oracle(sample_indices(c.seed, N_EXTRACT, "extract"))
        warm = self.ctx.work / "fresh-warm"
        self._job(Rep(0.0, 0), warm)
        shutil.rmtree(warm)

    def _job(self, rep: Rep, out: Path) -> dict:
        from bb_ocr_spark.plans.extract_job import run_extract_job

        df = self.spark.read.parquet(str(self.corpus))
        return in_span(
            self.ctx.tracer,
            "extract_job.run_extract_job",
            rep,
            lambda: run_extract_job(self.spark, df, str(out)),
        )

    def rep(self, k: int) -> Rep:
        out = self.ctx.work / "fresh-out"
        shutil.rmtree(out, ignore_errors=True)
        rep = Rep(0.0, 0)
        tr = self.ctx.tracer
        scan_s = self._probe_scan(out) if tr.enabled else 0.0
        self.bytes.take()
        t0 = time.monotonic()
        r = in_span(tr, "step", rep, lambda: self._job(rep, out))
        rep.wall_s = time.monotonic() - t0
        rep.written_bytes = dir_bytes(out) + self.bytes.take()
        if tr.enabled:
            rep.info = {
                "resume_scan_s": scan_s,
                "output_files": dir_files(out),
                "docs_new": r["n_docs"],
                "docs_skipped": r["resumed_skipped"],
                "snapshots": self._probe_snapshots(out),
            }
        self._check(rep, out, r)
        return rep

    def _check(self, rep: Rep, out: Path, r: dict) -> None:
        """Every doc exactly once in read_results and in the latest snapshot
        view, lineage sums to the docs committed, sampled docs equal the
        oracle, and the job's own counts agree."""
        from bb_ocr_spark.plans.extract_job import read_metrics, read_results
        from bb_ocr_spark.plans.snapshots import current_snapshot, read_results_as_of

        def once(df) -> bool:
            n, d = df.agg(F.count("*"), F.countDistinct("doc_id")).collect()[0]
            return n == d == N_EXTRACT

        res = read_results(self.spark, str(out))
        snap = current_snapshot(str(out))
        view = read_results_as_of(self.spark, str(out), snap["snapshot_id"])
        lineage = read_metrics(self.spark, str(out)).agg(F.sum("n_docs")).collect()[0][0]
        rep.checked = len(self.want)
        rep.matched = compare_spans(view, self.want)
        rep.ok = (
            r["n_docs"] == N_EXTRACT
            and r["resumed_skipped"] == 0
            and once(res)
            and once(view)
            and lineage == N_EXTRACT
            and snap["n_docs_total"] == N_EXTRACT
            and rep.matched == rep.checked
        )

    def _probe_snapshots(self, out: Path) -> dict:
        from bb_ocr_spark.plans.snapshots import current_snapshot, read_results_as_of

        t0 = time.monotonic()
        snap = current_snapshot(str(out))
        t1 = time.monotonic()
        read_results_as_of(self.spark, str(out), snap["snapshot_id"]).agg(
            F.count("*"), F.expr("bit_xor(checksum)")
        ).collect()
        t2 = time.monotonic()
        return {
            "snapshots.current_s": t1 - t0,
            "snapshots.read_as_of_s": t2 - t1,
            "snapshots.manifests": len(list((out / "snapshots").glob("snap-*.json"))),
        }

    def _probe_scan(self, out: Path) -> float:
        from bb_ocr_spark.plans.extract_job import completed_doc_ids

        t0 = time.monotonic()
        done = completed_doc_ids(self.spark, str(out))
        if done is not None:
            done.count()
        return time.monotonic() - t0

    def layers(self, traced: list[Rep]) -> dict:
        tr = self.ctx.tracer
        rows = []
        for rep in traced:
            sp = rep.spans["extract_job.run_extract_job"]
            tot = tr.stage_totals(sp)
            write = [
                j
                for j in tr.jobs_in(sp)
                if (j["group"] or "").startswith("extract-commit-")
            ]
            write_s = sum((j["end_ms"] - j["start_ms"]) for j in write) / 1000
            run_s = (sp["end_ms"] - sp["start_ms"]) / 1000
            rows.append(
                {
                    "extract_job.run_s": run_s,
                    "extract_job.resume_scan_s": rep.info["resume_scan_s"],
                    "extract_job.write_job_s": write_s,
                    "extract_job.post_write_s": run_s - write_s,
                    "extract_job.jobs": tot["jobs"],
                    "extract_job.input_bytes": tot["input_bytes"],
                    "extract_job.shuffle_bytes": tot["shuffle_write_bytes"],
                    "extract_job.output_bytes": tot["output_bytes"],
                    "extract_job.output_files": rep.info["output_files"],
                    "extract_job.docs_new": rep.info["docs_new"],
                    "extract_job.docs_skipped": rep.info["docs_skipped"],
                    "spark.starved_stages": tr.stage_totals(rep.spans["step"])[
                        "starved_stages"
                    ],
                    **rep.info["snapshots"],
                }
            )
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        return {**out, **self._kernel_layers()}

    def _kernel_layers(self) -> dict:
        """extract_inline over the corpus into a noop sink, plus span counts."""
        from bb_ocr_spark.operators.extract import extract_inline

        df = self.spark.read.parquet(str(self.corpus))
        tr = self.ctx.tracer
        rep = Rep(0.0, 0)
        in_span(tr, "extract.extract_inline", rep, lambda: noop_write(extract_inline(df)))
        sp = rep.spans["extract.extract_inline"]
        tr.drain()
        tot = tr.stage_totals(sp)
        spans_in = df.select(F.sum(F.size("spans"))).collect()[0][0]
        kept = extract_inline(df).select(F.sum(F.size("spans"))).collect()[0][0]
        return {
            "extract.kernel_s": (sp["end_ms"] - sp["start_ms"]) / 1000,
            "extract.spans_in": spans_in,
            "extract.spans_kept": kept,
            "extract.keep_ratio": kept / spans_in,
            "extract.tasks": tot["tasks"],
            "extract.task_ms_p50": tot["task_ms_p50"],
            "extract.task_ms_max": tot["task_ms_max"],
            "extract.core_busy_ratio": tot["core_busy_ratio"],
        }


class Frontends(Workload):
    """Inputs that are not yet an ordered span array, each through its
    front-end operator into a parquet sink: exploded span rows
    (explode_spans -> filter_spans -> assemble_spans), region-box pages
    (layout.order_regions) and raw HTML (tokenize_html_expr)."""

    name = "frontends"

    def prepare(self) -> None:
        from bb_ocr_spark import datagen
        from bb_ocr_spark.operators.tokenizer import tokenize_html_oracle

        c = self.ctx
        self.corpus = inputs.spans_corpus(c.spark, c.cache, c.seed, N_ASSEMBLE)
        self.regions = inputs.region_pages(c.spark, c.cache, c.seed, N_REGIONS)
        self.html = inputs.html_corpus(c.spark, c.cache, c.seed, N_HTML)
        self.input_bytes = sum(
            inputs.parquet_bytes(p) for p in (self.corpus, self.regions, self.html)
        )
        self.docs = N_ASSEMBLE + N_REGIONS + N_HTML
        self.want_spans = span_oracle(sample_indices(c.seed, N_ASSEMBLE, "assemble"))
        rng = random.Random(f"perfbench-sample:frontends:{c.seed}")
        start = inputs.id_start(c.seed)
        self.want_regions = {}
        for i in rng.sample(range(start, start + N_REGIONS), SAMPLE):
            did, _, truth = inputs.region_page(i)
            self.want_regions[did] = truth
        self.want_html = {}
        for i in rng.sample(range(start, start + N_HTML), SAMPLE):
            did, html = datagen.gen_html_doc(i)
            self.want_html[did] = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in tokenize_html_oracle(html)
            ]
        warm = self.ctx.work / "frontends-warm"
        self._step(Rep(0.0, 0), warm)
        shutil.rmtree(warm)

    def _step(self, rep: Rep, out: Path) -> None:
        from bb_ocr_spark.operators.assemble import (
            assemble_spans,
            explode_spans,
            filter_spans,
        )
        from bb_ocr_spark.operators.layout import order_regions
        from bb_ocr_spark.operators.tokenizer import tokenize_html_expr

        shutil.rmtree(out, ignore_errors=True)
        read = self.spark.read.parquet
        tr = self.ctx.tracer
        in_span(
            tr,
            "assemble.assemble_spans",
            rep,
            lambda: assemble_spans(filter_spans(explode_spans(read(str(self.corpus)))))
            .write.parquet(str(out / "assembled")),
        )
        in_span(
            tr,
            "layout.order_regions",
            rep,
            lambda: order_regions(read(str(self.regions))).write.parquet(
                str(out / "ordered")
            ),
        )
        in_span(
            tr,
            "tokenizer.tokenize_html_expr",
            rep,
            lambda: tokenize_html_expr(read(str(self.html))).write.parquet(
                str(out / "tokenized")
            ),
        )

    def rep(self, k: int) -> Rep:
        out = self.ctx.work / "frontends-out"
        rep = Rep(0.0, 0)
        self.bytes.take()
        t0 = time.monotonic()
        in_span(self.ctx.tracer, "step", rep, lambda: self._step(rep, out))
        rep.wall_s = time.monotonic() - t0
        rep.written_bytes = dir_bytes(out) + self.bytes.take()

        read = self.spark.read.parquet
        ok = 0
        ok += compare_spans(read(str(out / "assembled")), self.want_spans)
        ordered = {
            r["doc_id"]: [s["text"] for s in r["spans"]]
            for r in read(str(out / "ordered"))
            .filter(F.col("doc_id").isin(list(self.want_regions)))
            .collect()
        }
        ok += sum(ordered.get(d) == t for d, t in self.want_regions.items())
        tokenized = {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in read(str(out / "tokenized"))
            .filter(F.col("doc_id").isin(list(self.want_html)))
            .collect()
        }
        ok += sum(tokenized.get(d) == s for d, s in self.want_html.items())
        rep.checked = len(self.want_spans) + len(self.want_regions) + len(self.want_html)
        rep.matched = ok
        rep.ok = ok == rep.checked
        return rep

    def layers(self, traced: list[Rep]) -> dict:
        from bb_ocr_spark import config
        from bb_ocr_spark.operators.assemble import explode_spans, filter_spans

        tr = self.ctx.tracer
        rows = []
        for rep in traced:
            a = tr.stage_totals(rep.spans["assemble.assemble_spans"])
            lay = tr.stage_totals(rep.spans["layout.order_regions"])
            tok = tr.stage_totals(rep.spans["tokenizer.tokenize_html_expr"])
            dur = {
                k: (sp["end_ms"] - sp["start_ms"]) / 1000 for k, sp in rep.spans.items()
            }
            rows.append(
                {
                    "assemble.assemble_s": dur["assemble.assemble_spans"],
                    "assemble.shuffle_bytes": a["shuffle_write_bytes"],
                    "assemble.spill_bytes": a["spill_bytes"],
                    "assemble.task_ms_max_over_p50": a["task_ms_max"]
                    / max(a["task_ms_p50"], 1),
                    "layout.order_s": dur["layout.order_regions"],
                    "layout.core_busy_ratio": lay["core_busy_ratio"],
                    "tokenizer.tokenize_s": dur["tokenizer.tokenize_html_expr"],
                    "tokenizer.core_busy_ratio": tok["core_busy_ratio"],
                    "spark.starved_stages": tr.stage_totals(rep.spans["step"])[
                        "starved_stages"
                    ],
                }
            )
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}

        read = self.spark.read.parquet
        filtered = filter_spans(explode_spans(read(str(self.corpus))))
        t0 = time.monotonic()
        noop_write(filtered)
        out["assemble.explode_filter_s"] = time.monotonic() - t0
        out["assemble.rows_in"] = explode_spans(read(str(self.corpus))).count()
        out["assemble.salted_rows"] = filtered.filter(
            F.col("n_spans") > config.BIG_DOC_SPAN_THRESHOLD
        ).count()
        out["layout.regions_in"] = (
            read(str(self.regions)).select(F.sum(F.size("regions"))).collect()[0][0]
        )
        out["tokenizer.spans_out"] = (
            read(str(self.ctx.work / "frontends-out" / "tokenized"))
            .select(F.sum(F.size("spans")))
            .collect()[0][0]
        )
        return out


class CurateDedup(Workload):
    """Six curation queries of __spark_entry__.queries() on a seeded subset
    of the sf0.1 tables, each forced with bit_xor(xxhash64(struct(*)))."""

    name = "curate_dedup"
    min_reps = 1  # one pass, timed cold

    def prepare(self) -> None:
        import os

        import __spark_entry__ as E

        c = self.ctx
        self.tables = inputs.curation_tables(c.cache, c.seed, N_CURATE_DOCS, N_CURATE_VECS)
        # the IVF centroid model trains on the same subset in both engines
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(self.tables)

        self.queries = {q: E.queries()[q] for q in CURATE_QUERIES}
        self.input_bytes = inputs.parquet_bytes(self.tables)
        self.docs = N_CURATE_DOCS + N_CURATE_VECS

        self.expect = None  # filled by finish(): timing starts cold

    @staticmethod
    def _force(df) -> tuple[int, int]:
        row = df.selectExpr("bit_xor(xxhash64(struct(*)))", "count(*)").collect()[0]
        return row[0], row[1]

    def _expected(self, oracle_sql: dict, schemas: dict) -> dict:
        """(hash, count) each query must reproduce, from its DuckDB oracle.

        minhash_lsh's oracle is an all-pairs self-join (~90 us a pair in
        DuckDB, minutes at this size), so it is evaluated on a sample: every
        doc in the engine's result pairs plus MINHASH_CHECK_DOCS seeded docs.
        Whether a pair qualifies depends only on its two docs, so the oracle
        over the sample must return exactly the engine's pairs; the verified
        rows then fix the expected hash."""
        import duckdb

        con = duckdb.connect()

        def views(docs_sql: str) -> None:
            con.execute(f"CREATE OR REPLACE VIEW documents AS {docs_sql}")

        docs_path = self.tables / "documents.parquet"
        views(f"SELECT * FROM read_parquet('{docs_path}')")
        con.execute(
            "CREATE OR REPLACE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{self.tables / 'embeddings.parquet'}')"
        )
        expect = {}
        for q in self.queries:
            if q == "minhash_lsh":
                continue
            pdf = con.execute(oracle_sql[q]).fetchdf()
            expect[q] = self._hash_rows(pdf, schemas[q])

        got = self.queries["minhash_lsh"](self.spark, str(self.tables)).toPandas()
        ids = set(got["id_a"]) | set(got["id_b"])
        all_ids = con.execute("SELECT doc_id FROM documents ORDER BY doc_id").fetchdf()
        rng = random.Random(f"perfbench-minhash:{self.ctx.seed}")
        ids |= set(rng.sample(list(all_ids["doc_id"]), MINHASH_CHECK_DOCS))
        id_list = ",".join(str(int(i)) for i in sorted(ids))
        views(f"SELECT * FROM read_parquet('{docs_path}') WHERE doc_id IN ({id_list})")
        want = con.execute(oracle_sql["minhash_lsh"]).fetchdf()
        key = ["id_a", "id_b", "jaccard"]
        same = sorted(map(tuple, got[key].astype(str).values.tolist())) == sorted(
            map(tuple, want[key].astype(str).values.tolist())
        )
        h = self._hash_rows(got, schemas["minhash_lsh"])
        expect["minhash_lsh"] = h if same else (None, None)
        con.close()
        return expect

    def _hash_rows(self, pdf, schema) -> tuple[int, int]:
        pdf = pdf[[f.name for f in schema.fields]]
        df = self.spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None), schema)
        return self._force(df)

    def rep(self, k: int) -> Rep:
        rep = Rep(0.0, 0)
        got = rep.info
        tr = self.ctx.tracer

        frames = {}

        def run(q, fn):
            frames[q] = fn(self.spark, str(self.tables))
            return self._force(frames[q])

        def step():
            for q, fn in self.queries.items():
                name = f"{CURATE_QUERIES[q]}.{q}"
                got[q] = in_span(tr, name, rep, lambda q=q, fn=fn: run(q, fn))

        self.bytes.take()
        t0 = time.monotonic()
        in_span(tr, "step", rep, step)
        rep.wall_s = time.monotonic() - t0
        rep.written_bytes = self.bytes.take()
        # building dup_clusters' frame runs its label-propagation loop, so
        # the oracle check reuses these schemas instead of rebuilding
        self.schemas = {q: df.schema for q, df in frames.items()}
        return rep

    def finish(self, reps: list[Rep]) -> None:
        """Check every repetition against the oracles, computed after the
        timed passes so that no oracle work warms the JVM before them."""
        import __spark_entry__ as E

        if self.expect is None and reps:
            self.expect = self._expected(E.oracle_sql(), self.schemas)
        for rep in reps:
            rep.checked = len(self.queries)
            rep.matched = sum(rep.info[q] == self.expect[q] for q in self.queries)
            rep.ok = rep.matched == rep.checked

    def layers(self, traced: list[Rep]) -> dict:
        tr = self.ctx.tracer
        rows = []
        for rep in traced:
            row = {}
            for q, layer in CURATE_QUERIES.items():
                name = f"{layer}.{q}"
                sp = rep.spans[name]
                tot = tr.stage_totals(sp)
                row[f"{name}_s"] = (sp["end_ms"] - sp["start_ms"]) / 1000
                row[f"{name}_shuffle_bytes"] = tot["shuffle_write_bytes"]
                row[f"{name}_starved_stages"] = tot["starved_stages"]
            row["spark.starved_stages"] = tr.stage_totals(rep.spans["step"])["starved_stages"]
            rows.append(row)
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


WORKLOADS = {w.name: w for w in (ExtractFresh, Frontends, CurateDedup)}
