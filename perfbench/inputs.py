"""Seeded benchmark inputs, generated outside the program and cached.

Every input is a pure function of (seed, size, generator version), so the
same seed gives byte-identical rows; the engine only ever sees the files
written here. Cache directories are keyed by kind, ``DATAGEN_VERSION``,
this module's ``GEN_VERSION``, size and seed, and a directory counts only
once its ``_SUCCESS`` marker exists.

* interleaved corpus -- ``datagen.gen_doc(i)`` over a seed-shifted id
  range. The range starts on a multiple of 1000, so every corpus of N docs
  holds exactly N/1000 mega-docs (``i % 1000 == 7``, 2k-8k spans each) and
  the same share of edge docs (media-only, boilerplate-only, unicode).
* HTML corpus -- ``datagen.gen_html_doc(i)`` over the same shifted range.
* region-box pages -- generated here: a full-width title band, one or two
  columns of line boxes and an optional full-width footer, boxes stored in
  shuffled order. The layout fixes the true reading order (title, left
  column top to bottom, right column top to bottom, footer), which is kept
  next to the boxes as ``truth``.
* curation tables -- a seeded row subset of the committed sf0.1
  ``documents`` and ``embeddings`` tables (vectors 0-9, the ``ivf_topk``
  query side, always kept).
"""

from __future__ import annotations

import os
import random
import shutil
from pathlib import Path

GEN_VERSION = 1
DATA_DIR = Path(__file__).resolve().parent / "data"

# id range: start = (seed mod SLOTS) * SLOT_WIDTH keeps doc ids below the
# 9-digit doc_id format for any corpus of up to SLOT_WIDTH docs
SLOT_WIDTH = 1_000_000
SLOTS = 900

REGIONS_DDL = (
    "doc_id string, "
    "regions array<struct<x0:double,y0:double,x1:double,y1:double,text:string>>, "
    "truth array<string>"
)


def id_start(seed: int) -> int:
    return (seed % SLOTS) * SLOT_WIDTH


def _cached(root: Path, key: str, build) -> Path:
    """Return root/key, building it with build(tmp_path) when absent."""
    path = root / key
    if (path / "_SUCCESS").exists():
        return path
    tmp = root / f"{key}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _key(kind: str, n: int, seed: int) -> str:
    from bb_ocr_spark.datagen import DATAGEN_VERSION

    return f"{kind}-d{DATAGEN_VERSION}-g{GEN_VERSION}-n{n}-s{seed}"


def _range_df(spark, seed: int, n: int):
    start = id_start(seed)
    parts = max(spark.sparkContext.defaultParallelism, 4)
    return spark.range(start, start + n, numPartitions=parts)


def spans_corpus(spark, root: Path, seed: int, n: int) -> Path:
    """documents_interleaved parquet: gen_doc(i) for the seed's id range."""

    def build(tmp: Path) -> None:
        from bb_ocr_spark.datagen import SPANS_SCHEMA_DDL

        def gen(batches):
            import pandas as pd

            from bb_ocr_spark.datagen import gen_doc

            for pdf in batches:
                ids, spans = [], []
                for i in pdf["id"]:
                    did, sp = gen_doc(int(i))
                    ids.append(did)
                    spans.append(
                        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp]
                    )
                yield pd.DataFrame({"doc_id": ids, "spans": spans})

        _range_df(spark, seed, n).mapInPandas(gen, schema=SPANS_SCHEMA_DDL).write.parquet(
            str(tmp)
        )

    return _cached(root, _key("spans", n, seed), build)


def html_corpus(spark, root: Path, seed: int, n: int) -> Path:
    """(doc_id, html) parquet: gen_html_doc(i) for the seed's id range."""

    def build(tmp: Path) -> None:
        from bb_ocr_spark.datagen import HTML_SCHEMA_DDL

        def gen(batches):
            import pandas as pd

            from bb_ocr_spark.datagen import gen_html_doc

            for pdf in batches:
                rows = [gen_html_doc(int(i)) for i in pdf["id"]]
                yield pd.DataFrame(rows, columns=["doc_id", "html"])

        _range_df(spark, seed, n).mapInPandas(gen, schema=HTML_SCHEMA_DDL).write.parquet(
            str(tmp)
        )

    return _cached(root, _key("html", n, seed), build)


def region_page(i: int) -> tuple[str, list[tuple], list[str]]:
    """(doc_id, shuffled region boxes, texts in true reading order).

    Gaps are chosen so recursive XY-cut has exactly one reading: the bands
    above and below the columns are separated by 30 units, the column
    gutter by 20, and line boxes inside a column by 4 (all above the
    1-unit minimum gap)."""
    rng = random.Random(f"perfbench-regions:{i}")
    did = f"page_{i:09d}"
    truth: list[str] = []
    boxes: list[tuple] = []

    def add(x0, y0, x1, y1):
        text = f"r{len(truth)} " + " ".join(
            rng.choice(("page", "column", "line", "figure", "note", "table"))
            for _ in range(rng.randint(2, 7))
        )
        truth.append(text)
        boxes.append((float(x0), float(y0), float(x1), float(y1), text))

    add(0, 0, 600, 30)  # title band
    columns = [(0, 290), (310, 600)] if rng.random() < 0.8 else [(0, 600)]
    y_top = 60
    y_end = y_top
    for cx0, cx1 in columns:
        y = y_top
        for _ in range(rng.randint(2, 18)):
            add(cx0, y, rng.randint(cx0 + 60, cx1), y + 12)
            y += 16
        y_end = max(y_end, y - 4)
    if rng.random() < 0.5:
        add(0, y_end + 30, 600, y_end + 45)  # footer band
    rng.shuffle(boxes)
    return did, boxes, truth


def region_pages(spark, root: Path, seed: int, n: int) -> Path:
    """(doc_id, regions, truth) parquet of region_page(i) for the seed."""

    def build(tmp: Path) -> None:
        def gen(batches):
            import pandas as pd

            from perfbench.inputs import region_page

            for pdf in batches:
                rows = [region_page(int(i)) for i in pdf["id"]]
                yield pd.DataFrame(rows, columns=["doc_id", "regions", "truth"])

        _range_df(spark, seed, n).mapInPandas(gen, schema=REGIONS_DDL).write.parquet(
            str(tmp)
        )

    return _cached(root, _key("regions", n, seed), build)


def curation_tables(root: Path, seed: int, n_docs: int, n_vecs: int) -> Path:
    """Directory with documents.parquet / embeddings.parquet: a seeded
    subset of the sf0.1 tables, each written as one row group."""

    def build(tmp: Path) -> None:
        import pyarrow.parquet as pq

        rng = random.Random(f"perfbench-curate:{seed}")
        tmp.mkdir(parents=True)
        docs = pq.read_table(DATA_DIR / "documents.parquet")
        pick = sorted(rng.sample(range(docs.num_rows), n_docs))
        pq.write_table(docs.take(pick), tmp / "documents.parquet")
        emb = pq.read_table(DATA_DIR / "embeddings.parquet")
        ids = emb.column("vec_id").to_pylist()
        queries = [k for k, v in enumerate(ids) if v < 10]
        rest = [k for k, v in enumerate(ids) if v >= 10]
        pick = sorted(queries + rng.sample(rest, n_vecs - len(queries)))
        pq.write_table(emb.take(pick), tmp / "embeddings.parquet")

    return _cached(root, f"curate-g{GEN_VERSION}-n{n_docs}-v{n_vecs}-s{seed}", build)


def parquet_bytes(path: Path) -> int:
    """On-disk bytes of the parquet data files under path."""
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))
