"""The north-rule packaging contract, actually driven: package the engine
with make_pyfiles, launch jobs/extract_submit.py through a REAL
spark-submit (--py-files, cwd outside the repo so only the zip provides
the package), then resume after a lost snapshot commit and once more,
asserting exactly-once extraction."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit(args: list[str], cwd: str) -> dict:
    sub = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(shutil.which("python") or sys.executable)),
        "bin", "spark-submit",
    )
    if not shutil.which("spark-submit"):
        import pyspark  # fall back to the pyspark-shipped launcher

        sub = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    out = subprocess.run(
        [sub, "--master", "local[4]",
         "--py-files", os.path.join(REPO, "dist", "bb_ocr_spark.zip"),
         os.path.join(REPO, "jobs", "extract_submit.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=cwd, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats_line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(stats_line)


def test_spark_submit_roundtrip(tmp_path):
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    inp, outp = str(tmp_path / "corpus"), str(tmp_path / "out")
    work = str(tmp_path / "work")  # cwd without the repo on sys.path
    os.makedirs(work)
    s1 = _spark_submit(
        ["--input", inp, "--output", outp, "--generate", "300", "--run-id", "r1"],
        cwd=work,
    )
    assert s1["n_docs"] == 300 and s1["resumed_skipped"] == 0
    # crash before the snapshot commit: r1's results and metrics are on
    # disk but no manifest lists them, so the next submit redoes all 300
    shutil.rmtree(os.path.join(outp, "snapshots"))
    s2 = _spark_submit(["--input", inp, "--output", outp, "--run-id", "r2"], cwd=work)
    assert s2["n_docs"] == 300 and s2["resumed_skipped"] == 0
    # resume: a further submit over the same corpus must be a no-op
    s3 = _spark_submit(["--input", inp, "--output", outp, "--run-id", "r3"], cwd=work)
    assert s3["n_docs"] == 0 and s3["resumed_skipped"] == 300


def _curate_submit(args: list[str], cwd: str) -> dict:
    sub = shutil.which("spark-submit")
    if not sub:
        import pyspark

        sub = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    out = subprocess.run(
        [sub, "--master", "local[4]",
         "--py-files", os.path.join(REPO, "dist", "bb_ocr_spark.zip"),
         os.path.join(REPO, "jobs", "curate_submit.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=cwd, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats_line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(stats_line)


def test_curate_submit_with_shards(tmp_path):
    """The curation packaging contract driven end to end: one delivery
    through a real spark-submit with --shard-budget --materialize, then a
    replay that must be a committed no-op leaving the shard files alone."""
    import pandas as pd

    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    work = str(tmp_path / "work")
    os.makedirs(work)
    inp, state = str(tmp_path / "docs"), str(tmp_path / "state")
    docs = pd.DataFrame({
        "doc_id": range(40),
        "text": [
            " ".join(f"w{d}_{j} the of and to" for j in range(12))
            for d in range(40)
        ],
    })
    docs.to_parquet(inp + ".parquet")
    os.makedirs(inp)
    shutil.move(inp + ".parquet", os.path.join(inp, "part-0.parquet"))

    s1 = _curate_submit(
        ["--input", inp, "--state", state, "--run-id", "d1",
         "--shard-budget", "200", "--materialize"],
        cwd=work,
    )
    assert s1["n_new"] == 40 and not s1["replayed"]
    shard_dir = os.path.join(state, "shard_files", "run_id=d1")
    assert os.path.exists(os.path.join(shard_dir, "_SUCCESS"))
    shards = pd.read_parquet(shard_dir)
    assert shards["n_docs"].sum() == 40
    assert ((shards["n_tokens"] <= 200) | (shards["n_docs"] == 1)).all()

    # replay: committed run is a no-op; shard files untouched
    mtime = os.path.getmtime(os.path.join(shard_dir, "_SUCCESS"))
    s2 = _curate_submit(
        ["--input", inp, "--state", state, "--run-id", "d1",
         "--shard-budget", "200", "--materialize"],
        cwd=work,
    )
    assert s2["replayed"] and s2["n_docs_total"] == 40
    assert os.path.getmtime(os.path.join(shard_dir, "_SUCCESS")) == mtime


def test_curate_submit_substring_state(tmp_path):
    """--substr-table through a real spark-submit: a banner committed by
    delivery 1 is excised from delivery 2's unique doc, cross-process
    (the gram state table + snapshot chain carry the coupling)."""
    import pandas as pd

    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    work = str(tmp_path / "work")
    os.makedirs(work)
    state = str(tmp_path / "state")
    banner = " ".join(f"bnr{j}" for j in range(8))

    def delivery(name, rows):
        d = str(tmp_path / name)
        os.makedirs(d)
        pd.DataFrame(rows).to_parquet(os.path.join(d, "part-0.parquet"))
        return d

    tail1 = " ".join(f"ua{j}" for j in range(20))
    tail2 = " ".join(f"ub{j}" for j in range(20))
    d1 = delivery("d1", {"doc_id": [1], "text": [f"{banner} {tail1}"]})
    d2 = delivery("d2", {"doc_id": [2], "text": [f"{banner} {tail2}"]})

    s1 = _curate_submit(
        ["--input", d1, "--state", state, "--run-id", "r1",
         "--substr-table", "grams_cli_test", "--substr-k", "4"],
        cwd=work,
    )
    assert s1["n_new"] == 1
    s2 = _curate_submit(
        ["--input", d2, "--state", state, "--run-id", "r2",
         "--substr-table", "grams_cli_test", "--substr-k", "4"],
        cwd=work,
    )
    assert s2["n_new"] == 1
    out2 = pd.read_parquet(
        os.path.join(state, "results", "run_id=r2")
    )
    assert list(out2["text"]) == [tail2], "banner must be excised via state"
    out1 = pd.read_parquet(os.path.join(state, "results", "run_id=r1"))
    assert banner in out1["text"].iloc[0]


def test_curate_submit_classifier_weights(tmp_path):
    """--classifier-weights through a real spark-submit: the learned
    filter's rejects never commit; n_new equals the python-side expected
    keep count from the same md5 weight table."""
    import hashlib

    import pandas as pd

    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    work = str(tmp_path / "work")
    os.makedirs(work)
    inp, state = str(tmp_path / "docs"), str(tmp_path / "state")
    wdir = str(tmp_path / "weights")

    def bucket(s: str) -> int:
        return int(hashlib.md5(("qc" + s).encode()).hexdigest()[:15],
                   16) % 4096

    good = {bucket(f"w0_{j}") for j in range(12)}
    os.makedirs(wdir)
    pd.DataFrame({
        "bucket": pd.array(range(4096), dtype="int32"),
        "weight_micro": pd.array(
            [10_000_000 if b in good else -1 for b in range(4096)],
            dtype="int64",
        ),
    }).to_parquet(os.path.join(wdir, "part-0.parquet"))

    docs = pd.DataFrame({
        "doc_id": range(8),
        "text": [
            " ".join(f"w{d}_{j} the of and to" for j in range(12))
            for d in range(8)
        ],
    })
    os.makedirs(inp)
    docs.to_parquet(os.path.join(inp, "part-0.parquet"))

    s1 = _curate_submit(
        ["--input", inp, "--state", state, "--run-id", "d1",
         "--classifier-weights", wdir],
        cwd=work,
    )
    # doc 0 passes by construction; others only via hash collisions into
    # the good bucket set — n_new must be the model's verdict, not 8
    assert 1 <= s1["n_new"] < 8
