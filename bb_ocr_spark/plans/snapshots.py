"""Snapshot log: Iceberg-analog commit semantics on plain files.

Iceberg's table state is a chain of immutable snapshot manifests plus an
atomically-swapped current pointer; readers see exactly the runs a
snapshot references, never a half-written directory. This module gives
the extraction job the same contract without the catalog jars (which this
image lacks — `sources.tables.have_iceberg` gates the real binding):

    <output_dir>/snapshots/snap-<n>.json   immutable manifest: run_ids,
                                           parent, counts, checksum, ts
                                           (published via os.link —
                                           create-exclusive CAS; no-link
                                           mounts: O_EXCL reservation +
                                           atomic os.replace publish)
    <output_dir>/snapshots/CURRENT         human-readable hint; readers
                                           resolve the max manifest

Time travel = read exactly the run dirs a manifest lists. A run directory
that crashed before its snapshot commit is invisible to snapshot readers,
and to the extraction job's resume and readers, which key off the current
manifest too (plans/extract_job.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

SNAP_DIR = "snapshots"

# how long an unparsable snap file may stay unparsable before the probe
# treats its reserver as crashed and mints past it (reserve -> replace is
# normally microseconds; tests shrink this)
RESERVATION_GRACE_S = 2.0


def _snap_dir(output_dir: str) -> str:
    return os.path.join(output_dir, SNAP_DIR)


def current_snapshot(output_dir: str) -> dict | None:
    """The table's current state = the highest-id manifest ON DISK.

    Manifests are published atomically (os.link in commit_snapshot), so
    the max snap file is always a complete, committed manifest — reading
    it directly makes the reader view race-free by construction. The
    CURRENT pointer file is still maintained as a human-readable
    convenience/debug hint, but it is NOT load-bearing: a check-then-act
    pointer swap between two racing committers could move it backwards
    and hide the latest commit until the next one."""
    return _latest_manifest(output_dir)


def _latest_manifest(output_dir: str) -> dict | None:
    """Highest-numbered manifest on disk — the commit-time parent AND the
    reader view. Using a pointer file as the parent would livelock two
    concurrent committers (the loser keeps re-minting the same id until
    the winner swaps the pointer) and can lose a commit outright.
    Ordered NUMERICALLY by the parsed snap id — a lexical sort breaks the
    moment ids outgrow the zero-padding ('snap-1000000.json' sorts before
    'snap-999999.json', which would livelock the 1,000,001st commit).
    Cost is one listdir per read/commit-retry — O(#snapshots) directory
    entries; past ~10^5 snapshots add manifest compaction (fold the chain
    into a new base manifest and prune), which Iceberg tables need at
    that commit count anyway."""
    d = _snap_dir(output_dir)
    if not os.path.isdir(d):
        return None
    snaps = [
        n for n in os.listdir(d) if n.startswith("snap-") and n.endswith(".json")
    ]
    if not snaps:
        return None
    # Descending by id, skipping unparsable entries: on the no-hardlink
    # fallback path the max file can transiently be an empty O_EXCL
    # reservation (bytes land via os.replace an instant later) or, after
    # a reserver crash, a permanently dead zero-byte file (later
    # committers mint PAST it — _next_snap_id) — either way the highest
    # parseable manifest is the committed state and the reader must not
    # wedge on the torn one.
    for name in sorted(
        snaps, key=lambda n: int(n[len("snap-"):-len(".json")]), reverse=True
    ):
        try:
            with open(os.path.join(d, name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            continue
    return None


def _next_snap_id(output_dir: str, parent_id: int) -> int | None:
    """Candidate id for a commit chaining to `parent_id`: the first id
    past the parent whose slot is not taken by a PARSEABLE manifest,
    skipping only UNPARSABLE files (dead or in-flight no-link
    reservations — an id, once reserved, belongs to its reserver
    forever; minting past it instead of adopting it is what closes the
    takeover lost-commit window of a grace-timeout scheme).

    Returns None when the candidate slot holds a parseable manifest:
    that manifest post-dates the caller's parent read, so the parent is
    STALE and must be re-read — the probe never skips over committed
    state, which anchors the id choice to the parent and keeps the
    create-exclusive publish a real CAS (a GLOBAL max-id rule here has
    a TOCTOU hole: another committer's publish between the parent read
    and the max read lets a stale-parent manifest mint a higher id and
    silently orphan the newer commit — caught by the concurrency
    test).

    An unparsable file younger than RESERVATION_GRACE_S is an IN-FLIGHT
    reservation (reserve→replace is microseconds apart): skipping it
    would routinely fork the chain around a live commit under
    concurrency, so the probe waits for it to resolve into a manifest
    (→ None, parent stale) instead. Only a reservation that stays
    unparsable past the grace (its writer crashed between the two
    syscalls) is minted past — and commit_snapshot's post-publish
    canonical-chain check covers the pathological
    stalled-longer-than-grace writer."""
    d = _snap_dir(output_dir)
    sid = parent_id + 1
    waited = 0.0
    while True:
        path = os.path.join(d, f"snap-{sid:06d}.json")
        if not os.path.exists(path):
            return sid
        try:
            with open(path) as f:
                json.load(f)
            return None  # committed manifest newer than our parent
        except (OSError, ValueError):
            try:
                age = time.time() - os.path.getmtime(path)
            except OSError:
                continue  # vanished mid-probe — re-check the same slot
            # waited-cap also bounds clock-skew pathologies (a dead file
            # with a future mtime would otherwise never age out)
            if age < RESERVATION_GRACE_S and waited < 2 * RESERVATION_GRACE_S:
                time.sleep(0.02)
                waited += 0.02
                continue  # in-flight — let the µs-away replace land
            sid += 1  # dead reservation — mint past it
            waited = 0.0  # fresh grace PER SLOT: exhausting the wait on
            # one dead file must not strip patience for a LIVE
            # reservation at the next id (skipping it would fork the
            # chain around a healthy in-flight commit)


def _publish_without_link(tmp: str, final: str) -> bool:
    """Publish `tmp` as `final` on filesystems without hard links.

    Two-step: (1) reserve the snapshot id with an EMPTY O_CREAT|O_EXCL
    file — the create-exclusive race arbiter, zero payload bytes; then
    (2) land the already-fully-written tmp with os.replace, which is
    atomic, so the manifest is either absent/empty or complete — never
    truncated (an earlier fallback json.dump'ed into the live file, and
    a crash mid-write wedged the chain permanently; an adopt-the-dead-
    reservation variant after that had a lost-commit takeover window —
    now a taken id, parseable or not, simply means lose-and-retry, and
    the retry re-probes via _next_snap_id, which waits out live
    reservations and mints past dead ones)."""
    try:
        fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        return False  # id taken (manifest or reservation) — mint past it
    os.replace(tmp, final)
    return True


def commit_snapshot(
    output_dir: str, run_id: str, n_docs: int, checksum: int
) -> dict:
    """Append an immutable manifest chaining to the parent. The manifest
    lists ALL run_ids visible at this snapshot (parent's runs + this
    one), so a reader needs exactly one manifest.

    Concurrency: commit is a CAS, as Iceberg requires — the manifest is
    fully written to a tmp file and published with os.link() (create-
    exclusive + atomic); a committer that loses the race on snap-<n>
    retries against the new parent, so no commit is ever silently lost.
    Idempotent: a run_id already in the parent chain returns the existing
    manifest (streaming foreachBatch replays hit this). Readers resolve
    the current state from the max on-disk manifest (current_snapshot),
    so the commit is visible the instant the link lands; the CURRENT
    pointer file is refreshed only as a non-load-bearing debug hint (a
    racing hint write can lag, never the reader view)."""
    os.makedirs(_snap_dir(output_dir), exist_ok=True)
    while True:
        parent = _latest_manifest(output_dir)
        if parent and run_id in parent["run_ids"]:
            return parent  # already committed (replay) — no duplicate entry
        # parent-anchored probe: skips only dead/in-flight reservations
        # (a no-link-mount crash leaves its id as a permanent gap in the
        # chain); a parseable manifest at the candidate means the parent
        # is stale — refresh it
        snap_id = _next_snap_id(
            output_dir, parent["snapshot_id"] if parent else 0
        )
        if snap_id is None:
            continue
        manifest = {
            "snapshot_id": snap_id,
            "parent_id": parent["snapshot_id"] if parent else None,
            "run_ids": (parent["run_ids"] if parent else []) + [run_id],
            "n_docs_total": (parent["n_docs_total"] if parent else 0) + n_docs,
            "run_checksum": checksum,
            "committed_at_ms": int(time.time() * 1000),
        }
        import threading  # noqa: PLC0415

        uniq = f"{os.getpid()}-{threading.get_ident()}"
        name = f"snap-{snap_id:06d}.json"
        final = os.path.join(_snap_dir(output_dir), name)
        tmp = f"{final}.tmp-{uniq}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, final)  # the CAS: fails iff snap_id was taken
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost the race — rebuild against the new parent
        except OSError:
            # filesystem without hard links (some object-store mounts:
            # EPERM/ENOTSUP) — see _publish_without_link. The O_EXCL open
            # there is ONLY the id reservation; the bytes always arrive
            # via an atomic os.replace of the fully-written tmp, so no
            # reader or crash ever observes a truncated live manifest.
            if not _publish_without_link(tmp, final):
                if os.path.exists(tmp):
                    os.unlink(tmp)
                continue  # id taken — rebuild against the new state
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        # Canonical-chain check, BOTH publish paths: while a no-link
        # committer held its (unparsable) reservation, a concurrent one
        # may have probed past it and chained AROUND this commit; the
        # canonical state is the max PARSEABLE manifest, so if that
        # chain lacks our run this publish is a superseded side branch —
        # retry on the fresh parent instead of reporting a commit that
        # the chain never absorbed. On a pure-hardlink mount forks
        # cannot arise (the probe never skips parseable manifests and
        # link is a true CAS), so the check is a no-op there; it stays
        # unconditional for mixed/degraded mounts. Residual window,
        # documented: a no-link committer stalled ARBITRARILY long
        # between its verification read and a racer's probe cannot be
        # distinguished from a crashed one by any file-only protocol —
        # Iceberg solves this with an external atomic pointer swap,
        # which is exactly what the real catalog binding replaces this
        # module with.
        cur = _latest_manifest(output_dir)
        if not cur or run_id not in cur["run_ids"]:
            continue
        cur_path = os.path.join(_snap_dir(output_dir), "CURRENT")
        # tmp name must be unique per THREAD, not just per process: two
        # in-process committers sharing one tmp path race write/replace
        # and the loser's os.replace hits FileNotFoundError
        cur_tmp = f"{cur_path}.tmp-{uniq}"
        with open(cur_tmp, "w") as f:
            f.write(name)
        os.replace(cur_tmp, cur_path)  # debug hint only, see docstring
        return manifest


def write_run_once(df: DataFrame, out_dir: str) -> None:
    """Replay-safe run-directory write for DETERMINISTIC outputs (same
    input → same rows, e.g. a streaming epoch's batch): a complete dir
    (_SUCCESS) is kept, a partial one (crash mid-write) is cleared and
    rewritten. NOT for state-dependent outputs — if the rows depend on
    other runs' committed state (incremental curation), an uncommitted
    dir may be stale and must be rewritten; see curate_incremental."""
    import shutil  # noqa: PLC0415

    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    df.write.mode("errorifexists").parquet(out_dir)


def read_results_as_of(
    spark: SparkSession, output_dir: str, snapshot_id: int
) -> DataFrame:
    """Time travel: exactly the runs the manifest lists — later runs and
    uncommitted directories are invisible."""
    path = os.path.join(_snap_dir(output_dir), f"snap-{snapshot_id:06d}.json")
    with open(path) as f:
        manifest = json.load(f)
    dirs = [
        os.path.join(output_dir, "results", f"run_id={r}")
        for r in manifest["run_ids"]
    ]
    return spark.read.parquet(*dirs)
