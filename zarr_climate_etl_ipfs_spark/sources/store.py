"""GridStore — the publish/write path (SURVEY.md §2.1 S11-S17, §3.3).

The reference writes Zarr with three update modes (utils/publish.py:240-397):
initial (mode="w"), append (append_dim=time), and region-insert
(region={time: slice}). Here the store is a time-bucket-partitioned parquet
table with a **manifest log** — a minimal Delta-style commit protocol:

  - data files are immutable; every write lands new files via a staging
    directory and then commits a manifest (the list of live files);
  - initial  → manifest v1 = the new files          (write_initial_zarr)
  - append   → manifest vN = vN-1 + new files        (append_to_dataset)
  - insert   → rewritten buckets' files replace the old ones *in the
    manifest only* — the old files stay on disk       (insert_into_dataset)
  - readers resolve a manifest and read exactly its files, so a version is
    readable forever until :meth:`vacuum` reclaims unreferenced files. This
    is the Spark-native mapping of the reference's IPFS-CID time travel
    (S12, zarr_hash_to_dataset, utils/transform.py:541-558): manifest
    version ↔ CID, latest version ↔ IPNS pointer.

Commit atomicity: the manifest file is written once, last; a crash mid-write
leaves orphan data files (vacuumable) but never a half-visible table. The
commit point is a **put-if-absent** hard link of a writer-unique temp file
onto ``v{N}.json``, where N is one past the version the writer READ when it
built its file list (optimistic concurrency) — if a concurrent writer
already committed N, the link raises and the loser gets a commit-conflict
:class:`StoreError` with none of its files in any manifest (mutual exclusion
on the version counter, the Delta-protocol property a plain rename lacks:
POSIX rename silently overwrites, so two racing writers would both "succeed"
and the second would clobber the first — and re-reading the counter at
commit time would be just as lossy, landing a stale snapshot's file list on
top of the winner's at N+1). The reference's ``update_in_progress`` flag protocol
(publish.py:153-180) is kept as informational properties for parity.

Scale design: partition grain (descriptor.time_bucket) is the analog of the
Zarr time-chunk spec (chirps.py:26-28). A bucket holds one calendar unit of
cells; at CHIRPS-0.05 scale (2000×7200 grid, daily) a "month" bucket is
~430M cells ≈ 1.7 GB float32 → a handful of ~128 MB parquet files after the
pre-write repartition, matching the reference's 100-200 MB chunk target
(docs/etl_developers_manual.md:137). Sort-within-partitions by (lat, lon)
gives row-group min/max stats → lat/lon predicate pushdown approximates
Z-order locality. Manifest-level bucket pruning (``time_sliced``) plays the
role of Delta data skipping.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import shutil
import uuid
import warnings
from collections.abc import Mapping, Sequence
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
from zarr_climate_etl_ipfs_spark.operators.updates import validate_update

_BUCKET_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}
_BUCKET_COL = "time_bucket"
#: how often an append re-reads the latest manifest after losing the
#: version race before it gives up with the commit-conflict StoreError
_APPEND_RETRIES = 3


def _sha256_file(p: Path) -> str:
    h = hashlib.sha256()
    with open(p, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _content_digest(file_digests: dict[str, str]) -> str:
    """Digest over the sorted (path, digest) pairs: the manifest's Merkle
    link to its entire file set."""
    h = hashlib.sha256()
    for f in sorted(file_digests):
        h.update(f.encode())
        h.update(file_digests[f].encode())
    return h.hexdigest()


class StoreError(RuntimeError):
    pass


def _bucket_of(relpath: str) -> str:
    """Partition value from a relative file path 'time_bucket=X/part-…'."""
    head = relpath.split("/", 1)[0]
    return head.split("=", 1)[1] if "=" in head else ""


class GridStore:
    """One published dataset at ``root/<dataset_name>/``: immutable parquet
    files + ``_meta/`` (manifests/v*.json, properties.json)."""

    def __init__(
        self,
        root: str | Path,
        desc: DatasetDescriptor,
        spark: SparkSession,
        compression: str = "zstd",
    ):
        self.desc = desc
        self.spark = spark
        self.root = Path(root) / desc.dataset_name
        self.data_path = self.root / "data"
        self.meta_path = self.root / "_meta"
        self.manifest_path = self.meta_path / "manifests"
        # F14 (metadata.py:803-818): the Blosc-or-none choice becomes the
        # parquet codec option; "uncompressed" is the IPFS-dedup analog.
        self.compression = compression

    # -- manifest log --------------------------------------------------------

    def current_version(self) -> int:
        if not self.manifest_path.exists():
            return 0
        vs = [int(p.stem[1:]) for p in self.manifest_path.glob("v*.json")]
        return max(vs, default=0)

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        v = version if version is not None else self.current_version()
        p = self.manifest_path / f"v{v}.json"
        if v == 0 or not p.exists():
            raise StoreError(f"no manifest v{v} at {self.manifest_path}")
        return json.loads(p.read_text())

    def _commit(
        self,
        action: str,
        files: list[str],
        rng: Mapping[str, Any],
        update_props: bool = True,
        base_version: int | None = None,
        prev_end: Any = None,
    ) -> int:
        """Commit ``files`` as version ``base_version + 1``.

        ``prev_end`` overrides the ``update_previous_end_date`` property
        (default: the observed range's ``hi``). :meth:`update` passes the
        APPEND leg's max here so the property lands in the same
        ``set_properties`` write as the rest of the commit metadata —
        patching it afterwards left a crash window where the whole-batch
        max (which can exceed the append leg's max when a backfill append
        sits below an overwritten time) survived as exactly the stale
        anchor the override exists to prevent.

        ``rng`` carries the update's ``lo``/``hi``/``n`` (time range + row
        count). Writers collect it via :meth:`_observe_rng` piggybacked on
        the staging write — computing it here with a ``df.agg`` would cost
        one extra Spark action per commit, re-executing the writer's whole
        input subtree.

        ``base_version`` is the version the WRITER READ when it built the
        file list (optimistic concurrency, the Delta protocol's conflict
        rule): committing against a re-read of ``current_version()`` would
        let a writer whose snapshot went stale mid-write land v(N+2) on top
        of vN's file list, silently dropping v(N+1)'s data — the put-if-
        absent link below only arbitrates writers that computed the SAME
        version. Callers that read no prior state (initial write) pass
        None and race for whatever slot is next.
        """
        base = self.current_version() if base_version is None else base_version
        v = base + 1
        self.manifest_path.mkdir(parents=True, exist_ok=True)
        manifest = {
            "version": v,
            "action": action,
            "committed_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
            "files": sorted(files),
            # content addressing (the IPFS-CID analog, S23): every live file
            # is pinned by digest, and the manifest digest commits to the
            # whole file set — a Merkle link, so a manifest version names
            # immutable content the way a CID does. Carried-over files reuse
            # the prior manifest's digests (no rehash of unchanged data).
            "file_digests": self._digests(files, base),
            "time_start": str(rng["lo"]),
            "time_end": str(rng["hi"]),
            "rows": rng["n"],
        }
        manifest["content_digest"] = _content_digest(manifest["file_digests"])
        # writer-unique temp name: two racing writers that both computed
        # version v must not share a staging file either, or one could
        # hard-link the OTHER's content into the commit slot
        tmp = self.manifest_path / f".v{v}.{os.getpid()}.{uuid.uuid4().hex[:8]}.json.tmp"
        tmp.write_text(json.dumps(manifest, indent=2))
        final = self.manifest_path / f"v{v}.json"
        try:
            # the commit point — put-if-absent: os.link is atomic and raises
            # if v{N}.json exists, giving mutual exclusion on the version
            # counter (a rename would silently overwrite a racing commit)
            os.link(tmp, final)
        except FileExistsError:
            tmp.unlink(missing_ok=True)
            raise StoreError(
                f"commit conflict: manifest v{v} already exists — a concurrent "
                "writer won this version; re-read the latest version and retry"
            ) from None
        finally:
            tmp.unlink(missing_ok=True)
        if update_props:  # maintenance actions (compact) aren't data updates
            self.set_properties(
                update_date_range=[str(rng["lo"]), str(rng["hi"])],
                update_previous_end_date=str(
                    rng["hi"] if prev_end is None else prev_end
                ),
            )
        return v

    def _digests(self, files: list[str], prev_version: int) -> dict[str, str]:
        """sha256 per live file, reusing the previous manifest's entries for
        files it already pinned (immutable files never need rehashing)."""
        prior: dict[str, str] = {}
        if prev_version > 0:
            try:
                prior = self.manifest(prev_version).get("file_digests", {})
            except StoreError:
                prior = {}
        out: dict[str, str] = {}
        for f in sorted(files):
            out[f] = prior.get(f) or _sha256_file(self.data_path / f)
        return out

    def verify_integrity(self, version: int | None = None) -> None:
        """Recompute every pinned digest and compare — the content-addressed
        read guarantee IPFS gives for free, enforced here explicitly.
        Raises StoreError naming the first corrupted/missing file."""
        m = self.manifest(version)
        digests = m.get("file_digests", {})
        for f in m["files"]:
            p = self.data_path / f
            if not p.exists():
                raise StoreError(f"integrity: missing data file {f}")
            want = digests.get(f)
            if want and _sha256_file(p) != want:
                raise StoreError(f"integrity: content mismatch for {f}")
        if digests and m.get("content_digest") != _content_digest(digests):
            raise StoreError("integrity: manifest content digest mismatch")

    def versions(self) -> list[dict[str, Any]]:
        """Version log, oldest first (Delta history / IPNS chain analog)."""
        if not self.manifest_path.exists():
            return []
        out = []
        for p in sorted(self.manifest_path.glob("v*.json"), key=lambda p: int(p.stem[1:])):
            m = json.loads(p.read_text())
            e = {k: m[k] for k in ("version", "action", "time_start", "time_end", "rows")}
            if "committed_utc" in m:
                e["committed_utc"] = m["committed_utc"]
            out.append(e)
        return out

    def version_as_of(self, when: dt.datetime) -> int:
        """Delta ``timestampAsOf``: the latest version whose commit landed
        at or before ``when`` (naive datetimes are taken as UTC). Manifests
        written before the ``committed_utc`` field existed fall back to
        their manifest file's mtime — an approximation that survives file
        copies poorly, so old stores should prefer ``version=``."""
        if when.tzinfo is None:
            when = when.replace(tzinfo=dt.timezone.utc)
        best: int | None = None
        for e in self.versions():
            ts = e.get("committed_utc")
            if ts is not None:
                t = dt.datetime.fromisoformat(ts)
            else:
                p = self.manifest_path / f"v{e['version']}.json"
                t = dt.datetime.fromtimestamp(p.stat().st_mtime, dt.timezone.utc)
            if t <= when and (best is None or e["version"] > best):
                best = e["version"]
        if best is None:
            raise StoreError(f"no version committed at or before {when.isoformat()}")
        return best

    # -- open / existence (S11, S12) ----------------------------------------

    def has_existing(self) -> bool:
        return self.current_version() > 0

    def _read(self, files: list[str]) -> DataFrame:
        """Exactly ``files`` (paths relative to ``data/``), bucket column
        dropped — every reader resolves a manifest first and reads its list."""
        paths = [str(self.data_path / f) for f in files]
        df = self.spark.read.option("basePath", str(self.data_path)).parquet(*paths)
        return df.drop(_BUCKET_COL)

    def dataset(
        self, version: int | None = None, as_of: dt.datetime | None = None
    ) -> DataFrame:
        """Open the table at a version (default: latest) — S11, and S12's
        CID time travel when ``version`` is given. ``as_of`` resolves a
        wall-clock commit time to a version instead (Delta's
        ``timestampAsOf`` twin; mutually exclusive with ``version``)."""
        if as_of is not None:
            if version is not None:
                raise StoreError("dataset: pass version= or as_of=, not both")
            version = self.version_as_of(as_of)
        return self._read(self.manifest(version)["files"])

    def time_sliced(self, start: dt.datetime, end: dt.datetime) -> DataFrame:
        """P1 time-slice with manifest-level bucket pruning: only files whose
        bucket overlaps [start, end] are even listed — the Delta-data-skipping
        analog of the reference's binary file search (O4/Q7)."""
        td = self.desc.time_dim
        fmt = _BUCKET_FMT[self.desc.time_bucket]
        py_fmt = fmt.replace("yyyy", "%Y").replace("MM", "%m").replace("dd", "%d")
        lo, hi = start.strftime(py_fmt), end.strftime(py_fmt)
        files = [f for f in self.manifest()["files"] if lo <= _bucket_of(f) <= hi]
        if not files:
            return self.dataset().filter(F.lit(False))
        return self._read(files).filter(F.col(td).between(F.lit(start), F.lit(end)))

    def restore(self, version: int) -> int:
        """Delta RESTORE analog, completing the versioning triad with
        time travel (S12) and :meth:`diff`: re-commit an earlier version's
        exact file list as a NEW version — a forward-history rollback, so
        the mistake and its correction are both in the log (nothing is
        rewritten; the old files are immutable and simply referenced
        again). Restorable only while the target's files survive
        :meth:`vacuum`; a reclaimed version raises a named error rather
        than committing a manifest with dangling references."""
        m = self.manifest(version)
        cur = self.current_version()
        if version == cur:
            return cur
        missing = [f for f in m["files"] if not (self.data_path / f).exists()]
        if missing:
            raise StoreError(
                f"restore: {len(missing)} file(s) of v{version} were vacuumed "
                f"(first: {missing[0]}); the version is no longer restorable"
            )
        with self._updating(append_only=False):
            v = self._commit(
                "restore",
                list(m["files"]),
                self._rng_of(self.dataset(version)),
                base_version=cur,
            )
        # The pre-commit existence check above races a concurrent
        # vacuum(retention=0) (TOCTOU): a reclaim can land between check and
        # commit, leaving the just-committed manifest with dangling
        # references. Windowed vacuums (the 7-day default) can't hit this —
        # the target's files were live moments ago — so re-verify only after
        # the commit and fail loudly rather than return a broken version.
        gone = [f for f in m["files"] if not (self.data_path / f).exists()]
        if gone:
            raise StoreError(
                f"restore: committed v{v} but a concurrent vacuum reclaimed "
                f"{len(gone)} of its file(s) (first: {gone[0]}); v{v} is "
                f"dangling — restore a surviving version to recover"
            )
        return v

    def diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Cell-level change feed between two versions (the Delta
        change-data-feed readout on top of S12 time travel): one row per
        grid cell that was ``added``, ``removed`` or ``changed`` between
        ``from_version`` and ``to_version`` (default: latest), with the
        old and new values side by side.

        Scale shape: the two manifests are compared FIRST — only buckets
        whose file SET differs are read at all (manifest-level pruning, the
        same trick time_sliced uses), so an append-only update diffs at the
        cost of the appended buckets, never the archive. Within changed
        buckets a full-outer join on the dim key decides the change kind;
        a compaction (same data, new files) scans its rewritten buckets and
        correctly yields zero rows — the manifest prune is an
        over-approximation the join refines. NULL-value transitions count
        as changes (null-safe equality); values equal under ``<=>`` drop
        out."""
        m_old = self.manifest(from_version)
        m_new = self.manifest(to_version)
        by_bucket_old: dict[str, set] = {}
        by_bucket_new: dict[str, set] = {}
        for f in m_old["files"]:
            by_bucket_old.setdefault(_bucket_of(f), set()).add(f)
        for f in m_new["files"]:
            by_bucket_new.setdefault(_bucket_of(f), set()).add(f)
        changed_buckets = {
            b
            for b in by_bucket_old.keys() | by_bucket_new.keys()
            if by_bucket_old.get(b) != by_bucket_new.get(b)
        }
        var = self.desc.data_var
        dims = [f.name for f in self.desc.schema().fields if f.name != var]

        def changed(m: dict[str, Any]) -> DataFrame:
            files = [f for f in m["files"] if _bucket_of(f) in changed_buckets]
            if not files:
                return self.spark.createDataFrame([], self.desc.schema())
            return self._read(files)

        old = changed(m_old).select(
            *dims,
            F.col(var).alias("old_value"),
            F.lit(True).alias("_has_old"),
        )
        new = changed(m_new).select(
            *dims,
            F.col(var).alias("new_value"),
            F.lit(True).alias("_has_new"),
        )
        change = (
            F.when(F.col("_has_old").isNull(), F.lit("added"))
            .when(F.col("_has_new").isNull(), F.lit("removed"))
            .when(~F.col("old_value").eqNullSafe(F.col("new_value")), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
        )
        return (
            old.join(new, on=dims, how="full_outer")
            .withColumn("change", change)
            .filter(F.col("change") != "unchanged")
            .select(*dims, "old_value", "new_value", "change")
        )

    # -- write modes (S13-S16) ----------------------------------------------

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        fmt = _BUCKET_FMT[self.desc.time_bucket]
        return df.withColumn(_BUCKET_COL, F.date_format(F.col(self.desc.time_dim), fmt))

    def _layout(self, df: DataFrame) -> DataFrame:
        """Pre-write layout: one shuffle keyed by bucket (the storage grain),
        rows sorted inside each file for row-group min-max locality — the
        repartition+sortWithinPartitions analog of the reference's pre-write
        ``.chunk(requested_dask_chunks)`` (publish.py:251-256).

        Spatial sort key: the Morton/Z-order index when both lat and lon are
        present (row groups then bound *both* coordinates, so either-axis
        predicates prune — operators/scale.zorder_index), else plain column
        order."""
        if "latitude" in df.columns and "longitude" in df.columns:
            from zarr_climate_etl_ipfs_spark.operators.scale import zorder_index

            return (
                df.withColumn("_z", zorder_index("latitude", "longitude"))
                .repartition(F.col(_BUCKET_COL))
                .sortWithinPartitions(_BUCKET_COL, "_z", self.desc.time_dim)
                .drop("_z")
            )
        return df.repartition(F.col(_BUCKET_COL)).sortWithinPartitions(
            _BUCKET_COL, self.desc.time_dim
        )

    def _observe_rng(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        """Attach a CollectMetrics node recording the frame's time range and
        row count. The metrics materialize with whatever action executes the
        returned frame (here: the staging write), so :meth:`_commit` gets its
        manifest scalars without a second pass over the writer's input."""
        td = self.desc.time_dim
        obs = Observation()
        return (
            df.observe(
                obs,
                F.min(td).alias("lo"),
                F.max(td).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ),
            obs,
        )

    def _rng_of(self, df: DataFrame) -> dict[str, Any]:
        """One-action fallback for commits with no staging write (restore)."""
        td = self.desc.time_dim
        r = df.agg(
            F.min(td).alias("lo"), F.max(td).alias("hi"), F.count("*").alias("n")
        ).first()
        return {"lo": r["lo"], "hi": r["hi"], "n": r["n"]}

    def _stage_files(self, df: DataFrame) -> list[str]:
        """Write df into a staging dir, move the part files into the live
        partition dirs (unique job-scoped names — no collisions), return the
        relative paths. Files become *live* only when a manifest commits.
        The staging dir is writer-unique: a shared path would let one
        concurrent writer rmtree the other's in-flight part files (the
        sibling race to the manifest commit conflict)."""
        staging = self.root / f"_staging-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        out = self._layout(self._with_bucket(df.select(*self.desc.schema().fieldNames())))
        out.write.mode("overwrite").option("compression", self.compression).partitionBy(
            _BUCKET_COL
        ).parquet(str(staging))
        moved: list[str] = []
        for part_dir in staging.glob(f"{_BUCKET_COL}=*"):
            dst_dir = self.data_path / part_dir.name
            dst_dir.mkdir(parents=True, exist_ok=True)
            for f in part_dir.glob("*.parquet"):
                dst = dst_dir / f.name
                f.rename(dst)
                moved.append(f"{part_dir.name}/{f.name}")
        shutil.rmtree(staging)
        return moved

    def write_initial(self, df: DataFrame) -> None:
        """S13: full (re)publish — a fresh manifest referencing only the new
        files; prior versions stay readable until vacuum."""
        self.meta_path.mkdir(parents=True, exist_ok=True)
        with self._updating(append_only=False):
            obs_df, obs = self._observe_rng(df)
            files = self._stage_files(obs_df)
            if not files:
                # an empty initial publish would commit files=[] and brick
                # the store: has_existing() turns True but dataset() has no
                # paths to read (round-14 review catch) — refuse clearly
                raise StoreError(
                    "write_initial: input produced no data files (empty "
                    "DataFrame?) — refusing to commit an empty manifest"
                )
            self._commit("initial", files, obs.get)

    def append(self, df: DataFrame) -> None:
        """S14: extend along the time dim (update_is_append_only=True).

        Commit conflicts auto-resolve, Delta-style: an append's staged
        files stay valid whatever a concurrent writer committed, so losing
        the version race just means re-reading the latest manifest and
        recombining — the data files are NOT restaged. Raises the
        commit-conflict StoreError once the retry budget is spent —
        pathological contention should be visible, not looped on forever."""
        self._write(df, (), frozenset(), "append")

    def insert(self, df: DataFrame) -> None:
        """S15: overwrite existing time steps in place — only the buckets
        containing replaced steps are rewritten; their rows at other times
        are carried over. The old bucket files leave the manifest but stay
        on disk (time travel). A racing commit is a true conflict: the
        rewritten buckets were computed against the snapshot this writer
        read, so it raises instead of retrying (Delta parity)."""
        # ONE collect serves both the replaced time keys and the touched
        # bucket set. Bounded by construction: an update batch's distinct
        # time steps are small (operators/updates.py module docstring).
        pairs = self._with_bucket(df.select(self.desc.time_dim)).distinct().collect()
        times = sorted({r[0] for r in pairs if r[0] is not None})
        touched = frozenset(r[1] for r in pairs if r[1] is not None)
        self._write(df, times, touched, "insert")

    def _write(
        self,
        df: DataFrame,
        replace_times: Sequence[Any],
        touched: frozenset[str],
        action: str,
        prev_end: Any = None,
    ) -> None:
        """The one staged write + commit behind append, insert and update.

        Reads the ``touched`` buckets' live files, drops their rows at
        ``replace_times`` with a literal NOT-IN (a bounded key list; NULL-
        time rows survive, matching left_anti's non-matching-row
        semantics), unions the new rows, stages the result and commits it
        with the untouched files against the snapshot's base version. The
        manifest's time range and row count describe ``df`` alone, observed
        during the staging write, not the carried-over rows.

        ``prev_end`` overrides ``update_previous_end_date`` (see
        :meth:`_commit`). A lost version race is retried only when
        ``touched`` is empty: then the staged files are valid on top of any
        winner. Rewritten buckets were computed against the snapshot this
        writer read, so a racing commit there is a true conflict."""
        td = self.desc.time_dim
        with self._updating(append_only=action == "append"):
            m = self.manifest()
            new, obs = self._observe_rng(df.select(*self.desc.schema().fieldNames()))
            carried = [f for f in m["files"] if _bucket_of(f) in touched]
            if carried:
                keep = self._read(carried)
                if replace_times:
                    keep = keep.filter(
                        F.coalesce(~F.col(td).isin(list(replace_times)), F.lit(True))
                    )
                new = keep.unionByName(new)
            files = self._stage_files(new)
            if not files:
                # only reachable for an empty input frame (touched derives
                # from df): skip the commit instead of letting obs.get raise
                # a bare AssertionError on metrics that never materialized
                warnings.warn(
                    f"{action}: input produced no data files (empty "
                    "DataFrame?) — skipping commit",
                    stacklevel=3,
                )
                return
            for attempt in range(_APPEND_RETRIES + 1):
                untouched = [f for f in m["files"] if _bucket_of(f) not in touched]
                try:
                    self._commit(
                        action,
                        untouched + files,
                        obs.get,
                        base_version=m["version"],
                        prev_end=prev_end,
                    )
                    return
                except StoreError:
                    if touched or attempt == _APPEND_RETRIES:
                        raise
                    m = self.manifest()  # re-read the winner's file list

    def update(self, df: DataFrame) -> dict[str, int]:
        """The parse orchestration (publish.py:265-397 ``update_zarr``):
        split update keys into inserts/appends (J1), run the Q5 guards,
        honor allow_overwrite (publish.py:287-294), then ONE staged write
        and ONE commit, whatever the mix of legs. The version's action is
        ``insert``, ``append`` or, for both legs, ``update``.

        NULL-time rows are dropped. ``update_previous_end_date`` is the
        append leg's max when there is one: with ``cadence_bounds`` set an
        irregular backfill append can end below an overwritten existing
        time, and cadence anchoring must read the append leg's end, not the
        whole batch's."""
        desc = self.desc
        td = desc.time_dim
        val = validate_update(
            self.dataset().select(td).distinct(),
            df.select(td).distinct(),
            desc.expected_delta,
            time_dim=td,
            dataset_start=desc.dataset_start_date,
            cadence_bounds=desc.update_cadence_bounds,
            # the touched buckets and replaced times ride the validator's
            # single aggregation: no second pass over df to route the legs
            insert_bucket_fmt=_BUCKET_FMT[desc.time_bucket],
        )
        if not val.ok:
            raise StoreError("; ".join(val.errors))
        n_ins, n_app = val.n_inserts, val.n_appends
        new = df.filter(F.col(td).isNotNull())
        replace, touched = val.insert_times, val.insert_buckets
        if n_ins and not desc.allow_overwrite:
            # warn-and-skip semantics (publish.py:287-293) — the reference
            # WARNS here (self.warn), and a silent skip is a data-loss
            # footgun for callers who forgot the flag (found driving the
            # library user-style in round 12: an overwrite leg vanished
            # with no signal while the append leg landed)
            warnings.warn(
                f"update: skipping {n_ins} overwrite key(s) that already exist — "
                "allow_overwrite is not set on the descriptor; only the append "
                "leg (if any) will be written",
                stacklevel=2,
            )
            new = new.filter(~F.col(td).isin(list(replace)))
            n_ins, replace, touched = 0, (), frozenset()
        if not n_ins and not n_app:
            return {"inserts": 0, "appends": 0}
        action = "update" if n_ins and n_app else "insert" if n_ins else "append"
        self._write(new, replace, touched, action, prev_end=val.last_append)
        return {"inserts": n_ins, "appends": n_app}

    def compact(self, max_files_per_bucket: int = 1) -> dict[str, int]:
        """Small-file compaction (Delta OPTIMIZE analog). Every append/insert
        commit adds at least one file per touched bucket, so long-lived
        incremental datasets accumulate many small files — the #1 read-path
        tax at scale (per-file open cost, tiny row groups defeat min-max
        pruning). Rewrite any bucket whose live file count exceeds the
        target into freshly Z-order-sorted consolidated files and commit a
        new manifest; prior versions stay readable until :meth:`vacuum`.

        Returns {bucket: n_files_rewritten} for the compacted buckets.
        """
        m = self.manifest()
        prev = m["files"]
        by_bucket: dict[str, list[str]] = {}
        for f in prev:
            by_bucket.setdefault(_bucket_of(f), []).append(f)
        crowded = {
            b: fs for b, fs in by_bucket.items() if len(fs) > max_files_per_bucket
        }
        if not crowded:
            return {}
        df = self._read([f for fs in crowded.values() for f in fs])
        with self._updating(append_only=False):
            obs_df, obs = self._observe_rng(df)
            new_files = self._stage_files(obs_df)
            keep = [f for f in prev if _bucket_of(f) not in crowded]
            self._commit(
                "compact", keep + new_files, obs.get, update_props=False,
                base_version=m["version"],
            )
        return {b: len(fs) for b, fs in crowded.items()}

    def vacuum(self, retention: dt.timedelta = dt.timedelta(days=7)) -> int:
        """Delete unreferenced data files older than ``retention`` — after
        which only versions whose files all survive stay readable (Delta
        VACUUM analog, including its retention window). Returns the number
        of files removed.

        The retention window is concurrency protection, not a convenience:
        a concurrent writer moves its data files into the live partition
        dirs BEFORE its manifest commit (see :meth:`_stage_files`), so an
        unwindowed vacuum racing that writer would delete its staged-but-
        uncommitted files and leave the subsequent commit pointing at
        nothing — silent data loss with every gate green. Files younger
        than the window are never touched, exactly like Delta's
        ``deletedFileRetentionDuration``. Pass ``timedelta(0)`` only when
        single-writer operation is guaranteed (tests, offline compaction).
        """
        cutoff = dt.datetime.now().timestamp() - retention.total_seconds()
        live = set(self.manifest()["files"])
        removed = 0
        for part_dir in self.data_path.glob(f"{_BUCKET_COL}=*"):
            for f in part_dir.glob("*.parquet"):
                rel = f"{part_dir.name}/{f.name}"
                if rel not in live and f.stat().st_mtime <= cutoff:
                    f.unlink()
                    removed += 1
            if not any(part_dir.iterdir()):
                part_dir.rmdir()
        # retire manifests that now reference deleted files; keep any old
        # version whose file set fully survived the retention window (it
        # stays time-travelable until its files age out)
        cur = self.current_version()
        for p in sorted(self.manifest_path.glob("v*.json")):
            v = int(p.stem[1:])
            if v >= cur:
                continue
            m = json.loads(p.read_text())
            if any(not (self.data_path / f).exists() for f in m["files"]):
                p.unlink()
        return removed

    # -- metadata (S16/S17, M7) ---------------------------------------------

    def _props_file(self) -> Path:
        return self.meta_path / "properties.json"

    def properties(self) -> dict[str, Any]:
        if self._props_file().exists():
            return json.loads(self._props_file().read_text())
        return {}

    def set_properties(self, **props: Any) -> None:
        """S17 metadata-only write (store.py:397-414): patch properties in
        place without touching data. Dict values are JSON-serialized and None
        becomes "" — the attr-sanitation rule from metadata.py:820-833."""
        cur = self.properties()
        for k, v in props.items():
            if isinstance(v, dict):
                v = json.dumps(v, sort_keys=True)
            if v is None:
                v = ""
            cur[k] = v
        self.meta_path.mkdir(parents=True, exist_ok=True)
        # temp + atomic rename: properties are informational last-writer-wins
        # metadata, but an in-place write_text lets a concurrent reader see a
        # truncated file (JSONDecodeError) — rename makes reads all-or-nothing
        tmp = self.meta_path / f".properties.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
        tmp.write_text(json.dumps(cur, indent=2, sort_keys=True, default=str))
        tmp.rename(self._props_file())

    # -- per-column encoding gardening (M6) ----------------------------------

    #: the reference's whitelisted encoding fields (metadata.py:20-45) —
    #: xarray-side + zarr-side names, kept verbatim so a migrator's existing
    #: gardening calls keep their validation behavior
    COLUMN_ENCODING_FIELDS: tuple[str, ...] = (
        "dtype", "scale_factor", "add_offset", "_FillValue", "missing_value",
        "chunksizes", "zlib", "complevel", "shuffle", "fletcher32",
        "contiguous", "units", "calendar",
        "chunks", "compressor", "filters", "order", "fill_value",
        "object_codec", "dimension_separator",
    )

    def column_encodings(self) -> dict[str, dict[str, Any]]:
        """Per-coordinate-column encoding metadata (the .zarray/.zattrs
        analog), stored inside the table properties."""
        raw = self.properties().get("column_encodings", "{}")
        return json.loads(raw) if isinstance(raw, str) else raw

    def update_column_encoding(self, column: str, update_key: dict[str, Any]) -> None:
        """M6 gardening (metadata.py:835-870): insert/update one encoding
        key on a coordinate column."""
        self._modify_column_encoding(column, update_key=update_key, remove_key=None)

    def remove_column_encoding(self, column: str, remove_key: str) -> None:
        """M6 gardening (metadata.py:853-867): drop one encoding key from a
        coordinate column."""
        self._modify_column_encoding(column, update_key=None, remove_key=remove_key)

    def _modify_column_encoding(
        self,
        column: str,
        update_key: dict[str, Any] | None = None,
        remove_key: str | None = None,
    ) -> None:
        """The reference's _modify_array_encoding rules (metadata.py:869-946),
        minus the physical rewrite: in the tall-parquet model a coordinate
        column's encoding is table metadata, so gardening is a metadata-only
        commit instead of a delete-recreate of the array. The guard rails are
        kept verbatim: no-op calls error, keys must be whitelisted, and only
        coordinate dimensions may be gardened — data-variable changes mean a
        re-parse (write_initial), exactly as the reference insists."""
        if not any([update_key, remove_key]):
            raise ValueError("no changes to the column encoding were specified")
        if update_key:
            bad = [k for k in update_key if k not in self.COLUMN_ENCODING_FIELDS]
            if bad:
                raise ValueError(f"invalid key {bad[0]} for column encoding")
        if column not in self.desc.dims:
            raise ValueError(
                f"target column {column} is not in this dataset's list of "
                f"coordinate dimensions: {self.desc.dims}; data-variable "
                "encodings require a re-parse"
            )
        encodings = self.column_encodings()
        enc = dict(encodings.get(column, {}))
        if update_key:
            enc.update(update_key)
        if remove_key:
            enc.pop(remove_key, None)
        encodings[column] = enc
        self.set_properties(column_encodings=encodings)

    @contextlib.contextmanager
    def _updating(self, append_only: bool):
        """The reference's ``update_in_progress`` flag bracket
        (publish.py:153-180) around one write. The flag clears even when the
        write fails — a stuck True would wedge every later update's guard."""
        self.set_properties(update_in_progress=True, update_is_append_only=append_only)
        try:
            yield
        finally:
            self.set_properties(
                update_in_progress=False, update_is_append_only=append_only
            )

    # -- Zarr v2 interop ------------------------------------------------------

    def export_zarr(
        self,
        path: str | Path,
        chunks: tuple[int, ...] | None = None,
        compressor: dict[str, Any] | None = None,
        filters: list[dict[str, Any]] | None = None,
        version: int | None = None,
        overwrite: bool = False,
        zarr_format: int = 2,
        codecs: list[dict[str, Any]] | None = None,
    ) -> dict[str, Any]:
        """Publish this store's dataset (any ``version``) as a real Zarr v2
        group — the output surface the reference's ``to_zarr`` /
        ``write_initial_zarr`` produce (publish.py:124-180, 240-261), so a
        downstream xarray/zarr consumer keeps working after a migration.
        ``zarr_format=3`` publishes zarr-python 3's default format instead
        (v3 ``codecs`` pipeline, sharding included, via write_zarr_tall).
        NULL data cells and absent grid cells both land on the NaN
        ``fill_value`` — exactly the missing-data representation a
        reference-published zarr uses (transform.py:341-369). ``filters``
        passes through to the data variable's chunk pipeline: with
        ``[{"id": "xchacha20poly1305", "key_hash": ...}]`` this is the
        reference's ENCRYPTED publish (metadata.py:711-717 wiring of
        EncryptionFilter), chunk-ciphertext-compatible."""
        from zarr_climate_etl_ipfs_spark.sources.zarr2 import write_zarr_tall

        dims = [
            f.name for f in self.desc.schema().fields if f.name != self.desc.data_var
        ]
        return write_zarr_tall(
            self.dataset(version),
            str(path),
            self.desc.data_var,
            dims,
            chunks=chunks,
            compressor=compressor,
            filters=filters,
            fill_value=float("nan"),
            overwrite=overwrite,
            attrs={"dataset_name": self.desc.dataset_name},
            zarr_format=zarr_format,
            codecs=codecs,
        )

    def export_netcdf4(
        self,
        path: str | Path,
        version: int | None = None,
        compress: int | None = 5,
        overwrite: bool = False,
    ) -> dict[str, Any]:
        """Distributed NetCDF4 export: ONE ``.nc`` file per time bucket,
        each written executor-side by the pure-numpy HDF5 writer
        (sources/hdf5write.py) — the sharded-collection shape every
        at-scale NetCDF archive uses (and the shape the ingest side's
        ``read_binary_gridded``/``netcdf4_decoder`` consumes, so the
        export round-trips through this engine too).

        Scale design: spatial axes are resolved once driver-side
        (axis-sized) and broadcast in the kernel closure; the data takes
        ONE shuffle keyed on the time bucket (the storage grain — the
        same key the store itself partitions by, so at scale this is a
        near-aligned exchange), and each group materializes only its own
        bucket's (time, lat, lon) slab. No single-writer bottleneck: the
        HDF5 format is per-file single-writer, so the parallel unit is
        the file, never the byte stream."""
        from zarr_climate_etl_ipfs_spark.sources.hdf5write import write_hdf5

        out = Path(path)
        if out.exists():
            if not overwrite:
                raise StoreError(f"export target {out} exists; pass overwrite=True")
            shutil.rmtree(out)
        try:  # put-if-absent, as export_zarr does
            os.makedirs(out)
        except FileExistsError:
            raise StoreError(f"{out} was created concurrently by another writer") from None

        import numpy as np
        import pandas as pd

        desc = self.desc
        var, td = desc.data_var, desc.time_dim
        dims = [f.name for f in desc.schema().fields if f.name != var]
        spatial = [d for d in dims if d != td]
        row = self.dataset(version).agg(
            *[F.collect_set(d).alias(d) for d in spatial]
        ).collect()[0]
        axes = {
            d: np.sort(np.asarray(row[d] or [], dtype="float64")) for d in spatial
        }
        out_str = str(out)

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            bucket = str(pdf[_BUCKET_COL].iloc[0])
            tvals = np.sort(pd.DatetimeIndex(pdf[td].unique()).values)
            secs = tvals.astype("datetime64[s]").astype("int64").astype("float64")
            shape = (len(tvals), *(len(axes[d]) for d in spatial))
            vals = pdf[var].to_numpy()
            dtype = vals.dtype if vals.dtype.kind == "f" else np.dtype("float64")
            grid = np.full(shape, np.nan, dtype=dtype)
            ti = np.searchsorted(tvals, pd.DatetimeIndex(pdf[td]).values)
            sidx = [np.searchsorted(axes[d], pdf[d].to_numpy()) for d in spatial]
            grid[(ti, *sidx)] = vals.astype(dtype, copy=False)
            variables = {
                td: ((td,), secs, {"units": "seconds since 1970-01-01"}),
                var: (tuple(dims), grid, {"dataset_name": desc.dataset_name}),
            }
            for d in spatial:
                variables[d] = ((d,), axes[d], {})
            blob = write_hdf5(
                variables,
                global_attrs={"dataset_name": desc.dataset_name},
                chunks={var: (1, *(len(axes[d]) for d in spatial))},
                compress=compress,
            )
            fn = os.path.join(out_str, f"{bucket}.nc")
            tmp = f"{fn}.tmp.{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, fn)
            return pd.DataFrame(
                {"bucket": [bucket], "nbytes": [len(blob)], "rows": [len(pdf)]}
            )

        manifest = (
            self._with_bucket(self.dataset(version))
            .groupBy(_BUCKET_COL)
            .applyInPandas(emit, schema="bucket string, nbytes long, rows long")
        )
        stats = manifest.agg(
            F.count("*").alias("files"),
            F.coalesce(F.sum("nbytes"), F.lit(0)).alias("bytes"),
            F.coalesce(F.sum("rows"), F.lit(0)).alias("rows"),
        ).collect()[0]
        return {
            "files": int(stats["files"]),
            "bytes": int(stats["bytes"]),
            "rows": int(stats["rows"]),
        }

    def export_grib2(
        self,
        path: str | Path,
        version: int | None = None,
        template: int = 0,
        bits_per_value: int = 16,
        decimal_scale: int = 2,
        discipline: int = 0,
        parameter: tuple[int, int] = (0, 0),
        level_type: int = 1,
        level: int = 0,
        overwrite: bool = False,
    ) -> dict[str, Any]:
        """Distributed GRIB2 export — one ``.grib2`` file per time bucket,
        one message per time step, written executor-side by the pure-numpy
        writer (sources/grib2.py write_grib2; ``template`` picks the data
        representation: 0 simple, 2/3 complex, 41 PNG, 42 CCSDS/AEC). This
        completes the publish matrix next to export_zarr/export_netcdf4 —
        GRIB is the distribution format the reference's ETLs consume
        (utils/transform.py grib handling), so a store published this way
        feeds any reference-style pipeline AND re-ingests through this
        engine's own read_binary_gridded + grib2_decoder.

        Same scale shape as export_netcdf4: spatial axes resolve once
        driver-side (axis-sized) and ride the kernel closure; the data
        takes ONE shuffle keyed on the time bucket (the store's own
        partition grain — near-aligned at scale); each group materializes
        only its own (time, lat, lon) slab. GRIB constraints enforced with
        clear errors: exactly two spatial dims, axes evenly spaced and
        on-grid at GRIB's microdegree resolution (section 3 stores only
        endpoints + increments). Encoding is lossy at ``decimal_scale``
        like any real GRIB product; all-missing time slices are skipped
        (a GRIB message cannot carry zero present points) and counted in
        the returned manifest. Delegates to grib2.write_grib2_sharded —
        the same sink the grib2_publish_roundtrip catalog query drives."""
        from zarr_climate_etl_ipfs_spark.sources.grib2 import (
            GRIB2Error,
            write_grib2_sharded,
        )

        desc = self.desc
        var, td = desc.data_var, desc.time_dim
        dims = [f.name for f in desc.schema().fields if f.name != var]
        spatial = [d for d in dims if d != td]
        if len(spatial) != 2:
            raise GRIB2Error(
                f"GRIB2 export needs exactly (time, lat, lon); descriptor "
                f"{desc.dataset_name!r} has spatial dims {spatial}"
            )
        lat_dim = next(
            (d for d in spatial if d.lower().startswith("lat")), spatial[0]
        )
        lon_dim = next(d for d in spatial if d != lat_dim)

        out = Path(path)
        if out.exists():
            if not overwrite:
                raise StoreError(f"export target {out} exists; pass overwrite=True")
            shutil.rmtree(out)
        try:  # put-if-absent, as export_zarr does
            os.makedirs(out)
        except FileExistsError:
            raise StoreError(f"{out} was created concurrently by another writer") from None

        return write_grib2_sharded(
            self.dataset(version),
            str(out),
            var,
            td,
            lat_dim,
            lon_dim,
            bucket_fmt=_BUCKET_FMT[desc.time_bucket],
            template=template,
            bits_per_value=bits_per_value,
            decimal_scale=decimal_scale,
            discipline=discipline,
            parameter=parameter,
            level_type=level_type,
            level=level,
        )

    def ingest_zarr(self, path: str | Path, var: str | None = None) -> None:
        """Migrate OFF a published Zarr v2 store in one step: open it
        distributed (S10/S11), canonicalize to the declared schema — fill
        cells arrive masked to NULL (F6), dtypes enforced — and take it as
        this store's initial write (S13). Dim arrays must carry the
        descriptor's dim names (true for any reference-published store with
        xarray ``_ARRAY_DIMENSIONS``); rename upstream otherwise."""
        from zarr_climate_etl_ipfs_spark.sources.ingest import canonicalize
        from zarr_climate_etl_ipfs_spark.sources.zarr2 import read_zarr_tall

        df = read_zarr_tall(self.spark, str(path), var=var, mask_fill=True)
        df = canonicalize(df, self.desc, source_var=df.columns[-1])
        self.write_initial(df)

    def destroy(self) -> None:
        if self.root.exists():
            shutil.rmtree(self.root)
