"""Snapshot tables — Iceberg-style commit log over parquet.

Why not Iceberg proper: this sandbox ships no Iceberg catalog/runtime jars,
so the storage layer is an explicit, minimal reimplementation of the part of
the spec the pipeline needs — an atomic, append-or-overwrite commit log of
parquet data files with table metadata per snapshot — kept behind this one
module so a real Iceberg catalog can replace it by swapping
``SnapshotTable`` for ``spark.read/writeTo(...)`` calls (SURVEY.md §7.3e).

Guarantees used by the crawler (SURVEY.md §2.11):
- a commit is visible iff its manifest JSON was atomically linked into
  ``_snapshots/`` — a killed run leaves at most orphan data files, never a
  torn table;
- publishing never overwrites: of two writers committing on the same
  parent, the second raises ``CommitConflict``;
- readers always see the latest *committed* snapshot → deterministic resume;
- every manifest records op + row_count + lineage metadata (wave id,
  parent snapshot), giving the per-wave lineage the north_rule asks for.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def bucket_of(key: Column | str, n_buckets: int) -> Column:
    """The table's hash-bucket function (stable across commits — recorded in
    the manifest so every writer/reader agrees)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(c.cast("string")), F.lit(n_buckets)).cast("int")


class CommitConflict(RuntimeError):
    """Another writer published the snapshot version this commit read as
    next; re-read the table and retry."""


class SnapshotTable:
    def __init__(self, path: str | Path):
        # canonicalize the root once: manifests record ABSOLUTE resolved
        # data paths (like Iceberg's absolute file URIs), so commits made
        # under one spelling of the root (relative cwd path, symlink, '..'
        # segments) and maintenance under another agree on file identity —
        # and '..' through a not-yet-existing segment cannot silently
        # address a different (empty) table and collide version numbers.
        # The standard Iceberg caveat carries over: physically MOVING the
        # table tree requires rewriting manifests.
        self.path = Path(path).resolve()
        self.snap_dir = self.path / "_snapshots"
        self.data_dir = self.path / "data"

    # -- commit log ---------------------------------------------------------

    def _versions(self) -> list[int]:
        if not self.snap_dir.exists():
            return []
        return sorted(
            int(p.stem[1:]) for p in self.snap_dir.glob("v*.json")
        )

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict[str, Any]:
        return json.loads((self.snap_dir / f"v{version}.json").read_text())

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _publish(self, manifest: dict[str, Any]) -> int:
        """Make ``manifest`` the snapshot of its version, atomically and at
        most once. The manifest is written in full to a temp file that is
        then hard-linked to ``v<version>.json``; the link fails if that
        name exists, so two writers that derived the same version from
        the same parent cannot overwrite each other (Iceberg's
        optimistic-concurrency rule). The loser gets ``CommitConflict``;
        its data files stay unreferenced until ``remove_orphans``."""
        version = manifest["version"]
        tmp = self.snap_dir / f".v{version}.json.tmp.{uuid.uuid4().hex[:6]}"
        tmp.write_text(json.dumps(manifest, indent=1))
        try:
            os.link(tmp, self.snap_dir / f"v{version}.json")
        except FileExistsError:
            raise CommitConflict(
                f"{self.path}: v{version} was published by another writer "
                f"(both read parent v{manifest['parent']})"
            ) from None
        finally:
            tmp.unlink()
        return version

    def commit(
        self,
        df: DataFrame,
        op: str = "append",
        meta: dict[str, Any] | None = None,
        dry_run: bool = False,
        post_write_meta: Any = None,
    ) -> int:
        """Write df as new data files and atomically publish a new snapshot.

        ``dry_run=True`` (S15, reference config.py:75-107): run the plan and
        count what would be committed, but write nothing — the table is
        untouched; returns the version that WOULD have been committed.

        ``post_write_meta``: optional callable ``(written: DataFrame) ->
        dict`` invoked AFTER the data write with a DataFrame re-read from
        the just-written files (so the input plan is never executed twice);
        its result is merged into the manifest's meta before the atomic
        publish. Use it to stash snapshot-static statistics (e.g. the
        seen-set shard table's summed blob bytes) that readers would
        otherwise recompute with a Spark job per use."""
        assert op in ("append", "overwrite")
        parent = self.latest_version()
        version = (parent + 1) if parent is not None else 0
        if dry_run:
            n = df.count()
            print(
                f"[dry-run] {self.path}: would commit v{version} "
                f"(op={op}, rows={n})"
            )
            return version
        self.snap_dir.mkdir(parents=True, exist_ok=True)
        file_dir = self.data_dir / f"v{version}-{uuid.uuid4().hex[:8]}"
        df.write.mode("errorifexists").parquet(str(file_dir))
        dirs = [str(file_dir)]
        if op == "append" and parent is not None:
            dirs = self._manifest(parent)["data_dirs"] + dirs
        meta = dict(meta or {})
        if post_write_meta is not None:
            # snapshot-static stats must describe the WHOLE snapshot; on an
            # append commit this closure would see only the delta files and
            # stash e.g. a shard_total_bytes far below reality — a reader
            # trusting it could broadcast a shard set past the 256 MB
            # cutover. Read every data dir of the new snapshot instead.
            meta.update(
                post_write_meta(df.sparkSession.read.parquet(*dirs))
            )
        manifest = {
            "version": version,
            "parent": parent,
            "op": op,
            "data_dirs": dirs,
            "committed_at": time.time(),
            "meta": meta,
        }
        return self._publish(manifest)

    # -- bucketed commits (partition-pruned MERGE support) -------------------

    def commit_bucketed(
        self,
        df: DataFrame,
        key: str,
        n_buckets: int,
        meta: dict[str, Any] | None = None,
        reuse_buckets: dict[int, list[str]] | None = None,
        bucket_mode: str = "replace",
    ) -> int:
        """Overwrite-commit with a hash-bucketed layout: rows land in
        ``_bucket=<b>`` subdirectories (b = bucket_of(key, n_buckets)), and
        the manifest records the per-bucket data dirs. ``reuse_buckets``
        carries UNTOUCHED buckets forward by reference — their data files
        are not rewritten, which is what makes merge_update /
        merge_array_union O(affected buckets) instead of O(table).

        bucket_mode: 'replace' — a bucket written here supersedes its reused
        dirs (copy-on-write MERGE rewrite); 'append' — new dirs ADD to the
        bucket's reused dirs (insert-only commits, create-if-absent).

        This is the explicit stand-in for Iceberg's bucket-partitioned
        MERGE INTO (copy-on-write rewrites only matching files)."""
        if bucket_mode not in ("replace", "append"):
            raise ValueError(f"bucket_mode must be replace|append, got {bucket_mode!r}")
        self.snap_dir.mkdir(parents=True, exist_ok=True)
        parent = self.latest_version()
        if parent is not None:
            pm = self._manifest(parent)
            if pm.get("bucket_key") not in (None, key):
                raise ValueError(
                    f"bucket key changed: {pm.get('bucket_key')!r} -> {key!r}"
                )
            if pm.get("n_buckets") not in (None, n_buckets):
                raise ValueError(
                    f"bucket count changed: {pm.get('n_buckets')} -> {n_buckets}"
                )
        version = (parent + 1) if parent is not None else 0
        file_dir = self.data_dir / f"v{version}-{uuid.uuid4().hex[:8]}"
        out = df.withColumn(BUCKET_COL, bucket_of(key, n_buckets))
        out.write.partitionBy(BUCKET_COL).mode("errorifexists").parquet(
            str(file_dir)
        )
        buckets: dict[str, list[str]] = {
            str(b): list(dirs) for b, dirs in (reuse_buckets or {}).items()
        }
        for p in sorted(Path(file_dir).glob(f"{BUCKET_COL}=*")):
            b = p.name.split("=", 1)[1]
            if bucket_mode == "append":
                buckets[b] = buckets.get(b, []) + [str(p)]
            else:
                buckets[b] = [str(p)]
        manifest = {
            "version": version,
            "parent": parent,
            "op": "overwrite",
            "data_dirs": [d for dirs in buckets.values() for d in dirs],
            "bucket_key": key,
            "n_buckets": n_buckets,
            "buckets": buckets,
            "committed_at": time.time(),
            "meta": meta or {},
        }
        return self._publish(manifest)

    def bucket_info(
        self, version: int | None = None
    ) -> tuple[str, int, dict[int, list[str]]] | None:
        """(bucket_key, n_buckets, {bucket: data dirs}) for a bucketed
        snapshot, or None for a plain table."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        m = self._manifest(v)
        if "buckets" not in m:
            return None
        return (
            m["bucket_key"],
            m["n_buckets"],
            {int(b): dirs for b, dirs in m["buckets"].items()},
        )

    # -- read ---------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        dirs = self._manifest(v)["data_dirs"]
        return spark.read.parquet(*dirs)

    def history(self) -> list[dict[str, Any]]:
        return [self._manifest(v) for v in self._versions()]

    # -- maintenance (Iceberg parity: expire_snapshots / remove_orphan_files /
    #    rollback / rewrite_data_files) --------------------------------------
    #
    # Single-maintainer assumption (like Iceberg's): maintenance runs from
    # one process at a time, not concurrently with itself. Writers are safe
    # concurrently with remove_orphans only via its ``older_than_s`` guard.

    def referenced_dirs(self, versions: list[int] | None = None) -> set[str]:
        """Union of data dirs referenced by the given (default: all
        committed) snapshots, as spelled in the manifests."""
        vs = self._versions() if versions is None else versions
        refs: set[str] = set()
        for v in vs:
            refs.update(self._manifest(v)["data_dirs"])
        return refs

    @staticmethod
    def _canon(d: str | Path) -> str:
        """Canonical spelling for path-identity comparisons: manifests
        record paths as spelled at commit time (relative to that process's
        cwd, through symlinks, ...), so liveness checks must resolve — a
        raw string compare would classify every live dir as an orphan when
        the table is reopened under a different spelling (review-pinned)."""
        return str(Path(d).resolve())

    def expire_snapshots(self, keep_last: int) -> dict[str, Any]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        dirs referenced ONLY by the dropped ones (append-log manifests carry
        their parents' dirs forward, so appends expire to pure metadata
        deletes; overwritten/rolled-back-over dirs are physically removed).

        Crash-safe ordering: expired MANIFESTS are deleted first (old
        versions disappear atomically, the surviving table is never
        touched), then the now-unreferenced data dirs — a crash in between
        leaves only orphan dirs, which ``remove_orphans`` collects.

        At 10^10-frontier scale this bounds the commit log of the per-round
        append tables (fetch log, metrics): without expiry every round adds
        a manifest forever. ``keep_last`` must cover the RESUME window of
        whatever reads the table: the crawl pipeline's crash-replay path
        reads the snapshot *before* the replayed round
        (pipeline._version_before_round), so crawl state needs
        keep_last >= 2 — which ``pipeline.maintain`` enforces; keep_last=1
        is only safe for tables nothing replays against."""
        import shutil

        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        vs = self._versions()
        expired, kept = vs[:-keep_last], vs[-keep_last:]
        keep_refs = {self._canon(d) for d in self.referenced_dirs(kept)}
        # Victims are identified AND deleted under the canonical spelling:
        # a pre-resolve manifest may record a cwd-relative dir, and deleting
        # via the manifest-spelled path from a different cwd would silently
        # strand it (exists() False) until a later remove_orphans.
        victims = {
            self._canon(d)
            for d in self.referenced_dirs(expired)
            if self._canon(d) not in keep_refs
        }
        for v in expired:
            (self.snap_dir / f"v{v}.json").unlink()
        deleted = []
        for d in sorted(victims):
            p = Path(d)
            if p.exists():
                shutil.rmtree(p)
                deleted.append(d)
            # a bucketed dir's parent v*-<hex> dir may now be empty
            parent = p.parent
            if (
                parent != self.data_dir
                and parent.exists()
                and not any(parent.iterdir())
            ):
                parent.rmdir()
        return {
            "expired_versions": expired,
            "kept_versions": kept,
            "deleted_dirs": deleted,
        }

    def remove_orphans(self, older_than_s: float = 0.0) -> list[str]:
        """Delete top-level data dirs referenced by NO committed snapshot —
        the debris of killed runs (``commit`` writes data files before the
        manifest publish, so a crash strands exactly one unreferenced dir)
        and of crash-interrupted ``expire_snapshots``.

        ``older_than_s`` skips dirs younger than the given age — the
        Iceberg ``remove_orphan_files(older_than)`` guard that keeps a
        CONCURRENT writer's not-yet-committed dir safe. Use an age
        comfortably above the longest plausible commit (hours in
        production; tests pass 0)."""
        import shutil

        refs = {self._canon(d) for d in self.referenced_dirs()}
        now = time.time()
        orphans: list[str] = []
        if not self.data_dir.exists():
            return orphans
        for top in sorted(self.data_dir.iterdir()):
            s = self._canon(top)
            if any(r == s or r.startswith(s + os.sep) for r in refs):
                continue
            if now - top.stat().st_mtime < older_than_s:
                continue
            shutil.rmtree(top)
            orphans.append(s)
        return orphans

    def rollback(self, to_version: int) -> int:
        """Publish a NEW snapshot that re-exposes ``to_version``'s data —
        resume-from-known-good without rewriting a byte (Iceberg
        ``rollback_to_snapshot``). History stays linear: the bad versions
        remain until expired, and the rollback is itself a commit with
        lineage metadata."""
        m = self._manifest(to_version)  # raises if expired/never existed
        parent = self.latest_version()
        version = parent + 1  # parent exists: _manifest(to_version) passed
        # carry the target's meta (review-pinned): the crawl pipeline's
        # next_round_id()/replay guards read lineage keys like "round" from
        # the latest manifest — a rollback that dropped them would reset a
        # resumed crawl to round 0 against still-populated logs
        meta = dict(m.get("meta", {}))
        meta["rolled_back_to"] = to_version
        manifest = {
            "version": version,
            "parent": parent,
            "op": "rollback",
            "data_dirs": m["data_dirs"],
            "committed_at": time.time(),
            "meta": meta,
        }
        for k in ("bucket_key", "n_buckets", "buckets"):
            if k in m:
                manifest[k] = m[k]
        return self._publish(manifest)

    def compact(
        self,
        spark: SparkSession,
        target_partitions: int | None = None,
        carry_meta_keys: tuple[str, ...] = (),
    ) -> int:
        """Rewrite the current snapshot into freshly-packed data files and
        commit the result (Iceberg ``rewrite_data_files``): the small-files
        answer for append-heavy logs, where a 10^4-round fetch log would
        otherwise drag 10^4 tiny dirs through every scan's file listing.
        Bucketed tables keep their (key, n_buckets) layout — one packed dir
        per bucket, merge ops unaffected. Row content is byte-identical;
        only the physical layout changes. Chain with ``expire_snapshots``
        to reclaim the superseded files."""
        v = self.latest_version()
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        m = self._manifest(v)
        df = self.read(spark)
        n_files_before = len(m["data_dirs"])
        meta = {"compacted_from": v, "dirs_before": n_files_before}
        # carry chosen lineage keys through (e.g. the crawl pipeline's
        # "round" replay guard — a compacted log must still answer "which
        # round produced the latest state")
        for k in carry_meta_keys:
            if k in m.get("meta", {}):
                meta[k] = m["meta"][k]
        if "buckets" in m:
            return self.commit_bucketed(
                df, m["bucket_key"], m["n_buckets"], meta=meta
            )
        if target_partitions is not None:
            df = df.repartition(target_partitions)
        return self.commit(df, op="overwrite", meta=meta)
