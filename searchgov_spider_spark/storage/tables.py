"""Checkpointed crawl-state storage (Iceberg-snapshot semantics on parquet).

The north_rule requires crawl state (frontier, seen-set shards) checkpointed
per round so a killed run resumes exactly.  Iceberg runtime jars are not a
dependency, so this module provides the same semantics with
parquet round-directories plus an atomically-renamed ``manifest.json`` per
round (SURVEY.md §7.1 step 7): a round is committed iff its manifest exists,
and resume reads the highest committed round.  The writer interface is kept
narrow so an Iceberg-backed implementation can drop in (append/overwrite +
snapshot tag per round).

Layout:
    <root>/round_00000/frontier/        parquet (unfetched frontier entries)
    <root>/round_00000/documents/       parquet (this round's extracted docs)
    <root>/round_00000/manifest.json    commit marker {round, next_seq, counts}
    <root>/seen/round_00000/            parquet delta of newly-seen url hashes
                                        (only rounds whose budget bound)
    <root>/seen/seed/                   bootstrap seeds (round 0's frontier),
                                        later the compacted set with its
                                        _BUCKETS marker

The directories alone define the seen set (``_seen_paths``): the seed dir,
then for every round after the compaction watermark (``upto_round`` in the
``_BUCKETS`` marker, -1 before any compaction) ``seen/round_N`` if it
exists, else ``round_N/frontier``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CheckpointCorrupt(RuntimeError):
    """A committed round's data files diverge from their manifest lineage."""


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def round_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round_{rnd:05d}")

    def manifest_path(self, rnd: int) -> str:
        return os.path.join(self.round_dir(rnd), "manifest.json")

    def seen_delta_dir(self, rnd: int) -> str:
        return os.path.join(self.root, "seen", f"round_{rnd:05d}")

    def seed_seen_dir(self) -> str:
        """The bootstrap's admitted seeds: round 0's frontier and the seeds'
        seen delta (later the compacted seen set)."""
        return os.path.join(self.root, "seen", "seed")

    # -- write ----------------------------------------------------------------
    def write_table(self, df: DataFrame, rnd: int, name: str) -> str:
        path = os.path.join(self.round_dir(rnd), name)
        df.write.mode("overwrite").parquet(path)
        return path

    def write_seen_delta(self, df: DataFrame, rnd: int) -> str:
        path = self.seen_delta_dir(rnd)
        df.write.mode("overwrite").parquet(path)
        return path

    def _dir_lineage(self, tdir: str) -> dict | None:
        """Per-file lineage of one parquet directory: (name, bytes, rows) per
        data file, rows read from the parquet footer (driver-local metadata
        read, no Spark job — the same information an Iceberg manifest file
        records per data file)."""
        import pyarrow.parquet as pq

        if not os.path.isdir(tdir):
            return None
        files = []
        for fn in sorted(os.listdir(tdir)):
            if fn.endswith(".parquet"):
                fp = os.path.join(tdir, fn)
                files.append(
                    {
                        "file": fn,
                        "bytes": os.path.getsize(fp),
                        "rows": pq.read_metadata(fp).num_rows,
                    }
                )
        return {
            "files": files,
            "rows": sum(f["rows"] for f in files),
            "bytes": sum(f["bytes"] for f in files),
        }

    def round_lineage(self, rnd: int) -> dict:
        """Lineage of every table this round wrote (incl. its seen delta)."""
        lineage = {}
        rd = self.round_dir(rnd)
        if os.path.isdir(rd):
            for name in sorted(os.listdir(rd)):
                entry = self._dir_lineage(os.path.join(rd, name))
                if entry is not None:
                    lineage[name] = entry
        seen = self._dir_lineage(self.seen_delta_dir(rnd))
        if seen is not None:
            lineage["seen_delta"] = seen
        return lineage

    def commit_round(self, rnd: int, manifest: dict) -> None:
        """Atomic commit: manifest written to a temp file then renamed.

        The manifest carries per-partition LINEAGE (file name, bytes, footer
        row count for every data file of every table the round wrote) — the
        Iceberg-snapshot-manifest analog the north_rule asks for, and what
        ``verify_round`` checks before a resume trusts the checkpoint."""
        tmp = self.manifest_path(rnd) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"round": rnd, **manifest, "lineage": self.round_lineage(rnd)}, f)
        os.replace(tmp, self.manifest_path(rnd))

    def verify_round(self, rnd: int) -> None:
        """Integrity check before resuming from round ``rnd``: every data
        file recorded in the committed lineage must still exist with the
        committed byte size.  Raises ``CheckpointCorrupt`` naming the first
        divergent file — resuming from a truncated/overwritten checkpoint
        would silently corrupt the visited set, which violates the
        north_rule's resume-exactness guarantee.  Size-only by design: a
        driver-side stat per file, no data read, no Spark job."""
        manifest = self.read_manifest(rnd)
        lineage = manifest.get("lineage")
        if lineage is None:  # pre-lineage checkpoint (older layout): nothing to check
            return
        for table, entry in lineage.items():
            base = (
                self.seen_delta_dir(rnd)
                if table == "seen_delta"
                else os.path.join(self.round_dir(rnd), table)
            )
            if not os.path.isdir(base):
                # whole table dir absent = declared GC (compact_seen merges
                # delta dirs away, expire_rounds drops old frontier payloads);
                # partial damage inside an EXISTING dir is what corruption
                # looks like, and is never legitimate
                continue
            for f in entry["files"]:
                fp = os.path.join(base, f["file"])
                if not os.path.exists(fp):
                    raise CheckpointCorrupt(f"round {rnd}: missing data file {fp}")
                size = os.path.getsize(fp)
                if size != f["bytes"]:
                    raise CheckpointCorrupt(
                        f"round {rnd}: {fp} is {size} bytes, manifest committed {f['bytes']}"
                    )

    def drop_uncommitted(self, rnd: int) -> None:
        """Remove a partially-written round (crash cleanup before rerun)."""
        if not os.path.exists(self.manifest_path(rnd)):
            shutil.rmtree(self.round_dir(rnd), ignore_errors=True)
            shutil.rmtree(self.seen_delta_dir(rnd), ignore_errors=True)

    # -- read -----------------------------------------------------------------
    def committed_rounds(self) -> list[int]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for entry in sorted(os.listdir(self.root)):
            if entry.startswith("round_"):
                rnd = int(entry.split("_")[1])
                if os.path.exists(self.manifest_path(rnd)):
                    out.append(rnd)
        return out

    def last_committed(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def read_manifest(self, rnd: int) -> dict:
        with open(self.manifest_path(rnd)) as f:
            return json.load(f)

    @staticmethod
    def _parquet(spark: SparkSession, *paths: str) -> DataFrame:
        """``spark.read.parquet(*paths)`` with the schema taken from the
        first data file's footer, read on the driver with pyarrow like
        ``_dir_lineage``: the Spark schema every Spark parquet write stores
        there, which is what Spark's own inference returns, without the
        one-task inference job it would start.  Files without it (not
        written by Spark) fall back to that inference."""
        import pyarrow.parquet as pq

        first = next(
            (os.path.join(p, fn) for p in paths for fn in sorted(os.listdir(p)) if fn.endswith(".parquet")),
            None,
        )
        meta = (pq.read_schema(first).metadata or {}) if first is not None else {}
        spark_schema = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        reader = spark.read if spark_schema is None else spark.read.schema(StructType.fromJson(json.loads(spark_schema)))
        return reader.parquet(*paths)

    def read_table(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        """Round ``rnd``'s ``name`` table.  Round -1's frontier is the seed
        dir: the bootstrap's admitted seeds are round 0's frontier."""
        if rnd < 0 and name == "frontier":
            return self._parquet(spark, self.seed_seen_dir())
        return self._parquet(spark, os.path.join(self.round_dir(rnd), name))

    SEEN_COLS = ["url_hash", "url_canon", "depth", "seq"]

    def _seen_paths(self, upto_round: int, include_seed: bool = True) -> list[str]:
        """The directories holding the seen set through ``upto_round``: the
        seed dir (bootstrap seeds, or the compacted set once ``compact_seen``
        has run), then for each round after the compaction watermark its
        seen delta if it has one, else its frontier dir.  Existence alone
        decides, with no manifest read: a round's frontier equals its new
        admits exactly when the round writes no separate delta."""
        info = self.bucketed_seen_info()
        start = info["upto_round"] + 1 if info is not None else 0
        paths = [self.seed_seen_dir()] if include_seed and os.path.isdir(self.seed_seen_dir()) else []
        for r in range(start, upto_round + 1):
            for p in (self.seen_delta_dir(r), os.path.join(self.round_dir(r), "frontier")):
                if os.path.isdir(p):
                    paths.append(p)
                    break
        return paths

    def read_seen(
        self,
        spark: SparkSession,
        upto_round: int,
        exclude_compacted: bool = False,
    ) -> DataFrame | None:
        """The seen set through ``upto_round``, read from ``_seen_paths``.

        A round whose budget did not bind (politeness fast path) writes no
        seen delta: its next frontier is exactly its new admits, so its
        frontier dir doubles as the delta.  The rule reads directories, not
        manifests; callers pass the last committed round (the engine reads
        the seen set through round N-1 at the start of round N), so a
        crashed round's leftover dirs sit above it and are never read.
        The seed dir holds the bootstrap's frontier columns (it is round
        0's frontier); the select keeps ``SEEN_COLS``.

        ``exclude_compacted=True`` skips the seed dir — the engine uses it
        once the compacted set is read separately as a BUCKETED table
        (``read_seen_bucketed``), so only the post-compaction deltas union
        here.  The bucketed files are plain parquet, so the default
        (include) path reads the full set regardless of layout.

        The schema comes from the first data file's footer (``_parquet``),
        so building the view starts no Spark job.  Spark's own inference
        reads one footer too (no schema merging), so the schema is the same:
        a delta written with int64 ``depth`` still reads as written.
        """
        paths = self._seen_paths(upto_round, include_seed=not exclude_compacted)
        if not paths:
            return None
        return self._parquet(spark, *paths).select(*self.SEEN_COLS)

    # -- bucketed seen table (F7 at 10^10 scale) --------------------------------

    BUCKET_MARKER = "_BUCKETS"

    def _bucketed_table_name(self) -> str:
        import hashlib

        return "seen_bucketed_" + hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:10]

    def bucketed_seen_info(self) -> dict | None:
        """The ``_BUCKETS`` marker of the compacted seen set or None before
        the first compaction: ``buckets`` and ``bucket_cols`` of the layout,
        and ``upto_round``, the compaction watermark — the seed dir covers
        every round up to it, so ``_seen_paths`` reads only later rounds."""
        marker = os.path.join(self.seed_seen_dir(), self.BUCKET_MARKER)
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            return json.load(f)

    def read_seen_bucketed(self, spark: SparkSession) -> DataFrame | None:
        """The compacted seen set as a BUCKETED table scan, or None before
        the first compaction.

        ``compact_seen`` writes the seed dir with Spark's bucketed-file
        layout (bucket id encoded in each file name, rows hash-distributed
        and sorted by the anti-join keys (url_hash, url_canon)) and drops a
        ``_BUCKETS`` marker.  This re-registers an external bucketed table
        over that directory, so the scan's output partitioning is
        HashPartitioning(url_hash, url_canon, N) straight off disk — the
        dedup anti-join's seen side then needs NO Exchange (and no sort,
        buckets are sorted): only the bloom-surviving candidate slice
        shuffles.  At the 10^10-URL design point this removes the engine's
        dominant recurring shuffle (DESIGN.md's seen-table gap; the
        reference's Redis SET probe is the O(1) analog,
        job_state/dupefilter.py:8-25).

        DROP+CREATE per call keeps the catalog entry and its file-listing
        cache in sync with the directory contents after compaction swaps.
        """
        info = self.bucketed_seen_info()
        if info is None:
            return None
        keys = ", ".join(info["bucket_cols"])
        tbl = self._bucketed_table_name()
        loc = os.path.abspath(self.seed_seen_dir())
        schema = self._parquet(spark, loc).schema
        cols = ", ".join(f"{fld.name} {fld.dataType.simpleString()}" for fld in schema.fields)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING parquet "
            f"CLUSTERED BY ({keys}) SORTED BY ({keys}) "
            f"INTO {info['buckets']} BUCKETS LOCATION '{loc}'"
        )
        return spark.table(tbl)

    # -- maintenance ------------------------------------------------------------
    def compact_seen(self, spark: SparkSession, upto_round: int, buckets: int = 32) -> int:
        """Merge the seen set through ``upto_round`` (``_seen_paths``) into
        one hash-BUCKETED parquet table that replaces the seed dir, and
        remove the merged seen-delta dirs.  A frontier dir that served as a
        delta stays: it is still its round's frontier.

        Bounds file-count growth over long crawls (SURVEY.md §2.7 T2 /
        DESIGN.md known gap) AND writes the result in Spark's bucketed-file
        layout (bucket id per file name, sorted within buckets) plus a
        ``_BUCKETS`` marker, so subsequent rounds' dedup anti-joins read the
        seen side pre-partitioned with no Exchange (``read_seen_bucketed``).
        The marker records ``upto_round`` as the watermark below which
        ``_seen_paths`` reads no round dir.  Safe ordering: the compacted
        set is written to a temp dir, atomically swapped in as the seed dir,
        and only then are the old delta dirs removed — from the swap on the
        watermark hides them, so a crash at any later point leaves the same
        seen set.  The bucketed files are plain parquet, so every
        non-bucketed reader (``read_seen``, resume equivalence) is
        unaffected.  Returns the number of delta dirs merged.
        """
        from pyspark.sql import functions as F

        merged = self._seen_paths(upto_round, include_seed=False)
        seen = self.read_seen(spark, upto_round)
        if seen is None:
            return 0
        tmp = self.seed_seen_dir() + ".compact"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp_tbl = self._bucketed_table_name() + "_compacting"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        # bucket on BOTH anti-join keys: Spark's co-partition check requires
        # the bucket spec to cover every join key (requireAllClusterKeysFor-
        # CoPartition), so (url_hash, url_canon) buckets are what lets the
        # join consume the scan's partitioning with no Exchange
        (
            seen.repartition(buckets, F.col("url_hash"), F.col("url_canon"))
            .write.mode("overwrite")
            .bucketBy(buckets, "url_hash", "url_canon")
            .sortBy("url_hash", "url_canon")
            .option("path", tmp)
            .saveAsTable(tmp_tbl)
        )
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")  # external table: files remain
        with open(os.path.join(tmp, self.BUCKET_MARKER), "w") as f:
            json.dump({"buckets": buckets, "bucket_cols": ["url_hash", "url_canon"], "upto_round": upto_round}, f)
        old_seed = self.seed_seen_dir() + ".old"
        shutil.rmtree(old_seed, ignore_errors=True)
        if os.path.isdir(self.seed_seen_dir()):
            os.replace(self.seed_seen_dir(), old_seed)
        os.replace(tmp, self.seed_seen_dir())
        shutil.rmtree(old_seed, ignore_errors=True)
        for p in merged:
            if os.path.basename(p) != "frontier":
                shutil.rmtree(p, ignore_errors=True)
        return len(merged)

    def expire_rounds(self, keep_last: int) -> int:
        """Orphan-state GC (T2, reference SCHEDULER_KEY_ORPHAN_AGE):
        drop the frontier payloads of rounds older than the last
        ``keep_last`` committed rounds, except a frontier dir that still
        holds part of the seen set (``_seen_paths``).  Documents and
        manifests are kept (they are the output / audit trail); resume only
        ever needs the last committed round, so ``keep_last`` is clamped to
        >= 1 — the last committed round's frontier is always retained.
        Returns the number of directories removed.
        """
        keep_last = max(1, keep_last)
        rounds = self.committed_rounds()
        if not rounds:
            return 0
        live = set(self._seen_paths(rounds[-1], include_seed=False))
        removed = 0
        for r in rounds[:-keep_last]:
            p = os.path.join(self.round_dir(r), "frontier")
            if os.path.isdir(p) and p not in live:
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    def read_documents(self, spark: SparkSession, upto_round: int | None = None) -> DataFrame | None:
        last = self.last_committed() if upto_round is None else upto_round
        if last is None:
            return None
        paths = []
        for r in range(last + 1):
            p = os.path.join(self.round_dir(r), "documents")
            if os.path.isdir(p) and os.path.exists(self.manifest_path(r)):
                paths.append(p)
        if not paths:
            return None
        return self._parquet(spark, *paths)
