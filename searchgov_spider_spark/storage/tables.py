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
    <root>/round_00000/frontier/        parquet (this round's new admits: its
                                        seen delta)
    <root>/round_00000/deferred/        parquet (frontier rows a binding
                                        budget left unselected; only rounds
                                        whose budget bound)
    <root>/round_00000/documents/       parquet (this round's extracted docs)
    <root>/round_00000/manifest.json    commit marker {round, next_seq, counts}
    <root>/seen/seed/                   bootstrap seeds (round 0's frontier),
                                        later the compacted set with its
                                        _BUCKETS marker; its _LINEAGE file
                                        records its data files either way

Round N+1's frontier is round N's ``frontier`` plus its ``deferred``
(``read_frontier``).  The directories alone define the seen set
(``_seen_paths``): the seed dir, then ``round_N/frontier`` for every round
after the compaction watermark (``upto_round`` in the ``_BUCKETS`` marker,
-1 before any compaction).
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
        """Round ``rnd``'s seen delta: its frontier dir (its new admits)."""
        return os.path.join(self.round_dir(rnd), "frontier")

    def seed_seen_dir(self) -> str:
        """The bootstrap's admitted seeds: round 0's frontier and the seeds'
        seen delta (later the compacted seen set)."""
        return os.path.join(self.root, "seen", "seed")

    # -- write ----------------------------------------------------------------
    def write_table(self, df: DataFrame, rnd: int, name: str) -> str:
        path = os.path.join(self.round_dir(rnd), name)
        df.write.mode("overwrite").parquet(path)
        return path

    def write_seeds(self, df: DataFrame) -> None:
        """Write the bootstrap's admitted seeds as the seed dir, with its
        lineage.  One file: every seen-set read scans the seed dir, and a
        file per input slice would add tasks to each of them."""
        df.coalesce(1).write.mode("overwrite").parquet(self.seed_seen_dir())
        self._record_lineage(self.seed_seen_dir())

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

    LINEAGE_FILE = "_LINEAGE"

    def _record_lineage(self, tdir: str) -> None:
        """Store ``_dir_lineage(tdir)`` in ``tdir`` (the seed dir is in no
        round's manifest); Spark's readers skip ``_``-prefixed files."""
        with open(os.path.join(tdir, self.LINEAGE_FILE), "w") as f:
            json.dump(self._dir_lineage(tdir), f)

    def round_lineage(self, rnd: int) -> dict:
        """Lineage of every table this round wrote (its round dir)."""
        lineage = {}
        rd = self.round_dir(rnd)
        if os.path.isdir(rd):
            for name in sorted(os.listdir(rd)):
                entry = self._dir_lineage(os.path.join(rd, name))
                if entry is not None:
                    lineage[name] = entry
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
            base = os.path.join(self.round_dir(rnd), table)
            if not os.path.isdir(base):
                # whole table dir absent = declared GC (expire_rounds drops
                # old frontier and deferred payloads); partial damage inside
                # an EXISTING dir is what corruption looks like, and is never
                # legitimate
                continue
            self._verify_files(f"round {rnd}", base, entry["files"])

    @staticmethod
    def _verify_files(label: str, base: str, files: list[dict]) -> None:
        """Raise ``CheckpointCorrupt`` naming the first of ``files`` (lineage
        entries of directory ``base``) that is missing or has another size."""
        for f in files:
            fp = os.path.join(base, f["file"])
            if not os.path.exists(fp):
                raise CheckpointCorrupt(f"{label}: missing data file {fp}")
            size = os.path.getsize(fp)
            if size != f["bytes"]:
                raise CheckpointCorrupt(f"{label}: {fp} is {size} bytes, lineage recorded {f['bytes']}")

    def verify_resume(self, last: int) -> None:
        """Check everything a resume from round ``last`` reads: the seed dir
        (round 0's frontier, later the compacted seen set) against its
        ``_LINEAGE``, written by the bootstrap or the last ``compact_seen``;
        then, with ``verify_round``, each round whose frontier dir is part
        of the seen set (after the compaction watermark), and ``last``,
        whose frontier and deferred dirs are the next round's frontier.
        Driver-side file stats only, no Spark job."""
        seed = self.seed_seen_dir()
        if not os.path.isdir(seed):
            raise CheckpointCorrupt(f"missing seed dir {seed}")
        lineage = os.path.join(seed, self.LINEAGE_FILE)
        if os.path.exists(lineage):  # a seed dir written before the file existed has none
            with open(lineage) as f:
                self._verify_files("seed dir", seed, json.load(f)["files"])
        for rnd in range(min(self._first_delta_round(), last), last + 1):
            self.verify_round(rnd)

    def drop_uncommitted(self, rnd: int) -> None:
        """Remove a partially-written round (crash cleanup before rerun)."""
        if not os.path.exists(self.manifest_path(rnd)):
            shutil.rmtree(self.round_dir(rnd), ignore_errors=True)

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
        return self._parquet(spark, os.path.join(self.round_dir(rnd), name))

    def read_frontier(self, spark: SparkSession, rnd: int) -> DataFrame:
        """The frontier round ``rnd`` leaves to round ``rnd + 1``: its new
        admits and, when its budget bound, its deferred rows.  Round -1's
        is the seed dir: the bootstrap's admitted seeds are round 0's
        frontier."""
        if rnd < 0:
            return self._parquet(spark, self.seed_seen_dir())
        tables = (os.path.join(self.round_dir(rnd), name) for name in ("frontier", "deferred"))
        return self._parquet(spark, *(p for p in tables if os.path.isdir(p)))

    SEEN_COLS = ["url_hash", "url_canon", "depth", "seq"]

    def _first_delta_round(self) -> int:
        """The first round whose frontier dir is part of the seen set: the
        one after the compaction watermark, 0 before any compaction."""
        info = self.bucketed_seen_info()
        return info["upto_round"] + 1 if info is not None else 0

    def _seen_paths(self, upto_round: int, include_seed: bool = True) -> list[str]:
        """The directories holding the seen set through ``upto_round``: the
        seed dir (bootstrap seeds, or the compacted set once ``compact_seen``
        has run), then the frontier dir (new admits) of each round after the
        compaction watermark.  Existence alone decides, with no manifest
        read."""
        seed = [self.seed_seen_dir()] if include_seed else []
        deltas = (self.seen_delta_dir(r) for r in range(self._first_delta_round(), upto_round + 1))
        return [p for p in (*seed, *deltas) if os.path.isdir(p)]

    def read_seen(
        self,
        spark: SparkSession,
        upto_round: int,
        exclude_compacted: bool = False,
    ) -> DataFrame | None:
        """The seen set through ``upto_round``, read from ``_seen_paths``.

        Every round's frontier dir holds its new admits and only those (a
        binding budget's unselected rows go to its ``deferred`` dir), so the
        frontier dir is the round's seen delta.  The rule reads
        directories, not manifests; callers pass the last committed round
        (the engine reads the seen set through round N-1 at the start of
        round N), so a crashed round's leftover dirs sit above it and are
        never read.
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
        one hash-BUCKETED parquet table that replaces the seed dir.  The
        merged frontier dirs stay (the last one is the next round's input);
        from the swap on the watermark hides them from the seen set, and
        ``expire_rounds`` may drop them.

        Bounds the seen read's path count over long crawls (SURVEY.md §2.7
        T2 / DESIGN.md known gap) AND writes the result in Spark's bucketed-file
        layout (bucket id per file name, sorted within buckets) plus a
        ``_BUCKETS`` marker, so subsequent rounds' dedup anti-joins read the
        seen side pre-partitioned with no Exchange (``read_seen_bucketed``).
        The marker records ``upto_round`` as the watermark below which
        ``_seen_paths`` reads no round dir.  Safe ordering: the compacted
        set is written to a temp dir and renamed in as the seed dir, and no
        merged round dir is removed, so a crash before the swap leaves the
        old seen set and one after it the same set compacted.  The bucketed
        files are plain parquet, so every non-bucketed reader
        (``read_seen``, resume equivalence) is unaffected.  Returns the
        number of delta dirs merged.
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
        self._record_lineage(tmp)
        old_seed = self.seed_seen_dir() + ".old"
        shutil.rmtree(old_seed, ignore_errors=True)
        if os.path.isdir(self.seed_seen_dir()):
            os.replace(self.seed_seen_dir(), old_seed)
        os.replace(tmp, self.seed_seen_dir())
        shutil.rmtree(old_seed, ignore_errors=True)
        return len(merged)

    def expire_rounds(self, keep_last: int) -> int:
        """Orphan-state GC (T2, reference SCHEDULER_KEY_ORPHAN_AGE):
        drop the deferred and frontier payloads of rounds older than the
        last ``keep_last`` committed rounds, except a frontier dir that
        still holds part of the seen set (``_seen_paths``): before any
        compaction that is every frontier dir.  Documents and manifests are
        kept (they are the output / audit trail); resume reads the seen set
        and only the last committed round's frontier, so ``keep_last`` is
        clamped to >= 1 — the last committed round's frontier and deferred
        dirs are always retained.  Returns the number of directories
        removed.
        """
        keep_last = max(1, keep_last)
        rounds = self.committed_rounds()
        if not rounds:
            return 0
        live = set(self._seen_paths(rounds[-1], include_seed=False))
        removed = 0
        for r in rounds[:-keep_last]:
            for name in ("frontier", "deferred"):
                p = os.path.join(self.round_dir(r), name)
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
