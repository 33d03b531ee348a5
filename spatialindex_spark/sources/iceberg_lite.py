"""Iceberg-style table layout: snapshots, manifests, per-partition lineage,
checkpoint-resume. (No Iceberg runtime jar exists in this environment, so the
layout is implemented in-repo — SURVEY.md env facts.)

Directory layout:

    <table>/
      data/bucket=<k>/*.parquet     # cell-range buckets, Z-order-contiguous
      metadata/
        lineage.d/bucket-<k>.json   # commit log: one atomic marker/bucket
        lineage.jsonl               # legacy append-WAL (read-compat only)
        snapshot-<n>.json           # manifest snapshot (committed buckets)
        current.json                # pointer to the latest snapshot

Buckets are fixed-width slices of the cell-ID space, so each bucket holds a
*contiguous* Z-order cell range — the directory level IS the coarse index
(the B-tree analogue of reference README.md:13-23): a covering's ranges map
straight to bucket dirs, giving partition pruning before parquet row-group
stats even load.

Checkpoint-resume: ``write`` stages every unmarked bucket in one Spark pass
(one shuffle on the bucket, so each bucket lands as one file) into a private
directory, then, per bucket, CLAIMS it with an atomic directory rename into
data/ and publishes a lineage marker (bucket, cell range, row count,
checksum) with an atomic file replace. A re-run skips every bucket already
marked — partially-completed tile-assignment jobs resume idempotently
(north-rule requirement), and a finished table re-runs without a Spark job.
Same-host writers are additionally SERIALIZED with an advisory flock on
metadata/write.lock (held for the whole write; released automatically on
process death), so the startup cleanup of unmarked bucket dirs can never
race a live writer's rename-then-mark window (r3 advice fix) — two resumers
racing the same crash recover without duplicate or torn state (tested with
concurrent threads). The rename-claim protocol remains in place beneath the
lock as defense in depth for shared filesystems where flock is unreliable
(exactly one claim rename wins per bucket; the loser discards its staging
copy). The final snapshot is the compacted commit log, itself
rename-committed. ``append_batch`` (streaming) and ``compact`` commit
through the same lock, staging, stats and atomic-JSON routines.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


def _cell_space(system: str, level: int) -> tuple[int, int]:
    """[min, max) of the id space for a cell system at a level."""
    if system == "htm":
        return 8 << (2 * level), 16 << (2 * level)
    if system == "hpx":
        return 0, 12 << (2 * level)
    if system == "s2":
        return 0, 6 << (2 * level)
    raise ValueError(f"unknown system {system!r}")


def _write_json(final: str, payload: dict) -> None:
    """Atomically publish ``payload`` as the JSON file ``final`` (tmp +
    fsync + os.replace): a reader sees the whole file or none of it."""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = final + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(json.dumps(payload))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)


class IcebergLiteTable:
    def __init__(self, path: str, cell_col: str = "spt_ind",
                 system: str = "htm", level: int = 7, num_buckets: int = 64):
        self.path = path
        self.cell_col = cell_col
        self.system = system
        self.level = level
        self.num_buckets = num_buckets
        self.lo, self.hi = _cell_space(system, level)
        # bucket_expr computes (cell - lo) * num_buckets in int64; past
        # this bound it overflows for VALID in-space ids (ANSI Spark
        # raises per-row mid-write; non-ANSI wraps to a negative bucket
        # the claim loop never picks up = silent row loss). Fail at
        # construction instead — deep-level tables must coarsen the
        # bucket key or reduce num_buckets.
        if (self.hi - self.lo - 1) * num_buckets >= 2 ** 63:
            raise ValueError(
                f"{system} level {level} with {num_buckets} buckets "
                "overflows the int64 bucket expression — use a coarser "
                "level (or fewer buckets)")
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        self.wal_path = os.path.join(self.meta_dir, "lineage.jsonl")
        # commit-log dir: one atomically-renamed marker file per bucket —
        # lifts the r2 single-posix-writer WAL assumption (interleaved
        # appends from racing resumers could tear jsonl lines; rename is
        # atomic on POSIX and on object stores with atomic rename)
        self.lineage_dir = os.path.join(self.meta_dir, "lineage.d")
        # streaming appends: data-stream/batch=<id>/bucket=<k>/*.parquet
        # plus one atomic marker per micro-batch (metadata/batches.d)
        self.stream_dir = os.path.join(path, "data-stream")
        self.batches_dir = os.path.join(self.meta_dir, "batches.d")

    # -- bucket math --------------------------------------------------------
    def bucket_expr(self):
        """Bucket id, failing LOUDLY on null or out-of-id-space cells: an
        unclamped expression sent nulls to the last bucket (F.least skips
        nulls) and below-range ids to negative buckets no claim ever picked
        up — silent row loss in a checksummed, resumable layout."""
        span = self.hi - self.lo
        cell = F.col(self.cell_col)
        raw = ((cell - F.lit(self.lo)) * self.num_buckets / F.lit(span)) \
            .cast("long")
        bad = cell.isNull() | (cell < self.lo) | (cell >= self.hi)
        return F.when(
            bad,
            F.raise_error(F.format_string(
                f"cell id %s outside the {self.system} level-{self.level} "
                f"id space [{self.lo}, {self.hi})", cell.cast("string")))
        ).otherwise(F.least(F.lit(self.num_buckets - 1), raw))

    def bucket_of_cell(self, cell: int) -> int:
        span = self.hi - self.lo
        return min(self.num_buckets - 1, (cell - self.lo) * self.num_buckets // span)

    def buckets_for_ranges(self, ranges: list[list[int]]) -> list[int]:
        """Covering ranges -> bucket ids to read (partition pruning)."""
        out = set()
        for lo, hi in ranges:
            out.update(range(self.bucket_of_cell(lo), self.bucket_of_cell(hi) + 1))
        return sorted(out)

    # -- commit primitives ---------------------------------------------------
    @contextlib.contextmanager
    def _locked(self):
        """Hold the table's write lock: an advisory, blocking flock on
        metadata/write.lock, released when the file closes (also on process
        death, so a crashed writer never wedges the table). It serializes
        same-host writers: without it, resumer B's startup cleanup could
        delete a bucket dir that live writer A renamed into place but had
        not yet marked, and A would publish a marker for data that no
        longer exists (silent row loss)."""
        os.makedirs(self.meta_dir, exist_ok=True)
        with open(os.path.join(self.meta_dir, "write.lock"), "w") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            yield

    @contextlib.contextmanager
    def _staged(self, df: DataFrame):
        """Write ``df`` (carrying its ``bucket`` column) into a fresh
        private staging dir, partitioned by bucket with rows sorted by
        (bucket, cell): the dynamic-partition writer requires a bucket
        ordering and would otherwise re-sort by bucket alone, destroying
        the cell clustering that row-group pruning needs. Yields the dir;
        whatever the caller did not rename out of it is removed on exit,
        also when the caller raises. The name has no leading dot or
        underscore: Spark's path filter hides such names, so the stats
        read of a ``.stage-`` dir logged "All paths were ignored"."""
        stage = os.path.join(self.path, f"stage-{uuid.uuid4().hex}")
        try:
            (df.sortWithinPartitions("bucket", self.cell_col)
               .write.mode("overwrite").partitionBy("bucket").parquet(stage))
            yield stage
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _bucket_stats(self, spark: SparkSession, path: str) -> dict[int, dict]:
        """Lineage stats of each ``bucket=<k>`` dir under ``path``: row
        count, cell range and the additive crc32 checksum of the cell ids,
        from one aggregation over the files. {} when no bucket has rows."""
        if not any(d.startswith("bucket=") for d in os.listdir(path)):
            return {}
        keys = ("bucket", "row_count", "cell_min", "cell_max", "checksum")
        rows = (spark.read.option("basePath", path).parquet(path)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("row_count"),
                     F.min(self.cell_col).alias("cell_min"),
                     F.max(self.cell_col).alias("cell_max"),
                     F.sum(F.crc32(F.col(self.cell_col).cast("string")))
                     .alias("checksum"))
                .collect())
        return {int(r["bucket"]): {k: int(r[k]) for k in keys} for r in rows}

    @staticmethod
    def _marker(bucket: int, stats: dict[int, dict]) -> dict:
        """Lineage marker of ``bucket``: its stats, or an empty bucket."""
        st = stats.get(bucket) or {"bucket": bucket, "row_count": 0,
                                   "cell_min": None, "cell_max": None,
                                   "checksum": 0}
        return {**st, "status": "committed", "ts": time.time()}

    @staticmethod
    def _check_columns(df: DataFrame) -> None:
        """The layout owns the ``bucket`` and ``batch`` partition columns:
        an input column of either name would be overwritten by the bucket
        ids or break the stream read, so it is refused up front."""
        clash = [c for c in df.columns if c.lower() in ("bucket", "batch")]
        if clash:
            raise ValueError(
                f"input columns {clash} collide with the table's partition "
                "columns (bucket, batch); rename them before writing")

    # -- lineage commit log -------------------------------------------------
    def committed_buckets(self) -> dict[int, dict]:
        done = {}
        # legacy append-WAL (read-compat for tables written before r3)
        if os.path.exists(self.wal_path):
            with open(self.wal_path) as f:
                for line in f:
                    row = json.loads(line)
                    if row.get("status") == "committed":
                        done[row["bucket"]] = row
        # commit-log dir: one marker per bucket, atomically renamed into
        # place — a marker either exists complete or not at all
        if os.path.isdir(self.lineage_dir):
            for name in os.listdir(self.lineage_dir):
                if name.startswith("bucket-") and name.endswith(".json"):
                    with open(os.path.join(self.lineage_dir, name)) as f:
                        row = json.loads(f.read())
                    done[row["bucket"]] = row
        return done

    def _commit_bucket(self, row: dict) -> None:
        """Atomically publish one bucket's lineage marker. Racing writers
        of the same bucket produce identical content, so
        last-replace-wins is idempotent."""
        _write_json(os.path.join(self.lineage_dir,
                                 f"bucket-{row['bucket']}.json"), row)

    # -- write with checkpoint-resume --------------------------------------
    #: staging dirs older than this are presumed crash leftovers. Far above
    #: any realistic stage write (the previous 60 s threshold was shorter
    #: than a typical Spark stage, so a late-starting resumer could delete
    #: a LIVE writer's in-progress staging dir — r3 advice fix; with the
    #: write lock this now only ever fires on true crash debris).
    STALE_STAGE_SECS = 6 * 3600

    def write(self, df: DataFrame) -> dict:
        """Write/resume the table; buckets already marked are skipped.

        Every unmarked bucket is staged by ONE Spark write that shuffles
        once on the bucket, so each bucket is one task and one file; the
        buckets are then claimed and marked one by one. A crash in the
        claim loop resumes bucket by bucket; a crash inside the stage
        write redoes that write (its files are private). A finished table
        re-runs without a Spark job. Returns the snapshot dict."""
        self._check_columns(df)
        with self._locked():
            # re-read under the lock: a writer that held the lock before
            # us may have committed buckets after our constructor ran
            done = self.committed_buckets()
            # crash leftovers: (a) bucket dirs that were renamed into place
            # but whose marker never landed, (b) stale staging dirs. Both
            # are re-creatable from the source, so delete and re-write. The
            # write lock guarantees no live writer's rename/mark can
            # interleave here.
            if os.path.isdir(self.data_dir):
                for d in os.listdir(self.data_dir):
                    if d.startswith("bucket=") \
                            and int(d.split("=", 1)[1]) not in done:
                        shutil.rmtree(os.path.join(self.data_dir, d))
            if os.path.isdir(self.path):
                for d in os.listdir(self.path):
                    p = os.path.join(self.path, d)
                    if d.startswith("stage-") and time.time() \
                            - os.path.getmtime(p) > self.STALE_STAGE_SECS:
                        shutil.rmtree(p, ignore_errors=True)
            todo = [b for b in range(self.num_buckets) if b not in done]
            if not todo:
                return self.commit_snapshot()
            part = df.withColumn("bucket", self.bucket_expr())
            if done:
                part = part.filter(F.col("bucket").isin(todo))
            with self._staged(part.repartition(self.num_buckets,
                                               F.col("bucket"))) as stage:
                stats = self._bucket_stats(df.sparkSession, stage)
                os.makedirs(self.data_dir, exist_ok=True)
                for b in todo:
                    # racing resumers may both stage the same bucket: each
                    # CLAIMS it with an atomic directory rename, so exactly
                    # one writer's file becomes the bucket and the loser's
                    # copy goes with its staging dir. The marker is
                    # published right after each winning rename to keep
                    # the unmarked window minimal.
                    if b in stats:
                        dst = os.path.join(self.data_dir, f"bucket={b}")
                        try:
                            os.rename(os.path.join(stage, f"bucket={b}"), dst)
                        except OSError:
                            if os.path.isdir(dst):
                                continue    # lost the claim race; winner marks
                            raise
                    self._commit_bucket(self._marker(b, stats))
            return self.commit_snapshot()

    def _snapshot_meta(self, snapshot: int | None = None) -> dict | None:
        """Snapshot dict (current one when ``snapshot`` is None), or None
        when the table has no snapshot yet."""
        if snapshot is None:
            cur_path = os.path.join(self.meta_dir, "current.json")
            if not os.path.exists(cur_path):
                return None
            with open(cur_path) as f:
                snapshot = json.load(f)["snapshot"]
        with open(os.path.join(self.meta_dir,
                               f"snapshot-{snapshot}.json")) as f:
            return json.load(f)

    def commit_snapshot(self, data_rel: str | None = None,
                        folded_through: int | None = None) -> dict:
        done = self.committed_buckets()
        batches = self.committed_batches()
        cur = self._snapshot_meta()
        snap_n = cur["snapshot"] + 1 if cur else 0
        if data_rel is None:
            # inherit the current generation dir (a compaction moved it);
            # legacy snapshots without the key read the original "data"
            data_rel = cur.get("data_rel", "data") if cur else "data"
        if folded_through is None:
            # inherit the fold watermark: batch ids <= it are physically
            # folded into the generation dir and must not re-union
            folded_through = cur.get("folded_through", -1) if cur else -1
        live = {i: b for i, b in batches.items() if i > folded_through}
        snapshot = {
            "snapshot": snap_n,
            "table": self.path,
            "cell_col": self.cell_col,
            "system": self.system,
            "level": self.level,
            "num_buckets": self.num_buckets,
            "buckets": sorted(done),
            "batches": sorted(live),
            "folded_through": folded_through,
            "total_rows": sum(r["row_count"] for r in done.values())
            + sum(b["row_count"] for b in live.values()),
            "manifest": [done[b] for b in sorted(done)],
            "data_rel": data_rel,
        }
        # rename-based commit: a reader never observes a torn snapshot or
        # pointer file (racing resumers derive identical content from the
        # same committed-bucket set, so last-replace-wins is idempotent)
        _write_json(os.path.join(self.meta_dir, f"snapshot-{snap_n}.json"),
                    snapshot)
        _write_json(os.path.join(self.meta_dir, "current.json"),
                    {"snapshot": snap_n})
        return snapshot

    # -- streaming append (exactly-once micro-batch sink) --------------------
    def committed_batches(self) -> dict[int, dict]:
        """Batch markers (one per committed micro-batch), keyed by id."""
        out = {}
        if os.path.isdir(self.batches_dir):
            for name in os.listdir(self.batches_dir):
                if name.startswith("batch-") and name.endswith(".json"):
                    with open(os.path.join(self.batches_dir, name)) as f:
                        row = json.load(f)
                    out[int(row["batch_id"])] = row
        return out

    def append_batch(self, df: DataFrame, batch_id: int) -> dict:
        """EXACTLY-ONCE micro-batch append — the Structured Streaming sink
        primitive (use :func:`stream_write` for the foreachBatch wiring).

        Protocol: if this batch's marker exists, return it unchanged (a
        foreachBatch RETRY after a sink/driver crash replays the same
        batch_id — the idempotence check makes the replay a no-op, which
        is what turns at-least-once replay into exactly-once table
        state). Otherwise any unmarked ``data-stream/batch=<id>`` dir is
        crash debris from a half-appended attempt and is deleted, the
        batch stages into a private dir without a shuffle, ONE atomic
        directory rename publishes all its files, and the batch marker
        (per-bucket rows / cell ranges / additive crc checksum) lands last
        with an atomic replace. The marker is the single mutation readers
        trust: :meth:`read` shows only marked batches, so a half-appended
        batch is invisible, and :meth:`stat_pruned_buckets` derives
        per-bucket stats from bulk markers + batch markers (nothing is
        widened in place, so a crash between rename and marker cannot
        double-count).
        """
        self._check_columns(df)
        batch_id = int(batch_id)
        with self._locked():
            existing = self.committed_batches().get(batch_id)
            if existing is not None:
                return existing
            bdir = os.path.join(self.stream_dir, f"batch={batch_id}")
            if os.path.isdir(bdir):     # rename landed, marker did not
                shutil.rmtree(bdir)
            with self._staged(df.withColumn("bucket", self.bucket_expr())) \
                    as stage:
                stats = self._bucket_stats(df.sparkSession, stage)
                if stats:
                    os.makedirs(self.stream_dir, exist_ok=True)
                    os.rename(stage, bdir)  # one rename publishes the batch
            marker = {"batch_id": batch_id,
                      "row_count": sum(s["row_count"] for s in stats.values()),
                      "buckets": [stats[b] for b in sorted(stats)],
                      "ts": time.time()}
            _write_json(os.path.join(self.batches_dir,
                                     f"batch-{batch_id}.json"), marker)
            self.commit_snapshot()
            return marker

    def stream_write(self, stream_df: DataFrame, checkpoint: str,
                     trigger: dict | None = None):
        """Structured Streaming sink: every micro-batch lands as one
        exactly-once :meth:`append_batch` commit (foreachBatch replays
        carry the same batch_id; the marker check absorbs them). Returns
        the started StreamingQuery."""
        writer = (stream_df.writeStream
                  .foreachBatch(lambda bdf, bid: self.append_batch(bdf, bid)
                                and None)
                  .option("checkpointLocation", checkpoint))
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    # -- maintenance ---------------------------------------------------------
    def compact(self, spark: SparkSession) -> dict:
        """Small-file compaction + re-cluster: rewrite the CURRENT
        generation into a fresh generation directory (one sorted file per
        bucket, rows re-sorted by ``cell_col`` for row-group pruning),
        then commit a new snapshot pointing at it — a lineage-committed
        snapshot operation, the table-format maintenance job every
        long-lived 100-TB table needs.

        Time travel is preserved: each snapshot records its own
        ``data_rel`` generation dir and old generations are left on disk,
        so reading a pre-compaction snapshot still reads the old layout
        byte-for-byte. Per-bucket lineage stats (row counts, cell ranges,
        checksums) are content properties, not layout properties — the
        bucket assignment is unchanged — so the commit log stays valid
        across generations.

        Requires a fully-committed table (every bucket marked): a
        compaction racing a half-finished write would freeze a partial
        bucket set into the new generation. Serialized against writers by
        the same write lock."""
        with self._locked():
            done = self.committed_buckets()
            if done and sorted(done) != list(range(self.num_buckets)):
                raise RuntimeError(
                    f"compact: table has {len(done)}/{self.num_buckets} "
                    "committed buckets; finish (or resume) the write first")
            cur = self._snapshot_meta()
            src_rel = cur.get("data_rel", "data") if cur else "data"
            src = os.path.join(self.path, src_rel)
            # empty commit log + a non-empty generation dir is crash
            # debris from a write that renamed buckets but never marked
            # them (markers persist across compactions, so a
            # legitimately-written table always has them). Freezing that
            # debris into a new generation would serve uncommitted rows —
            # and a later resumed write() lands in data/ while the
            # snapshot pins this generation.
            if not done and os.path.isdir(src) and os.listdir(src):
                raise RuntimeError(
                    "compact: data generation dir has content but the "
                    "commit log is empty — an uncommitted (crashed) write; "
                    "resume the write before compacting")
            df = None
            if os.path.isdir(src):      # absent for stream-only tables
                df = spark.read.option("basePath", src).parquet(src)
            # FOLD streaming batches: every batch visible at this moment
            # joins the new generation; the snapshot's folded_through
            # watermark stops them re-unioning on read (batch markers stay
            # forever, so append idempotence is unaffected). Pre-fold
            # snapshots still union their own batch lists against their
            # own generation dirs.
            folded = cur.get("folded_through", -1) if cur else -1
            vis = [i for i in sorted(self.committed_batches()) if i > folded]
            if vis and os.path.isdir(self.stream_dir):
                sdf = (spark.read.option("basePath", self.stream_dir)
                       .parquet(self.stream_dir)
                       .filter(F.col("batch").isin(vis)).drop("batch"))
                df = sdf if df is None else df.unionByName(sdf)
            if df is None:
                raise RuntimeError("compact: table has no data")
            snap_n = (cur["snapshot"] + 1) if cur else 0
            new_rel = f"data-g{snap_n}"
            dst = os.path.join(self.path, new_rel)
            with self._staged(df.repartition(self.num_buckets,
                                             F.col("bucket"))) as stage:
                stats = self._bucket_stats(spark, stage) if vis else None
                if os.path.isdir(dst):      # crashed previous compaction
                    shutil.rmtree(dst)
                os.rename(stage, dst)       # atomic claim, like write()
            if vis:
                # folded rows change bucket CONTENT: recompute the bucket
                # lineage from the new generation. A crash here leaves
                # markers wider than the still-current old snapshot —
                # pruning stays sound (wider = keep more) and the re-run
                # recomputes identical content.
                for b in range(self.num_buckets):
                    self._commit_bucket(self._marker(b, stats))
            return self.commit_snapshot(data_rel=new_rel,
                                        folded_through=max(vis, default=folded))

    # -- read ----------------------------------------------------------------
    def read(self, spark: SparkSession, ranges: list[list[int]] | None = None,
             snapshot: int | None = None) -> DataFrame:
        """Read the table; with covering ``ranges``, only matching bucket
        dirs load (directory-level pruning), then the cell predicate prunes
        row groups inside them. ``snapshot`` time-travels to an earlier
        commit: buckets are written exactly once and snapshots are
        append-only bucket lists, so snapshot N is the table restricted to
        the buckets its manifest recorded — read through snapshot N's OWN
        generation dir, so a later compaction never rewrites what a
        time-traveled reader sees."""
        snap = self._snapshot_meta(snapshot)
        data_rel = snap.get("data_rel", "data") if snap else "data"
        data_dir = os.path.join(self.path, data_rel)
        df = None
        if os.path.isdir(data_dir):    # absent for stream-only tables
            df = spark.read.option("basePath", data_dir).parquet(data_dir)
            if snapshot is not None:
                df = df.filter(
                    F.col("bucket").isin([int(b) for b in snap["buckets"]]))
        # streaming appends: only MARKED batches are visible (a
        # half-appended batch has files but no marker and never reads);
        # time travel restricts to the batch ids the snapshot recorded —
        # `batch` is a partition column, so the isin prunes directories.
        if snapshot is not None:
            vis = [int(b) for b in snap.get("batches", [])]
        else:
            # batch markers are the commit point (a marker may exist whose
            # snapshot write crashed), but folded batches live inside the
            # generation dir and must not re-union
            folded = snap.get("folded_through", -1) if snap else -1
            vis = [i for i in sorted(self.committed_batches()) if i > folded]
        if os.path.isdir(self.stream_dir):
            sdf = (spark.read.option("basePath", self.stream_dir)
                   .parquet(self.stream_dir)
                   .filter(F.col("batch").isin(vis or [-1]))
                   .drop("batch"))
            df = sdf if df is None else df.unionByName(sdf)
        if df is None:
            raise FileNotFoundError(
                f"table {self.path} has no committed data (no {data_rel}/ "
                "and no stream batches)")
        if ranges:
            from ..functions.cover import ranges_predicate

            df = df.filter(F.col("bucket").isin(self.stat_pruned_buckets(ranges)))
            df = df.filter(ranges_predicate(self.cell_col, ranges))
        return df

    def stat_pruned_buckets(self, ranges: list[list[int]]) -> list[int]:
        """Covering buckets refined by the per-bucket lineage stats: a
        committed bucket whose actual [cell_min, cell_max] misses every
        range is skipped even though its nominal cell space overlaps —
        sparse sky regions leave buckets far narrower than their hash
        span. Unknown (not-yet-committed) buckets are kept, so a read
        during a half-finished write never silently narrows. Streaming
        appends are merged IN-DERIVATION (bulk markers are never widened
        in place): each committed batch marker contributes its per-bucket
        cell ranges, so a bucket whose bulk range misses a query but
        whose appended rows hit it is correctly kept."""
        done = self.committed_buckets()
        stream_stats: dict[int, list[dict]] = {}
        for b in self.committed_batches().values():
            for s in b.get("buckets", []):
                stream_stats.setdefault(int(s["bucket"]), []).append(s)
        keep = []
        for b in self.buckets_for_ranges(ranges):
            st = done.get(b)
            spans = []
            if st is not None and st["row_count"] > 0 \
                    and st["cell_min"] is not None:
                spans.append((int(st["cell_min"]), int(st["cell_max"])))
            spans += [(int(s["cell_min"]), int(s["cell_max"]))
                      for s in stream_stats.get(b, [])]
            if st is None:
                # no bulk lineage: a bulk write may be in flight for this
                # bucket regardless of stream stats — cannot prune safely
                keep.append(b)
                continue
            if not spans:
                continue                # committed empty: nothing to read
            if any(int(lo) <= mx and int(hi) >= mn
                   for lo, hi in ranges for mn, mx in spans):
                keep.append(b)
        return keep
