"""TableIO — parquet-warehouse storage idioms (SURVEY §2.1 S4-S12).

The reference's write surface is Postgres: batch INSERT (S6),
INSERT…ON CONFLICT upsert (S7), delete-then-insert partition
replace (S8), CTAS (S9), ALTER ADD COLUMN (S10), UPDATE-by-key
(S12). On a parquet warehouse those become:

- append          → ``mode("append")``
- overwrite       → ``mode("overwrite")`` (CTAS)
- replace_where   → dynamic partition overwrite of the matching
                    partition keys (the delete+insert idiom)
- upsert          → anti-join old rows on the natural key + union +
                    rewrite (Delta MERGE semantics on plain parquet).
                    With ``partition_by``, the rewrite is PARTITION-
                    SCOPED: only partitions present in the incoming
                    batch are scanned, merged and replaced — the
                    reference's delete-then-insert scoping
                    (`transform_time_series_daily_adjusted.py:504-538`)
                    — so a 1-partition upsert on a 100 TB table moves
                    1 partition, not 100 TB.
- update_by_key   → upsert restricted to existing rows

Plain parquet was chosen because Delta isn't in this environment;
the interface is Delta-shaped so a MERGE-backed implementation can
swap in. Full-table rewrites stage through a temp directory (the
merged plan reads the table being overwritten) and commit by
DIRECTORY RENAME: write tmp → rename live table aside → rename tmp
into place → drop the old copy. Each rename is atomic on a POSIX
filesystem, so a crash can never leave a half-written live table —
the worst case is the instant between the two renames, where the
table is momentarily absent and ``recover_table`` rolls the swap
forward (staged copy was complete) or cleans up an aborted stage.
Partition-scoped upserts still commit per-partition via dynamic
partition overwrite (non-atomic ACROSS partitions — inherent to
plain parquet; Delta/Iceberg commit protocols are the real answer
at cluster scale, and on object stores rename is a copy, which is
why those formats commit via manifest, not rename). Single writer
per table by contract, as in the reference's job scheduler.

Layout guidance (SURVEY §4.2.5): facts partitioned by a bucket of
the entity key (``symbol_bucket = hash(symbol_id) % N``), sorted
within partitions by date; dims unpartitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    def __init__(self, spark: SparkSession, warehouse: str, retain_history: int = 0):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        # retain_history=N keeps the last N pre-rewrite table images
        # (Delta time-travel semantics on plain parquet): every
        # full-rewrite commit (_stage_and_swap) RETAINS the replaced
        # copy as a numbered version instead of deleting it. 0 = off
        # (the default, and the pre-existing behavior).
        self.retain_history = retain_history

    def path(self, table: str) -> str:
        return f"{self.warehouse}/{table.replace('.', '/')}"

    def exists(self, table: str) -> bool:
        from pyspark.errors import AnalysisException

        try:
            self.spark.read.parquet(self.path(table)).schema
            return True
        except AnalysisException as e:
            # Path-missing means "no table"; so does an EMPTY directory
            # (UNABLE_TO_INFER_SCHEMA — e.g. a crash after mkdir but
            # before any part file landed in a non-swap write path):
            # both are recoverable absent-table states. Anything else —
            # a transient FS error or corrupt footer — must propagate:
            # swallowing it would send upsert() down the overwrite path
            # and destroy the existing table with just the incoming
            # batch.
            msg = str(e)
            if (
                "PATH_NOT_FOUND" in msg
                or "Path does not exist" in msg
                or "UNABLE_TO_INFER_SCHEMA" in msg
                or "Unable to infer schema" in msg
            ):
                return False
            raise

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def read_committed(self, table: str, attempts: int = 40, wait: float = 0.05) -> DataFrame:
        """Reader half of the swap protocol's isolation story: the
        commit (`_commit_staged_dir`) is two atomic directory renames,
        so a reader can only ever observe (a) the complete pre-swap
        table, (b) the complete post-swap table, or (c) NO directory —
        the instant between the renames. Never a partial mix: staged
        files live under a different directory until the rename, and a
        listing captured before the swap fails LOUDLY at scan time
        when those files move (ignoreMissingFiles is off by default),
        rather than silently blending old and new parts.

        This wrapper turns case (c) into a short bounded wait: if the
        table directory is momentarily absent while an old/staged pair
        exists (mid-commit signature), re-check until the committer's
        second rename lands. A caller whose scan then races a LATER
        swap gets the loud missing-file error and simply re-creates
        the frame."""
        import os
        import time as _time

        final, tmp, old = self._swap_paths(table)
        for _ in range(attempts):
            if os.path.exists(final):
                return self.read(table)
            if not (os.path.exists(tmp) or os.path.exists(old)):
                break  # genuinely no table — not a mid-commit window
            _time.sleep(wait)
        return self.read(table)  # raises the standard path-not-found

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        if self.retain_history > 0 and self.exists(table):
            # versioned CTAS: route through the commit protocol so
            # the replaced image is retained like any other rewrite
            self._stage_and_swap(df, table, partition_by)
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def replace_where(self, df: DataFrame, table: str, partition_by: list[str]) -> None:
        """Partition replace (S8): overwrite ONLY the partitions
        present in ``df`` — the delete-symbol-then-insert idiom.
        Requires the table to be partitioned by ``partition_by``. The
        dynamic overwrite mode is a writer option, so the session conf
        is never touched."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(table))
        )

    def _tmp_path(self, table: str) -> str:
        import uuid

        # unique suffix: never clobbers a real table, and concurrent
        # rewrites of different tables can't collide
        return f"{self.path(table)}__rewrite_tmp_{uuid.uuid4().hex[:8]}"

    def _rm(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)

    def _swap_paths(self, table: str) -> tuple[str, str, str]:
        # FIXED suffixes (not uuid) so recover_table can find an
        # interrupted swap's pieces after a crash
        p = self.path(table)
        return p, f"{p}.__swap_tmp", f"{p}.__swap_old"

    def _stage_and_swap(self, df: DataFrame, table: str, partition_by: list[str] | None) -> None:
        """Write ``df`` (whose plan reads ``table``) to a staging dir,
        then commit by two atomic directory renames (see module
        docstring). A crash mid-protocol is recoverable from the
        on-disk state alone via ``recover_table``."""
        import os

        final, tmp, old = self._swap_paths(table)
        self._rm(tmp)
        self._rm(old)
        try:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp)
        except Exception:
            self._rm(tmp)  # failed stage: live table never touched
            raise
        self._commit_staged_dir(table, tmp)

    def _commit_staged_dir(self, table: str, tmp: str) -> None:
        """Atomically promote a KNOWN-COMPLETE staged directory to be
        the live table (the commit half of the swap protocol): the
        live table is only ever absent between the two renames."""
        import os

        final, swap_tmp, old = self._swap_paths(table)
        if tmp != swap_tmp:
            # normalize onto the fixed swap path so recover_table can
            # find an interrupted commit's pieces after a crash
            self._rm(swap_tmp)
            os.rename(tmp, swap_tmp)
            tmp = swap_tmp
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(tmp, final)
        # retain the pre-image as a version when configured, instead
        # of dropping it. The move happens AFTER commit: a crash here
        # loses nothing — recover_table's "cleaned" path now retains
        # the copy the same way.
        self._retire_old_copy(table, old)

    def _retire_old_copy(self, table: str, old: str) -> None:
        """Dispose of a pre-rewrite table image found on disk: retain
        it as a history version when retention is configured (a crash
        inside the commit window must not silently cost a history
        entry the caller asked for), else remove it."""
        import os

        if self.retain_history > 0 and os.path.exists(old):
            os.makedirs(self._hist_dir(table), exist_ok=True)
            os.rename(old, f"{self._hist_dir(table)}/v{self._next_version(table):08d}")
            self._prune_history(table)
        else:
            self._rm(old)

    def recover_table(self, table: str) -> str:
        """Finish or undo a swap interrupted by a crash, from on-disk
        state alone. Returns what it did:

        - ``"rolled_forward"`` — live table missing, old + staged
          copies present: the crash hit between the two commit
          renames; the staged copy is complete by protocol (renames
          only start after the staged write succeeds), so promote it.
        - ``"aborted_stage"`` — live table present, staged dir left
          over: the crash hit during/just after staging; the live
          table was never touched, drop the partial stage.
        - ``"cleaned"`` — live table present, old copy left over: the
          crash hit after commit, before cleanup; drop the old copy
          (RETAINING it as a history version when retain_history > 0,
          same as an uninterrupted commit would have).
        - ``"ok"`` — nothing to do.

        Also sweeps any stale ``{table}__rewrite_tmp_*`` staging
        directories (a crash inside ``publish_audited`` or a
        partition-scoped upsert before commit leaves one behind under
        a uuid name the fixed-suffix protocol doesn't know).

        CONTRACT: recovery must run QUIESCED — no concurrent writer
        on this table. The staging sweep cannot distinguish a stale
        crash leftover from the live staging dir of an in-flight
        ``publish_audited``/``upsert`` and would delete it mid-write
        (ADVICE r05). This matches the crash-recovery setting (the
        writer is by definition dead), and single-writer-per-table is
        the module's concurrency model throughout; a multi-writer
        deployment needs a transactional table format (Delta/Iceberg
        — see SURVEY's documented divergence #2).
        """
        import glob
        import os

        swept = False
        for stale in glob.glob(f"{self.path(table)}__rewrite_tmp_*"):
            self._rm(stale)
            swept = True
        final, tmp, old = self._swap_paths(table)
        if not os.path.exists(final):
            if os.path.exists(tmp):
                os.rename(tmp, final)
                self._retire_old_copy(table, old)
                return "rolled_forward"
            if os.path.exists(old):
                # stage vanished (crash during a pre-swap cleanup of a
                # previous failed run) — restore the pre-swap table
                os.rename(old, final)
                return "rolled_back"
            return "ok"
        status = "ok"
        if os.path.exists(tmp):
            self._rm(tmp)
            status = "aborted_stage"
        if os.path.exists(old):
            self._retire_old_copy(table, old)
            status = "cleaned" if status == "ok" else status
        return "cleaned" if status == "ok" and swept else status

    def upsert(self, df: DataFrame, table: str, keys: list[str], partition_by: list[str] | None = None) -> None:
        """S7: new rows win on the natural key (ON CONFLICT DO
        UPDATE). Anti-join keeps non-colliding old rows.

        Unpartitioned tables require a full rewrite (Delta MERGE
        would be in-place). When ``partition_by`` is given, the
        merge is scoped to the partitions present in ``df``: a
        static predicate on the partition columns prunes the old-row
        scan to those partitions, and dynamic partition overwrite
        replaces only them — untouched partition files are never
        read or rewritten. Requires partition values to be stable
        per key (a key cannot move between partitions), which holds
        for the reference's layouts (partition = f(entity key))."""
        if not self.exists(table):
            self.overwrite(df, table, partition_by)
            return
        if partition_by:
            import functools
            import operator

            parts = [tuple(r) for r in df.select(*partition_by).distinct().collect()]
            if not parts:
                return  # empty batch: nothing to merge, nothing to touch
            pred = functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_,
                        [F.col(k).eqNullSafe(F.lit(v)) for k, v in zip(partition_by, row)],
                    )
                    for row in parts
                ],
            )
            old_in_scope = self.read(table).filter(pred)
            kept = old_in_scope.join(df.select(*keys).distinct(), keys, "left_anti")
            merged = kept.unionByName(df, allowMissingColumns=True)
            tmp = self._tmp_path(table)
            try:
                merged.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
                self.replace_where(self.spark.read.parquet(tmp), table, partition_by)
            finally:
                self._rm(tmp)
            return
        old = self.read(table)
        kept = old.join(df.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(df, allowMissingColumns=True)
        self._stage_and_swap(merged, table, partition_by)

    def with_symbol_bucket(self, df: DataFrame, key: str = "symbol_id", n_buckets: int = 64) -> DataFrame:
        """Deterministic bucket column for partition layout."""
        return df.withColumn("symbol_bucket", F.pmod(F.hash(F.col(key)), F.lit(n_buckets)))

    def add_columns(self, table: str, exprs: dict[str, F.Column]) -> None:
        """S10 (ALTER TABLE ADD COLUMN + incremental fill) as a
        full-column recompute — SURVEY §7's preferred stance: the
        reference widens the table with NULLs then back-fills rows
        piecemeal (`transform_balance_sheet.py:74-97`), which leaves
        mixed NULL/filled states; recomputing the whole column from
        an expression is idempotent and one pass. New columns may
        reference existing ones."""
        df = self.read(table)
        for name, expr in exprs.items():
            df = df.withColumn(name, expr)
        self._stage_and_swap(df, table, None)

    def publish_audited(self, df, table: str, checks, partition_by: list[str] | None = None):
        """Write-audit-publish (the Iceberg WAP workflow): stage
        ``df`` to an unpublished directory, run every audit check
        against the STAGED data (exactly what would go live, as
        written — post-serialization), and only then commit it
        atomically; any failed check aborts with the live table
        untouched and the stage removed.

        ``checks`` is a list of (name, fn) where fn(staged_df) →
        bool. Returns the [(name, passed)] results on success;
        raises ValueError listing the failures on abort. Audits that
        need the expectation shape can reuse the same conditional-
        count aggregates as queries/reporting.expectation_report."""
        staged_path = self._tmp_path(table)
        try:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(staged_path)
            staged = self.spark.read.parquet(staged_path)
            results = [(name, bool(fn(staged))) for name, fn in checks]
            failed = [name for name, ok in results if not ok]
            if failed:
                raise ValueError(f"WAP audit failed, publish aborted: {failed}")
            self._commit_staged_dir(table, staged_path)
            return results
        except Exception:
            self._rm(staged_path)
            raise

    # ---------------------------------------------------- time travel
    def _hist_dir(self, table: str) -> str:
        return f"{self.path(table)}.__hist"

    def _versions(self, table: str) -> list[int]:
        import os

        hd = self._hist_dir(table)
        if not os.path.isdir(hd):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(hd) if d.startswith("v") and d[1:].isdigit()
        )

    def _seq_path(self, table: str) -> str:
        return f"{self.path(table)}.__hist_seq"

    def _next_version(self, table: str) -> int:
        """Monotone commit counter that SURVIVES vacuum: the max of
        the on-disk version dirs and a persisted high-water mark —
        without the marker, vacuuming all history would restart ids
        at 1 and a stale 'version 1' reference would silently
        resolve to a different table image."""
        import os

        vs = self._versions(table)
        seen = vs[-1] if vs else 0
        if os.path.exists(self._seq_path(table)):
            try:
                seen = max(seen, int(open(self._seq_path(table)).read().strip() or 0))
            except ValueError:
                pass
        nxt = seen + 1
        with open(self._seq_path(table), "w") as f:
            f.write(str(nxt))
        return nxt

    def _prune_history(self, table: str) -> None:
        vs = self._versions(table)
        for v in vs[: max(0, len(vs) - self.retain_history)]:
            self._rm(f"{self._hist_dir(table)}/v{v:08d}")

    def history(self, table: str) -> list[int]:
        """Retained version ids, oldest first (Delta DESCRIBE HISTORY
        analog). Version ids are monotone commit counters — pruning
        never renumbers survivors."""
        return self._versions(table)

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time-travel read of a retained pre-image (VERSION AS OF)."""
        import os

        p = f"{self._hist_dir(table)}/v{version:08d}"
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"version {version} of {table} not retained (have {self._versions(table)})"
            )
        return self.spark.read.parquet(p)

    def restore(self, table: str, version: int) -> None:
        """RESTORE TABLE ... VERSION AS OF: make the retained version
        the live table again through the normal commit protocol (so
        the replaced current state is itself retained — restore is
        undoable)."""
        self._stage_and_swap(self.read_version(table, version), table, None)

    def vacuum(self, table: str, keep_last: int = 0) -> int:
        """Drop retained versions beyond the newest ``keep_last``.
        Returns how many were removed. (The live table is never
        touched — exactly Delta's VACUUM contract.)"""
        vs = self._versions(table)
        drop = vs[: max(0, len(vs) - keep_last)]
        for v in drop:
            self._rm(f"{self._hist_dir(table)}/v{v:08d}")
        if not self._versions(table):
            self._rm(self._hist_dir(table))
        return len(drop)

    def zorder_rewrite(self, table: str, cols: list[str], n_files: int) -> None:
        """OPTIMIZE ZORDER BY on plain parquet: rewrite the table
        range-partitioned + sorted on the Morton key of ``cols`` so
        each file covers a compact hyper-rectangle of the z-column
        space and ``read_pruned`` can skip most files for a range
        predicate on ANY z-column (see operators/zorder.py for why
        a linear sort can't). Commits through the same atomic
        stage-and-swap protocol as every full rewrite."""
        from ..operators.zorder import zorder_layout

        df = zorder_layout(self.read(table), cols, n_files)
        self._stage_and_swap(df, table, None)

    def file_stats(self, table: str, cols: list[str]) -> DataFrame:
        """Per-FILE min/max manifest for ``cols`` — the Delta/Iceberg
        data-skipping statistics, materialized by scanning here; at
        write time in a real pipeline (the write path already has the
        rows in hand, so the manifest is free). One row per file:
        this is metadata-scale output no matter the table size.

        Parquet footers already carry these stats, but Spark only
        exploits them per ROW GROUP after scheduling a task per
        file; a file-level manifest prunes the file LIST, which is
        what saves scheduling + open cost on a 100k-file table."""
        df = self.read(table).select(F.input_file_name().alias("file"), *cols)
        aggs = [
            f
            for c in cols
            for f in (F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}"))
        ]
        return df.groupBy("file").agg(*aggs)

    def read_pruned(self, table: str, col: str, lo, hi) -> tuple[DataFrame, int, int]:
        """Range read with manifest-driven file skipping: scan ONLY
        files whose [min, max] envelope intersects [lo, hi], then
        re-apply the exact predicate (stats admit false positives,
        never false negatives — NULL-stats files are kept). Returns
        (rows, files_scanned, files_total) so callers — and tests —
        can see the skipping. The manifest collect is one row per
        file (the same bounded driver contract as a Delta log
        replay)."""
        stats = self.file_stats(table, [col]).collect()
        try:
            keep = [
                r["file"]
                for r in stats
                if r[f"min_{col}"] is None
                or r[f"max_{col}"] is None
                or not (r[f"max_{col}"] < lo or r[f"min_{col}"] > hi)
            ]
        except TypeError as e:
            # bounds are compared to the column's COLLECTED Python
            # stats (date → datetime.date, timestamp → datetime, …);
            # a mismatched bound type (e.g. the string '2020-01-01'
            # against date stats) must fail with a usable message at
            # the API boundary, not a bare driver TypeError
            sample = next(
                (r[f"min_{col}"] for r in stats if r[f"min_{col}"] is not None), None
            )
            raise TypeError(
                f"read_pruned bounds for column {col!r} must match the column's "
                f"Python stat type ({type(sample).__name__}); got "
                f"lo={type(lo).__name__}, hi={type(hi).__name__}: {e}"
            ) from e
        if not keep:
            empty = self.read(table).filter(F.lit(False))
            return empty, 0, len(stats)
        pred = F.col(col).between(F.lit(lo), F.lit(hi))
        # basePath: reading explicit leaf files does NOT infer hive
        # partition columns by itself — without it a partitioned
        # table loses (or can't resolve) its partition columns and
        # the pruned read diverges from read(table)
        reader = self.spark.read.option("basePath", self.path(table))
        return reader.parquet(*keep).filter(pred), len(keep), len(stats)

    def compact(self, table: str, target_partitions: int, partition_by: list[str] | None = None) -> int:
        """Small-file compaction: rewrite the table at a target file
        count. Incremental appends (S6) and streaming sinks
        accumulate files far smaller than a scan-efficient split
        (~128 MB); metadata and open-cost then dominate reads. At
        cluster scale this is OPTIMIZE / rewriteDataFiles; on plain
        parquet it's a coalesce-and-rewrite. Returns the file count
        before compaction."""
        import pathlib

        before = len(list(pathlib.Path(self.path(table)).rglob("*.parquet")))
        df = self.read(table).coalesce(target_partitions)
        self._stage_and_swap(df, table, partition_by)
        return before
