"""Warehouse abstraction: Iceberg-style snapshot tables (SURVEY.md §0.1
design consequence; B:14 "Iceberg tables … resumable from checkpoint").

Each table is a directory of immutable parquet files plus numbered
snapshot manifests (``snap-000042.json`` = full file list) and a ``HEAD``
pointer updated with an atomic ``os.replace``. Appends never rewrite data
files, commits are all-or-nothing, and any historical snapshot remains
readable — the Iceberg semantics the crawl's checkpoint/resume (S9/ST8)
needs.

A real Iceberg catalog is the parked cluster seam, not a second backend:
it would serve this same API with ``spark.read.format("iceberg")`` /
``df.writeTo(tbl).append()`` and snapshot-id time travel, given
``iceberg-spark-runtime`` and catalog confs on the cluster (SURVEY.md
§0.1).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- internals ---------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _head(self, name: str) -> int | None:
        p = os.path.join(self._tdir(name), "HEAD")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def _snap_path(self, name: str, snap: int) -> str:
        return os.path.join(self._tdir(name), f"snap-{snap:06d}.json")

    def _files(self, name: str, snap: int | None = None) -> list[str]:
        if snap is None:
            snap = self._head(name)
        if snap is None:
            return []
        try:
            with open(self._snap_path(name, snap)) as f:
                return json.load(f)["files"]
        except FileNotFoundError:
            raise FileNotFoundError(
                f"table {name!r} snapshot {snap} is expired or was never "
                f"committed (HEAD is {self._head(name)}) — "
                "expire_snapshots drops history manifests; a time-travel "
                "or changelog consumer whose baseline predates the "
                "retention window needs a full rerun") from None

    def _commit(self, name: str, files: list[str],
                schema_json: str | None = None) -> int:
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        head = self._head(name)
        snap = 0 if head is None else head + 1
        if schema_json is None and head is not None:
            schema_json = self._schema_json(name, head)
        tmp = os.path.join(tdir, f".snap-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"snapshot": snap, "files": sorted(files),
                       "schema": schema_json}, f)
        os.replace(tmp, self._snap_path(name, snap))
        tmp_head = os.path.join(tdir, f".HEAD-{uuid.uuid4().hex}.tmp")
        with open(tmp_head, "w") as f:
            f.write(str(snap))
        os.replace(tmp_head, os.path.join(tdir, "HEAD"))
        return snap

    def _schema_json(self, name: str, snap: int | None = None) -> str | None:
        if snap is None:
            snap = self._head(name)
        if snap is None:
            return None
        with open(self._snap_path(name, snap)) as f:
            return json.load(f).get("schema")

    def _write_files(self, name: str, df: DataFrame) -> list[str]:
        """Materialize df as immutable parquet files; return their paths."""
        staging = os.path.join(self._tdir(name), "data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(staging)
        return [
            os.path.join(staging, f)
            for f in os.listdir(staging)
            if f.endswith(".parquet")
        ]

    # -- API ----------------------------------------------------------------
    def exists(self, name: str) -> bool:
        return self._head(name) is not None

    def snapshot(self, name: str) -> int | None:
        return self._head(name)

    def register(self, name: str, files: list[str]) -> int:
        """Adopt existing immutable parquet files as a table snapshot
        WITHOUT copying (Iceberg `add_files` equivalent). The caller
        guarantees the files are never mutated afterwards; at bench/cluster
        scale this avoids rewriting a multi-GB corpus just to catalog it."""
        if not files:
            raise ValueError(f"register({name!r}): empty file list")
        schema = self.spark.read.parquet(files[0]).schema.json()
        return self._commit(name, [os.path.abspath(f) for f in files], schema)

    def append(self, name: str, df: DataFrame) -> int:
        """Atomic append: new snapshot = previous files + new files."""
        files = self._files(name) + self._write_files(name, df)
        return self._commit(name, files, df.schema.json())

    def append_local(self, name: str, arrow_table, schema_json: str) -> int:
        """Append a driver-written pyarrow table — tiny control-plane rows
        (e.g. per-round bloom-shard stats) whose content the driver already
        holds. Launching a Spark job to write a dozen rows is pure serial
        round-loop latency; this writes the parquet file directly and
        commits it like any other append."""
        import pyarrow.parquet as pq

        staging = os.path.join(self._tdir(name), "data", uuid.uuid4().hex)
        os.makedirs(staging, exist_ok=True)
        path = os.path.join(staging, "part-0.parquet")
        pq.write_table(arrow_table, path)
        files = (self._files(name) if self.exists(name) else []) + [path]
        return self._commit(name, files, schema_json)

    def files_added(self, name: str, snap: int) -> list[str]:
        """Files introduced by snapshot `snap` (vs its predecessor)."""
        prev = set(self._files(name, snap - 1)) if snap > 0 else set()
        return [f for f in self._files(name, snap) if f not in prev]

    def approx_rows(self, name: str) -> int:
        """Upper-bound row count for a table from parquet footers only
        (delta-append tables may count superseded rows twice) — a
        driver-side metadata read used to gate broadcast hints."""
        return self.count_rows(self._files(name))

    def approx_rows_where(self, name: str, column: str, value) -> int:
        """approx_rows over only the row groups whose footer min/max of
        `column` admit `value` (a row group without statistics counts) —
        still an upper bound on the rows with `column == value`, still
        no Spark job."""
        import pyarrow.parquet as pq

        n = 0
        for f in self._files(name):
            md = pq.read_metadata(f)
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                st = next((rg.column(j).statistics
                           for j in range(rg.num_columns)
                           if rg.column(j).path_in_schema == column), None)
                if (st is None or not st.has_min_max
                        or st.min <= value <= st.max):
                    n += rg.num_rows
        return n

    @staticmethod
    def count_rows(files: list[str]) -> int:
        """Row count from parquet footers — a driver-side metadata read,
        no Spark job (Iceberg's snapshot summary equivalent)."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in files)

    def overwrite(self, name: str, df: DataFrame) -> int:
        """Atomic replace: new snapshot = new files only (old data files
        stay on disk so prior snapshots remain readable — Iceberg-style)."""
        return self._commit(name, self._write_files(name, df),
                            df.schema.json())

    @staticmethod
    def _assert_unique_keys(df: DataFrame, keys: list[str],
                            context: str) -> None:
        """Shared guard for the keyed faces (merge / changelog): rows
        must carry unique, non-NULL key tuples. ONE partial-aggregating
        pass; NULL keys get their own diagnosis (count_distinct skips
        them, so they'd otherwise surface as a bogus 'duplicate keys'
        count mismatch)."""
        from pyspark.sql import functions as F

        null_any = F.lit(False)
        for k in keys:
            null_any = null_any | F.col(k).isNull()
        chk = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("nd"),
            F.count(F.when(null_any, 1)).alias("n_null"),
        ).first()
        if chk and chk.n_null:
            raise ValueError(
                f"{context}: {chk.n_null} row(s) carry NULL {keys} key "
                "values — keyed row matching is undefined on NULLs; "
                "filter or fill them first")
        if chk and chk.n != chk.nd:
            raise ValueError(
                f"{context}: rows carry duplicate {keys} keys "
                f"({chk.n} rows, {chk.nd} distinct) — Iceberg MERGE "
                "rejects multiple matches; pre-aggregate first")

    def merge(self, name: str, updates: DataFrame,
              key: str | list[str]) -> int:
        """Keyed upsert — the copy-on-write face of Iceberg
        ``MERGE INTO t USING u ON t.key = u.key WHEN MATCHED THEN
        UPDATE * WHEN NOT MATCHED THEN INSERT *``: every update row
        lands; base rows whose key collides are replaced; all other
        base rows survive. Commits ONE new snapshot (atomic — readers
        see pre- or post-merge state, never a mix), and every prior
        snapshot stays readable (time travel across the merge).
        Duplicate keys inside `updates` RAISE, matching Iceberg MERGE's
        multiple-matches error (ADVICE r3: landing both rows verbatim
        silently diverged from the cited semantics) — resolve them
        first (groupBy + last-writer pick) if duplication is intended.

        Scale shape: one shuffle per side on the merge key (the
        left_anti join) plus one slim count-distinct agg over the
        updates side for the duplicate-key guard; at Iceberg scale the
        equivalent is merge-on-read deltas, but copy-on-write is the
        correct local analogue and keeps every reader plan a plain
        parquet scan."""
        keys = [key] if isinstance(key, str) else list(key)
        self._assert_unique_keys(updates, keys,
                                 f"merge into {name!r}: updates")
        if not self.exists(name):
            return self.overwrite(name, updates)
        base = self.read(name)
        keep = base.join(updates.select(*keys).distinct(), keys, "left_anti")
        return self.overwrite(name, keep.unionByName(updates))

    def read(self, name: str, snapshot: int | None = None) -> DataFrame:
        """Read a snapshot (default HEAD) — ``VERSION AS OF`` equivalent.

        The manifest carries the table schema (recorded at commit time,
        like Iceberg metadata), so reads skip Spark's schema-inference /
        footer-sampling job — those per-read mini-jobs are pure serial
        latency in the round loop."""
        if self._head(name) is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        files = self._files(name, snapshot)
        sj = self._schema_json(name, snapshot)
        if sj:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(sj))
            if not files:
                # a committed-but-empty snapshot (e.g. a round that
                # extracted zero pages) reads as an empty DataFrame with
                # the manifest schema, not an error
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(*files)
        if not files:
            raise FileNotFoundError(
                f"table {name!r}: empty snapshot with no recorded schema"
            )
        return self.spark.read.parquet(*files)

    def changelog(self, name: str, key: str | list[str], *,
                  from_snapshot: int,
                  to_snapshot: int | None = None) -> DataFrame:
        """Row-level changes between two snapshots — the Iceberg
        changelog-scan equivalent (``table_changes`` /
        ``start-snapshot-id``/``end-snapshot-id`` incremental read).
        Returns ``(_change_type, <table columns>)`` with ``_change_type``
        in {'insert', 'delete', 'update_before', 'update_after'};
        ``from_snapshot`` is EXCLUSIVE (its state is the baseline),
        ``to_snapshot`` inclusive and defaults to HEAD.

        Scale shape — two physical paths:

        * **append fast path**: when every commit in the range only ADDED
          data files (files(from) ⊆ files(to)), the changes are exactly
          the rows of the new files. The scan reads ONLY those files and
          the plan has ZERO joins or shuffles — Iceberg's incremental
          append scan, the path a continuous-crawl consumer (metrics
          rollup, downstream enrichment) hits every round, costing
          O(new data) regardless of table size.
        * **keyed diff join** otherwise (overwrite / merge / compact in
          range): one full-outer hash join on ``key`` between the two
          snapshot reads (one shuffle per side), scan-stage
          classification, update rows exploded into before/after pairs
          with no further shuffle and no window. This is the honest cost
          of diffing copy-on-write states; a merge-on-read Iceberg
          changelog would prune to touched data files first (documented
          cluster seam, see the module docstring).

        Duplicate keys inside either snapshot RAISE (same contract as
        ``merge`` — update pairing is undefined without key uniqueness);
        the guard is one partial-aggregating count/count-distinct pass
        per side, skipped entirely on the fast path. A compaction inside
        the range forces the join path but correctly yields zero rows
        (rewrites preserve content)."""
        keys = [key] if isinstance(key, str) else list(key)
        head = self._head(name)
        if head is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        if to_snapshot is None:
            to_snapshot = head
        if from_snapshot > to_snapshot:
            raise ValueError(
                f"changelog({name!r}): from_snapshot {from_snapshot} is "
                f"after to_snapshot {to_snapshot}")
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType, StructField, StructType

        new = self.read(name, to_snapshot)
        cols = new.columns
        for k in keys:
            if k not in cols:
                raise ValueError(f"changelog({name!r}): key column {k!r} "
                                 f"not in table columns {cols}")
        out_schema = StructType(
            [StructField("_change_type", StringType(), False)]
            + list(new.schema.fields))
        old_files = set(self._files(name, from_snapshot))
        new_files = self._files(name, to_snapshot)
        if old_files <= set(new_files):
            added = [f for f in new_files if f not in old_files]
            if not added:
                return self.spark.createDataFrame([], out_schema)
            inc = self.spark.read.schema(new.schema).parquet(*added)
            return inc.select(F.lit("insert").alias("_change_type"), *cols)
        old = self.read(name, from_snapshot)
        if old.columns != cols:
            raise ValueError(
                f"changelog({name!r}): schema changed across the range "
                f"({old.columns} at snapshot {from_snapshot} vs {cols} "
                f"at {to_snapshot}) — this changelog requires a stable "
                "schema (documented divergence from Iceberg's "
                "evolution-aware changelog); diff the snapshots "
                "manually across the evolution point")
        vals = [c for c in cols if c not in keys]
        for side, df in (("from", old), ("to", new)):
            self._assert_unique_keys(
                df, keys, f"changelog({name!r}): {side}-snapshot rows")
        # key-only tables have no update notion — carry a constant field
        # so the struct comparison degenerates to presence/absence
        mk = ((lambda: F.struct(*vals)) if vals
              else (lambda: F.struct(F.lit(True).alias("_present"))))
        o = old.select(*keys, mk().alias("_old"))
        n = new.select(*keys, mk().alias("_new"))
        j = o.join(n, keys, "full_outer")
        row = lambda op, s: F.struct(  # noqa: E731
            F.lit(op).alias("_change_type"),
            *[F.col(f"{s}.{v}").alias(v) for v in vals])
        classified = j.select(
            *keys,
            F.explode(
                F.when(F.col("_old").isNull(), F.array(row("insert", "_new")))
                .when(F.col("_new").isNull(), F.array(row("delete", "_old")))
                .when(~F.col("_old").eqNullSafe(F.col("_new")),
                      F.array(row("update_before", "_old"),
                              row("update_after", "_new")))
                # unchanged rows fall through to NULL — explode(NULL)
                # emits no rows, so no-ops never leave the join stage
            ).alias("_c"),
        )
        return classified.select(
            F.col("_c._change_type").alias("_change_type"),
            *[F.col(c) if c in keys else F.col(f"_c.{c}").alias(c)
              for c in cols],
        )

    def compact(self, name: str,
                target_file_bytes: int = 128 << 20,
                cluster_by: tuple[str, ...] = ()) -> int | None:
        """Binpack the table's accumulated small files into ~target-sized
        ones and commit the rewrite as a new snapshot (Iceberg
        `rewrite_data_files` equivalent; old snapshots stay readable, so
        resume-from-checkpoint is unaffected even if it points before
        the compaction).

        Why it exists: a long-running crawl appends a few files per
        table per round, so after 10^3 rounds every read of `seen` or
        `fetch_log` plans 10^3-10^4 splits and the driver's footer
        metadata reads become serial round-loop latency. Compaction
        caps file count at data-size/target.

        The go/no-go decision uses manifest + filesystem metadata only
        (no Spark job). Without `cluster_by` the rewrite is a coalesce —
        narrow, no shuffle. With `cluster_by` it hash-repartitions on
        those columns (one shuffle) so the rewrite doubles as a
        re-clustering pass. Returns the new snapshot id, or None when
        the table is already within 2x of the target file count."""
        files = self._files(name)
        total = sum(os.path.getsize(f) for f in files)
        n_out = int(max(1, -(-total // target_file_bytes)))
        if len(files) <= 2 * n_out:
            return None
        df = self.read(name)
        out = (df.repartition(n_out, *cluster_by) if cluster_by
               else df.coalesce(n_out))
        return self.overwrite(name, out)

    def expire_snapshots(self, name: str, *, keep_last: int = 1,
                         keep_from: int | None = None) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` in one
        driver-side metadata pass (no Spark job): delete snapshot
        manifests older than the retention window, then delete every
        data file under THIS TABLE's directory that no surviving
        manifest references — which also sweeps orphans from failed
        writes. Time travel to an expired snapshot then raises (the
        Iceberg contract); this is the lifecycle bound that keeps a
        10^3-round crawl's disk usage proportional to live state
        instead of full history.

        Retention = the last ``keep_last`` snapshots ∪ HEAD ∪ everything
        at or after ``keep_from`` (pass the round marker's snapshot so a
        checkpoint resume stays restorable — ``maintain --expire-keep``
        wires this). Files are ref-counted across ALL kept manifests, so
        appends' shared files survive as long as any kept snapshot needs
        them. Files OUTSIDE the table directory are never touched: a
        ``register``-adopted zero-copy corpus is not ours to delete.

        Single-writer contract (same as the round loop): don't expire
        concurrently with commits."""
        tdir = os.path.realpath(self._tdir(name))
        head = self._head(name)
        if head is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        snaps = sorted(
            int(f[len("snap-"):-len(".json")])
            for f in os.listdir(tdir)
            if f.startswith("snap-") and f.endswith(".json")
        )
        min_keep = max(0, head - keep_last + 1)
        if keep_from is not None:
            min_keep = min(min_keep, keep_from)
        # ids past HEAD are dangling manifests a rollback/restore already
        # discarded (a crashed round's commits) — always expirable, or the
        # crashed round's junk files would count as 'referenced' forever
        kept = [s for s in snaps if min_keep <= s <= head or s == head]
        expired = [s for s in snaps if s not in kept]
        referenced: set[str] = set()
        for s in kept:
            referenced.update(os.path.realpath(f)
                              for f in self._files(name, s))
        # manifests FIRST (Iceberg's order): if the file sweep below is
        # interrupted, the worst leftover is an orphaned data file the
        # next expiry reclaims — never a live-looking manifest pointing
        # at deleted files
        for s in expired:
            os.remove(self._snap_path(name, s))
        n_deleted, bytes_freed = 0, 0
        data_root = os.path.join(tdir, "data")
        if os.path.isdir(data_root):
            for dirpath, _dirnames, filenames in os.walk(data_root):
                paths = [os.path.realpath(os.path.join(dirpath, fn))
                         for fn in filenames]
                live = any(p in referenced for p in paths)
                for p in paths:
                    if p in referenced:
                        continue
                    if live and not p.endswith(".parquet"):
                        # _SUCCESS/.crc sidecars belong to a staging dir
                        # that still holds kept data files — leave the
                        # kept snapshot's directory untouched
                        continue
                    bytes_freed += os.path.getsize(p)
                    os.remove(p)
                    if p.endswith(".parquet"):
                        n_deleted += 1
            # drop now-empty staging dirs so the walk stays O(live)
            for dirpath, dirnames, filenames in os.walk(data_root,
                                                        topdown=False):
                if not dirnames and not filenames and dirpath != data_root:
                    os.rmdir(dirpath)
        return {"expired": expired, "kept": kept,
                "files_deleted": n_deleted, "bytes_freed": bytes_freed}

    def rollback(self, name: str, snapshot: int) -> None:
        """Point HEAD back at an older snapshot (resume-after-crash path)."""
        if not os.path.exists(self._snap_path(name, snapshot)):
            raise FileNotFoundError(f"{name}: no snapshot {snapshot}")
        tdir = self._tdir(name)
        tmp = os.path.join(tdir, f".HEAD-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(snapshot))
        os.replace(tmp, os.path.join(tdir, "HEAD"))

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)
