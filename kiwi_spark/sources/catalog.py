"""Stage-table catalog: parquet tables with snapshot manifests.

The design target is an Iceberg catalog (BASELINE.json: "resumable from
Iceberg snapshot checkpoints"): every pipeline stage commits its output as an
immutable snapshot, and resume means "start from the last committed stage".
The sandbox has no Iceberg runtime jar, so this module implements the same
contract on plain parquet:

    <warehouse>/<table>/snap-<n>/   immutable parquet data
    <warehouse>/<table>/MANIFEST.json  {current, schema, snapshots[]},
        a snapshot {id, stage, dir, dirs, deletes,
        partitions: [[partition_id, rows, bytes]]}

One shape: ``schema``, ``dirs`` (live data dirs, ``dir`` the snapshot's
own) and ``partitions`` are always present, ``deletes`` only when the
snapshot has equality deletes; rebuild older warehouses with run_pipeline.

Mapping to Iceberg in production: ``commit`` ≡ table.newAppend/replace
snapshot commit; ``MANIFEST.json`` ≡ the catalog pointer; readers always go
through the manifest so a half-written snap-<n> directory is never visible
(write-then-flip, same isolation Iceberg gives via metadata swap).
``partitions`` ≡ Iceberg's per-data-file ``record_count``, read from the
commit's own parquet footers, so ``row_count`` and ``lineage`` need no job;
``schema`` ≡ the table's Iceberg schema, so ``read`` runs no parquet
schema-inference job either.

Everything is driver-side metadata only — data paths are read/written by
Spark executors as ordinary parquet (predicate pushdown and column pruning
fully apply).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql.types import StructType


def _as_nullable(node):
    """A schema's JSON with every field, array element and map value
    nullable — what Spark's parquet writer records, whatever the
    DataFrame declared."""
    if isinstance(node, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else _as_nullable(v)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_as_nullable(v) for v in node]
    return node


class Catalog:
    def __init__(self, warehouse: str) -> None:
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- warehouse properties ---------------------------------------------
    # catalog-level key/value metadata (the Iceberg table-properties
    # analog) — e.g. the link_mode the graph was built with, so a later
    # incremental batch can't silently relink with a mismatched key family
    def _properties_path(self) -> str:
        return os.path.join(self.warehouse, "PROPERTIES.json")

    def properties(self) -> dict:
        path = self._properties_path()
        if not os.path.exists(path):
            return {}
        with open(path) as fh:
            return json.load(fh)

    def get_property(self, key: str, default=None):
        return self.properties().get(key, default)

    def set_property(self, key: str, value) -> None:
        props = self.properties()
        props[key] = value
        tmp = self._properties_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(props, fh, indent=2)
        os.replace(tmp, self._properties_path())  # atomic flip

    # -- single-writer guard ----------------------------------------------
    def mutation_lock(self):
        """Exclusive per-warehouse mutation lock (context manager).

        Mutating entrypoints (full run, incremental add/remove) must be
        serialized per warehouse: batch idempotency keys assume no other
        mutation lands between a batch's first commit and its completion
        (e.g. a removal bumping removal_epoch mid-add would orphan the
        add's retry tag). This is the local-driver stand-in for Iceberg's
        optimistic commit-conflict detection — flock releases on process
        death, so a crashed run never wedges the warehouse."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def _lock():
            path = os.path.join(self.warehouse, "MUTATION.lock")
            # append mode: a LOSING contender must not truncate the
            # holder's recorded pid (the file's debugging value) before
            # its own flock attempt fails
            fh = open(path, "a+")
            try:
                fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                fh.close()
                raise RuntimeError(
                    f"another mutation is in progress on warehouse "
                    f"{self.warehouse!r} (single-writer discipline); retry "
                    "after it completes"
                ) from None
            try:
                fh.seek(0)
                fh.truncate()
                fh.write(f"{os.getpid()}\n")
                fh.flush()
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)
                fh.close()

        return _lock()

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "MANIFEST.json")

    def _read_manifest(self, table: str) -> dict | None:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def current_snapshot(self, table: str) -> dict | None:
        manifest = self._read_manifest(table)
        if not manifest or manifest.get("current") is None:
            return None
        snap_id = manifest["current"]
        return next(s for s in manifest["snapshots"] if s["id"] == snap_id)

    def exists(self, table: str) -> bool:
        return self.current_snapshot(table) is not None

    def path(self, table: str) -> str:
        return self.paths(table)[0]

    def paths(self, table: str) -> list[str]:
        """All data dirs of the current snapshot (append snapshots reference
        prior dirs plus their own — the Iceberg manifest-list analog)."""
        snap = self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        return [os.path.join(self.warehouse, table, d) for d in snap["dirs"]]

    # -- commit / read -----------------------------------------------------
    def commit(self, df, table: str, stage: str | None = None,
               append: bool = False, batch_id: str | None = None,
               batch_ids: list[str] | None = None,
               delete_sets: list[tuple] | None = None,
               partition_by: list[str] | None = None,
               sort_within: list[str] | None = None) -> dict:
        """Write df as the next snapshot of `table`, then flip the manifest.

        ``partition_by`` declares the table's physical layout (the Iceberg
        partition-spec analog, e.g. ``bucket(entity_id)`` materialized as a
        hash column): the first commit that passes it records the spec in
        the manifest, and EVERY later commit — appends, pure-delete
        commits, compaction — re-applies it automatically, so the layout
        survives the table's whole lifecycle. The write clusters rows
        (repartition on the spec columns, optional ``sort_within`` for
        row-group stats on a secondary key) and writes hive-style
        partition dirs, giving readers partition-pruned scans for
        ``col IN (...)`` probes (the delta paths' touched-bucket filters).

        ``append=True`` writes only df's rows into the new snapshot dir and
        the snapshot references the previous snapshot's dirs as well —
        an Iceberg fast-append (no rewrite of existing data).

        ``delete_sets`` (requires ``append=True``) adds Iceberg
        *equality-deletes* to the same commit: a list of (keys_df,
        key_cols) pairs, each applied as an independent anti-join — a row
        is masked if ANY set matches it (e.g. edges deleted by src_id ∈ S
        plus dst_id ∈ S). Readers apply a delete to rows from EARLIER
        snapshots only — rows appended by this commit (or later) are not
        affected, exactly Iceberg's sequence-number rule. This makes
        incremental maintenance commits O(changed rows): old rows are
        masked, not rewritten. Read amplification grows with the delete
        chain; ``compact()`` rewrites the table to a single clean snapshot.

        ``batch_id`` tags the snapshot with an idempotency key (Iceberg's
        wap.id analog): retried incremental batches check
        ``batch_appended`` and skip instead of double-appending."""
        delete_sets = delete_sets or []
        if delete_sets and not (
            append and all(cols for _, cols in delete_sets)
        ):
            raise ValueError("delete sets require append=True and key columns")
        manifest = self._read_manifest(table) or {"current": None, "snapshots": []}
        if partition_by:
            manifest["partition_by"] = list(partition_by)
            if sort_within:
                manifest["sort_within"] = list(sort_within)
        # the schema rides in the manifest so a table whose every live
        # data file has been masked away (possible on partitioned tables,
        # where an empty write emits no files at all) stays readable
        manifest["schema"] = df.schema.jsonValue()
        layout = manifest.get("partition_by")
        next_id = (
            max((s["id"] for s in manifest["snapshots"]), default=0) + 1
        )
        snap_dir = f"snap-{next_id:05d}"
        out = os.path.join(self.warehouse, table, snap_dir)
        started = time.time()
        if layout:
            clustered = df.repartition(*layout)
            if manifest.get("sort_within"):
                clustered = clustered.sortWithinPartitions(
                    *manifest["sort_within"]
                )
            clustered.write.mode("overwrite").partitionBy(*layout).parquet(out)
        else:
            df.write.mode("overwrite").parquet(out)
        new_deletes = []
        for i, (keys_df, cols) in enumerate(delete_sets):
            delete_dir = f"{snap_dir}-deletes{i if i else ''}"
            keys_df.select(*cols).write.mode("overwrite").parquet(
                os.path.join(self.warehouse, table, delete_dir)
            )
            new_deletes.append({"dir": delete_dir, "on": list(cols), "seq": next_id})
        dirs, deletes = [snap_dir], new_deletes
        if append and manifest["current"] is not None:
            prev = next(
                s for s in manifest["snapshots"] if s["id"] == manifest["current"]
            )
            dirs = prev["dirs"] + [snap_dir]
            deletes = list(prev.get("deletes") or []) + new_deletes
        snap = {
            "id": next_id,
            "dir": snap_dir,
            "dirs": dirs,
            "stage": stage or table,
            "committed_at": time.time(),
            "write_seconds": round(time.time() - started, 3),
            "partitions": self._written_partitions(out),
        }
        if deletes:
            snap["deletes"] = deletes
        if batch_id is not None:
            snap["batch_id"] = batch_id
        if batch_ids:
            snap["batch_ids"] = sorted(batch_ids)
        manifest["snapshots"].append(snap)
        manifest["current"] = next_id
        tmp = self._manifest_path(table) + ".tmp"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, self._manifest_path(table))  # atomic flip
        return snap

    @staticmethod
    def _written_partitions(path: str) -> list[list[int]]:
        """[[partition_id, rows, bytes], ...] of a snapshot dir, from its
        parquet footers (driver-side, no Spark job). partition_id is the
        write task's id in the ``part-NNNNN`` file name; a hive-partitioned
        dir holds one file per task and value, summed per task."""
        sizes: dict[int, list[int]] = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith("part-") and f.endswith(".parquet"):
                    full = os.path.join(root, f)
                    acc = sizes.setdefault(int(f.split("-")[1]), [0, 0])
                    acc[0] += pq.read_metadata(full).num_rows
                    acc[1] += os.path.getsize(full)
        return [[pid, rows, nbytes] for pid, (rows, nbytes) in sorted(sizes.items())]

    def row_count(self, spark, table: str) -> int:
        """Live rows, summed from the ``partitions`` of the live dirs — no
        Spark job. Counts the merged read only when the manifest cannot
        answer: the snapshot has equality deletes."""
        snap = self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        if snap.get("deletes"):
            return self.read(spark, table).count()
        sizes = {
            s["dir"]: s["partitions"]
            for s in self._read_manifest(table)["snapshots"]
        }
        return sum(
            rows for d in snap["dirs"] for _pid, rows, _bytes in sizes[d]
        )

    def lineage(self) -> list[dict]:
        """One row per (table, snapshot, write partition) over every commit
        of every table, read from the manifests — no Spark job."""
        return [
            {
                "table": table,
                "stage": s["stage"],
                "snapshot_id": s["id"],
                "partition_id": pid,
                "row_count": rows,
                "bytes": nbytes,
                "write_seconds": s["write_seconds"],
                "committed_at": s["committed_at"],
            }
            for table in self.tables()
            for s in self._read_manifest(table)["snapshots"]
            for pid, rows, nbytes in s["partitions"]
        ]

    def batch_appended(self, table: str, batch_id: str) -> bool:
        """True iff a snapshot tagged with batch_id is part of the CURRENT
        snapshot's data-dir chain (i.e. the batch's rows are live)."""
        cur = self.current_snapshot(table)
        if cur is None:
            return False
        live = set(cur["dirs"])
        return any(
            s["dir"] in live
            and (
                s.get("batch_id") == batch_id
                or batch_id in (s.get("batch_ids") or [])
            )
            for s in self._read_manifest(table)["snapshots"]
        )

    @staticmethod
    def _dir_has_data(path: str) -> bool:
        """True iff the dir holds at least one parquet data file. A
        partitioned write of zero rows emits no partition dirs at all
        (just _SUCCESS) — such dirs must be skipped at read time."""
        for root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def table_schema(self, table: str):
        """The table's schema as a parquet read gives it back: the
        manifest's recorded schema with every field nullable and the
        partition columns moved to the end in layout order, exactly what
        schema inference yields — but with no inference job."""
        manifest = self._read_manifest(table)
        fields = StructType.fromJson(_as_nullable(manifest["schema"])).fields
        layout = manifest.get("partition_by") or []
        by_name = {f.name: f for f in fields}
        return StructType(
            [f for f in fields if f.name not in layout]
            + [by_name[c] for c in layout]
        )

    def _read_paths(self, spark, paths: list[str], schema,
                    layout: list[str] | None):
        """One DataFrame over several snapshot dirs, read with the
        table's schema. Partitioned tables must be read per root dir and
        unioned (Spark's partition discovery rejects multiple roots),
        which also keeps per-scan PartitionFilters pushdown; dataless
        dirs are skipped."""
        if not layout:
            return spark.read.schema(schema).parquet(*paths)
        out = None
        for path in paths:
            if not self._dir_has_data(path):
                continue
            part = spark.read.schema(schema).parquet(path)
            out = part if out is None else out.unionByName(part)
        if out is None:
            return spark.createDataFrame([], schema)
        return out

    def read_batch(self, spark, table: str, batch_id: str):
        """The rows written by the snapshot(s) tagged with batch_id."""
        manifest = self._read_manifest(table) or {"snapshots": []}
        paths = [
            os.path.join(self.warehouse, table, s["dir"])
            for s in manifest["snapshots"]
            if s.get("batch_id") == batch_id
        ]
        return self._read_paths(
            spark, paths, self.table_schema(table),
            manifest.get("partition_by"),
        )

    def read(self, spark, table: str):
        snap = self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        layout = (self._read_manifest(table) or {}).get("partition_by")
        schema = self.table_schema(table)
        deletes = snap.get("deletes") or []
        if not deletes:
            return self._read_paths(spark, self.paths(table), schema, layout)
        # merge-on-read: equality deletes mask rows from snapshots OLDER
        # than the delete (Iceberg sequence-number semantics) — a commit
        # that deletes key K and appends new K rows keeps the new rows.
        # Dirs sharing the same applicable delete set are read together.
        by_delset: dict[tuple, list[str]] = {}
        for d in snap["dirs"]:
            seq = int(d.split("-")[1])
            applicable = tuple(
                i for i, dl in enumerate(deletes) if dl["seq"] > seq
            )
            by_delset.setdefault(applicable, []).append(
                os.path.join(self.warehouse, table, d)
            )
        out = None
        for applicable, paths in sorted(by_delset.items()):
            part = self._read_paths(spark, paths, schema, layout)
            for i in applicable:
                dl = deletes[i]
                keys = spark.read.schema(
                    StructType([schema[c] for c in dl["on"]])
                ).parquet(os.path.join(self.warehouse, table, dl["dir"]))
                part = part.join(keys, on=list(dl["on"]), how="left_anti")
            out = part if out is None else out.unionByName(part)
        return out

    def live_batch_ids(self, table: str) -> list[str]:
        """Batch ids whose rows are part of the current snapshot's data-dir
        chain — a full-rewrite commit (compaction, index retrain) must
        carry these forward so retried batches still skip."""
        manifest = self._read_manifest(table) or {"snapshots": []}
        cur = self.current_snapshot(table)
        live = set(cur["dirs"]) if cur else set()
        return sorted(
            {
                b
                for s in manifest["snapshots"]
                if s["dir"] in live
                for b in ([s["batch_id"]] if s.get("batch_id") else [])
                + list(s.get("batch_ids") or [])
            }
        )

    def compact(self, spark, table: str, stage: str | None = None) -> dict:
        """Rewrite the table's merged view as one clean snapshot — the
        Iceberg rewrite-data-files action that bounds MOR read
        amplification. Call after every N incremental batches. Batch-id
        provenance of the compacted-away snapshots is carried forward IN
        THE SAME atomic manifest flip as the rewrite, so a crash can
        never leave a current snapshot that has forgotten which batches
        are live (``batch_appended`` would otherwise double-append on
        retry)."""
        return self.commit(
            self.read(spark, table), table, stage=stage,
            batch_ids=self.live_batch_ids(table) or None,
        )

    def drop(self, table: str) -> None:
        target = os.path.join(self.warehouse, table)
        if os.path.exists(target):
            shutil.rmtree(target)

    def tables(self) -> list[str]:
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(
            name
            for name in os.listdir(self.warehouse)
            if os.path.exists(self._manifest_path(name))
        )
