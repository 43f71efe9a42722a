"""The CDC write path: insert / delete / update / grouped and batched apply.

Re-expresses the reference's data plane (``SparkDestinationStream.java:
94-235``) Spark-first:

* **insert** — fetch the target table schema (``:216``), conform the
  payload JSON to it with FAILFAST and the exact-integral rule
  (``:221-262``, ``functions.codec.conform_payload``), append
  (``:229-232``).
* **delete** — key map → conjunctive equality predicate; ALL key fields are
  ANDed (fixing the reference's composite-key bug at ``:126-132``); values
  are bound as typed literals, not string-spliced (the reference inlines
  escaped literals via jOOQ, ``:134`` — same injection safety, cleaner).
* **update** — atomic replace-by-key in one commit, fixing the reference's
  non-atomic delete-then-insert (``:110-114``, data-loss risk documented in
  its ``README.md:74-77``).
* **group commit** — ``with writer.batch(): writer.write(r) ...`` stages
  records and commits them on exit with exactly the effect of applying
  them one at a time (inserts append, so duplicate keys stay). Each update
  or delete starts a new commit that also holds the inserts after it:
  inserts share commits, while every update or delete keeps its own
  rewrite, so the bytes written do not depend on how records were
  grouped (see :class:`WriteGroup`). A ``write`` outside a batch is a
  group of one. The reference commits once
  per record (``SparkDestinationStream.java:60-277``); the plugin's Run
  stream commits each socket read's records as one group.
* **apply_batch** — the scale path the reference lacks: turn a
  micro-batch into the epoch path's envelope rows and apply them as an
  epoch (``streaming.cdc.decode_cdc`` + ``apply_cdc_batch``) — one
  last-write-wins collapse per key, one merge, one commit instead of one
  Spark job + one data file per record.

Every change frame built from Python values (payload rows, delete keys,
epoch watermarks) goes through Arrow (:func:`arrow_frame`): a local relation,
not a pickled RDD that each partition must run through a Python worker.

Storage backends: every apply path calls one store contract,
:class:`TableStore` — ``append`` for insert-only runs, ``replace_key`` for a
run led by an update or delete, ``merge_apply`` for a collapsed batch.
:class:`ParquetWarehouse` implements it with copy-on-write rewrites —
functionally what Iceberg CoW does, minus snapshot isolation (single-writer
only; documented). ``iceberg.IcebergTableStore`` implements it as Iceberg
appends and row-level MERGE against a live catalog.

A :class:`ParquetWarehouse` table is a directory of immutable ``v-<uuid>``
version directories (data files, ``_deletes/`` equality-delete files,
``_MARKS.json``) plus ``CURRENT``, ``LOG``, ``SCHEMA``, ``SPEC`` and
``TAGS``. Every version comes from one path, as every Iceberg write is one
commit (``SparkUtils.java:45-51``): **write** the new rows into a fresh
version directory (``_write``), **carry** the parent's kept files into it
as hardlinks (``_link_files``), **commit** it (``_commit``, the single
publish point: the ``CURRENT`` pointer swap and the ``LOG`` line).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Any, Protocol

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.codec import conform_payload
from .records import (
    Operation,
    Record,
    key_to_map,
    normalize_payload_json,
    struct_key_to_map,
)
from .state import write_json_atomic


def arrow_frame(spark: SparkSession, columns: dict[str, Any]) -> DataFrame:
    """A small frame built from Python values through Arrow: ``columns`` maps
    each column name to a list or ``pyarrow.Array``. The frame plans as a
    local relation, where ``createDataFrame`` on Python tuples plans a
    pickled RDD whose every partition passes through a Python worker."""
    return spark.createDataFrame(pa.table(columns))


def key_frame(
    spark: SparkSession, key_map: dict[str, Any], schema: T.StructType
) -> DataFrame:
    """A key as one row typed like the table's key columns: each value in
    its stringified-struct form, cast to the column type."""
    strs = struct_key_to_map(key_map)
    types = {f.name: f.dataType for f in schema.fields}
    frame = arrow_frame(spark, {n: pa.array([v], pa.string()) for n, v in strs.items()})
    return frame.select(*[F.col(n).cast(types.get(n, T.StringType())) for n in strs])


#: marker column carrying each row's operation ('upsert' | 'delete') in a
#: :meth:`TableStore.merge_apply` source
OP_COL = "__op"


class TableStore(Protocol):
    """The store contract every CDC apply path calls, implemented by
    :class:`ParquetWarehouse` and ``iceberg.IcebergTableStore``; a store
    also carries the ``spark`` session its frames belong to."""

    spark: SparkSession

    def read(self, table: str) -> DataFrame: ...

    def schema(self, table: str) -> T.StructType: ...

    def table_exists(self, table: str) -> bool: ...

    def append(self, table: str, df: DataFrame) -> None: ...

    def replace_key(
        self, table: str, key_map: dict[str, Any], rows: DataFrame | None = None
    ) -> int | None:
        """Remove the rows matching ALL fields of ``key_map`` and add
        ``rows`` in one commit; a store that counts returns the removed
        rows when ``rows`` is None."""

    def merge_apply(self, table: str, source: DataFrame, key_fields: list[str]) -> None:
        """Apply table-shaped ``source`` rows plus :data:`OP_COL`, one per
        key (already collapsed last-write-wins): upserts replace or insert
        their key, deletes remove it, in one commit."""


class ParquetWarehouse:
    """A local table namespace with copy-on-write semantics.

    Stand-in for the Iceberg catalog when the runtime jar is absent: the
    same :class:`TableStore` contract, the same observable results.

    A table ``<root>/<table>/`` holds:

    * ``v-<uuid>/``, one immutable directory per committed version: its
      parquet data files (under hive ``col=value/`` directories when the
      table has a partition spec), its ``_deletes/`` equality-delete files
      (merge-on-read) and ``_MARKS.json``, the idempotence marks live when
      it committed. Files a version shares with its parent are hardlinks.
    * ``CURRENT``, the snapshot pointer ``{"version", "marks"}`` (a plain
      version name is the legacy form and still reads).
    * ``LOG``, one version name per commit, oldest first.
    * ``SCHEMA``, ``SPEC`` and ``TAGS``: table metadata.

    Every mutation that makes a version takes the same three steps, like an
    Iceberg commit: :meth:`_write` writes the new rows into a fresh version
    directory; :meth:`_link_files` hardlinks the parent's files the version
    keeps (the carried manifests of an Iceberg snapshot); :meth:`_commit`
    publishes the directory. ``_commit`` is the single publish point: no
    reader sees a version before it. Every JSON file goes through
    ``state.write_json_atomic``. Single-writer only: the pointer swap is
    not a compare-and-swap.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- catalog ------------------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _load(self, table: str, name: str, default: Any = None) -> Any:
        """The JSON file ``name`` under the table's directory, or ``default``."""
        path = os.path.join(self._dir(table), name)
        if not os.path.exists(path):
            return default
        with open(path) as fh:
            return json.load(fh)

    def _store(self, table: str, name: str, value: Any) -> None:
        write_json_atomic(os.path.join(self._dir(table), name), value)

    # cap on remembered idempotence marks: Structured Streaming only ever
    # re-delivers the LAST unacknowledged epoch per checkpoint, so a short
    # recent-marks window is sufficient and keeps CURRENT O(1)-sized
    MAX_COMMIT_MARKS = 64

    def _current_state(self, table: str) -> dict:
        marker = os.path.join(self._dir(table), "CURRENT")
        with open(marker) as fh:
            raw = fh.read().strip()
        if raw.startswith("{"):
            return json.loads(raw)
        return {"version": raw, "marks": {}}  # pre-marks plain marker

    def _current_path(self, table: str) -> str:
        return os.path.join(
            self._dir(table), self._current_state(table)["version"]
        )

    def _write(
        self,
        table: str,
        df: DataFrame,
        spec: dict | None = None,
        finish=None,
        sub: str = "",
    ) -> str:
        """Write ``df`` into a fresh ``v-<uuid>`` version directory (into its
        ``sub`` directory when given, e.g. ``_deletes``) and return the
        version directory. Nothing is visible until :meth:`_commit`.

        The rows follow ``spec`` (default: the table's): hive-layout
        partition dirs, and the declared write sort order — Iceberg's
        ``write.distribution-mode=range`` + ``WRITE ORDERED BY``:
        range-partition on the sort key (one shuffle), then a local
        per-task sort, so each parquet file covers a narrow, disjoint
        sort-key range and row-group min/max stats actually skip files.

        ``finish`` maps the laid-out frame to the rows written. It applies
        above the range exchange, whose sampling job reads every row below
        it, so an ``observe`` inside ``finish`` counts each row once."""
        version_dir = os.path.join(self._dir(table), f"v-{uuid.uuid4().hex}")
        if spec is None:
            spec = self._spec(table)
        if spec["sort_by"]:
            n = max(df.rdd.getNumPartitions(), 1)
            df = df.repartitionByRange(n, *spec["sort_by"]).sortWithinPartitions(
                *(spec["partition_by"] + spec["sort_by"])
            )
        if finish is not None:
            df = finish(df)
        writer = df.write.mode("overwrite")
        if spec["partition_by"]:
            writer = writer.partitionBy(*spec["partition_by"])
        writer.parquet(os.path.join(version_dir, sub))
        return version_dir

    def _link_files(
        self, src: str, dst: str, skip_dirs: set[str] = frozenset()
    ) -> None:
        """Carry the parent version ``src`` into the written version ``dst``:
        hardlink its data files, preserving partition sub-paths, except
        those under a relative dir in ``skip_dirs`` (partitions being
        replaced), and all its ``_deletes/`` files. Spark part names carry a
        per-write UUID, so a carried file never collides with a new one.

        This is where carried files meet newly written ones, so it refuses
        to mix partition layouts: after a rollback across
        :meth:`evolve_partition_spec` the carried files sit at another hive
        depth than the new ones, and a version holding both breaks
        partition discovery. ``dst`` is then removed and nothing commits."""
        carried = [
            rel for rel in self._data_files(src)
            if os.path.dirname(rel) not in skip_dirs
        ]
        old = {rel.count(os.sep) for rel in carried}
        new = {rel.count(os.sep) for rel in self._data_files(dst)}
        if len(old | new) > 1:
            shutil.rmtree(dst, ignore_errors=True)
            raise ValueError(
                "the current snapshot was written under another partition "
                f"layout (depth {sorted(old)}) than the table spec (depth "
                f"{sorted(new)}); run evolve_partition_spec() to rewrite it "
                "into the current spec before writing"
            )
        carried += [os.path.relpath(f, src) for f in self._delete_files(src)]
        for rel in carried:
            os.makedirs(os.path.dirname(os.path.join(dst, rel)), exist_ok=True)
            os.link(os.path.join(src, rel), os.path.join(dst, rel))

    def _commit(
        self,
        table: str,
        version_dir: str,
        mark: str | None = None,
        marks_override: dict | None = None,
    ) -> None:
        """Publish ``version_dir``: the atomic snapshot pointer swap and the
        LOG line. This is the only place a version becomes visible.

        ``mark`` is an idempotence token (e.g. ``e<epoch>``) recorded IN THE
        SAME pointer swap as the version — so 'this epoch's write committed
        to this table' and the data it committed become one atomic fact.
        That closes the mid-epoch crash window of multi-table epoch
        application: each table independently remembers whether the
        epoch's write landed, and a replay skips exactly the tables that
        already committed (see :meth:`append`'s ``mark`` and
        :func:`mark_epoch_applied`).

        ``marks_override`` replaces the carried-forward marks dict wholesale
        (rollback restores the marks AS OF the target snapshot — see
        :meth:`rollback`). The final marks state is also persisted inside
        the version directory as ``_MARKS.json`` (underscore prefix: Spark's
        parquet reader treats it as hidden, like ``_deletes``), so every
        snapshot carries the marks that were live when it committed and a
        later rollback can restore them exactly."""
        if marks_override is not None:
            marks = dict(marks_override)
        elif self.table_exists(table):
            marks = self._current_state(table).get("marks", {})
        else:
            marks = {}
        if mark is not None:
            marks.pop(str(mark), None)  # re-insert at the recent end
            marks[str(mark)] = os.path.basename(version_dir)
            while len(marks) > self.MAX_COMMIT_MARKS:
                marks.pop(next(iter(marks)))
        write_json_atomic(os.path.join(version_dir, "_MARKS.json"), marks)
        version = os.path.basename(version_dir)
        self._store(table, "CURRENT", {"version": version, "marks": marks})
        with open(os.path.join(self._dir(table), "LOG"), "a") as fh:
            fh.write(version + "\n")

    def _version_marks(self, table: str, version: str) -> dict:
        """Marks state as of the commit that produced ``version`` (empty for
        snapshots written before marks persistence — conservative: a replay
        then re-applies, matching the old clear-all behavior)."""
        return self._load(table, os.path.join(version, "_MARKS.json"), {})

    def mark_applied(self, table: str, mark: str) -> bool:
        """True if a commit carrying ``mark`` already landed on ``table``
        (within the recent-marks window — see MAX_COMMIT_MARKS)."""
        if not self.table_exists(table):
            return False
        return str(mark) in self._current_state(table).get("marks", {})

    def create_table(
        self,
        table: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
    ) -> None:
        """Create an empty table, optionally with a partition spec and a
        write sort order (Iceberg ``PARTITIONED BY`` + ``WRITE ORDERED BY``).

        ``partition_by`` columns become hive-style ``col=value`` directories
        in every version — scans filtered on them prune whole directories
        (Iceberg partition pruning; at 100 TB this is the difference between
        scanning one day and scanning a decade). ``sort_by`` clusters rows
        within each written file so parquet row-group min/max stats become
        selective (Iceberg's metrics-based file skipping).
        """
        os.makedirs(self._dir(table), exist_ok=True)
        if partition_by or sort_by:
            self._store(
                table,
                "SPEC",
                {"partition_by": partition_by or [], "sort_by": sort_by or []},
            )
        self._store(table, "SCHEMA", schema.jsonValue())
        empty = self.spark.createDataFrame([], schema)
        self._commit(table, self._write(table, empty))

    def _spec(self, table: str) -> dict:
        return self._load(table, "SPEC") or {"partition_by": [], "sort_by": []}

    def table_exists(self, table: str) -> bool:
        return os.path.exists(os.path.join(self._dir(table), "CURRENT"))

    def read(self, table: str, version: int | str | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to an older one.

        ``version`` is a name from :meth:`history` or an index into it
        (negative indexes count from the latest, Python-style) — the
        engine-side analog of Iceberg's ``VERSION AS OF`` read. Snapshots
        remain readable until :meth:`expire_snapshots` removes them.
        """
        if version is None:
            path = self._current_path(table)
        else:
            if isinstance(version, int):
                version = self.history(table)[version]
            version = self.tags(table).get(version, version)
            path = os.path.join(self._dir(table), version)
            if not os.path.isdir(path):
                raise ValueError(
                    f"unknown or expired version {version!r} of {table!r}"
                )
        stored = self._stored_schema(table)
        if stored is not None:
            # The stored schema is authoritative (Iceberg: table metadata,
            # not data files, owns the schema). This makes empty/all-pruned
            # versions readable and schema evolution metadata-only: columns
            # added after a file was written read as null, dropped columns
            # are simply not projected.
            base = self.spark.read.schema(stored).parquet(path)
        else:
            base = self.spark.read.parquet(path)
        return self._apply_deletes(base, path)

    def _apply_deletes(self, base: DataFrame, version_path: str) -> DataFrame:
        """Merge-on-read: subtract this snapshot's equality-delete files
        (one broadcastable anti-join on the delete keys — the v2 Iceberg
        read path; the write stays O(deleted keys) instead of O(table))."""
        if not self._delete_files(version_path):
            return base
        dels = self.spark.read.parquet(
            os.path.join(version_path, "_deletes")
        ).distinct()
        return base.join(F.broadcast(dels), dels.columns, "left_anti")

    def _stored_schema(self, table: str) -> T.StructType | None:
        stored = self._load(table, "SCHEMA")
        # None: the table predates schema tracking, infer from files
        return None if stored is None else T.StructType.fromJson(stored)

    def schema(self, table: str) -> T.StructType:
        stored = self._stored_schema(table)
        return stored if stored is not None else self.read(table).schema

    @staticmethod
    def _data_files(version_dir: str) -> list[str]:
        """Relative paths of all data files in a version (walks hive-style
        partition subdirectories)."""
        out = []
        for root, _dirs, files in os.walk(version_dir):
            rel = os.path.relpath(root, version_dir)
            if rel == "_deletes" or rel.startswith("_deletes" + os.sep):
                continue  # MoR delete files are metadata, not data
            for name in files:
                if name.endswith(".parquet"):
                    out.append(name if rel == "." else os.path.join(rel, name))
        return out

    @staticmethod
    def _delete_files(version_dir: str) -> list[str]:
        ddir = os.path.join(version_dir, "_deletes")
        if not os.path.isdir(ddir):
            return []
        return sorted(
            os.path.join(ddir, f)
            for f in os.listdir(ddir)
            if f.endswith(".parquet")
        )

    # -- merge-on-read deletes (Iceberg v2 equality-delete files) -----------
    def delete_keys_mor(
        self, table: str, keys: DataFrame, key_cols: list[str]
    ) -> dict:
        """DELETE by key as a merge-on-read commit: write the (distinct)
        keys as an equality-delete file under the new snapshot's
        ``_deletes/`` and hardlink every data file untouched — commit cost
        is O(deleted keys), not O(table) (Iceberg v2 equality deletes; the
        CoW twin is ``overwrite_where_not``). Readers subtract pending
        deletes with one broadcast anti-join; ``rewrite_deletes`` folds
        them into data files when read amplification builds up.

        All delete files of a table must share one key-column set (the
        anti-join key); Iceberg allows per-file key sets, this analogue
        pins the first one used.
        """
        schema_cols = set(self.schema(table).names)
        missing = [c for c in key_cols if c not in schema_cols]
        if missing:
            raise ValueError(f"unknown key columns {missing} for {table!r}")
        current = self._current_path(table)
        if self._delete_files(current):
            prior_cols = self.spark.read.parquet(
                os.path.join(current, "_deletes")
            ).columns
            if sorted(prior_cols) != sorted(key_cols):
                raise ValueError(
                    f"table {table!r} already has delete files keyed by "
                    f"{prior_cols}; all MoR deletes must share one key set"
                )
        version_dir = self._write(
            table,
            keys.select(*key_cols).distinct(),
            spec={"partition_by": [], "sort_by": []},
            sub="_deletes",
        )
        self._link_files(current, version_dir)
        self._commit(table, version_dir)
        return {
            "delete_files": len(self._delete_files(version_dir)),
            "key_cols": list(key_cols),
        }

    def rewrite_deletes(self, table: str) -> dict:
        """Materialize pending MoR deletes into the data files (one CoW
        rewrite — Iceberg's ``rewrite_position_delete_files`` / minor
        compaction). After this, scans pay zero anti-join overhead."""
        pending = len(self._delete_files(self._current_path(table)))
        if pending:
            self._commit(table, self._write(table, self.read(table)))
        return {"delete_files_applied": pending}

    # -- mutations (CoW) ----------------------------------------------------
    def append(self, table: str, df: DataFrame, mark: str | None = None) -> None:
        """O(new data) append: write only the new rows as data files; the
        previous version's files are HARDLINKED into the new version dir
        (the same manifest-reuse idea as an Iceberg append commit — new
        snapshot, shared unchanged data files). Rewriting the whole table
        per append would make ingest O(table) per batch, which is worse
        than the reference's per-record file appends at any real scale.

        ``mark``: idempotence token — if a committed version already
        carries it, the append is a NO-OP. Epoch maintainers that write
        several tables pass ``mark=f"e{epoch_id}"`` so a crash BETWEEN
        the tables' commits replays exactly-once per table: the tables
        that committed skip, the ones that didn't apply.

        Pending merge-on-read deletes apply by key to the whole table, so
        carried forward unchanged they would also hide appended rows that
        reuse a deleted key. Such an append (checked with one semi-join of
        the new rows against the pending delete keys) folds the deletes in
        and commits one copy-on-write version instead: the deleted old
        rows stay gone and the new rows are visible, as Iceberg's sequence
        numbers order them."""
        if mark is not None and self.mark_applied(table, mark):
            return
        current = self._current_path(table)
        if self._delete_files(current):
            dels = self.spark.read.parquet(os.path.join(current, "_deletes"))
            if not df.join(dels, dels.columns, "left_semi").isEmpty():
                merged = self.read(table).unionByName(df, allowMissingColumns=True)
                self._commit(table, self._write(table, merged), mark=mark)
                return
        version_dir = self._write(table, df)
        self._link_files(current, version_dir)
        self._commit(table, version_dir, mark=mark)

    def overwrite_partitions(self, table: str, df: DataFrame) -> dict:
        """Dynamic-partition overwrite (Iceberg ``writeTo(t).
        overwritePartitions()`` / Spark's dynamic ``INSERT OVERWRITE``):
        replace exactly the partitions present in ``df``, hardlink every
        other partition's files unchanged. Cost is O(touched partitions),
        not O(table) — the property that makes daily backfills viable on a
        100 TB table."""
        spec = self._spec(table)
        if not spec["partition_by"]:
            raise ValueError(f"table {table!r} has no partition spec")
        current = self._current_path(table)
        if self._delete_files(current):
            # equality deletes apply by KEY, table-wide; replacing a
            # partition with corrected rows that reuse deleted keys would
            # wrongly re-delete them (Iceberg orders this with per-file
            # sequence numbers; this analogue materializes instead)
            raise ValueError(
                f"table {table!r} has pending MoR delete files; run "
                "rewrite_deletes() before overwrite_partitions()"
            )
        version_dir = self._write(table, df, spec=spec)
        touched = {os.path.dirname(rel) for rel in self._data_files(version_dir)}
        self._link_files(current, version_dir, skip_dirs=touched)
        self._commit(table, version_dir)
        return {"replaced_partitions": sorted(touched)}

    def overwrite_where_not(self, table: str, predicate: F.Column) -> int:
        """DELETE FROM table WHERE predicate → CoW rewrite keeping the rows
        where ``predicate`` is not true (a NULL match keeps the row, as in
        SQL DELETE). One job: the rewrite counts the deleted rows as it
        goes, and commits only if there were any. Returns that count."""
        hit = F.coalesce(predicate, F.lit(False))
        deleted = Observation()
        version_dir = self._write(
            table,
            self.read(table),
            finish=lambda df: df.observe(deleted, F.count_if(hit).alias("n"))
            .filter(~hit),
        )
        n = deleted.get["n"]
        if n:
            self._commit(table, version_dir)
        else:
            shutil.rmtree(version_dir, ignore_errors=True)
        return n

    def overwrite_with(
        self, table: str, df: DataFrame, mark: str | None = None
    ) -> None:
        """Full-snapshot overwrite; ``mark`` skips an already-committed
        epoch write exactly like :meth:`append`'s."""
        if mark is not None and self.mark_applied(table, mark):
            return
        self._commit(table, self._write(table, df), mark=mark)

    @staticmethod
    def _key_predicate(key_map: dict[str, Any], schema: T.StructType) -> F.Column:
        """Conjunction over ALL key fields (bug-fix vs reference ``:126-132``).
        String values compare against typed columns via Catalyst's implicit
        casts — preserving the reference's stringified-struct-key behavior
        (``SparkDestinationStreamIT.java:167-183``). A NULL key column is
        no match."""
        types = {f.name: f.dataType for f in schema.fields}
        pred = F.lit(True)
        for name, value in key_map.items():
            lit = F.lit(value)
            if name in types and isinstance(value, str):
                # stringified struct keys: cast the literal to the column
                # type (Catalyst-equivalent of '12' = int_col)
                lit = lit.cast(types[name])
            pred = pred & (F.col(name) == lit)
        return F.coalesce(pred, F.lit(False))

    def replace_key(
        self, table: str, key_map: dict[str, Any], rows: DataFrame | None = None
    ) -> int | None:
        """Replace the rows ``key_map`` matches with ``rows`` in one
        copy-on-write rewrite. Without ``rows`` this is DELETE by key
        through :meth:`overwrite_where_not`: one observed job, no commit
        when nothing matched, and the deleted-row count is returned."""
        hit = self._key_predicate(key_map, self.schema(table))
        if rows is None:
            return self.overwrite_where_not(table, hit)
        self.overwrite_with(table, self.read(table).filter(~hit).unionByName(rows))

    def merge_apply(self, table: str, source: DataFrame, key_fields: list[str]) -> None:
        """Copy-on-write MERGE of a collapsed batch (see
        :meth:`TableStore.merge_apply`): every source key leaves the table
        through one broadcast anti-join, the non-delete rows re-enter, and
        the result commits as one version.

        Keys match on the source row's own key columns, as Iceberg's MERGE
        does. An update whose after-image key differs from its envelope key
        therefore upserts the after-image key and leaves the row under the
        envelope key in place."""
        touched = source.select(*key_fields)
        upserts = source.filter(F.col(OP_COL) != "delete").drop(OP_COL)
        kept = self.read(table).join(F.broadcast(touched), key_fields, "left_anti")
        self.overwrite_with(table, kept.unionByName(upserts))

    # -- snapshots: history / time travel / rollback ------------------------
    def evolve_partition_spec(
        self,
        table: str,
        partition_by: list[str],
        sort_by: list[str] | None = None,
    ) -> dict:
        """Change the table's partition spec (Iceberg ``ALTER TABLE ... ADD/
        DROP PARTITION FIELD``), migrating the current snapshot to the new
        layout in ONE copy-on-write rewrite.

        Divergence note (same honesty as ``rename_column``): Iceberg proper
        evolves lazily — old data files keep the old spec, and per-file
        partition metadata lets scans prune both generations; the usual
        follow-up for pruning on old data is a ``rewrite_data_files`` pass.
        This hive-layout analogue cannot mix directory depths inside one
        snapshot, so it performs that recommended rewrite EAGERLY at
        evolution time: cost O(table) once, after which every new write and
        every scan sees a single consistent spec and full directory
        pruning. History is preserved — pre-evolution snapshots remain
        time-travel-readable under their old layout; a write that would
        carry them into a new version after a rollback across the evolution
        boundary is refused (see :meth:`_link_files`) instead of corrupting
        discovery.
        """
        old = self._spec(table)
        new_spec = {
            "partition_by": partition_by or [],
            "sort_by": old["sort_by"] if sort_by is None else sort_by,
        }
        version_dir = self._write(table, self.read(table), spec=new_spec)
        self._store(table, "SPEC", new_spec)
        self._commit(table, version_dir)
        return {
            "previous": old,
            "current": new_spec,
            "rewritten_files": self.num_data_files(table),
        }

    def history(self, table: str) -> list[str]:
        """Commit-ordered snapshot names still on disk (oldest first).

        The LOG records every commit; entries disappear from history once
        :meth:`expire_snapshots` removes their directories — mirroring an
        Iceberg table's metadata log after snapshot expiry.
        """
        log = os.path.join(self._dir(table), "LOG")
        if not os.path.exists(log):
            return [os.path.basename(self._current_path(table))]
        with open(log) as fh:
            names = [ln.strip() for ln in fh if ln.strip()]
        return [n for n in names if os.path.isdir(os.path.join(self._dir(table), n))]

    def rollback(self, table: str, version: int | str) -> str:
        """Repoint the table at an earlier snapshot (Iceberg
        ``rollback_to_snapshot``). The rollback itself is a new commit —
        history moves forward, data moves back."""
        if isinstance(version, int):
            version = self.history(table)[version]
        path = os.path.join(self._dir(table), version)
        if not os.path.isdir(path):
            raise ValueError(f"unknown or expired version {version!r} of {table!r}")
        # A rollback discards the writes of every epoch committed AFTER the
        # target snapshot, so their idempotence marks are now lies: carrying
        # them forward would make a replay-after-rollback silently skip
        # re-appliable epochs (within the 64-mark window) and lose their
        # writes. But epochs committed AT-OR-BEFORE the target have their
        # writes still in the data — clearing those marks would let a
        # checkpoint rewound past the target DOUBLE-apply them. Restore the
        # marks exactly as they were when the target snapshot committed
        # (persisted per-version as _MARKS.json): post-target epochs lose
        # their marks and replay, pre-target epochs keep theirs and skip.
        self._commit(
            table, path, marks_override=self._version_marks(table, version)
        )
        return version

    # -- named refs (Iceberg tags: immutable snapshot names) ---------------
    def tags(self, table: str) -> dict[str, str]:
        return self._load(table, "TAGS", {})

    def create_tag(
        self, table: str, name: str, version: int | str | None = None
    ) -> str:
        """Pin a snapshot under an immutable name (Iceberg ``ALTER TABLE
        ... CREATE TAG``): ``read(table, name)`` resolves it forever and
        ``expire_snapshots`` will not drop a tagged snapshot — the
        audit/compliance handle ('the corpus release we trained v3 on').
        Defaults to tagging the CURRENT snapshot."""
        if version is None:
            target = os.path.basename(self._current_path(table))
        elif isinstance(version, int):
            target = self.history(table)[version]
        else:
            target = version
        if not os.path.isdir(os.path.join(self._dir(table), target)):
            raise ValueError(f"unknown snapshot {target!r} of {table!r}")
        tags = self.tags(table)
        if name in tags:
            raise ValueError(f"tag {name!r} already exists on {table!r}")
        tags[name] = target
        self._store(table, "TAGS", tags)
        return target

    def drop_tag(self, table: str, name: str) -> None:
        tags = self.tags(table)
        tags.pop(name, None)
        self._store(table, "TAGS", tags)

    def expire_snapshots(self, table: str, keep_last: int = 1) -> dict:
        """Drop all but the newest ``keep_last`` snapshots (never the
        current one). Data files shared via hardlinks survive as long as
        any retaining snapshot references them — deleting an old version
        directory only drops link counts, exactly like Iceberg removing
        manifests while shared data files stay referenced."""
        keep_last = max(keep_last, 1)
        hist = self.history(table)
        # a rollback adds a LOG line naming an existing snapshot: rank the
        # distinct snapshots by their latest line
        snapshots = list(dict.fromkeys(reversed(hist)))[::-1]
        current = os.path.basename(self._current_path(table))
        keep = set(snapshots[-keep_last:]) | {current} | set(self.tags(table).values())
        removed = [n for n in snapshots if n not in keep]
        for name in removed:
            shutil.rmtree(os.path.join(self._dir(table), name), ignore_errors=True)
        log = os.path.join(self._dir(table), "LOG")
        tmp = log + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("".join(n + "\n" for n in hist if n in keep))
        os.replace(tmp, log)
        return {"expired": len(removed), "kept": len(snapshots) - len(removed)}

    # -- schema evolution (Iceberg `ALTER TABLE ... ADD/DROP/RENAME COLUMN`)
    def add_column(
        self, table: str, name: str, dtype: T.DataType | str
    ) -> None:
        """Metadata-only column add (Iceberg ``ADD COLUMN``): no data files
        are touched; rows written before the add read as null for the new
        column (Iceberg v1/v2 semantics — added columns have no default)."""
        if isinstance(dtype, str):
            dtype = T.StructType.fromDDL(f"`{name}` {dtype}")[name].dataType
        schema = self.schema(table)
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists in {table!r}")
        fields = schema.fields + [T.StructField(name, dtype, True)]
        self._store(table, "SCHEMA", T.StructType(fields).jsonValue())

    def drop_column(self, table: str, name: str) -> None:
        """Metadata-only column drop: the column stops being projected;
        bytes stay in existing files until a compaction rewrites them.
        NOTE (divergence): real Iceberg tracks columns by field id, so
        re-adding a same-named column stays logically new; this name-based
        stand-in would resurrect old values — re-add only after
        :meth:`compact`."""
        schema = self.schema(table)
        if name not in schema.fieldNames():
            raise ValueError(f"no column {name!r} in {table!r}")
        spec = self._spec(table)
        if name in spec["partition_by"]:
            raise ValueError(f"cannot drop partition column {name!r}")
        if name in spec["sort_by"]:
            spec["sort_by"] = [c for c in spec["sort_by"] if c != name]
            self._store(table, "SPEC", spec)
        fields = [f for f in schema.fields if f.name != name]
        self._store(table, "SCHEMA", T.StructType(fields).jsonValue())

    def rename_column(self, table: str, old: str, new: str) -> None:
        """Column rename. Iceberg does this metadata-only via field ids;
        parquet name-based resolution can't, so this is a CoW rewrite of
        the current version (O(table) — the honest cost of the stand-in).
        The spec and schema are stored only once the rewrite is written."""
        schema = self.schema(table)
        if old not in schema.fieldNames():
            raise ValueError(f"no column {old!r} in {table!r}")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists in {table!r}")
        spec = self._spec(table)
        if old in spec["partition_by"]:
            # old versions' hive dirs are named after the old column; a
            # rename would orphan them for time travel — not supported
            raise ValueError(f"cannot rename partition column {old!r}")
        sort_by = [new if c == old else c for c in spec["sort_by"]]
        new_spec = {**spec, "sort_by": sort_by}
        renamed = self.read(table).withColumnRenamed(old, new)
        version_dir = self._write(table, renamed, spec=new_spec)
        if new_spec != spec:
            self._store(table, "SPEC", new_spec)
        self._store(table, "SCHEMA", renamed.schema.jsonValue())
        self._commit(table, version_dir)

    # -- maintenance (Iceberg `rewrite_data_files` / `expire_snapshots`
    #    analogs; SURVEY.md §7 Phase 5) ------------------------------------
    def num_data_files(self, table: str) -> int:
        return len(self._data_files(self._current_path(table)))

    def compact(self, table: str, target_files: int | None = None) -> dict:
        """Rewrite the table into ``target_files`` files (default: one per
        active core). The small-files fix the reference needs but lacks —
        its per-record appends create one file per record
        (``SparkDestinationStream.java:229-232``); with Iceberg this is
        ``CALL <catalog>.system.rewrite_data_files(...)``.

        Uses ``repartition`` (full shuffle) rather than ``coalesce``:
        coalesce merges co-located partitions without rebalancing, so one
        large input file would still dominate a task; compaction wants
        evenly-sized outputs."""
        before = self.num_data_files(table)
        n = target_files or self.spark.sparkContext.defaultParallelism
        spec = self._spec(table)
        cur = self.read(table)
        if spec["partition_by"]:
            # co-locate each partition's rows so every task writes into few
            # partition dirs (binpack-per-partition, like rewrite_data_files)
            cur = cur.repartition(n, *spec["partition_by"])
        else:
            cur = cur.repartition(n)
        self._commit(table, self._write(table, cur))
        return {"files_before": before, "files_after": self.num_data_files(table)}


@dataclass
class _Change:
    """One staged record: ``key`` for update/delete, ``payload`` (normalized
    JSON) for insert/update."""

    key: dict[str, Any] | None
    payload: str | None


@dataclass
class _Run:
    """Consecutive staged records that commit together: one target writer,
    at most one update or delete and, if there is one, it comes first.
    ``records`` counts the records it acks, UNSPECIFIED ones included."""

    writer: "CdcWriter"
    changes: list[_Change] = field(default_factory=list)
    records: int = 0


class WriteGroup:
    """The records that ``write`` stages inside ``with writer.batch():``.

    On a clean exit the group commits its runs in order, one atomic commit
    each. A run is the consecutive records bound for one target table, split
    before every update or delete, so it is one append (inserts only) or one
    copy-on-write rewrite led by its single update or delete, with the
    inserts that follow it. A rewrite costs O(table) bytes however many
    removals it holds: merging them would make the bytes written for a
    record stream depend on where group boundaries happen to fall, so each
    update or delete keeps its own rewrite and grouping saves the inserts'
    commits.

    ``landed`` counts the records whose commit has landed, and
    ``on_landed(n)`` is called with the ``n`` records of each run as it
    lands. If staging or a commit raises, that commit and the runs after it
    have not landed: the exception propagates and ``landed`` is where a
    caller resumes."""

    def __init__(self, owner: "CdcWriter | CollectionRouter", on_landed=None):
        self.owner = owner
        self.on_landed = on_landed
        self.runs: list[_Run] = []
        self.landed = 0

    def __enter__(self) -> "WriteGroup":
        if self.owner._group is not None:
            raise RuntimeError("write groups do not nest")
        self.owner._group = self
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.owner._group = None
        if exc_type is None:
            for run in self.runs:
                if run.changes:
                    run.writer._apply(run.changes)
                self.landed += run.records
                if self.on_landed is not None:
                    self.on_landed(run.records)

    def add(self, writer: "CdcWriter", change: _Change | None) -> None:
        """Stage one record; ``change`` is None for UNSPECIFIED, which is
        acked with the run that holds it."""
        run = self.runs[-1] if self.runs else None
        removal = change is not None and change.key is not None
        if run is None or run.writer is not writer or removal:
            run = _Run(writer)
            self.runs.append(run)
        if change is not None:
            run.changes.append(change)
        run.records += 1


class CdcWriter:
    """Applies OpenCDC records to one target table (the reference's
    ``SparkDestinationStream`` role) through the :class:`TableStore`
    contract."""

    def __init__(
        self, warehouse: TableStore, table: str, mor_deletes: bool = False
    ):
        self.wh = warehouse
        self.table = table
        self.spark = warehouse.spark
        # mor_deletes: route key deletes through Iceberg-v2-style equality
        # delete files (O(keys) commit, anti-join on read) instead of the
        # CoW rewrite — the right trade for delete-heavy CDC feeds, paid
        # back by periodic rewrite_deletes() compaction
        self.mor_deletes = mor_deletes
        self._group: WriteGroup | None = None

    # -- helpers ------------------------------------------------------------
    def _payload_df(self, payloads: list[str]) -> DataFrame:
        """The payloads as table rows, conformed to the target table's
        schema (reference ``:216,221-227``) by the one payload rule,
        ``functions.codec.conform_payload``. One partition: a run's rows
        land as one data file."""
        frame = arrow_frame(self.spark, {"row": payloads}).coalesce(1)
        return conform_payload(frame, "row", self.wh.schema(self.table)).select("row.*")

    # -- per-record operations (reference dispatch, ``:94-108``) ------------
    def batch(self, on_landed=None) -> WriteGroup:
        """Stage the ``write`` calls made inside ``with writer.batch():``
        and commit them on exit (see :class:`WriteGroup`)."""
        return WriteGroup(self, on_landed)

    def write(self, record: Record) -> None:
        op = record.operation
        if op in (Operation.CREATE, Operation.SNAPSHOT):
            self.insert(record)
        elif op == Operation.UPDATE:
            self.update(record)
        elif op == Operation.DELETE:
            self.delete(record)
        elif op == Operation.UNSPECIFIED:
            self._submit(None)  # silent no-op, reference ``:105-106``
        else:  # pragma: no cover
            raise ValueError(f"invalid operation {op!r}")

    def _submit(self, change: _Change | None) -> int | None:
        """Stage ``change`` in the open group, or commit it as a group of one."""
        if self._group is not None:
            self._group.add(self, change)
            return None
        return self._apply([change]) if change is not None else None

    def insert(self, record: Record) -> None:
        self._submit(_Change(None, normalize_payload_json(record.payload_after)))

    def delete(self, record: Record) -> int | None:
        """A counting store (CoW mode) returns rows deleted; MoR mode returns
        key rows written (equality deletes are declarative — neither Iceberg
        nor this analogue scans to count matches at commit time). Inside a
        batch the commit is deferred and this returns None."""
        return self._submit(_Change(key_to_map(record.key), None))

    def update(self, record: Record) -> None:
        """Atomic replace-by-key (MERGE), not delete-then-insert."""
        key_map = key_to_map(record.key)
        self._submit(_Change(key_map, normalize_payload_json(record.payload_after)))

    def _apply(self, changes: list[_Change]) -> int | None:
        """Commit one run (see :class:`WriteGroup`) as one atomic commit.
        Inserts alone append. A run led by an update or delete is one
        ``replace_key``: the rows its key matches give way to the run's
        payload rows. With ``mor_deletes`` a lone delete writes one
        equality-delete file instead."""
        head = changes[0]
        payloads = [c.payload for c in changes if c.payload is not None]
        rows = self._payload_df(payloads) if payloads else None
        if head.key is None:
            self.wh.append(self.table, rows)
            return None
        if self.mor_deletes and rows is None:
            keys = key_frame(self.spark, head.key, self.wh.schema(self.table))
            self.wh.delete_keys_mor(self.table, keys, list(head.key))
            return 1
        return self.wh.replace_key(self.table, head.key, rows)

    # -- the scale path: batched apply -------------------------------------
    def apply_batch(self, records: list[Record], key_fields: list[str]) -> None:
        """Apply a micro-batch last-write-wins per key with one merge.

        The records become envelope rows ``(position, operation, key,
        after)``, the key and after-image as JSON text, and apply as one
        epoch of the FAILFAST epoch path: ``streaming.cdc.decode_cdc``
        gives each record its verdict, and ``apply_cdc_batch`` makes one
        collapse, one ``merge_apply`` and one commit. A record the verdict
        refuses (a payload or key value that does not conform, a key field
        in neither the key nor the after-image) fails the batch with its
        reason before anything commits.
        """
        from .streaming import cdc

        live = [r for r in records if r.operation != Operation.UNSPECIFIED]
        if not live:
            return
        frame = arrow_frame(self.spark, {
            "position": pa.array([r.position for r in live], pa.binary()),
            "operation": [r.operation.value for r in live],
            "key": pa.array([
                json.dumps(key_to_map(r.key))
                if r.key or r.operation == Operation.DELETE else None
                for r in live
            ], pa.string()),
            "after": pa.array([
                None if r.operation == Operation.DELETE
                else normalize_payload_json(r.payload_after)
                for r in live
            ], pa.string()),
        })
        decoded = cdc.decode_cdc(frame, self.wh.schema(self.table), key_fields)
        cdc.apply_cdc_batch(self.wh, self.table, decoded, key_fields)


# ------------------------------------------------------------ snapshot diff
#
# The read-side companion to history()/rollback(): classify every row
# changed between two snapshots — the incremental-consumption primitive
# (Iceberg's changelog/"incremental read" shape; the reference connector
# PRODUCES such feeds, this consumes/derives them from any two versions).


def epoch_already_applied(wh: ParquetWarehouse, state_table: str, epoch_id: int) -> bool:
    """True if ``epoch_id`` was already folded into the table this sidecar
    guards. foreachBatch is at-least-once: after a crash the last epoch is
    re-delivered, and any read-modify-overwrite merge would double-apply it
    unless guarded. Epoch ids are monotonically increasing per checkpoint,
    so a single persisted watermark row suffices."""
    if not wh.table_exists(state_table):
        return False
    rows = wh.read(state_table).collect()  # exactly one watermark row
    return bool(rows) and rows[0]["epoch_id"] >= epoch_id


def mark_epoch_applied(
    wh: ParquetWarehouse, state_table: str, spark: SparkSession, epoch_id: int
) -> None:
    """Persist ``epoch_id`` as the new replay watermark (see
    :func:`epoch_already_applied`). The data writes and this watermark are
    separate commits, but every maintainer's data write carries a
    per-epoch commit ``mark`` (ParquetWarehouse.append/overwrite_with) —
    so a crash anywhere inside the epoch replays exactly-once per table:
    already-committed tables skip on their mark, the rest apply, and this
    watermark is simply the last mark-carrying write to land. (Iceberg
    folds data + watermark into one MERGE transaction; the marks protocol
    is the CoW analogue.)"""
    row = arrow_frame(spark, {"epoch_id": pa.array([int(epoch_id)], pa.int64())})
    if not wh.table_exists(state_table):
        wh.create_table(state_table, row.schema)
        wh.append(state_table, row)
    else:
        wh.overwrite_with(state_table, row)


def table_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Row-level diff of two same-keyed relations.

    Returns one row per changed key: the key columns plus ``change``
    ('insert' | 'delete' | 'update'); unchanged keys are dropped. Rows are
    compared by an md5 fingerprint of the non-key columns (computed on each
    side BEFORE the join, so the shuffle carries keys + one 32-char digest,
    not full rows).

    NULL keys are matched null-safely (``<=>`` join keys): a plain
    equi-join would never match a NULL key against itself, misreporting an
    unchanged NULL-key row as both 'insert' and 'delete'. Catalyst plans
    null-safe equality as ordinary hash/SMJ join keys, so this costs
    nothing over the plain join.

    Scale: one hash-partitioned shuffle per side on the key columns and a
    full outer merge — the standard 100-TB reconcile. If both snapshots
    are stored bucketed on the keys (``sources/bucketing.py``), the
    exchanges vanish entirely.
    """
    common = [c for c in new.columns if c in set(old.columns)]
    payload = sorted(c for c in common if c not in keys)

    def fp(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            *keys,
            F.md5(F.to_json(F.struct(*payload))).alias(name),
        )

    o = fp(old, "old_fp").alias("o")
    n = fp(new, "new_fp").alias("n")
    cond = None
    for k in keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("insert"))
        .when(F.col("new_fp").isNull(), F.lit("delete"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("update"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
                for k in keys
            ],
            "change",
        )
    )


def snapshot_diff(
    wh: ParquetWarehouse,
    table: str,
    v_old: int | str,
    v_new: int | str | None,
    keys: list[str],
) -> DataFrame:
    """Diff two committed versions of a warehouse table (``None`` = current).

    ``wh.read`` pins each side to its snapshot directory, so this runs
    entirely on immutable data files — repeatable regardless of later
    commits (Iceberg time-travel semantics).
    """
    old = wh.read(table, v_old)
    new = wh.read(table, v_new) if v_new is not None else wh.read(table)
    return table_diff(old, new, keys)


def sync_table(
    wh: ParquetWarehouse, table: str, snapshot: DataFrame, keys: list[str]
) -> dict[str, int]:
    """Make ``table`` exactly equal ``snapshot`` — the executable analogue of
    ``iceberg.merge_sync_sql`` (MERGE ... WHEN NOT MATCHED BY SOURCE THEN
    DELETE): the nightly full-snapshot reconcile when no change feed
    exists. Returns per-change counts ({'insert': n, 'update': n,
    'delete': n}) from the same ``table_diff`` that drives the rewrite.

    Scale: the diff is the fingerprint join documented on table_diff (one
    key shuffle per side); the rewrite touches changed keys only on a
    MERGE-capable store — the ParquetWarehouse analogue rewrites
    copy-on-write like its other DML. Unchanged-row bytes never move
    through the diff (32-char digests do).
    """
    current = wh.read(table)
    diff = table_diff(current, snapshot, keys).localCheckpoint(eager=False)
    counts = {
        r["change"]: r["n"]
        for r in diff.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    # The anti/semi joins must match keys the same way table_diff did —
    # null-safely — or NULL-key changes are counted in the diff but never
    # applied (the rewrite would keep a stale NULL-key row AND skip its
    # replacement). eqNullSafe compiles to ordinary hash-join keys.
    def _null_safe(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
        l, r = left.alias("l"), right.alias("r")
        cond = None
        for k in keys:
            c = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
            cond = c if cond is None else cond & c
        return l.join(r, cond, how)

    changed_keys = diff.filter(F.col("change") != "insert").select(*keys)
    kept = _null_safe(current, changed_keys, "left_anti")
    upsert_keys = diff.filter(F.col("change") != "delete").select(*keys)
    incoming = _null_safe(
        snapshot.select(*current.columns), upsert_keys, "left_semi"
    )
    wh.overwrite_with(table, kept.unionByName(incoming))
    return {c: counts.get(c, 0) for c in ("insert", "update", "delete")}


COLLECTION_META_KEY = "opencdc.collection"


class CollectionRouter:
    """Routes each record to a per-collection :class:`CdcWriter` by the
    OpenCDC ``opencdc.collection`` metadata key, defaulting to the
    configured table.

    The reference connector pins ONE table from config
    (``DestinationConfig.java:45-49``) and ignores collection metadata;
    Conduit pipelines, however, stamp every record with its source
    collection, and a multi-collection destination routes on it (the
    documented semantics of the ``opencdc.collection`` metadata field).
    This router is the drop-in upgrade: plug it in as the plugin's
    ``writer_factory`` and one Run stream fans out to many tables, each
    applied through the same per-record semantics as ``CdcWriter``.

    Scale note: routing is a dict lookup per record on the wire path —
    the batched/streaming pipeline routes
    the same key columnar-side by partitioning the epoch's frame on the
    collection column instead.

    Unknown collections raise (``table_exists`` is part of the store
    contract — auto-create hides typos and schema drift); records
    without the metadata key fall back to ``default_table``.

    ``batch()`` groups records across tables: a group splits into one
    commit per run of consecutive records bound for the same table, and
    before every update or delete (see :class:`WriteGroup`).
    """

    def __init__(
        self,
        warehouse: TableStore,
        default_table: str,
        mor_deletes: bool = False,
    ):
        self.wh = warehouse
        self.default_table = default_table
        self.mor_deletes = mor_deletes
        self._writers: dict[str, CdcWriter] = {}
        self._group: WriteGroup | None = None

    def writer_for(self, record: Record) -> CdcWriter:
        table = (record.metadata or {}).get(
            COLLECTION_META_KEY, self.default_table
        )
        w = self._writers.get(table)
        if w is None:
            if not self.wh.table_exists(table):
                raise ValueError(
                    f"unknown collection {table!r}: no such table in the "
                    "warehouse"
                )
            w = CdcWriter(self.wh, table, mor_deletes=self.mor_deletes)
            self._writers[table] = w
        return w

    def batch(self, on_landed=None) -> WriteGroup:
        return WriteGroup(self, on_landed)

    def write(self, record: Record) -> None:
        writer = self.writer_for(record)
        writer._group = self._group  # stage into the router's open group
        writer.write(record)
