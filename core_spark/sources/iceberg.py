"""Iceberg-lite — read an Apache Iceberg v2 table snapshot WITHOUT the
Iceberg runtime jar, plus a fixture-grade writer so the reader is
testable (and oracle-gated) in a hermetic environment.

Why this exists: BASELINE.json's north rule targets "Iceberg tables of
Common-Crawl-style web pages at 10^12-document scale". ``read_corpus``
(ingest.py) reads any directory holding ``metadata/`` through
``read_iceberg``, so the flagship takes an Iceberg table root as it
takes a parquet path, with no Iceberg runtime jar on the cluster. It
implements the PUBLIC Iceberg Table Spec (format-version 2) metadata
chain

    version-hint.text / vN.metadata.json     (JSON, driver-side)
      -> snapshot (current, by id, or time travel by timestamp)
      -> manifest list                        (Avro, avrolite.py)
      -> manifests (content: data | deletes)  (Avro)
      -> live data files + delete files

and then hands the DATA path straight to Spark's parquet scan, with the
schema the table metadata holds (no inference job, on any read):

  * data files     -> ``spark.read.schema(table).parquet(*files)`` —
    column pruning, predicate pushdown and whole-stage codegen all apply
    exactly as for any parquet scan; nothing Python touches row data. A
    snapshot with no data files is the same scan over no paths.
  * position deletes (content=1) -> anti-join on
    ``(_metadata.file_path, _metadata.row_index)`` — Spark's file
    metadata columns ARE the (file, pos) coordinates the spec keys
    deletes by, so merge-on-read costs ONE shuffle-free broadcast
    anti-join when the delete set is small (the common case: deletes
    are a trickle vs the data). Delete files are read with the spec's
    fixed ``file_path string, pos long`` schema.
  * equality deletes (content=2) -> anti-join on the equality columns
    (field ids resolved to names through the table schema, the delete
    file read with the table schema narrowed to them), NULL-safe: a NULL
    delete value matches a NULL data value (spec: "equivalent to
    ``col IS NULL``"). Each is scoped by data sequence number: a delete
    at sequence S removes rows only from data files sequenced STRICTLY
    below S, so rows (re)appended after the delete stay live (spec
    §"Scan Planning"/delete application). Each row's file sequence
    number is a literal map lookup on its ``_metadata.file_path``, so
    every leaf of the plan is a file scan.

Only flat column types convert; a column of any other Iceberg type
raises ``ValueError`` when the scan is planned.

100-TB shape: manifest avro files are metadata (KBs–MBs per manifest
even on petabyte tables); reading them on the driver is exactly what
Iceberg's own planner does. Snapshot pruning means a reader never lists
the table directory — only files the chosen snapshot references are
touched, which is what makes 10^12-row tables plannable at all.

The fixture writer emits spec-shaped metadata (v2 field names/ids on
manifest-list entries, one gzip-independent avro per manifest) but is
NOT a production writer: no stats, unpartitioned spec only, single
metadata lineage, append and delete commits only (no compaction or
snapshot expiry). It exists so tests and the driver oracle can build a
real on-disk table, mutate it across snapshots, and byte-compare reads.

Public spec: https://iceberg.apache.org/spec/ (format-version 2).
No reference counterpart (specvital/core has no table-format layer).
"""

from __future__ import annotations

import json
import os
import uuid

from .avrolite import read_avro_file, write_avro_file

# Spark simpleString -> Iceberg type name, for the fixture writer's schema
_SPARK_TO_ICEBERG = {
    "bigint": "long", "int": "int", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean", "binary": "binary",
    "timestamp": "timestamptz", "date": "date",
}
# Iceberg type name -> Spark DDL type, for the reader's scan schema
_ICEBERG_TO_SPARK = {
    **{v: k for k, v in _SPARK_TO_ICEBERG.items()}, "timestamp": "timestamp"}

MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "default": None,
         "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "partition", "field-id": 102, "type": {
                    "type": "record", "name": "r102", "fields": []}},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
                {"name": "equality_ids", "field-id": 135, "default": None,
                 "type": ["null", {"type": "array", "items": "int",
                                   "element-id": 136}]},
            ]}},
    ],
}

# manifest_entry.status
_ADDED, _EXISTING, _DELETED = 1, 0, 2
# data_file.content
_DATA, _POSITION_DELETES, _EQUALITY_DELETES = 0, 1, 2


# ---------------------------------------------------------------------------
# metadata chain (driver-side, pure)
# ---------------------------------------------------------------------------

def load_table_metadata(table_path: str) -> dict:
    """Read the current metadata.json: the version-hint's ``vN``, else the
    highest N among ``vN.metadata.json`` (Hadoop tables) and
    ``NNNNN-<uuid>.metadata.json`` (catalog-written tables)."""
    mdir = os.path.join(table_path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    name = None
    if os.path.exists(hint):
        with open(hint) as f:
            name = f"v{f.read().strip()}.metadata.json"
    else:
        versions = sorted(
            (f for f in os.listdir(mdir) if f.endswith(".metadata.json")),
            key=lambda f: int(f.split(".", 1)[0].lstrip("v").split("-", 1)[0]))
        if versions:
            name = versions[-1]
    if name is None:
        raise ValueError(f"iceberg: no metadata.json under {mdir}")
    with open(os.path.join(mdir, name)) as f:
        md = json.load(f)
    if md.get("format-version") not in (1, 2):
        raise ValueError(
            f"iceberg: unsupported format-version {md.get('format-version')}")
    return md


def select_snapshot(md: dict, snapshot_id: int | None = None,
                    as_of_ms: int | None = None) -> dict:
    """Pick a snapshot: explicit id > time travel > current."""
    snaps = md.get("snapshots", [])
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"iceberg: snapshot {snapshot_id} not found")
    if as_of_ms is not None:
        eligible = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
        if not eligible:
            raise ValueError(f"iceberg: no snapshot at or before {as_of_ms}")
        return max(eligible, key=lambda s: s["timestamp-ms"])
    cur = md.get("current-snapshot-id")
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    raise ValueError("iceberg: table has no current snapshot")


def _resolve_path(p: str, table_path: str) -> str:
    """Manifest/data paths may be absolute or table-relative URIs."""
    if p.startswith("file:"):
        p = "/" + p.split(":", 1)[1].lstrip("/")
    if os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


def plan_files(table_path: str, snapshot: dict) -> dict:
    """Walk manifest-list -> manifests -> live files for one snapshot.

    Returns {"data": [file...], "position_deletes": [...],
    "equality_deletes": [(path, [field_id...])...]} where each file dict has
    file_path/record_count/sequence_number (the entry's data sequence
    number, inherited from the manifest when the entry carries NULL —
    spec §"Sequence Number Inheritance").
    """
    ml_path = _resolve_path(snapshot["manifest-list"], table_path)
    with open(ml_path, "rb") as f:
        _, manifests = read_avro_file(f.read())
    plan = {"data": [], "position_deletes": [], "equality_deletes": []}
    for m in manifests:
        with open(_resolve_path(m["manifest_path"], table_path), "rb") as f:
            _, entries = read_avro_file(f.read())
        for e in entries:
            if e["status"] == _DELETED:
                continue  # removed from this snapshot
            df = e["data_file"]
            path = _resolve_path(df["file_path"], table_path)
            seq = e.get("sequence_number")
            if seq is None:  # inheritance: ADDED entries take the manifest's
                seq = m["sequence_number"]
            rec = {"file_path": path,
                   "record_count": df["record_count"],
                   "file_size_in_bytes": df.get("file_size_in_bytes", 0),
                   "sequence_number": seq}
            if df["content"] == _DATA:
                plan["data"].append(rec)
            elif df["content"] == _POSITION_DELETES:
                plan["position_deletes"].append(rec)
            elif df["content"] == _EQUALITY_DELETES:
                plan["equality_deletes"].append(
                    (rec, df.get("equality_ids") or []))
            else:
                raise ValueError(
                    f"iceberg: unknown data_file.content {df['content']}")
    return plan


def _current_fields(md: dict) -> list[dict]:
    """The current schema's fields: the ``schemas`` entry whose id is
    ``current-schema-id`` (v2), else the last one, else v1's ``schema``."""
    schemas = md.get("schemas") or [md.get("schema", {})]
    cur = md.get("current-schema-id")
    return next((s for s in schemas if s.get("schema-id") == cur),
                schemas[-1]).get("fields", [])


def _spark_ddl(fields: list[dict]) -> str:
    """Iceberg schema fields -> Spark DDL string (flat types only)."""
    parts = []
    for f in fields:
        t = f["type"]
        if not isinstance(t, str) or t not in _ICEBERG_TO_SPARK:
            raise ValueError(f"iceberg: unsupported column type {t!r}")
        name = f["name"].replace("`", "``")
        parts.append(f"`{name}` {_ICEBERG_TO_SPARK[t]}")
    return ", ".join(parts)


# ---------------------------------------------------------------------------
# Spark read path
# ---------------------------------------------------------------------------

def read_iceberg(spark, table_path: str, snapshot_id: int | None = None,
                 as_of_ms: int | None = None):
    """Snapshot-pruned merge-on-read scan of an Iceberg v2 table.

    Plans driver-side off the metadata chain (what Iceberg's planner
    does), then builds ONE declarative Spark plan: parquet scan of the
    snapshot's live data files with the table's current schema (no
    inference job; a column type outside ``_ICEBERG_TO_SPARK`` raises
    ``ValueError`` here), minus position deletes (anti-join on the
    spec's (file, pos) coordinates via ``_metadata``), minus equality
    deletes (NULL-safe anti-join on the resolved equality columns).
    Small delete sides are broadcast; Catalyst/AQE keep pushdown +
    pruning on the data scan because deletes never restructure it.
    """
    from pyspark.sql import functions as F

    md = load_table_metadata(table_path)
    snap = select_snapshot(md, snapshot_id=snapshot_id, as_of_ms=as_of_ms)
    plan = plan_files(table_path, snap)
    fields = _current_fields(md)
    df = spark.read.schema(_spark_ddl(fields)).parquet(
        *[f["file_path"] for f in plan["data"]])
    # the scan's file_path is a file: URI, the plan's paths are plain
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")

    if plan["position_deletes"]:
        # normalize both sides to a plain path: delete rows carry
        # whatever the writer recorded
        dels = spark.read.schema("file_path string, pos long").parquet(
            *[f["file_path"] for f in plan["position_deletes"]])
        dels = dels.select(
            norm(F.col("file_path")).alias("_del_fp"),
            F.col("pos").alias("_del_pos"))
        df = df.withColumn("_fp", norm(F.col("_metadata.file_path"))) \
               .withColumn("_pos", F.col("_metadata.row_index"))
        df = df.join(
            F.broadcast(dels),
            (F.col("_fp") == F.col("_del_fp"))
            & (F.col("_pos") == F.col("_del_pos")),
            "left_anti").drop("_fp", "_pos")

    if plan["equality_deletes"]:
        # spec scoping: an equality delete with data sequence number S
        # applies only to data files with sequence number STRICTLY below
        # S — rows (re)added after the delete are live. Each scanned row
        # looks up its file's sequence number in a literal map (no join,
        # no leaf without files), then carries the bound into each
        # anti-join.
        seq_of = F.create_map(*[
            x for f in plan["data"]
            for x in (F.lit(f["file_path"]), F.lit(int(f["sequence_number"])))
        ])
        df = df.withColumn(
            "_ice_seq", F.element_at(seq_of, norm(F.col("_metadata.file_path"))))
        by_id = {f["id"]: f for f in fields}
        for rec, field_ids in plan["equality_deletes"]:
            try:
                eq = [by_id[i] for i in field_ids]
            except KeyError as e:
                raise ValueError(
                    f"iceberg: unknown equality field id {e}") from None
            cols = [f["name"] for f in eq]
            dels = spark.read.schema(_spark_ddl(eq)).parquet(
                rec["file_path"]).select(
                *[F.col(c).alias(f"_ice_eq_{c}") for c in cols]
            ).distinct()
            cond = F.col("_ice_seq") < F.lit(int(rec["sequence_number"]))
            for c in cols:
                # spec: a NULL delete value matches NULL (col IS NULL)
                cond = cond & F.col(c).eqNullSafe(F.col(f"_ice_eq_{c}"))
            df = df.join(F.broadcast(dels), cond, "left_anti")
        df = df.drop("_ice_seq")

    return df


# ---------------------------------------------------------------------------
# fixture-grade writer
# ---------------------------------------------------------------------------

class IcebergFixtureWriter:
    """Build a spec-shaped on-disk Iceberg v2 table for tests/oracles.

    Usage::

        w = IcebergFixtureWriter(path, df.schema)
        snap1 = w.append(df)                          # add data files
        snap2 = w.delete_positions(spark, pred_col)   # MOR deletes
        snap3 = w.delete_equality(key_df, ["url"])    # eq deletes

    Each call commits one snapshot (new manifest list + metadata json,
    version-hint bumped). Timestamps come from a logical counter — never
    wall clock — so fixtures are deterministic.
    """

    def __init__(self, table_path: str, spark_schema):
        self.path = table_path
        self.mdir = os.path.join(table_path, "metadata")
        self.ddir = os.path.join(table_path, "data")
        os.makedirs(self.mdir, exist_ok=True)
        os.makedirs(self.ddir, exist_ok=True)
        self.uuid = str(uuid.uuid5(
            uuid.NAMESPACE_URL, "core-spark-fixture:" + table_path))
        self.fields = [
            {"id": i + 1, "name": f.name, "required": False,
             "type": _SPARK_TO_ICEBERG[f.dataType.simpleString()]}
            for i, f in enumerate(spark_schema.fields)]
        self.snapshots: list[dict] = []
        self.manifests: list[dict] = []  # accumulated manifest-file entries
        self.version = 0
        self.seq = 0
        self._ts = 1_700_000_000_000  # deterministic logical clock (ms)

    # -- internals ----------------------------------------------------------

    def _next_ts(self) -> int:
        self._ts += 60_000
        return self._ts

    def _parquet_files(self, d: str) -> list[str]:
        return sorted(
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith("."))

    def _file_entries(self, paths: list[str], content: int,
                      equality_ids=None) -> list[dict]:
        import pyarrow.parquet as pq
        out = []
        for p in paths:
            meta = pq.ParquetFile(p).metadata
            out.append({
                "status": _ADDED, "snapshot_id": None,
                "sequence_number": None, "file_sequence_number": None,
                "data_file": {
                    "content": content, "file_path": p,
                    "file_format": "PARQUET", "partition": {},
                    "record_count": meta.num_rows,
                    "file_size_in_bytes": os.path.getsize(p),
                    "equality_ids": equality_ids,
                }})
        return out

    def _commit(self, entries: list[dict], content: int, operation: str) -> int:
        self.seq += 1
        snap_id = 7_000_000_000_000 + self.seq
        mpath = os.path.join(self.mdir, f"m{self.seq}.avro")
        with open(mpath, "wb") as f:
            f.write(write_avro_file(MANIFEST_ENTRY_SCHEMA, entries))
        rows = sum(e["data_file"]["record_count"] for e in entries)
        self.manifests.append({
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0, "content": content,
            "sequence_number": self.seq, "min_sequence_number": self.seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries), "existing_files_count": 0,
            "deleted_files_count": 0, "added_rows_count": rows,
            "existing_rows_count": 0, "deleted_rows_count": 0,
        })
        ml_path = os.path.join(self.mdir, f"snap-{snap_id}.avro")
        with open(ml_path, "wb") as f:
            f.write(write_avro_file(MANIFEST_LIST_SCHEMA, self.manifests))
        self.snapshots.append({
            "snapshot-id": snap_id, "sequence-number": self.seq,
            "timestamp-ms": self._next_ts(),
            "summary": {"operation": operation},
            "manifest-list": ml_path, "schema-id": 0,
        })
        self._write_metadata(snap_id)
        return snap_id

    def _write_metadata(self, current: int) -> None:
        self.version += 1
        md = {
            "format-version": 2, "table-uuid": self.uuid,
            "location": self.path, "last-sequence-number": self.seq,
            "last-updated-ms": self._ts, "last-column-id": len(self.fields),
            "schemas": [{"schema-id": 0, "type": "struct",
                         "fields": self.fields}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0, "last-partition-id": 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0, "properties": {},
            "current-snapshot-id": current, "snapshots": self.snapshots,
            "snapshot-log": [{"snapshot-id": s["snapshot-id"],
                              "timestamp-ms": s["timestamp-ms"]}
                             for s in self.snapshots],
            "metadata-log": [],
        }
        with open(os.path.join(self.mdir,
                               f"v{self.version}.metadata.json"), "w") as f:
            json.dump(md, f)
        with open(os.path.join(self.mdir, "version-hint.text"), "w") as f:
            f.write(str(self.version))

    # -- public commits -----------------------------------------------------

    def append(self, df, n_files: int = 2) -> int:
        """Write df as parquet data files + commit an append snapshot."""
        d = os.path.join(self.ddir, f"s{self.seq + 1}")
        df.repartition(n_files).write.mode("overwrite").parquet(d)
        entries = self._file_entries(self._parquet_files(d), _DATA)
        return self._commit(entries, content=0, operation="append")

    def delete_positions(self, spark, predicate) -> int:
        """Commit position deletes for rows matching ``predicate``.

        The (file, pos) coordinates come from Spark's own metadata
        columns over the CURRENT data files — computed distributed,
        written as a spec-shaped delete parquet (file_path, pos).
        """
        from pyspark.sql import functions as F
        md = load_table_metadata(self.path)
        snap = select_snapshot(md)
        files = [f["file_path"] for f in plan_files(self.path, snap)["data"]]
        d = os.path.join(self.ddir, f"s{self.seq + 1}-pos-del")
        (spark.read.schema(_spark_ddl(_current_fields(md))).parquet(*files)
         .select(F.col("_metadata.file_path").alias("file_path"),
                 F.col("_metadata.row_index").alias("pos"),
                 "*")
         .filter(predicate)
         .select("file_path", "pos")
         .coalesce(1).write.mode("overwrite").parquet(d))
        entries = self._file_entries(
            self._parquet_files(d), _POSITION_DELETES)
        return self._commit(entries, content=1, operation="delete")

    def delete_equality(self, key_df, key_cols: list[str]) -> int:
        """Commit equality deletes: rows whose key_cols match key_df."""
        d = os.path.join(self.ddir, f"s{self.seq + 1}-eq-del")
        key_df.select(*key_cols).coalesce(1).write.mode(
            "overwrite").parquet(d)
        by_name = {f["name"]: f["id"] for f in self.fields}
        ids = [by_name[c] for c in key_cols]
        entries = self._file_entries(
            self._parquet_files(d), _EQUALITY_DELETES, equality_ids=ids)
        return self._commit(entries, content=1, operation="delete")
