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

and then hands the DATA path straight to Spark's parquet scan:

  * data files     -> ``spark.read.parquet(*files)`` — column pruning,
    predicate pushdown and whole-stage codegen all apply exactly as for
    any parquet scan; nothing Python touches row data.
  * position deletes (content=1) -> anti-join on
    ``(_metadata.file_path, _metadata.row_index)`` — Spark's file
    metadata columns ARE the (file, pos) coordinates the spec keys
    deletes by, so merge-on-read costs ONE shuffle-free broadcast
    anti-join when the delete set is small (the common case: deletes
    are a trickle vs the data).
  * equality deletes (content=2) -> anti-join on the equality columns
    (field ids resolved to names through the table schema), scoped by
    data sequence number: a delete at sequence S removes rows only from
    data files sequenced STRICTLY below S, so rows (re)appended after
    the delete stay live (spec §"Scan Planning"/delete application).
    Each row's file sequence number is a literal map lookup on its
    ``_metadata.file_path``, so every leaf of the plan is a file scan.

100-TB shape: manifest avro files are metadata (KBs–MBs per manifest
even on petabyte tables); reading them on the driver is exactly what
Iceberg's own planner does. Snapshot pruning means a reader never lists
the table directory — only files the chosen snapshot references are
touched, which is what makes 10^12-row tables plannable at all.

The fixture writer emits spec-shaped metadata (v2 field names/ids on
manifest-list entries, one gzip-independent avro per manifest) but is
NOT a production writer: no stats, unpartitioned spec only, single
metadata lineage. It exists so tests and the driver oracle can build a
real on-disk table, mutate it across snapshots, and byte-compare reads.

Public spec: https://iceberg.apache.org/spec/ (format-version 2).
No reference counterpart (specvital/core has no table-format layer).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from .avrolite import read_avro_file, write_avro_file

# Iceberg type names for the fixture writer's schema JSON
_SPARK_TO_ICEBERG = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "string": "string", "double": "double", "float": "float",
    "boolean": "boolean", "binary": "binary",
    "timestamp": "timestamptz", "date": "date",
}

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
    """Read the current vN.metadata.json (version-hint, else highest N)."""
    mdir = os.path.join(table_path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    name = None
    if os.path.exists(hint):
        with open(hint) as f:
            name = f"v{f.read().strip()}.metadata.json"
    else:
        versions = sorted(
            (f for f in os.listdir(mdir) if f.endswith(".metadata.json")),
            key=lambda f: int(f.split(".", 1)[0].lstrip("v")))
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


def _schema_field_names(md: dict, field_ids) -> list[str]:
    """Resolve equality-delete field ids to column names (current schema)."""
    schemas = md.get("schemas") or []
    cur = md.get("current-schema-id")
    fields = []
    for s in schemas:
        if s.get("schema-id") == cur or not schemas:
            fields = s.get("fields", [])
            break
    else:
        fields = schemas[-1].get("fields", []) if schemas else []
    if not fields and "schema" in md:  # v1 fallback
        fields = md["schema"].get("fields", [])
    by_id = {f["id"]: f["name"] for f in fields}
    try:
        return [by_id[i] for i in field_ids]
    except KeyError as e:
        raise ValueError(f"iceberg: unknown equality field id {e}") from None


# ---------------------------------------------------------------------------
# Spark read path
# ---------------------------------------------------------------------------

def read_iceberg(spark, table_path: str, snapshot_id: int | None = None,
                 as_of_ms: int | None = None):
    """Snapshot-pruned merge-on-read scan of an Iceberg v2 table.

    Plans driver-side off the metadata chain (what Iceberg's planner
    does), then builds ONE declarative Spark plan: parquet scan of the
    snapshot's live data files, minus position deletes (anti-join on the
    spec's (file, pos) coordinates via ``_metadata``), minus equality
    deletes (anti-join on the resolved equality columns). Small delete
    sides are broadcast; Catalyst/AQE keep pushdown + pruning on the
    data scan because deletes never restructure it.
    """
    from pyspark.sql import functions as F

    md = load_table_metadata(table_path)
    snap = select_snapshot(md, snapshot_id=snapshot_id, as_of_ms=as_of_ms)
    plan = plan_files(table_path, snap)
    if not plan["data"]:
        # zero-row scan with the table schema (empty-snapshot semantics)
        names_types = _iceberg_schema_to_spark(md)
        return spark.createDataFrame([], names_types)

    data_paths = [f["file_path"] for f in plan["data"]]
    df = spark.read.parquet(*data_paths)
    # the scan's file_path is a file: URI, the plan's paths are plain
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")

    if plan["position_deletes"]:
        # normalize both sides to a plain path: delete rows carry
        # whatever the writer recorded
        dels = spark.read.parquet(
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
        for rec, field_ids in plan["equality_deletes"]:
            cols = _schema_field_names(md, field_ids)
            dels = spark.read.parquet(rec["file_path"]).select(
                *[F.col(c).alias(f"_ice_eq_{c}") for c in cols]
            ).distinct()
            cond = F.col("_ice_seq") < F.lit(int(rec["sequence_number"]))
            for c in cols:
                cond = cond & (F.col(c) == F.col(f"_ice_eq_{c}"))
            df = df.join(F.broadcast(dels), cond, "left_anti")
        df = df.drop("_ice_seq")

    return df


def _iceberg_schema_to_spark(md: dict) -> str:
    """Current Iceberg schema -> Spark DDL string (flat types only)."""
    inv = {v: k for k, v in _SPARK_TO_ICEBERG.items()}
    inv.update({"long": "long", "int": "int", "string": "string",
                "double": "double", "float": "float", "boolean": "boolean",
                "binary": "binary", "timestamptz": "timestamp",
                "timestamp": "timestamp", "date": "date"})
    schemas = md.get("schemas") or [md.get("schema", {})]
    cur = md.get("current-schema-id")
    fields = next((s.get("fields", []) for s in schemas
                   if s.get("schema-id") == cur), schemas[-1].get("fields", []))
    parts = []
    for f in fields:
        t = f["type"]
        if not isinstance(t, str) or t not in inv:
            raise ValueError(f"iceberg: unsupported column type {t!r}")
        parts.append(f"{f['name']} {inv[t]}")
    return ", ".join(parts)


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
    version-hint bumped). Timestamps are caller-supplied or a logical
    counter — never wall clock — so fixtures are deterministic.
    """

    def __init__(self, table_path: str, spark_schema, table_uuid: str | None = None):
        self.path = table_path
        self.mdir = os.path.join(table_path, "metadata")
        self.ddir = os.path.join(table_path, "data")
        os.makedirs(self.mdir, exist_ok=True)
        os.makedirs(self.ddir, exist_ok=True)
        self.uuid = table_uuid or str(uuid.uuid5(
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

    def _commit(self, entries: list[dict], content: int, operation: str,
                replace: bool = False) -> int:
        self.seq += 1
        snap_id = 7_000_000_000_000 + self.seq
        mpath = os.path.join(self.mdir, f"m{self.seq}.avro")
        with open(mpath, "wb") as f:
            f.write(write_avro_file(MANIFEST_ENTRY_SCHEMA, entries))
        rows = sum(e["data_file"]["record_count"] for e in entries)
        if replace:
            # replacement commit (rewrite_data_files): the new snapshot's
            # manifest list references ONLY the new manifest — prior data
            # and delete manifests stop being part of snapshots from here
            self.manifests = []
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
        (spark.read.parquet(*files)
         .select(F.col("_metadata.file_path").alias("file_path"),
                 F.col("_metadata.row_index").alias("pos"),
                 "*")
         .filter(predicate)
         .select("file_path", "pos")
         .coalesce(1).write.mode("overwrite").parquet(d))
        entries = self._file_entries(
            self._parquet_files(d), _POSITION_DELETES)
        return self._commit(entries, content=1, operation="delete")

    def rewrite_data_files(self, spark, n_files: int = 2) -> int:
        """Table maintenance: materialize the CURRENT live rows (all
        merge-on-read delete layers applied) into fresh data files and
        commit a REPLACE snapshot whose manifest list carries only the
        new data manifest. This is Iceberg's rewrite_data_files action —
        the documented answer to MOR compaction debt (PLANS §43: a
        growing delete side eventually outgrows the broadcast; the fix
        is rewriting data files, which belongs to the writer). After it,
        the current snapshot plans ZERO delete files; history still
        time-travels to the MOR layout until expire_snapshots."""
        live = read_iceberg(spark, self.path)
        d = os.path.join(self.ddir, f"s{self.seq + 1}-rewrite")
        live.repartition(n_files).write.mode("overwrite").parquet(d)
        entries = self._file_entries(self._parquet_files(d), _DATA)
        return self._commit(entries, content=0, operation="replace",
                            replace=True)

    def expire_snapshots(self, retain_last: int = 1) -> int:
        """Drop all but the newest ``retain_last`` snapshots from the
        metadata and unlink every data/delete file no retained snapshot
        references (plus the expired snapshots' manifest lists) — the
        storage-reclaim half of maintenance. Time travel to an expired
        snapshot id then raises the reader's normal 'not found', never
        a partial read. Returns how many files were unlinked."""
        if retain_last < 1:
            raise ValueError("iceberg: retain_last must be >= 1")
        retained = self.snapshots[-retain_last:]
        expired = self.snapshots[:-retain_last]
        if not expired:
            return 0
        keep: set[str] = set()
        for s in retained:
            plan = plan_files(self.path, s)
            keep.update(f["file_path"] for f in plan["data"])
            keep.update(f["file_path"] for f in plan["position_deletes"])
            keep.update(r["file_path"] for r, _ in plan["equality_deletes"])
            ml = _resolve_path(s["manifest-list"], self.path)
            keep.add(ml)
            with open(ml, "rb") as f:
                _, mans = read_avro_file(f.read())
            keep.update(
                _resolve_path(m["manifest_path"], self.path) for m in mans)
        victims = []
        for s in expired:
            ml = _resolve_path(s["manifest-list"], self.path)
            if ml in keep or not os.path.exists(ml):
                continue
            with open(ml, "rb") as f:
                _, mans = read_avro_file(f.read())
            victims.append(ml)
            keep.add(ml)  # claimed: don't unlink twice
            # manifests only expired snapshots reference go too
            for m in mans:
                mp = _resolve_path(m["manifest_path"], self.path)
                if mp not in keep and os.path.exists(mp):
                    victims.append(mp)
                    keep.add(mp)
        for root, _dirs, files in os.walk(self.ddir):
            for name in files:
                p = os.path.join(root, name)
                if name.endswith(".parquet") and not name.startswith(".") \
                        and p not in keep:
                    victims.append(p)
        for p in victims:
            os.remove(p)
        self.snapshots = retained
        self._write_metadata(retained[-1]["snapshot-id"])
        return len(victims)

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
