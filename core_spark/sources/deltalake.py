"""Delta-lite — read a Delta Lake table snapshot WITHOUT the delta-spark
runtime jar, plus a fixture-grade writer so the reader is testable (and
oracle-gated) in a hermetic environment.

Why this exists: the Iceberg reader (iceberg.py) proves the engine speaks
one open table format; real lakehouses are split between Iceberg and
Delta, and a 100-TB web corpus is as likely to arrive as a Delta table.
This module implements the PUBLIC Delta Transaction Log Protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md):

    _delta_log/%020d.json           newline-delimited JSON actions
    _delta_log/%020d.checkpoint.parquet   full-state checkpoint
    _delta_log/_last_checkpoint     pointer {version, size}

Snapshot reconstruction is the spec's replay: start from the newest
checkpoint at or below the target version, then apply later JSON commits
in order — per file path, `add` puts the file in the snapshot, `remove`
takes it out; the latest `metaData` / `protocol` action wins. The DATA
path then goes straight to Spark's parquet scan:

  * live data files -> ``spark.read.parquet(*files)`` with the table
    schema from ``metaData.schemaString`` (which IS Spark's own
    StructType JSON — the formats share it) — column pruning, predicate
    pushdown and whole-stage codegen apply as for any parquet scan.
  * partition pruning happens at PLAN time, driver-side, exactly like
    Delta's own planner: each `add` carries ``partitionValues``
    (map<string,string> per the spec), so a partition filter selects
    files before Spark ever lists anything. Data files live in
    Hive-style ``col=value/`` paths (the layout delta-spark writes), so
    ``basePath`` + explicit schema re-derives partition columns without
    touching file contents.
  * time travel by version, or by timestamp against the commits'
    ``commitInfo.timestamp`` — the fixture writer stamps a monotone
    logical clock, i.e. the protocol's In-Commit Timestamps semantics
    (deterministic, unlike the legacy file-mtime rule; documented
    deviation: we always read commitInfo, never the filesystem mtime).

100-TB shape: the log is metadata (KBs per commit); replaying it on the
driver is what Delta's own planner does, and the checkpoint bounds the
replay to (one parquet read + a handful of JSON tails) no matter how
many commits the table has accumulated — proven here by a test that
deletes the pre-checkpoint commits (log cleanup) and reads on. Snapshot
planning never lists the table directory, so dead files from failed
writes or removed (tombstoned) files are invisible.

Unsupported (raise, never silently wrong): deletion vectors (an `add`
with a non-null ``deletionVector``), column mapping, and any
``minReaderVersion`` > 1 whose ``readerFeatures`` we don't implement.
The fixture writer is copy-on-write (DELETE rewrites affected files),
so it never produces DVs — matching delta-spark's default until DVs are
explicitly enabled. It has no maintenance actions (OPTIMIZE, VACUUM):
removed files stay on disk, which is what time travel reads.

No reference counterpart (specvital/core has no table-format layer).
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import quote, unquote

_LOG_DIR = "_delta_log"
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")

# readerFeatures this reader actually implements (protocol v3 tables
# advertise their requirements; anything else must hard-fail per spec)
_SUPPORTED_READER_FEATURES = frozenset({"timestampNtz", "inCommitTimestamp"})


# ---------------------------------------------------------------------------
# log listing + snapshot reconstruction (driver-side, pure)
# ---------------------------------------------------------------------------

def _decode_path(p: str) -> str:
    """add/remove paths are RFC 2396-encoded relative URIs (PROTOCOL.md
    'needs to be decoded') — delta-spark logs a Hive-escaped dir like
    ``ts=2024-01-01 00%3A00%3A00`` further percent-encoded. Decode at
    every FILESYSTEM resolution point; log-internal add/remove matching
    stays on the raw form."""
    return unquote(p)


def _encode_path(p: str) -> str:
    """Inverse for the fixture writer: log an on-disk relative path in
    the protocol's encoded form. ``=`` stays literal (delta-spark logs
    Hive partition dirs as ``lang=de/...``); the Hive-escaped %XX
    sequences on disk double-encode to %25XX, as in real logs."""
    return quote(p, safe="/=")


def _list_log(table_path: str) -> tuple[dict[int, str], dict[int, str]]:
    """-> ({version: commit_json_path}, {version: checkpoint_parquet_path})."""
    log = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log):
        raise ValueError(f"delta: no {_LOG_DIR} under {table_path}")
    commits, ckpts = {}, {}
    for name in os.listdir(log):
        if m := _COMMIT_RE.match(name):
            commits[int(m.group(1))] = os.path.join(log, name)
        elif m := _CKPT_RE.match(name):
            ckpts[int(m.group(1))] = os.path.join(log, name)
    if not commits and not ckpts:
        raise ValueError(f"delta: empty log under {table_path}")
    return commits, ckpts


def _read_commit(path: str, version: int) -> list[dict]:
    actions = []
    with open(path, "rb") as f:
        for i, line in enumerate(f.read().split(b"\n")):
            if not line.strip():
                continue
            try:
                actions.append(json.loads(line))
            except json.JSONDecodeError as e:
                raise ValueError(
                    f"delta: malformed action (commit {version}, line "
                    f"{i + 1}): {e}") from None
    return actions


def _commit_timestamp(actions: list[dict]) -> int | None:
    for a in actions:
        if "commitInfo" in a:
            ts = a["commitInfo"].get("inCommitTimestamp",
                                     a["commitInfo"].get("timestamp"))
            if ts is not None:
                return int(ts)
    return None


def _unmap(v):
    """pyarrow map columns round-trip as [(k, v), ...] — normalize."""
    if isinstance(v, list) and all(
            isinstance(x, tuple) and len(x) == 2 for x in v):
        return dict(v)
    return v


def _read_checkpoint(path: str) -> list[dict]:
    """One checkpoint parquet -> the action list it encodes."""
    import pyarrow.parquet as pq
    rows = pq.read_table(path).to_pylist()
    actions = []
    for r in rows:
        for key in ("protocol", "metaData", "add", "remove"):
            v = r.get(key)
            if v is None:
                continue
            v = dict(v)
            for mk in ("partitionValues", "configuration", "options"):
                if mk in v:
                    v[mk] = _unmap(v[mk])
            if key == "metaData" and isinstance(v.get("format"), dict):
                f = dict(v["format"])
                f["options"] = _unmap(f.get("options") or {})
                v["format"] = f
            actions.append({key: v})
    return actions


def _apply(state: dict, actions: list[dict], version: int) -> None:
    for a in actions:
        if "add" in a:
            add = a["add"]
            if add.get("deletionVector") is not None:
                raise ValueError(
                    "delta: deletion vectors are not supported (add for "
                    f"{add.get('path')!r} in commit {version} carries one); "
                    "rewrite the table copy-on-write or use delta-spark")
            state["adds"][add["path"]] = add
        elif "remove" in a:
            state["adds"].pop(a["remove"]["path"], None)
        elif "metaData" in a:
            state["metaData"] = a["metaData"]
        elif "protocol" in a:
            state["protocol"] = a["protocol"]
        # commitInfo / txn / cdc: no effect on snapshot state


def load_delta_snapshot(table_path: str, version: int | None = None,
                        as_of_ms: int | None = None) -> dict:
    """Reconstruct one snapshot: {'version', 'adds', 'metaData', 'protocol'}.

    Replay starts at the newest checkpoint <= target (so a cleaned log —
    pre-checkpoint commits deleted — still reads), then applies JSON
    commits in version order. Raises on version gaps, unknown reader
    requirements, or deletion vectors.
    """
    commits, ckpts = _list_log(table_path)
    newest = max([*commits, *ckpts])
    # each commit JSON is parsed at most ONCE per load, even when the
    # as_of_ms scan and the replay both need it
    _acts_cache: dict[int, list[dict]] = {}

    def _acts(v: int) -> list[dict]:
        if v not in _acts_cache:
            _acts_cache[v] = _read_commit(commits[v], v)
        return _acts_cache[v]

    if version is None and as_of_ms is not None:
        eligible = [v for v in sorted(commits)
                    if (ts := _commit_timestamp(_acts(v))) is not None
                    and ts <= as_of_ms]
        if not eligible:
            raise ValueError(f"delta: no commit at or before ts {as_of_ms}")
        version = eligible[-1]
    target = newest if version is None else version
    if target not in commits and target not in ckpts:
        if target > newest:
            raise ValueError(f"delta: version {target} does not exist "
                             f"(newest is {newest})")
        raise ValueError(f"delta: commit {target} missing (log cleaned?) — "
                         f"cannot reconstruct that version")

    state = {"version": target, "adds": {}, "metaData": None,
             "protocol": None}
    start = 0
    usable = [v for v in ckpts if v <= target]
    if usable:
        cv = max(usable)
        _apply(state, _read_checkpoint(ckpts[cv]), cv)
        start = cv + 1
    for v in range(start, target + 1):
        if v not in commits:
            raise ValueError(
                f"delta: commit {v} missing (log cleaned past the newest "
                f"usable checkpoint?) — cannot reconstruct version {target}")
        _apply(state, _acts(v), v)

    proto = state["protocol"] or {}
    mrv = proto.get("minReaderVersion", 1)
    if mrv == 2:
        # reader v2 == column mapping required: physical parquet columns
        # are renamed 'col-<uuid>', so reading with the logical schema
        # would return all-NULL columns — hard-fail, never silently wrong
        raise ValueError(
            "delta: minReaderVersion 2 (column mapping) is not supported")
    if mrv > 2:
        extra = set(proto.get("readerFeatures") or []) - \
            _SUPPORTED_READER_FEATURES
        if extra:
            raise ValueError(
                f"delta: table requires unsupported reader features "
                f"{sorted(extra)}")
    if state["metaData"] is None:
        raise ValueError("delta: snapshot has no metaData action")
    cm = (state["metaData"].get("configuration") or {}).get(
        "delta.columnMapping.mode")
    if cm not in (None, "none"):
        raise ValueError(
            f"delta: column mapping mode {cm!r} is not supported")
    return state


def plan_delta_files(table_path: str, snapshot: dict,
                     partition_filter: dict[str, str] | None = None
                     ) -> list[dict]:
    """Live adds for a snapshot, pruned by exact partition-value match.

    ``partition_filter`` compares against the spec's string-typed
    ``partitionValues`` — planning never opens a data file.
    """
    adds = sorted(snapshot["adds"].values(), key=lambda a: a["path"])
    if partition_filter:
        part_cols = snapshot["metaData"].get("partitionColumns") or []
        unknown = set(partition_filter) - set(part_cols)
        if unknown:
            raise ValueError(
                f"delta: {sorted(unknown)} are not partition columns "
                f"(table partitions on {part_cols})")
        adds = [a for a in adds
                if all((a.get("partitionValues") or {}).get(c) == v
                       for c, v in partition_filter.items())]
    return adds


# ---------------------------------------------------------------------------
# Spark read path
# ---------------------------------------------------------------------------

def read_delta(spark, table_path: str, version: int | None = None,
               as_of_ms: int | None = None,
               partition_filter: dict[str, str] | None = None):
    """Snapshot read of a Delta table: log replay driver-side (what
    Delta's planner does), then ONE declarative parquet scan of exactly
    the live files — partition-pruned BEFORE Spark lists anything, with
    the table schema from metaData.schemaString so partition columns
    (Hive-style paths, not stored in the files) come back typed.
    """
    snap = load_delta_snapshot(table_path, version=version,
                               as_of_ms=as_of_ms)
    return _scan_snapshot(spark, table_path, snap, partition_filter)


def _scan_snapshot(spark, table_path: str, snap: dict,
                   partition_filter: dict[str, str] | None = None):
    """Scan an already-replayed snapshot (shared with the fixture
    writer's internal reads, which avoid a second log replay). A snapshot
    with no live files is the same scan over no paths."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(snap["metaData"]["schemaString"]))
    paths = [os.path.join(table_path, _decode_path(a["path"]))
             for a in plan_delta_files(table_path, snap, partition_filter)]
    reader = spark.read.schema(schema)
    if snap["metaData"].get("partitionColumns"):
        reader = reader.option("basePath", table_path)
    # Spark surfaces path-derived partition columns LAST regardless of the
    # supplied schema; restore the table's declared column order.
    return reader.parquet(*paths).select(*[f.name for f in schema.fields])


# ---------------------------------------------------------------------------
# fixture-grade writer
# ---------------------------------------------------------------------------

class DeltaFixtureWriter:
    """Build a spec-shaped on-disk Delta table for tests/oracles.

    Usage::

        w = DeltaFixtureWriter(path, df.schema, partition_cols=["lang"])
        w.append(df)                       # v1 (v0 = protocol+metaData)
        w.delete_where(spark, predicate)   # v2: copy-on-write rewrite
        w.checkpoint()                     # checkpoint.parquet at v2
        w.clean_log()                      # drop pre-checkpoint commits

    Commits stamp a monotone logical clock (In-Commit Timestamps
    semantics) — never wall clock — so fixtures are deterministic.
    NOT a production writer: no stats, no optimistic-concurrency loop,
    single writer assumed.
    """

    def __init__(self, table_path: str, spark_schema,
                 partition_cols: list[str] | tuple[str, ...] = ()):
        self.path = table_path
        self.log = os.path.join(table_path, _LOG_DIR)
        os.makedirs(self.log, exist_ok=True)
        self.partition_cols = list(partition_cols)
        self.schema = spark_schema
        self.version = -1
        self._ts = 1_700_000_000_000
        self._commit([
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {
                "id": "00000000-core-spark-delta-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": spark_schema.json(),
                "partitionColumns": self.partition_cols,
                "configuration": {},
                "createdTime": self._ts,
            }},
        ], operation="CREATE TABLE")

    # -- internals ----------------------------------------------------------

    def _next_ts(self) -> int:
        self._ts += 60_000
        return self._ts

    def _commit(self, actions: list[dict], operation: str) -> int:
        self.version += 1
        info = {"commitInfo": {"timestamp": self._next_ts(),
                               "inCommitTimestamp": self._ts,
                               "operation": operation}}
        path = os.path.join(self.log, f"{self.version:020d}.json")
        with open(path, "w") as f:
            for a in [info, *actions]:
                f.write(json.dumps(a) + "\n")
        return self.version

    def _data_files(self) -> set[str]:
        out = set()
        for root, dirs, files in os.walk(self.path):
            dirs[:] = [d for d in dirs if d != _LOG_DIR]
            for name in files:
                if name.endswith(".parquet") and not name.startswith("."):
                    out.add(os.path.relpath(
                        os.path.join(root, name), self.path))
        return out

    def _add_actions(self, rel_paths: set[str]) -> list[dict]:
        acts = []
        for rel in sorted(rel_paths):
            pv = {}
            for seg in rel.split(os.sep)[:-1]:
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    # partitionValues hold the LOGICAL string — undo the
                    # Hive dir escaping (%XX) Spark applied on write
                    pv[k] = unquote(v)
            acts.append({"add": {
                "path": _encode_path(rel), "partitionValues": pv,
                "size": os.path.getsize(os.path.join(self.path, rel)),
                "modificationTime": self._ts, "dataChange": True,
            }})
        return acts

    def _write_files(self, df, n_files: int) -> set[str]:
        before = self._data_files()
        writer = df.repartition(n_files).write.mode("append")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(self.path)
        return self._data_files() - before

    # -- public commits -----------------------------------------------------

    def append(self, df, n_files: int = 2) -> int:
        """Write df as new data files + commit their add actions."""
        new = self._write_files(df, n_files)
        return self._commit(self._add_actions(new), operation="WRITE")

    def delete_where(self, spark, predicate) -> int:
        """Copy-on-write DELETE: rewrite only the files that contain
        matching rows (keeping their non-matching rows), commit
        remove(old) + add(new) — the plan delta-spark runs for a DELETE
        when deletion vectors are off."""
        from pyspark.sql import functions as F

        snap = load_delta_snapshot(self.path)
        adds = plan_delta_files(self.path, snap)
        if not adds:
            return self._commit([], operation="DELETE")
        # reuse the replayed snapshot — read_delta would replay the log
        # a second time
        df = _scan_snapshot(spark, self.path, snap).withColumn(
            "_file", F.col("_metadata.file_path"))
        affected = {os.path.relpath(_strip_file_uri(r._file), self.path)
                    for r in df.filter(predicate)
                    .select("_file").distinct().collect()}
        if not affected:
            return self._commit([], operation="DELETE")
        abs_affected = [os.path.join(self.path, p) for p in affected]
        reader = spark.read.schema(self.schema)
        if self.partition_cols:
            reader = reader.option("basePath", self.path)
        # DELETE semantics keep rows where the predicate is false OR NULL;
        # a bare ~predicate is NULL (dropped) on NULL inputs — data loss
        keep = reader.parquet(*abs_affected).filter(
            ~F.coalesce(predicate, F.lit(False)))
        new = self._write_files(keep, n_files=max(1, len(affected) // 2))
        removes = [{"remove": {"path": _encode_path(p), "dataChange": True,
                               "deletionTimestamp": self._ts}}
                   for p in sorted(affected)]
        return self._commit(removes + self._add_actions(new),
                            operation="DELETE")

    def checkpoint(self) -> str:
        """Write the full snapshot state as %020d.checkpoint.parquet and
        point _last_checkpoint at it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = load_delta_snapshot(self.path)
        smap = pa.map_(pa.string(), pa.string())
        schema = pa.schema([
            # readerFeatures/writerFeatures must survive the checkpoint:
            # pyarrow silently drops dict keys absent from the struct
            # schema, and losing them would let a cleaned log bypass the
            # unsupported-feature hard-fail on replay
            ("protocol", pa.struct([
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string()))])),
            ("metaData", pa.struct([
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string()),
                                      ("options", smap)])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", smap),
                ("createdTime", pa.int64())])),
            ("add", pa.struct([
                ("path", pa.string()), ("partitionValues", smap),
                ("size", pa.int64()), ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_())])),
        ])
        rows = [{"protocol": snap["protocol"]},
                {"metaData": snap["metaData"]}]
        rows += [{"add": a} for a in
                 sorted(snap["adds"].values(), key=lambda a: a["path"])]
        path = os.path.join(self.log,
                            f"{snap['version']:020d}.checkpoint.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        with open(os.path.join(self.log, "_last_checkpoint"), "w") as f:
            json.dump({"version": snap["version"], "size": len(rows)}, f)
        return path

    def clean_log(self) -> int:
        """Delete commit JSONs strictly below the newest checkpoint (log
        retention cleanup) — readers must reconstruct via the checkpoint.
        Returns how many commit files were removed."""
        commits, ckpts = _list_log(self.path)
        if not ckpts:
            raise ValueError("delta: no checkpoint to clean up to")
        cv = max(ckpts)
        victims = [p for v, p in commits.items() if v < cv]
        for p in victims:
            os.remove(p)
        return len(victims)


def _strip_file_uri(p: str) -> str:
    return "/" + p.split(":", 1)[1].lstrip("/") if p.startswith("file:") else p
