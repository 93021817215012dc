"""Iceberg-lite (sources/iceberg.py + sources/avrolite.py) gates.

The reader implements the PUBLIC Iceberg v2 table spec over the repo's
own Avro codec; these tests pin the full metadata chain end to end on a
real on-disk table (snapshot pruning, time travel, position deletes via
Spark's (_metadata.file_path, row_index) coordinates, equality deletes)
plus the Avro layer's binary-format corners and error paths.
"""

import json
import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from core_spark.sources.avrolite import read_avro_file, write_avro_file
from core_spark.sources.iceberg import (
    IcebergFixtureWriter, load_table_metadata, plan_files, read_iceberg,
    select_snapshot,
)

# ---------------------------------------------------------------------------
# avro codec
# ---------------------------------------------------------------------------

_NESTED_SCHEMA = {
    "type": "record", "name": "outer", "fields": [
        {"name": "u", "type": ["null", "long"], "default": None},
        {"name": "inner", "type": {
            "type": "record", "name": "inner_t", "fields": [
                {"name": "s", "type": "string"},
                {"name": "b", "type": "bytes"}]}},
        {"name": "again", "type": "inner_t"},  # named-type reference
        {"name": "tags", "type": {"type": "map", "values": "int"}},
        {"name": "xs", "type": {"type": "array", "items": "double"}},
    ]}


def _nested(u, s):
    return {"u": u, "inner": {"s": s, "b": s.encode()},
            "again": {"s": s * 2, "b": b"\x00\xff"},
            "tags": {s: len(s)}, "xs": [0.5, -1.25]}


def test_avro_roundtrip_nested_named_types():
    recs = [_nested(None, "a"), _nested(-(2 ** 62), "π—ω")]
    for codec in ("null", "deflate"):
        schema, out = read_avro_file(
            write_avro_file(_NESTED_SCHEMA, recs, codec=codec))
        assert out == recs
        assert json.loads(schema)["name"] == "outer"


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(
    st.one_of(st.none(), st.integers(-2 ** 63, 2 ** 63 - 1)),
    st.text(max_size=20)), max_size=8))
def test_avro_roundtrip_fuzz(pairs):
    recs = [_nested(u, s) for u, s in pairs]
    _, out = read_avro_file(write_avro_file(_NESTED_SCHEMA, recs))
    assert out == recs


def test_avro_negative_array_block_count():
    # spec: negative count = abs count with a byte-size long following
    # (skippable blocks) — hand-build one and decode it
    from core_spark.sources.avrolite import _Reader, _decode, _zigzag, parse_schema
    schema, names = parse_schema({"type": "array", "items": "long"})
    items = b"".join(_zigzag(v) for v in (7, -3))
    payload = _zigzag(-2) + _zigzag(len(items)) + items + _zigzag(0)
    assert _decode(schema, names, _Reader(payload)) == [7, -3]


@pytest.mark.parametrize("mutate,msg", [
    (lambda b: b"XXXX" + b[4:], "magic"),
    (lambda b: b[:-3], "truncated|sync"),
    (lambda b: b[:40], "truncated|varint|sync"),
])
def test_avro_malformed_raises(mutate, msg):
    import re
    data = write_avro_file(_NESTED_SCHEMA, [_nested(1, "x")])
    with pytest.raises(ValueError, match=msg):
        read_avro_file(mutate(data))


def test_avro_ambiguous_bare_reference_raises():
    """Two namespaces defining the same bare record name: a bare-name
    reference must fail loudly, never silently resolve to the
    first-seen definition (wrong field layout -> garbage decode)."""
    schema = {
        "type": "record", "name": "outer2", "fields": [
            {"name": "a", "type": {
                "type": "record", "name": "Foo", "namespace": "ns1",
                "fields": [{"name": "x", "type": "long"}]}},
            {"name": "b", "type": {
                "type": "record", "name": "Foo", "namespace": "ns2",
                "fields": [{"name": "y", "type": "string"},
                           {"name": "z", "type": "string"}]}},
            {"name": "c", "type": "Foo"},  # ambiguous bare reference
        ]}
    recs = [{"a": {"x": 1}, "b": {"y": "u", "z": "v"}, "c": {"x": 2}}]
    with pytest.raises(ValueError, match="ambiguous"):
        read_avro_file(write_avro_file(schema, recs))
    # qualified references stay fine
    ok = dict(schema, fields=schema["fields"][:2] + [
        {"name": "c", "type": "ns1.Foo"}])
    _, out = read_avro_file(write_avro_file(ok, recs))
    assert out == recs


def test_avro_deterministic_bytes():
    recs = [_nested(5, "same")]
    assert write_avro_file(_NESTED_SCHEMA, recs) == \
        write_avro_file(_NESTED_SCHEMA, recs)


# ---------------------------------------------------------------------------
# iceberg table fixture
# ---------------------------------------------------------------------------

@pytest.fixture()
def corpus(spark):  # noqa: F811
    return spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
        F.md5(F.col("id").cast("string")).alias("text"))


def _write_table(spark, corpus, path):  # noqa: F811
    w = IcebergFixtureWriter(str(path), corpus.schema)
    s1 = w.append(corpus, n_files=3)
    s2 = w.delete_positions(spark, F.col("doc_id") % 7 == 3)
    s3 = w.delete_equality(
        corpus.filter(F.col("doc_id") < 5).select("url"), ["url"])
    return w, (s1, s2, s3)


def test_iceberg_snapshot_chain_and_deletes(spark, corpus, tmp_path):  # noqa: F811
    _, (s1, s2, s3) = _write_table(spark, corpus, tmp_path)
    pos_deleted = {i for i in range(120) if i % 7 == 3}
    eq_deleted = {0, 1, 2, 3, 4}

    # current snapshot = both delete layers applied
    got = {r.doc_id for r in read_iceberg(spark, str(tmp_path)).collect()}
    assert got == set(range(120)) - pos_deleted - eq_deleted

    # snapshot pruning: each historical snapshot reads its own view
    assert read_iceberg(spark, str(tmp_path), snapshot_id=s1).count() == 120
    got2 = {r.doc_id
            for r in read_iceberg(spark, str(tmp_path),
                                  snapshot_id=s2).collect()}
    assert got2 == set(range(120)) - pos_deleted


def test_iceberg_time_travel_as_of(spark, corpus, tmp_path):  # noqa: F811
    _write_table(spark, corpus, tmp_path)
    md = load_table_metadata(str(tmp_path))
    snaps = sorted(md["snapshots"], key=lambda s: s["timestamp-ms"])
    # exactly at the first commit -> first snapshot; just before -> error
    n0 = read_iceberg(spark, str(tmp_path),
                      as_of_ms=snaps[0]["timestamp-ms"]).count()
    assert n0 == 120
    with pytest.raises(ValueError, match="no snapshot"):
        select_snapshot(md, as_of_ms=snaps[0]["timestamp-ms"] - 1)
    # an id the metadata does not hold -> loud 'not found'
    absent = max(s["snapshot-id"] for s in snaps) + 1
    with pytest.raises(ValueError, match="not found"):
        read_iceberg(spark, str(tmp_path), snapshot_id=absent)
    # between commits 2 and 3 -> position deletes only
    mid = (snaps[1]["timestamp-ms"] + snaps[2]["timestamp-ms"]) // 2
    assert read_iceberg(spark, str(tmp_path), as_of_ms=mid).count() == \
        120 - len({i for i in range(120) if i % 7 == 3})


def test_iceberg_values_survive_roundtrip(spark, corpus, tmp_path):  # noqa: F811
    """Byte-level column fidelity, not just row counts."""
    w = IcebergFixtureWriter(str(tmp_path), corpus.schema)
    w.append(corpus, n_files=2)
    got = read_iceberg(spark, str(tmp_path)).orderBy("doc_id").collect()
    exp = corpus.orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_iceberg_plan_prunes_to_snapshot_files(spark, corpus, tmp_path):  # noqa: F811
    """The planner touches ONLY files the snapshot references — the
    property that makes 10^12-row tables plannable (never a dir listing)."""
    w, (s1, s2, s3) = _write_table(spark, corpus, tmp_path)
    md = load_table_metadata(str(tmp_path))
    p1 = plan_files(str(tmp_path), select_snapshot(md, snapshot_id=s1))
    assert len(p1["data"]) == 3
    assert p1["position_deletes"] == [] and p1["equality_deletes"] == []
    p3 = plan_files(str(tmp_path), select_snapshot(md, snapshot_id=s3))
    assert len(p3["data"]) == 3
    assert len(p3["position_deletes"]) == 1
    assert len(p3["equality_deletes"]) == 1
    (_, ids), = p3["equality_deletes"]
    assert ids == [2]  # url is field id 2
    # record counts in manifests match parquet footers exactly
    assert sum(f["record_count"] for f in p1["data"]) == 120


def test_iceberg_equality_delete_sequence_scoping(spark, corpus, tmp_path):  # noqa: F811
    """Spec: an equality delete at sequence S applies only to data files
    sequenced STRICTLY below S. A row re-appended AFTER the delete must
    be live in the current snapshot while the original stays deleted."""
    w = IcebergFixtureWriter(str(tmp_path), corpus.schema)
    w.append(corpus, n_files=2)  # seq 1: urls for doc_id 0..119
    w.delete_equality(
        corpus.filter(F.col("doc_id") < 5).select("url"), ["url"])  # seq 2
    # seq 3: re-append doc_id 0..4 with the SAME urls, new text
    readd = corpus.filter(F.col("doc_id") < 5).withColumn(
        "text", F.concat(F.lit("v2:"), F.col("text")))
    w.append(readd, n_files=1)
    got = {(r.doc_id, r.text[:3])
           for r in read_iceberg(spark, str(tmp_path))
           .filter(F.col("doc_id") < 5).collect()}
    # exactly the re-added versions: originals deleted, v2 rows live
    assert got == {(i, "v2:") for i in range(5)}
    assert read_iceberg(spark, str(tmp_path)).count() == 120
    # the delete still applies in full to the pre-delete snapshot chain
    md = load_table_metadata(str(tmp_path))
    s2 = sorted(md["snapshots"], key=lambda s: s["sequence-number"])[1]
    assert read_iceberg(
        spark, str(tmp_path),
        snapshot_id=s2["snapshot-id"]).count() == 115


def test_iceberg_equality_delete_null_matches_null(spark, tmp_path):
    """Spec: a NULL in an equality delete file matches rows where the
    column is NULL (``col IS NULL``), not no row at all."""
    rows = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "de"), (4, None), (5, "fr")],
        "doc_id long, lang string")
    w = IcebergFixtureWriter(str(tmp_path), rows.schema)
    w.append(rows, n_files=2)
    w.delete_equality(
        spark.createDataFrame([(None,), ("de",)], "lang string"), ["lang"])
    got = {r.doc_id for r in read_iceberg(spark, str(tmp_path)).collect()}
    assert got == {1, 5}


def test_iceberg_delete_plan_stays_broadcast(spark, corpus, tmp_path):  # noqa: F811
    """MOR deletes must not restructure the scan: both delete layers
    apply as broadcast anti-joins, no sort-merge join, no Python stage."""
    _write_table(spark, corpus, tmp_path)
    plan = read_iceberg(spark, str(tmp_path))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_iceberg_empty_table_keeps_schema(spark, corpus, tmp_path):  # noqa: F811
    w = IcebergFixtureWriter(str(tmp_path), corpus.schema)
    empty = corpus.filter(F.lit(False))
    w.append(empty, n_files=1)
    df = read_iceberg(spark, str(tmp_path))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["doc_id", "url", "text"]


def test_iceberg_corrupt_manifest_raises(spark, corpus, tmp_path):  # noqa: F811
    w = IcebergFixtureWriter(str(tmp_path), corpus.schema)
    w.append(corpus, n_files=1)
    md = load_table_metadata(str(tmp_path))
    snap = select_snapshot(md)
    mpath = os.path.join(str(tmp_path), "metadata", "m1.avro")
    with open(mpath, "r+b") as f:
        f.seek(0)
        f.write(b"XXXX")
    with pytest.raises(ValueError, match="magic"):
        plan_files(str(tmp_path), snap)


def test_iceberg_version_hint_vs_scan(spark, corpus, tmp_path):  # noqa: F811
    """Reader honors version-hint.text; without it, the highest version
    wins among ``vN.metadata.json`` and ``NNNNN-<uuid>.metadata.json``."""
    w = IcebergFixtureWriter(str(tmp_path), corpus.schema)
    w.append(corpus, n_files=1)
    w.delete_positions(spark, F.col("doc_id") < 60)
    hint = os.path.join(str(tmp_path), "metadata", "version-hint.text")
    with open(hint, "w") as f:
        f.write("1")  # pin back to the first metadata version
    assert read_iceberg(spark, str(tmp_path)).count() == 120
    os.remove(hint)  # fall back to the newest metadata file
    assert read_iceberg(spark, str(tmp_path)).count() == 60
    # a catalog names version 2 00002-<uuid>; it still beats v1
    mdir = os.path.join(str(tmp_path), "metadata")
    os.rename(os.path.join(mdir, "v2.metadata.json"),
              os.path.join(mdir, "00002-6a1b2c3d-0000-4000-8000-000000000000"
                                 ".metadata.json"))
    assert read_iceberg(spark, str(tmp_path)).count() == 60
