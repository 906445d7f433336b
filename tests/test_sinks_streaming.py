"""Writer (W1-W9) and streaming-driver (P1-P2) tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from transmog_spark.config import EngineConfig
from transmog_spark.operators.flatten import flatten
from transmog_spark.sinks import (
    MissingDependencyError,
    sanitize_csv_injection,
    sanitize_filename,
    save_tables,
    write_table,
)
from transmog_spark.streaming.pipeline import flatten_foreach_batch, flatten_stream


@pytest.fixture(scope="module")
def nested_df(spark):
    return spark.createDataFrame(
        [
            Row(rid=1, name="a", items=[Row(v=1), Row(v=2)]),
            Row(rid=2, name="b", items=[Row(v=3)]),
        ]
    )


def test_save_tables_parquet_roundtrip(spark, nested_df, tmp_path):
    cfg = EngineConfig(id_generation="natural", id_field="rid", time_field=None)
    res = flatten(nested_df, "ent", cfg)
    paths = save_tables(res, str(tmp_path), "parquet")
    assert len(paths) == 2
    main = spark.read.parquet(str(tmp_path / "ent"))
    items = spark.read.parquet(str(tmp_path / "ent_items"))
    assert main.count() == 2 and items.count() == 3
    assert sorted(r.v for r in items.collect()) == [1, 2, 3]


@pytest.fixture(scope="module")
def wide_df(spark):
    """Three child tables: a struct array holding a nested array, and a
    primitive array."""
    return spark.createDataFrame(
        [
            Row(rid=1, items=[Row(v=1, subs=[10, 11]), Row(v=2, subs=[])], tags=["x", "y"]),
            Row(rid=2, items=[Row(v=3, subs=[12])], tags=["z"]),
            Row(rid=3, items=[], tags=[]),
        ],
        "rid long, items array<struct<v:long, subs:array<long>>>, tags array<string>",
    )


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_save_tables_persists_source_once_and_keeps_table_order(spark, wide_df, tmp_path):
    from pyspark import StorageLevel

    res = flatten(wide_df, "ent", EngineConfig(array_mode="separate", id_generation="hash"))
    assert len(res.all_tables) == 4
    cached_during = []
    paths = save_tables(
        res,
        str(tmp_path),
        "parquet",
        lambda done, total: cached_during.append(res.source.storageLevel != StorageLevel.NONE),
    )
    assert paths == [str(tmp_path / sanitize_filename(n)) for n in res.all_tables]
    assert cached_during == [True] * 4
    assert res.source.storageLevel == StorageLevel.NONE


def test_save_tables_child_failure_raises_after_other_writes(spark, wide_df, tmp_path):
    res = flatten(wide_df, "ent", EngineConfig(array_mode="separate", id_generation="hash"))
    names = list(res.all_tables)
    failing = names[1]
    (tmp_path / failing).mkdir()
    before = _persistent_rdds(spark)
    with pytest.raises(Exception, match="already exists|PATH_ALREADY_EXISTS"):
        save_tables(res, str(tmp_path), "parquet", mode="error")
    for name in names:
        if name != failing:
            assert (tmp_path / name / "_SUCCESS").exists(), name
    assert not (tmp_path / failing / "_SUCCESS").exists()
    assert _persistent_rdds(spark) == before


def test_save_tables_leaves_caller_cache_alone(spark, tmp_path):
    from pyspark import StorageLevel

    df = spark.createDataFrame(
        [Row(rid=1, items=[Row(v=1)]), Row(rid=2, items=[Row(v=2), Row(v=3)])]
    ).cache()
    df.count()
    try:
        res = flatten(df, "ent", EngineConfig(id_generation="natural", id_field="rid", time_field=None))
        assert res.source is df
        res.save(str(tmp_path), "parquet")
        assert df.is_cached and df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()


def test_save_tables_writes_inherit_job_group(spark, wide_df, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    res = flatten(wide_df, "ent", EngineConfig(array_mode="separate", id_generation="hash"))
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "save under a job group")
    try:
        res.save(str(tmp_path), "parquet")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup("g")) >= len(res.all_tables)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


@pytest.mark.parametrize("ids", ["hash", "random"])
def test_saved_children_link_to_saved_main(spark, wide_df, tmp_path, ids):
    res = flatten(wide_df, "ent", EngineConfig(array_mode="separate", id_generation=ids))
    paths = res.save(str(tmp_path), "parquet")
    main_ids = {r._id for r in spark.read.parquet(paths[0]).collect()}
    assert len(main_ids) == 3 and None not in main_ids
    for p in paths[1:]:
        parents = [r._parent_id for r in spark.read.parquet(p).select("_parent_id").collect()]
        assert parents and set(parents) <= main_ids, p


def test_csv_and_orc_roundtrip(spark, nested_df, tmp_path):
    flat = nested_df.select("rid", "name")
    for fmt in ("csv", "orc", "json"):
        p = str(tmp_path / fmt)
        write_table(flat, p, fmt)
        back = (
            spark.read.option("header", "true").option("inferSchema", "true").csv(p)
            if fmt == "csv"
            else spark.read.format(fmt).load(p)
        )
        assert back.count() == 2


def test_csv_injection_sanitization(spark, tmp_path):
    df = spark.createDataFrame(
        [("=cmd()", "ok"), ("+SUM(A1)", "x"), ("  @foo", "y"), ("safe", "z")],
        "a string, b string",
    )
    got = {r.b: r.a for r in sanitize_csv_injection(df).collect()}
    # leading formula triggers (incl. after whitespace) are quote-prefixed
    assert got["ok"] == "'=cmd()"
    assert got["x"] == "'+SUM(A1)"
    assert got["y"] == "'  @foo"
    assert got["z"] == "safe"
    p = str(tmp_path / "inj")
    write_table(df, p, "csv", csv_injection_safe=True)
    back = spark.read.option("header", "true").csv(p)
    vals = {r.b: r.a for r in back.collect()}
    assert vals["ok"].startswith("'=")


def test_unsupported_format_raises(spark, nested_df):
    with pytest.raises(MissingDependencyError):
        write_table(nested_df.select("rid"), "/tmp/nope", "xlsx")


def test_avro_roundtrip_all_types(spark, tmp_path):
    """W7 actually produces files: spark-avro if present, else the
    distributed pure-Python OCF fallback — roundtrip through our reader."""
    import datetime

    from pyspark.sql import Row

    from transmog_spark.sinks_avro import read_avro_fallback

    rows = [
        Row(
            rid=1,
            name="alpha",
            score=1.5,
            ok=True,
            ts=datetime.datetime(2024, 1, 2, 3, 4, 5),
            tags=[1, 2, 3],
            meta=Row(k="a", n=10),
            blob=b"\x00\x01\xff",
        ),
        Row(
            rid=2,
            name=None,
            score=None,
            ok=False,
            ts=None,
            tags=[],
            meta=Row(k=None, n=None),
            blob=None,
        ),
    ]
    schema = (
        "rid long, name string, score double, ok boolean, ts timestamp, "
        "tags array<int>, meta struct<k:string, n:int>, blob binary"
    )
    df = spark.createDataFrame(rows, schema)
    p = str(tmp_path / "av")
    write_table(df, p, "avro")
    try:
        back = spark.read.format("avro").load(p)
    except Exception:
        back = read_avro_fallback(spark, p)
    got = {r.rid: r for r in back.collect()}
    assert set(got) == {1, 2}
    assert got[1].name == "alpha" and got[1].score == 1.5 and got[1].ok is True
    assert got[1].ts == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert list(got[1].tags) == [1, 2, 3]
    assert got[1].meta.k == "a" and got[1].meta.n == 10
    assert bytes(got[1].blob) == b"\x00\x01\xff"
    assert got[2].name is None and got[2].ts is None and got[2].blob is None
    assert got[2].meta.k is None


def test_avro_append_mode(spark, tmp_path):
    from transmog_spark.sinks_avro import read_avro_fallback

    df = spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
    p = str(tmp_path / "ap")
    write_table(df, p, "avro")
    write_table(df, p, "avro", mode="append")
    try:
        back = spark.read.format("avro").load(p)
    except Exception:
        back = read_avro_fallback(spark, p)
    assert back.count() == 10


def test_avro_jvm_reader_cross_validation(spark, tmp_path):
    """Files written by the fallback must be readable by the *independent*
    Apache Avro Java implementation bundled with Spark (avro-1.12.1.jar) —
    proves on-disk spec compliance, not just self-consistency."""
    import glob

    from transmog_spark.sinks_avro import write_avro_fallback

    df = spark.range(100).selectExpr(
        "id", "CAST(id * 1.5 AS DOUBLE) AS v", "CAST(id AS STRING) AS s"
    )
    p = str(tmp_path / "jvmcheck")
    write_avro_fallback(df.coalesce(2), p)
    jvm = spark._jvm
    total, sum_id = 0, 0
    for part in glob.glob(f"{p}/*.avro"):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(part), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        while reader.hasNext():
            rec = reader.next()
            total += 1
            sum_id += rec.get("id")
        reader.close()
    assert total == 100
    assert sum_id == sum(range(100))


def test_schema_drift_option_surface(spark, nested_df, tmp_path):
    """Reference-config parity: strict/drop accepted (no-op — Spark schemas
    are fixed at plan time), anything else fails fast like the reference."""
    from transmog_spark.streaming.pipeline import flatten_foreach_batch

    flatten_stream(nested_df, str(tmp_path / "s"), "e", on_schema_drift="strict")
    flatten_foreach_batch("e", str(tmp_path / "d"), on_schema_drift="drop")
    with pytest.raises(ValueError, match="on_schema_drift"):
        flatten_stream(nested_df, str(tmp_path / "x"), "e", on_schema_drift="explode")


def test_sanitize_filename():
    assert sanitize_filename("a/b c:d") == "a_b_c_d"
    assert sanitize_filename("___") == "table"


def test_flatten_stream_writes_all_tables(spark, nested_df, tmp_path):
    seen = []
    paths = flatten_stream(
        nested_df,
        str(tmp_path),
        "ent",
        "parquet",
        EngineConfig(id_generation="natural", id_field="rid", time_field=None),
        progress_callback=lambda done, total: seen.append((done, total)),
    )
    assert len(paths) == 2
    assert seen == [(1, 2), (2, 2)]
    assert spark.read.parquet(paths[0]).count() in (2, 3)


def test_structured_streaming_foreach_batch(spark, tmp_path):
    """Genuine Structured Streaming: file source -> flatten per micro-batch."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    chk_dir = str(tmp_path / "chk")
    df = spark.createDataFrame(
        [Row(rid=1, name="a", items=[Row(v=1), Row(v=2)]), Row(rid=2, name="b", items=[Row(v=3)])]
    )
    df.coalesce(1).write.parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(
            flatten_foreach_batch(
                "ent",
                out_dir,
                EngineConfig(id_generation="natural", id_field="rid", time_field=None),
            )
        )
        .option("checkpointLocation", chk_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    main = spark.read.parquet(os.path.join(out_dir, "ent"))
    items = spark.read.parquet(os.path.join(out_dir, "ent_items"))
    assert main.count() == 2
    assert sorted(r.v for r in items.collect()) == [1, 2, 3]


def test_avro_overwrite_manifest_hides_stale_generation(spark, tmp_path):
    """Directory-level crash consistency: the _MANIFEST.json flip is the
    commit point — a directory holding parts from two generations (as a
    crash between the rename loop and the GC loop would leave) reads as
    exactly the manifested generation, never a mix."""
    import json
    import shutil

    from transmog_spark.sinks_avro import read_avro_fallback, write_avro_fallback

    p = str(tmp_path / "man")
    write_avro_fallback(spark.range(5).coalesce(1), p)
    gen1 = [f for f in os.listdir(p) if f.endswith(".avro")]
    stash = tmp_path / "stash"
    stash.mkdir()
    for f in gen1:
        shutil.copy(os.path.join(p, f), stash / f)
    write_avro_fallback(spark.range(100, 103).coalesce(1), p, mode="overwrite")
    # simulate the crash window: stale gen-1 parts reappear unmanifested
    for f in gen1:
        shutil.copy(stash / f, os.path.join(p, f))
    back = read_avro_fallback(spark, p)
    assert sorted(r["id"] for r in back.collect()) == [100, 101, 102]
    with open(os.path.join(p, "_MANIFEST.json")) as fh:
        manifest = set(json.load(fh)["parts"])
    on_disk = {f for f in os.listdir(p) if f.endswith(".avro")}
    assert manifest == on_disk - set(gen1)


def test_avro_append_keeps_all_generations_manifested(spark, tmp_path):
    import json

    from transmog_spark.sinks_avro import read_avro_fallback, write_avro_fallback

    p = str(tmp_path / "manap")
    write_avro_fallback(spark.range(3).coalesce(1), p)
    write_avro_fallback(spark.range(10, 12).coalesce(1), p, mode="append")
    back = read_avro_fallback(spark, p)
    assert sorted(r["id"] for r in back.collect()) == [0, 1, 2, 10, 11]
    with open(os.path.join(p, "_MANIFEST.json")) as fh:
        manifest = set(json.load(fh)["parts"])
    assert manifest == {f for f in os.listdir(p) if f.endswith(".avro")}


def test_avro_append_does_not_resurrect_crash_orphans(spark, tmp_path):
    """An append after a crashed overwrite (stale unmanifested parts in
    the dir) must extend the MANIFESTED generation, not glob the orphans
    back in — and must GC them."""
    import json
    import shutil

    from transmog_spark.sinks_avro import read_avro_fallback, write_avro_fallback

    p = str(tmp_path / "manorph")
    write_avro_fallback(spark.range(5).coalesce(1), p)
    gen1 = [f for f in os.listdir(p) if f.endswith(".avro")]
    stash = tmp_path / "stash2"
    stash.mkdir()
    for f in gen1:
        shutil.copy(os.path.join(p, f), stash / f)
    write_avro_fallback(spark.range(100, 103).coalesce(1), p, mode="overwrite")
    # crash window: gen-1 orphans reappear unmanifested
    for f in gen1:
        shutil.copy(stash / f, os.path.join(p, f))
    write_avro_fallback(spark.range(7, 9).coalesce(1), p, mode="append")
    back = read_avro_fallback(spark, p)
    assert sorted(r["id"] for r in back.collect()) == [7, 8, 100, 101, 102]
    # orphans are gone from disk and from the manifest
    on_disk = {f for f in os.listdir(p) if f.endswith(".avro")}
    assert not (on_disk & set(gen1))
    with open(os.path.join(p, "_MANIFEST.json")) as fh:
        assert set(json.load(fh)["parts"]) == on_disk
