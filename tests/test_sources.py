"""FlowFile-model source tests: JSON-lines content, array-vs-object
normalization (PartialUpdateMongo.java:210-219), attribute-map lift,
and provenance SEND recording."""

from __future__ import annotations

from pyspark.sql import Row

from aces_nifi_processors_bundle_spark.sources.flowfile import (
    attributes_to_columns,
    parse_content_auto,
    read_jsonl,
)


def test_read_jsonl_with_declared_schema(spark, tmp_path):
    p = tmp_path / "content.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n{"a": "garbage"}\n')
    df = read_jsonl(spark, str(p), "a bigint, b string")
    rows = df.collect()
    assert len(rows) == 3
    assert sorted(r["b"] for r in rows if r["b"]) == ["x", "y"]
    # PERMISSIVE: the bad record yields nulls, not a job failure
    assert any(r["a"] is None for r in rows)


def test_parse_content_auto_array_vs_object(spark):
    """startsWith('[') sniffing → both shapes land one row per doc."""
    df = spark.createDataFrame(
        [
            Row(ff_id=1, content='{"k": 1, "v": "one"}'),
            Row(ff_id=2, content='[{"k": 2, "v": "two"}, {"k": 3, "v": "three"}]'),
        ]
    )
    out = parse_content_auto(df, "content", "k bigint, v string")
    rows = sorted((r["ff_id"], r["k"], r["v"]) for r in out.collect())
    assert rows == [(1, 1, "one"), (2, 2, "two"), (2, 3, "three")]


def test_attributes_to_columns_missing_is_null(spark):
    df = spark.createDataFrame(
        [Row(attrs={"path": "/x", "size": "42"})]
    )
    out = attributes_to_columns(df, "attrs", ["path", "size", "absent"])
    row = out.collect()[0]
    assert row["path"] == "/x" and row["size"] == "42"
    assert row["absent"] is None  # absent attribute ≡ null, like ff.getAttribute


def test_per_record_url_interpolation(spark, tmp_path):
    """url_col: one client per distinct url per partition, routed per
    record (SocketIOProcessor.java:84,111 EL-resolved url analog).
    Clients live in executor workers, so they record to files."""
    import os

    from aces_nifi_processors_bundle_spark.sinks.socketio import SocketIOSink

    rec_dir = str(tmp_path)

    class FileClient:
        def __init__(self):
            self.url = None

        def connect(self, url, timeout_s=10.0):
            self.url = url
            # connect count per url: one line per client construction
            with open(os.path.join(rec_dir, "connects.log"), "a") as f:
                f.write(self.url + "\n")

        def emit(self, event, msg):
            fname = self.url.replace("://", "_")
            with open(os.path.join(rec_dir, fname), "a") as f:
                f.write(f"{event}\t{msg}\n")

        def disconnect(self):
            pass

    sink = SocketIOSink(
        url="ignored://", payload_col="p", event_col="e", url_col="u",
        client_factory=FileClient,
    )
    df = spark.createDataFrame(
        [Row(p="m1", e="ev1", u="stub://a"),
         Row(p="m2", e="ev2", u="stub://b"),
         Row(p="m3", e="ev1", u="stub://a")]
    ).coalesce(1)
    assert sink.write_batch(df) == 3
    a = sorted(open(os.path.join(rec_dir, "stub_a")).read().splitlines())
    b = open(os.path.join(rec_dir, "stub_b")).read().splitlines()
    assert a == ["ev1\tm1", "ev1\tm3"] and b == ["ev2\tm2"]
    # one partition × two distinct urls → exactly two connects (reused)
    connects = sorted(open(os.path.join(rec_dir, "connects.log")).read().splitlines())
    assert connects == ["stub://a", "stub://b"]


def test_provenance_send_recorded(spark):
    from aces_nifi_processors_bundle_spark.sinks.socketio import (
        CollectingClient,
        SocketIOSink,
    )

    sink = SocketIOSink(
        url="stub://prov", payload_col="p", mode="send",
        client_factory=CollectingClient,
    )
    df = spark.createDataFrame([Row(p="a"), Row(p="b")])
    n = sink.write_batch(df)
    assert n == 2
    assert len(sink.provenance.events) == 1
    ev = sink.provenance.events[0]
    assert ev.event_type == "SEND" and ev.target == "stub://prov"
    assert ev.n_rows == 2 and ev.duration_s > 0


def test_load_table_validates_declared_columns(spark, sf_dir, tmp_path):
    """A fixture missing a declared column fails at load with the table
    name in the message, not three operators later."""
    import pytest

    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    bad = load_table(spark, sf_dir, "events").drop("props")
    bad.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(ValueError, match="events.*props"):
        load_table(spark, str(tmp_path), "events")


def test_load_table_normalizes_both_timestamp_encodings(spark, tmp_path):
    """The driver's fixture generator has shipped the SAME logical
    timestamp as INT64 TIMESTAMP(NANOS) in one round and timestamp[us]
    with no zone (TIMESTAMP_NTZ) in another. load_table must normalize
    BOTH to TIMESTAMP with identical values — pinned here so a future
    regeneration can't regress either path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    base_cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k":"1"}', '{"k":"2"}']),
    }
    micros = [1700000000_000000, 1700000123_456000]

    for sub, ts_arr in [
        ("enc_nanos", pa.array([m * 1000 for m in micros], pa.int64())),
        ("enc_ntz", pa.array(micros, pa.timestamp("us"))),  # no tz -> NTZ
    ]:
        d = tmp_path / sub
        d.mkdir()
        pq.write_table(
            pa.table({**base_cols, "ts": ts_arr}),
            str(d / "events.parquet"),
            use_deprecated_int96_timestamps=False,
        )
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", sub
        from pyspark.sql import functions as F
        got = [r["ms"] for r in df.select(
            F.unix_millis("ts").alias("ms")).orderBy("event_id").collect()]
        assert got == [m // 1000 for m in micros], sub


def _write_region(path, extra=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "r_regionkey": pa.array([0, 1], pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA"]),
        **(extra or {}),
    }
    pq.write_table(pa.table(cols), str(path))


def _jobs_submitted(spark, fn):
    """Run `fn` under a fresh job group; return how many Spark jobs it
    submitted. A sentinel job run afterwards, and waited for, flushes
    the status listener, which sees jobs in submission order."""
    import time
    import uuid

    sc = spark.sparkContext
    group, sentinel = f"g-{uuid.uuid4().hex}", f"s-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setJobGroup(sentinel, "sentinel")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not sc.statusTracker().getJobIdsForGroup(sentinel):
        assert time.time() < deadline, "status listener never saw the sentinel"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_second_read_of_a_file_submits_no_job(spark, tmp_path):
    """The first load resolves the file's parquet schema (a Spark job);
    a second load of the unchanged file reuses it and submits none."""
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    _write_region(tmp_path / "region.parquet")
    first = _jobs_submitted(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert first >= 1
    again = []
    assert _jobs_submitted(
        spark, lambda: again.append(load_table(spark, str(tmp_path), "region"))
    ) == 0
    assert sorted(tuple(r) for r in again[0].collect()) == [(0, "AFRICA"), (1, "AMERICA")]


def test_load_table_re_resolves_a_file_rewritten_in_place(spark, tmp_path):
    """A cached schema never outlives its file: rewriting the table file
    with an added column re-resolves the schema and exposes the column."""
    import pyarrow as pa

    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    path = tmp_path / "region.parquet"
    _write_region(path)
    assert "r_comment" not in load_table(spark, str(tmp_path), "region").columns
    _write_region(path, {"r_comment": pa.array(["hot", "cold"])})
    df = load_table(spark, str(tmp_path), "region")
    assert "r_comment" in df.columns
    assert sorted(r["r_comment"] for r in df.collect()) == ["cold", "hot"]


def test_load_table_missing_file_fails_naming_the_path(spark, tmp_path):
    """A missing table file fails loudly with its path, also after the
    file's schema was cached by an earlier load."""
    import re

    import pytest

    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    path = tmp_path / "region.parquet"
    with pytest.raises(Exception, match=re.escape(str(path))):
        load_table(spark, str(tmp_path), "region")
    _write_region(path)
    load_table(spark, str(tmp_path), "region")
    path.unlink()
    with pytest.raises(Exception, match=re.escape(str(path))):
        load_table(spark, str(tmp_path), "region")
