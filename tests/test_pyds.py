"""Custom Python DataSource (Spark 4 API): NCDC fixed-width source —
record-stride splits, filter pushdown accept/decline, parse parity with
the substring-projection path, and the reference micro-file golden."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    StringStartsWith,
)

from hadoop_app_spark.sources.ncdc import read_ncdc
from hadoop_app_spark.sources.pyds import ByteRange, NcdcReader, read_ncdc_py

MICRO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "ncdc_micro")

TEMPLATE = (
    "0043011990999991950051518004+68750+023550FM-12+038299999V0203201N0026"
    "1220001CN9999999N9-00111+99999999999"
)


def _mkline(year: int, temp: int, quality: int) -> str:
    t = f"{'-' if temp < 0 else '+'}{abs(temp):04d}"
    return TEMPLATE[:15] + str(year) + TEMPLATE[19:87] + t + str(quality) + TEMPLATE[93:]


@pytest.fixture(scope="module")
def uniform_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pyds")
    lines = [_mkline(1950 + i % 8, (i % 300) * (-1 if i % 3 else 1), i % 10) for i in range(600)]
    (d / "u.txt").write_text("\n".join(lines) + "\n")
    return str(d)


def test_record_stride_splits(spark, uniform_dir):
    df = read_ncdc_py(spark, uniform_dir, num_partitions=5)
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 600
    # split placement cannot change the result
    one = read_ncdc_py(spark, uniform_dir, num_partitions=1)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, one.collect()))


def test_parity_with_substring_path(spark, uniform_dir):
    via_ds = read_ncdc_py(spark, uniform_dir).select(
        F.col("year").cast("string"), "temp"
    )
    via_text = read_ncdc(spark, os.path.join(uniform_dir, "u.txt"))
    assert sorted(map(tuple, via_ds.collect())) == sorted(
        map(tuple, via_text.collect())
    )


def test_reference_micro_golden(spark):
    # the reference's sample input (rebuilt in tests/fixtures): no
    # trailing newline -> the stride check falls back to one partition;
    # values match the MaxTemperature golden (year -> temp used by
    # run_max_temperature)
    df = read_ncdc_py(spark, MICRO)
    got = {r.year: r.temp for r in df.collect()}
    assert got == {1950: -11, 1951: -12, 1952: -13, 1953: -14}


def test_pushdown_accept_decline(uniform_dir):
    r = NcdcReader({"path": uniform_dir})
    declined = list(
        r.pushFilters(
            [
                EqualTo(("year",), 1951),
                In(("quality",), (1, 3)),
                GreaterThan(("temp",), 5),  # temp is not pushable
                StringStartsWith(("year",), "19"),  # type not pushable
            ]
        )
    )
    assert {type(f) for f in declined} == {GreaterThan, StringStartsWith}
    assert sorted(r._pushed) == ["quality", "year"]
    # accepted predicates are APPLIED in read() (Spark trusts them)
    [(part,)] = [[p] for p in [r.partitions()[0]]]
    rows = [
        tuple(t)
        for batch in (b for p in r.partitions() for b in r.read(p))
        for t in zip(*[c.to_pylist() for c in batch.columns])
        if batch.num_rows
    ]
    assert rows, "pushed read returned nothing"
    assert all(y == 1951 and q in (1, 3) for y, _, q in rows)


def test_pushdown_query_parity(spark, uniform_dir):
    df = read_ncdc_py(spark, uniform_dir, num_partitions=4)
    full = sorted(map(tuple, df.collect()))
    got = sorted(
        map(tuple, df.where("year >= 1955 AND quality IN (2, 7)").collect())
    )
    exp = sorted(t for t in full if t[0] >= 1955 and t[2] in (2, 7))
    assert got == exp and got


def test_non_uniform_file_single_partition(spark, tmp_path):
    # ragged line lengths disprove the stride -> one partition, short
    # lines dropped (parse_fixed_width's null-drop decision)
    p = tmp_path / "ragged.txt"
    p.write_text(_mkline(1960, 42, 5) + "\n" + "short\n" + _mkline(1961, -7, 3) + "\n")
    df = read_ncdc_py(spark, str(p), num_partitions=4)
    assert df.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, df.collect())) == [(1960, 42, 5), (1961, -7, 3)]


def test_empty_dir(spark, tmp_path):
    assert read_ncdc_py(spark, str(tmp_path)).count() == 0


def test_stream_reads_and_resumes_from_checkpoint(spark, tmp_path):
    from hadoop_app_spark.sources.pyds import read_ncdc_stream

    src, ck = tmp_path / "src", str(tmp_path / "ck")
    src.mkdir()
    (src / "f000.txt").write_text(
        "\n".join(_mkline(1950 + i % 3, i, i % 10) for i in range(90)) + "\n"
    )
    (src / "f001.txt").write_text(
        "\n".join(_mkline(1960, -i, 5) for i in range(30)) + "\n"
    )

    def drain(qname):
        q = (
            read_ncdc_stream(spark, str(src), num_partitions=4)
            .groupBy("year")
            .count()
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.year: r["count"] for r in spark.table(qname).collect()}

    assert drain("pyds_s1") == {1950: 30, 1951: 30, 1952: 30, 1960: 30}
    # a new file arrives; resuming from the SAME checkpoint folds in
    # ONLY the new rows (the watermark offset advanced past f001)
    (src / "f002.txt").write_text(
        "\n".join(_mkline(1970, i, 1) for i in range(12)) + "\n"
    )
    assert drain("pyds_s2") == {1950: 30, 1951: 30, 1952: 30, 1960: 30, 1970: 12}


def test_stream_paced_intake_runs_multiple_microbatches(spark, tmp_path):
    """maxFilesPerTrigger=1 over a 2-file directory must drain in TWO
    real micro-batches (VERDICT r7 item 7) — the Python-side admission
    control, since the JVM wrapper can't declare availableNow support."""
    import time

    from hadoop_app_spark.sources.pyds import read_ncdc_stream

    src = tmp_path / "src"
    src.mkdir()
    (src / "f000.txt").write_text("\n".join(_mkline(1950, i, 1) for i in range(40)) + "\n")
    (src / "f001.txt").write_text("\n".join(_mkline(1960, i, 1) for i in range(20)) + "\n")
    q = (
        read_ncdc_stream(
            spark, str(src), num_partitions=2, max_files_per_trigger=1,
            pace_state_dir=str(tmp_path / "pace"),
        )
        .groupBy("year")
        .count()
        .writeStream.format("memory")
        .queryName("pyds_paced")
        .outputMode("complete")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    # accumulate progress while polling: recentProgress is a ~100-event
    # ring and a 50ms trigger floods it with empty batches — under a
    # loaded machine the data batches are evicted before one final read
    seen: dict = {}

    def drain_progress():
        for p in q.recentProgress:
            seen[p["batchId"]] = p["numInputRows"]

    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        drain_progress()
        got = {r.year: r["count"] for r in spark.table("pyds_paced").collect()}
        if got == {1950: 40, 1960: 20}:
            break
        time.sleep(0.1)
    # sink rows land at batch completion but the progress EVENT posts
    # asynchronously afterward — give the second event a bounded window
    grace = time.monotonic() + 10
    while time.monotonic() < grace:
        drain_progress()
        if sum(1 for n in seen.values() if n > 0) >= 2:
            break
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    assert got == {1950: 40, 1960: 20}
    # one batch per file: the pre-populated backlog did NOT collapse
    # into a single drain-everything batch
    data_batches = [n for _, n in sorted(seen.items()) if n > 0]
    assert len(data_batches) >= 2
    assert data_batches[:2] == [40, 20]


def test_stream_cursor_resyncs_from_committed_start(uniform_dir):
    """Restart safety: a fresh reader (cursor unknown) asked to plan
    from a checkpointed offset must jump its cursor forward, never
    re-plan or re-emit behind the committed start."""
    from hadoop_app_spark.sources.pyds import NcdcStreamReader

    r = NcdcStreamReader({"path": uniform_dir, "numPartitions": "2", "maxFilesPerTrigger": "1"})
    assert r.partitions({"watermark": "u.txt"}, {"watermark": "u.txt"}) == []
    assert r._cursor == "u.txt"
    # nothing new past the committed start -> offset stays put
    assert r.latestOffset() == {"watermark": "u.txt"}


def test_stream_restart_latest_offset_never_regresses(tmp_path):
    """Clean restart: Spark calls latestOffset() FIRST (before
    initialOffset on a fresh query, before anything on a restart). A
    paced reader must not answer behind the committed offset — without
    pace state it answers the true latest (one unpaced batch); with
    pace state it resumes paced intake from the recorded commit."""
    from hadoop_app_spark.sources.pyds import NcdcStreamReader

    src = tmp_path / "src"
    src.mkdir()
    for n in ("a.txt", "b.txt", "c.txt", "d.txt"):
        (src / n).write_text(_mkline(1950, 1, 1) + "\n")
    opts = {"path": str(src), "numPartitions": "2", "maxFilesPerTrigger": "2"}

    # no pace state: cursor unknown -> first answer is the TRUE latest
    # (had it paced, it would return 'b.txt' < committed 'd.txt' and
    # Spark would regress the offset log / re-emit c and d)
    r = NcdcStreamReader(opts)
    assert r.latestOffset() == {"watermark": "d.txt"}

    # replay path: partitions() before any latestOffset() paces from the
    # batch END, so the next paced answer moves forward from it
    r2 = NcdcStreamReader(opts)
    r2.partitions({"watermark": "a.txt"}, {"watermark": "c.txt"})
    assert r2._cursor == "c.txt"
    assert r2.latestOffset() == {"watermark": "d.txt"}

    # commit() is a floor too
    r3 = NcdcStreamReader(opts)
    r3.initialOffset()
    r3.commit({"watermark": "c.txt"})
    assert r3.latestOffset() == {"watermark": "d.txt"}


def test_stream_pace_state_survives_restart(tmp_path):
    """paceStateDir: a fresh query paces from trigger 1 (latestOffset
    called BEFORE initialOffset, as the engine does), commits record the
    watermark durably, and a restarted incarnation resumes paced intake
    from the committed offset — never behind, never re-emitting."""
    from hadoop_app_spark.sources.pyds import NcdcStreamReader

    src = tmp_path / "src"
    src.mkdir()
    for n in ("a.txt", "b.txt", "c.txt", "d.txt"):
        (src / n).write_text(_mkline(1950, 1, 1) + "\n")
    opts = {
        "path": str(src),
        "numPartitions": "2",
        "maxFilesPerTrigger": "2",
        "paceStateDir": str(tmp_path / "pace"),
    }

    # fresh query, engine call order: latestOffset -> initialOffset ->
    # partitions -> commit. No state file yet -> paced from the start.
    r = NcdcStreamReader(opts)
    assert r.latestOffset() == {"watermark": "b.txt"}
    assert r.initialOffset() == {"watermark": ""}
    p = r.partitions({"watermark": ""}, {"watermark": "b.txt"})
    assert sorted({x.path.rsplit("/", 1)[1] for x in p}) == ["a.txt", "b.txt"]
    r.commit({"watermark": "b.txt"})

    # restart: first latestOffset reads the durable watermark and paces
    # PAST it (old behavior would regress to 'b.txt' or drain all)
    r2 = NcdcStreamReader(opts)
    assert r2.latestOffset() == {"watermark": "d.txt"}
    p2 = r2.partitions({"watermark": "b.txt"}, {"watermark": "d.txt"})
    assert sorted({x.path.rsplit("/", 1)[1] for x in p2}) == ["c.txt", "d.txt"]
    r2.commit({"watermark": "d.txt"})

    # drained: restart again, nothing new -> offset stays put
    r3 = NcdcStreamReader(opts)
    assert r3.latestOffset() == {"watermark": "d.txt"}


def test_stream_floor_suppresses_reemission(tmp_path):
    """Defense-in-depth: once partitions() has seen the engine plan past
    a file, no later batch of this reader instance can re-emit it, even
    if the engine hands an older range (regressed-offset corner)."""
    from hadoop_app_spark.sources.pyds import NcdcStreamReader

    src = tmp_path / "src"
    src.mkdir()
    for n in ("a.txt", "b.txt", "c.txt", "d.txt"):
        (src / n).write_text(_mkline(1950, 1, 1) + "\n")
    r = NcdcStreamReader({"path": str(src), "numPartitions": "2"})
    # engine shows it is already past 'd' (start of a planned batch)
    assert r.partitions({"watermark": "d.txt"}, {"watermark": "b.txt"}) == []
    # an older range can no longer re-emit c/d
    assert r.partitions({"watermark": "b.txt"}, {"watermark": "d.txt"}) == []
    # but genuinely new files past the floor still flow
    (src / "e.txt").write_text(_mkline(1960, 2, 1) + "\n")
    p = r.partitions({"watermark": "d.txt"}, {"watermark": "e.txt"})
    assert sorted({x.path.rsplit("/", 1)[1] for x in p}) == ["e.txt"]


def test_stream_offsets_are_filename_watermarks(uniform_dir):
    from hadoop_app_spark.sources.pyds import NcdcStreamReader

    r = NcdcStreamReader({"path": uniform_dir, "numPartitions": "4"})
    assert r.initialOffset() == {"watermark": ""}
    hi = r.latestOffset()
    assert hi == {"watermark": "u.txt"}
    parts = r.partitions(r.initialOffset(), hi)
    assert parts and all(p.path.endswith("u.txt") for p in parts)
    # empty range -> no partitions (Spark calls this between batches)
    assert r.partitions(hi, hi) == []


def test_byte_ranges_align_to_records(uniform_dir):
    r = NcdcReader({"path": uniform_dir, "numPartitions": "7"})
    parts = r.partitions()
    stride = len(_mkline(1950, 0, 0)) + 1
    assert all(isinstance(p, ByteRange) for p in parts)
    assert all(p.start % stride == 0 and p.end % stride == 0 for p in parts)
    # ranges tile the file exactly: no gap, no overlap
    spans = sorted((p.start, p.end) for p in parts)
    assert spans[0][0] == 0
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    assert spans[-1][1] == os.path.getsize(os.path.join(uniform_dir, "u.txt"))
